"""Per-conversation coreference and the small-graph global CC path against
the union-find reference, with the coref plan shape pinned; the durable
global CC checkpoint: resume, check cadence, identity guard and round-dir
pruning."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from mehari_spark.kernels.unionfind import connected_components
from mehari_spark.operators import graph
from mehari_spark.operators.coref import coref_clusters, connected_components_global
from mehari_spark.plans.observe import collect_plan_metrics

BIG = 2**63 - 1  # int64 extremes, as xxhash64-derived entity ids reach them


def _triples(n_convs: int, seed: int) -> list[tuple[str, int, int]]:
    rng = random.Random(seed)
    ids = [-BIG - 1, BIG, -(2**62) + 5, 0, -1, 1] + [
        rng.randrange(-BIG, BIG) for _ in range(10)
    ]
    rows = []
    for c in range(n_convs):
        ents = rng.sample(ids, 8)
        for _ in range(rng.randrange(1, 12)):
            rows.append((f"conv{c}", rng.choice(ents), rng.choice(ents)))
    # a conversation whose triples are all self-loops has no edge
    rows += [("loops", 7, 7), ("loops", -BIG - 1, -BIG - 1)]
    return rows


def _reference(rows) -> set[tuple[str, int, int]]:
    by_conv: dict[str, list] = {}
    for conv, s, o in rows:
        if s != o:
            by_conv.setdefault(conv, []).append((s, o))
    return {
        (conv, e, c)
        for conv, edges in by_conv.items()
        for e, c in connected_components(edges).items()
    }


@pytest.fixture
def small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield
    spark.conf.set(key, old)


def test_coref_equals_union_find_one_exchange(spark, small_batches):
    """Conversations spread over 4 input partitions, two conversations per
    Arrow batch: the clusters equal a per-conversation union-find, the
    self-loop conversation emits nothing, and the plan has one exchange
    and no pandas UDF."""
    rows = _triples(40, seed=3)
    # shuffled, so each conversation's rows straddle the input slices
    random.Random(1).shuffle(rows)
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4),
        "conv_id string, subj_id long, obj_id long",
    )
    spread = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("conv_id")
        .agg(F.countDistinct("pid").alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    assert spread >= 3

    out = coref_clusters(df)
    assert out.schema.simpleString() == (
        "struct<conv_id:string,entity_id:bigint,cluster_id:bigint>"
    )
    got = [tuple(r) for r in out.collect()]
    assert len(got) == len(set(got))
    assert set(got) == _reference(rows)
    assert not any(conv == "loops" for conv, _, _ in got)

    names = [n.name for n in collect_plan_metrics(out, execute=False)]
    assert sum(n.startswith("Exchange") for n in names) == 1, names
    assert not any("MapInPandas" in n for n in names), names


def test_global_fast_path_equals_distributed_on_hashed_ids(spark, monkeypatch):
    """The single-task kernel path labels a graph of large-magnitude
    negative xxhash64 ids exactly as the distributed rounds do."""
    edges = (
        spark.range(0, 400)
        .select(
            F.xxhash64(F.col("id") % 150).alias("src"),
            F.xxhash64((F.col("id") * 7 + 3) % 150 + 1000 * (F.col("id") % 3)).alias(
                "dst"
            ),
        )
    )
    fast = sorted(map(tuple, connected_components_global(edges).collect()))
    monkeypatch.setattr(graph, "SMALL_GRAPH_EDGES", 0)
    slow = sorted(map(tuple, connected_components_global(edges).collect()))
    assert any(node < -(2**60) for node, _ in fast)
    assert fast == slow
    pairs = [(r.src, r.dst) for r in edges.collect()]
    assert dict(fast) == connected_components(pairs)


def _chain_edges(spark, n=64):
    # one long path (worst case for label propagation) + isolated pairs
    rows = [(i, i + 1) for i in range(n)] + [(1000 + 2 * i, 1001 + 2 * i) for i in range(8)]
    return spark.createDataFrame(rows, "src long, dst long")


class TestDurableCC:
    def test_durable_equals_local(self, spark, tmp_path):
        from mehari_spark.operators.coref import connected_components_global

        edges = _chain_edges(spark)
        local = sorted(
            map(tuple, connected_components_global(edges).collect())
        )
        durable = sorted(
            map(
                tuple,
                connected_components_global(
                    edges, checkpoint_dir=str(tmp_path / "cc")
                ).collect(),
            )
        )
        assert local == durable

    def test_check_every_cadence_same_result(self, spark, monkeypatch):
        from mehari_spark.operators.coref import connected_components_global

        edges = _chain_edges(spark)
        monkeypatch.setattr(graph, "SMALL_GRAPH_EDGES", 0)
        want = sorted(
            map(
                tuple,
                connected_components_global(edges).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                connected_components_global(edges, check_every=2).collect(),
            )
        )
        assert got == want

    def test_resume_mid_iteration(self, spark, tmp_path):
        from mehari_spark.operators.coref import (
            connected_components_global,
            load_cc_checkpoint,
        )

        edges = _chain_edges(spark)
        ck = str(tmp_path / "cc")
        want = sorted(map(tuple, connected_components_global(edges).collect()))
        # "crash" after 2 rounds: max_iter caps the run mid-iteration
        partial, r1 = connected_components_global(
            edges, max_iter=2, with_rounds=True, checkpoint_dir=ck, checkpoint_every=1
        )
        partial.collect()
        assert r1 == 2
        labels, done = load_cc_checkpoint(spark, ck)
        assert done == 2 and labels is not None
        # resume from the durable round-2 state and finish
        resumed, r2 = connected_components_global(
            edges, with_rounds=True, checkpoint_dir=ck, checkpoint_every=1
        )
        got = sorted(map(tuple, resumed.collect()))
        assert got == want
        assert r2 > 2  # continued from the checkpoint, not from scratch


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


class TestCcCheckpointIdentity:
    """ADVICE: a checkpoint written for a different edge set must be ignored,
    and superseded round dirs pruned."""

    def test_different_graph_same_dir_recomputes(self, spark, tmp_path):
        from mehari_spark.operators.coref import connected_components_global

        ck = str(tmp_path / "cc")
        a = _edges(spark, [(i, i + 1) for i in range(16)])
        b = _edges(spark, [(100 + 2 * i, 101 + 2 * i) for i in range(8)])
        connected_components_global(a, checkpoint_dir=ck).collect()
        got = sorted(
            map(
                tuple,
                connected_components_global(b, checkpoint_dir=ck).collect(),
            )
        )
        want = sorted(map(tuple, connected_components_global(b).collect()))
        assert got == want  # graph A's stale labels were NOT resumed

    def test_round_dirs_pruned(self, spark, tmp_path):
        from mehari_spark.operators.coref import connected_components_global

        ck = str(tmp_path / "cc")
        edges = _edges(spark, [(i, i + 1) for i in range(64)])
        connected_components_global(
            edges, checkpoint_dir=ck, checkpoint_every=1
        ).collect()
        rounds = [d for d in os.listdir(ck) if d.startswith("round_")]
        assert 1 <= len(rounds) <= 2  # newest two retained, older pruned

    def test_same_graph_still_resumes(self, spark, tmp_path):
        from mehari_spark.operators.coref import (
            connected_components_global,
            load_cc_checkpoint,
        )

        ck = str(tmp_path / "cc")
        edges = _edges(spark, [(i, i + 1) for i in range(64)])
        want = sorted(map(tuple, connected_components_global(edges).collect()))
        _, r1 = connected_components_global(
            edges, max_iter=2, with_rounds=True, checkpoint_dir=ck, checkpoint_every=1
        )
        labels, rnd = load_cc_checkpoint(spark, ck)
        assert rnd == 2 and labels is not None  # identity matches -> resumable
        resumed, r2 = connected_components_global(
            edges, with_rounds=True, checkpoint_dir=ck, checkpoint_every=1
        )
        assert sorted(map(tuple, resumed.collect())) == want
        assert r2 > r1  # continued past the checkpointed round, not from 0
