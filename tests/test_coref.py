"""Per-conversation coreference and the small-graph global CC path against
the union-find reference, with the coref plan shape pinned."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from mehari_spark.kernels.unionfind import connected_components
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


def test_global_fast_path_equals_distributed_on_hashed_ids(spark):
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
    slow = sorted(
        map(tuple, connected_components_global(edges, small_graph_threshold=0).collect())
    )
    assert any(node < -(2**60) for node, _ in fast)
    assert fast == slow
    pairs = [(r.src, r.dst) for r in edges.collect()]
    assert dict(fast) == connected_components(pairs)
