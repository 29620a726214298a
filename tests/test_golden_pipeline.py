"""Golden-triple P/R, turn-ordering invariant, coref, canonicalizer and
resume tests — the BASELINE.md acceptance criteria."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from mehari_spark.datagen import (
    reference_triples,
    synth_transcripts,
    fixture_patterns,
    turns_df,
)
from mehari_spark.dictionary import predicate_kb_df
from mehari_spark.operators.canonicalize import (
    CanonRule,
    canonicalize_full,
    close_rule_table,
)
from mehari_spark.operators import graph
from mehari_spark.operators.coref import connected_components_global
from mehari_spark.operators.mentions import detect_mentions, resolve_overlaps
from mehari_spark.operators.triples import assemble_triples
from mehari_spark.plans.pipeline import partition_for_scan, run_pipeline
from .helpers import spark_jobs, sql_plans


@pytest.fixture(scope="module")
def turns():
    return synth_transcripts(seed=42, n_convs=20, turns_per_conv=10, hot_convs=2)


@pytest.fixture(scope="module")
def golden(turns):
    return reference_triples(turns, fixture_patterns())


def _engine_triples(spark, turns) -> set:
    df = turns_df(spark, turns)
    m = resolve_overlaps(detect_mentions(df, fixture_patterns()))
    t = assemble_triples(m)
    return {
        (r.conv_id, r.turn_idx, r.subj_id, r.pred_id, r.obj_id) for r in t.collect()
    }


class TestGoldenPR:
    def test_precision_recall(self, spark, turns, golden):
        got = _engine_triples(spark, turns)
        assert golden, "golden set empty — generator broken"
        tp = len(got & golden)
        precision = tp / len(got) if got else 0.0
        recall = tp / len(golden)
        assert precision >= 0.95, f"P={precision:.3f} ({len(got)} got, {tp} tp)"
        assert recall >= 0.95, f"R={recall:.3f} ({len(golden)} golden, {tp} tp)"

    def test_umbrella_rewrite_applied(self, spark, turns, golden):
        # surface 'employs' (202) must appear canonicalized as 201 everywhere
        got = _engine_triples(spark, turns)
        assert all(p != 202 for (_c, _t, _s, p, _o) in got)
        assert any(p == 201 for (_c, _t, _s, p, _o) in got)


class TestOrderingInvariant:
    def test_per_turn_text_equality_after_repartition(self, spark, turns):
        """input_hint invariant: per-turn text equality under stable
        (conv_id, turn_idx) ordering, across an arbitrary repartition."""
        df = turns_df(spark, turns)
        scrambled = df.repartition(16, F.rand(seed=3))
        restored = partition_for_scan(scrambled, n_partitions=8)
        orig = {(r.conv_id, r.turn_idx): r.text for r in df.collect()}
        back = {(r.conv_id, r.turn_idx): r.text for r in restored.collect()}
        assert orig == back

    def test_triples_invariant_under_shuffle(self, spark, turns):
        df = turns_df(spark, turns)
        a = _engine_triples(spark, turns)
        m = resolve_overlaps(
            detect_mentions(df.repartition(32, F.rand(seed=11)), fixture_patterns())
        )
        b = {
            (r.conv_id, r.turn_idx, r.subj_id, r.pred_id, r.obj_id)
            for r in assemble_triples(m).collect()
        }
        assert a == b


class TestCanonicalizer:
    def test_close_rules_transitive(self):
        rules = [CanonRule(1, 2), CanonRule(2, 3), CanonRule(3, 3)]
        assert close_rule_table(rules) == {1: (3, None), 2: (3, None), 3: (3, None)}

    def test_close_rules_cycle_safe(self):
        closed = close_rule_table([CanonRule(1, 2), CanonRule(2, 1)])
        assert closed[1][0] in (1, 2)

    def test_suppression_drops_rows(self, spark):
        df = spark.createDataFrame([(1, 101), (2, 999)], "id long, pred_id long")
        rules = [CanonRule(101, 7), CanonRule(999, None)]
        out = canonicalize_full(df, rules, predicate_kb_df(spark))
        rows = {(r.id, r.pred_id) for r in out.collect()}
        assert rows == {(1, 7)}

    def test_passthrough_unknown(self, spark):
        df = spark.createDataFrame([(1, 555)], "id long, pred_id long")
        out = canonicalize_full(df, [CanonRule(101, 7)], predicate_kb_df(spark))
        assert [(r.id, r.pred_id) for r in out.collect()] == [(1, 555)]


class TestGlobalCC:
    def test_two_components(self, spark):
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (11, 12), (3, 4)], "src long, dst long"
        )
        out = {
            (r.node, r.component)
            for r in connected_components_global(edges).collect()
        }
        assert out == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (12, 10)}

    def test_chain_converges(self, spark):
        n = 30  # a path graph needs O(log n) label rounds
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "src long, dst long"
        )
        out = connected_components_global(edges)
        assert out.select("component").distinct().count() == 1

    def test_path_graph_logn_rounds(self, spark, monkeypatch):
        # the O(log n) bound (Kiveris et al., SoCC'14): a 128-node path needs
        # 127 rounds under naive one-hop label propagation; pointer jumping
        # must converge in ~log2(128)+slack rounds
        n = 128
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "src long, dst long"
        )
        monkeypatch.setattr(graph, "SMALL_GRAPH_EDGES", 0)
        labels, rounds = connected_components_global(
            edges, max_iter=40, with_rounds=True
        )
        comps = {r.component for r in labels.collect()}
        assert comps == {0}
        assert rounds <= 14, f"pointer jumping broken: {rounds} rounds for n={n}"

    def test_superseded_checkpoints_released(self, spark, monkeypatch):
        """Each round's localCheckpoint releases the one it supersedes, and
        the edge relations go when the rounds are done: what a call leaves
        in block storage does not grow with its round count."""
        monkeypatch.setattr(graph, "SMALL_GRAPH_EDGES", 0)
        storage = spark.sparkContext._jsc.sc().getRDDStorageInfo
        grown, rounds_seen = [], []
        for n in (4, 128):
            edges = spark.createDataFrame(
                [(i, i + 1) for i in range(n - 1)], "src long, dst long"
            )
            before = len(storage())
            labels, rounds = connected_components_global(
                edges, max_iter=40, with_rounds=True
            )
            grown.append(len(storage()) - before)
            rounds_seen.append(rounds)
            assert {r.component for r in labels.collect()} == {0}
        assert rounds_seen[1] > rounds_seen[0] + 2
        # the returned labels are the one checkpoint a call keeps
        assert max(grown) <= 1, grown


class TestResume:
    def test_kill_restart_identical(self, spark, turns, tmp_path, monkeypatch):
        from mehari_spark.plans import commit

        df = turns_df(spark, turns)
        full_dir = str(tmp_path / "full")
        resume_dir = str(tmp_path / "resumed")
        run_pipeline(spark, df, fixture_patterns(), full_dir, n_buckets=4)
        appended = []

        def kill_after_two_commits(point, target):
            if point == "appended":
                appended.append(target)
                if len(appended) == 2:
                    raise RuntimeError("injected failure after 2 bucket commits")

        # killed run: fails after 2 of 4 bucket commits
        with monkeypatch.context() as m, pytest.raises(
            RuntimeError, match="injected failure"
        ):
            m.setattr(commit, "step", kill_after_two_commits)
            run_pipeline(spark, df, fixture_patterns(), resume_dir, n_buckets=4)
        ckpts = open(os.path.join(resume_dir, "triples", "_checkpoints.jsonl")).read()
        assert ckpts.count('"committed"') == 2
        # restart: must skip the 2 committed buckets and finish
        metrics = run_pipeline(spark, df, fixture_patterns(), resume_dir, n_buckets=4)
        assert metrics["buckets_skipped"] == 2
        a = spark.read.parquet(f"{full_dir}/triples/bucket=*")
        b = spark.read.parquet(f"{resume_dir}/triples/bucket=*")
        key = ["conv_id", "turn_idx", "subj_id", "pred_id", "obj_id"]
        assert sorted(map(tuple, a.select(key).collect())) == sorted(
            map(tuple, b.select(key).collect())
        )
        # no duplicate commits for any bucket
        lines = [l for l in ckpts.strip().splitlines()]
        more = open(os.path.join(resume_dir, "triples", "_checkpoints.jsonl")).read()
        buckets = [int(x.split('"bucket": ')[1].split(",")[0]) for x in more.strip().splitlines()]
        assert len(buckets) == len(set(buckets)) == 4


def _rows(spark, path: str) -> list[tuple]:
    """Every row of the parquet table at ``path``, sorted (the lineage
    struct as a tuple)."""
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _committed(table_dir: str) -> list[int]:
    return sorted(
        json.loads(line)["bucket"]
        for line in open(os.path.join(table_dir, "_checkpoints.jsonl"))
        if '"committed"' in line
    )


class TestOneExchange:
    def test_fresh_call_is_one_query_with_one_exchange(self, spark, turns, tmp_path):
        """A fresh call without a KB is one SQL query that shuffles the
        triples once: no Spark parquet write and no parquet scan (the input
        is an in-memory frame, so any scan would read back the call's own
        output). Writing the triples, coref and writing the entities all
        ride on that one exchange."""
        df = turns_df(spark, turns)
        with spark_jobs(spark) as jobs:
            run_pipeline(spark, df, fixture_patterns(), str(tmp_path), n_buckets=4)
        plans = sql_plans(spark, jobs)
        assert len(plans) == 1, plans
        (names,) = [[name for name, _ in nodes] for nodes in plans.values()]
        assert names.count("Exchange") == 1, names
        assert not [n for n in names if "Scan parquet" in n or "Insert" in n], names


def _kill_points(n_buckets: int) -> list[tuple[str, str, int]]:
    """(step point, target table, nth such step) after each triples
    commit, after each entity commit, and before the freq_kb publish."""
    n_entity = max(1, n_buckets // 2)
    return (
        [("appended", "triples", k) for k in range(1, n_buckets + 1)]
        + [("appended", "entities", k) for k in range(1, n_entity + 1)]
        + [("begin", "freq_kb", 1)]
    )


class TestCrashMatrix:
    """A run killed after each commit step of the pipeline's order
    (triples buckets, entity buckets, then freq_kb), then restarted, gives
    the uninterrupted run's tables with one log row per bucket, and the
    restart never re-extracts a committed bucket."""

    @pytest.fixture(scope="class")
    def reference(self, spark, turns, tmp_path_factory):
        from mehari_spark.dictionary import entity_kb_df, predicate_kb_df

        kbs = dict(entity_kb=entity_kb_df(spark), predicate_kb=predicate_kb_df(spark))
        df = turns_df(spark, turns)
        ref = {}
        for n in (4, 5):
            out = str(tmp_path_factory.mktemp(f"full{n}"))
            run_pipeline(spark, df, fixture_patterns(), out, run_id="r", n_buckets=n, **kbs)
            ref[n] = {t: _rows(spark, f"{out}/{t}") for t in ("triples", "entities", "freq_kb")}
        return df, kbs, ref

    @pytest.mark.parametrize(
        "n_buckets,kill", [(n, k) for n in (4, 5) for k in _kill_points(n)]
    )
    def test_kill_restart(self, spark, reference, tmp_path, monkeypatch, n_buckets, kill):
        from mehari_spark.plans import commit, pipeline
        from mehari_spark.plans.lineage import bucket_of

        df, kbs, ref = reference
        out = str(tmp_path / "run")
        point, table, nth = kill
        seen = []

        def crash(p, target):
            if p == point and os.path.basename(target) == table:
                seen.append(target)
                if len(seen) == nth:
                    raise RuntimeError("injected crash")

        with monkeypatch.context() as m, pytest.raises(RuntimeError, match="injected"):
            m.setattr(commit, "step", crash)
            run_pipeline(spark, df, fixture_patterns(), out, run_id="r", n_buckets=n_buckets, **kbs)
        done = set(_committed(f"{out}/triples"))

        extracted = []
        real = pipeline.extract_triples_fused

        def spy(transcripts, patterns):
            extracted.append(transcripts)
            return real(transcripts, patterns)

        monkeypatch.setattr(pipeline, "extract_triples_fused", spy)
        with spark_jobs(spark) as jobs:
            metrics = run_pipeline(
                spark, df, fixture_patterns(), out, run_id="r", n_buckets=n_buckets, **kbs
            )
        assert metrics["buckets_skipped"] == len(done)
        for t in ("triples", "entities", "freq_kb"):
            assert _rows(spark, f"{out}/{t}") == ref[n_buckets][t], t
        assert _committed(f"{out}/triples") == list(range(n_buckets))
        assert _committed(f"{out}/entities") == list(range(max(1, n_buckets // 2)))
        # the restart extracts only the uncommitted buckets' conversations ...
        (scanned,) = extracted
        again = scanned.filter(bucket_of("conv_id", n_buckets).isin(sorted(done)))
        assert again.count() == 0
        # ... and reads what the entities and freq_kb still need back in
        # the same job as the rest
        plans = sql_plans(spark, jobs)
        assert len(plans) == 1, plans
        names = [name for nodes in plans.values() for name, _ in nodes]
        assert names.count("Exchange") == 1, names

    def test_rerun_replaces_a_stale_freq_kb(self, spark, reference, tmp_path):
        """A rerun over an out_dir whose freq_kb holds other part files
        (a Spark writer's) leaves only the republished one."""
        df, kbs, ref = reference
        out = str(tmp_path / "stale")
        spark.range(3).selectExpr("id AS subj_id", "id AS subj_freq").repartition(3).write.parquet(
            f"{out}/freq_kb"
        )
        for _ in range(2):
            run_pipeline(spark, df, fixture_patterns(), out, run_id="r", n_buckets=4, **kbs)
            assert _rows(spark, f"{out}/freq_kb") == ref[4]["freq_kb"]
            assert len(glob.glob(f"{out}/freq_kb/*.parquet")) == 1
            assert [n for n in os.listdir(out) if n.startswith("_staging")] == []


class TestPipelineMetrics:
    def test_match_table_cache_metrics_written(self, spark, turns, tmp_path):
        """run_pipeline reports its match-table cache traffic in
        _metrics.jsonl: a rerun with the same dictionary is a pure hit.
        Committed row counts (read from parquet footers) match the data,
        for the triples and for the coref entities table."""
        import json

        df = turns_df(spark, turns)
        per_run = []
        for name in ("a", "b"):
            out = str(tmp_path / name)
            metrics = run_pipeline(spark, df, fixture_patterns(), out, n_buckets=4)
            with open(os.path.join(out, "_metrics.jsonl")) as f:
                rows = [json.loads(line) for line in f]
            written = {
                r["metric"]: r["value"] for r in rows if r["stage"] == "pipeline"
            }
            for name in (
                "match_table_builds",
                "match_table_hits",
                "entities_written",
                "entities_s",
                "triples_files_written",
                "entities_files_written",
                "kernel_write_s",
                "kernel_coref_s",
            ):
                assert written[name] == metrics[name], name
            assert metrics["triples_written"] == (
                spark.read.parquet(f"{out}/triples/bucket=*").count()
            )
            assert metrics["entities_written"] == (
                spark.read.parquet(f"{out}/entities/bucket=*").count()
            )
            assert metrics["entities_written"] > 0
            assert 0 < metrics["entities_s"] <= metrics["elapsed_s"]
            per_run.append(metrics)
        first, second = per_run
        assert first["match_table_builds"] + first["match_table_hits"] == 1
        assert (second["match_table_builds"], second["match_table_hits"]) == (0, 1)


class TestFusedEquivalence:
    def test_fused_equals_windowed_and_golden(self, spark, turns, golden):
        from mehari_spark.operators.triples import extract_triples_fused

        df = turns_df(spark, turns)
        fused = {
            (r.conv_id, r.turn_idx, r.subj_id, r.pred_id, r.obj_id)
            for r in extract_triples_fused(df, fixture_patterns()).collect()
        }
        windowed = _engine_triples(spark, turns)
        assert fused == windowed
        assert fused == golden


class TestSkewSalting:
    def test_hot_conversation_spreads_across_partitions(self, spark):
        """north_rule P15: a hot conversation (>hot_threshold turns) must not
        pin one partition — salting spreads it."""
        from pyspark.sql import functions as F

        hot = spark.range(0, 40000).select(
            F.lit("hot_conv").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.lit("alice uses kafka").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.current_timestamp().alias("ts"),
        )
        out = partition_for_scan(hot, n_partitions=8, hot_threshold=1000)
        sizes = (
            out.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        nonempty = [r["count"] for r in sizes]
        assert len(nonempty) >= 4, f"hot conv pinned to {len(nonempty)} partition(s)"
        assert max(nonempty) < 40000  # not all rows in one partition
        # the FIRST <threshold turns must also spread (round-1 bug: salting
        # keyed on the row's turn_idx left the prefix on one partition)
        prefix_parts = (
            out.filter(F.col("turn_idx") < 1000)
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
        assert prefix_parts >= 4, f"hot-conv prefix pinned to {prefix_parts} partition(s)"
