"""Golden-triple P/R, turn-ordering invariant, coref, canonicalizer and
resume tests — the BASELINE.md acceptance criteria."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from mehari_spark.datagen import (
    reference_triples,
    synth_transcripts,
    fixture_patterns,
    turns_df,
)
from mehari_spark.operators.canonicalize import canonicalize_predicates, close_rules
from mehari_spark.operators.coref import connected_components_global
from mehari_spark.operators.mentions import detect_mentions, resolve_overlaps
from mehari_spark.operators.triples import assemble_triples
from mehari_spark.plans.pipeline import partition_for_scan, run_pipeline


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
        assert close_rules({1: 2, 2: 3, 3: 3}) == {1: 3, 2: 3, 3: 3}

    def test_close_rules_cycle_safe(self):
        closed = close_rules({1: 2, 2: 1})
        assert closed[1] in (1, 2)

    def test_suppression_drops_rows(self, spark):
        df = spark.createDataFrame([(1, 101), (2, 999)], "id long, pred_id long")
        out = canonicalize_predicates(df, {101: 7, 999: None})
        rows = {(r.id, r.pred_id) for r in out.collect()}
        assert rows == {(1, 7)}

    def test_passthrough_unknown(self, spark):
        df = spark.createDataFrame([(1, 555)], "id long, pred_id long")
        out = canonicalize_predicates(df, {101: 7})
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

    def test_path_graph_logn_rounds(self, spark):
        # the O(log n) bound (Kiveris et al., SoCC'14): a 128-node path needs
        # 127 rounds under naive one-hop label propagation; pointer jumping
        # must converge in ~log2(128)+slack rounds
        n = 128
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "src long, dst long"
        )
        labels, rounds = connected_components_global(
            edges, max_iter=40, with_rounds=True, small_graph_threshold=0
        )
        comps = {r.component for r in labels.collect()}
        assert comps == {0}
        assert rounds <= 14, f"pointer jumping broken: {rounds} rounds for n={n}"


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


class TestPipelineMetrics:
    def test_match_table_cache_metrics_written(self, spark, turns, tmp_path):
        """run_pipeline reports its match-table cache traffic in
        _metrics.jsonl: a rerun with the same dictionary is a pure hit.
        Committed row counts (read from parquet footers) match the data."""
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
            assert written["match_table_builds"] == metrics["match_table_builds"]
            assert written["match_table_hits"] == metrics["match_table_hits"]
            assert metrics["triples_written"] == (
                spark.read.parquet(f"{out}/triples/bucket=*").count()
            )
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
