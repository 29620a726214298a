"""KB-enrichment annotator chain (enrich_triples): values, plan shape, and
pipeline wiring — the setup_seqvars_annotator analog (mod.rs:1162-1312)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from mehari_spark.dictionary import entity_df, entity_kb_df, predicate_kb_df
from mehari_spark.operators.enrich import enrich_triples

from .helpers import spark_jobs


def _triples(spark):
    rows = [
        ("c1", 0, 1, 101, 2),
        ("c1", 1, 1, 103, 3),
        ("c2", 0, 2, 108, 1),
        ("c2", 1, 99, 101, 1),  # subj 99 not in the KB -> null subj_type
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, subj_id long, pred_id long, obj_id long"
    )


class TestEnrichValues:
    def test_annotations_joined(self, spark):
        out = {
            (r.conv_id, r.turn_idx): r
            for r in enrich_triples(
                _triples(spark), entity_kb_df(spark), predicate_kb_df(spark)
            ).collect()
        }
        r = out[("c1", 0)]
        assert (r.subj_type, r.obj_type) == ("engine", "actor")
        assert (r.pred_surface, r.pred_rank) == ("join", 1)
        assert r.subj_freq == 2  # subj 1 appears in two triples

    def test_missing_kb_rows_yield_nulls(self, spark):
        out = {
            (r.conv_id, r.turn_idx): r
            for r in enrich_triples(
                _triples(spark), entity_kb_df(spark), predicate_kb_df(spark)
            ).collect()
        }
        r = out[("c2", 1)]
        assert r.subj_type is None  # left join keeps the triple
        assert r.subj_freq == 1

    def test_plan_is_broadcast_joins(self, spark):
        # the annotator chain must be BroadcastHashJoins on the fact stream —
        # a SortMergeJoin here would shuffle the 100 TB side for a dim lookup
        df = enrich_triples(
            _triples(spark), entity_kb_df(spark), predicate_kb_df(spark)
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") >= 4
        assert "SortMergeJoin" not in plan


class TestPipelineEnrichment:
    def test_pipeline_writes_enriched_columns(self, spark, tmp_path):
        from mehari_spark.datagen import fixture_patterns, synth_transcripts, turns_df
        from mehari_spark.plans.pipeline import run_pipeline

        # fixture KBs keyed on the fixture dictionary's canonical ids
        pats = fixture_patterns()
        ent_ids = sorted({p.ref_id for p in pats if p.kind == "E"})
        ekb = spark.createDataFrame(
            [(i, f"type_{i % 3}") for i in ent_ids], "entity_id long, type string"
        )
        pkb = spark.createDataFrame(
            sorted(
                {(p.canon_id, p.tokens[0], p.rank) for p in pats if p.kind == "P"}
            ),
            "pred_id long, surface string, rank int",
        )
        turns = synth_transcripts(seed=7, n_convs=10, turns_per_conv=8)
        out_dir = str(tmp_path / "enriched")
        run_pipeline(
            spark,
            turns_df(spark, turns),
            pats,
            out_dir,
            n_buckets=2,
            entity_kb=ekb,
            predicate_kb=pkb,
        )
        files = glob.glob(os.path.join(out_dir, "triples", "bucket=*"))
        assert files
        written = spark.read.parquet(os.path.join(out_dir, "triples", "bucket=*"))
        for col in ("subj_type", "obj_type", "pred_surface", "pred_rank"):
            assert col in written.columns
        assert written.filter(F.col("subj_type").isNull()).count() == 0
        # the frequency KB is a second-phase artifact built from the
        # materialized table (mehari's prebuilt frequency.rs shape)
        freq = spark.read.parquet(os.path.join(out_dir, "freq_kb"))
        assert set(freq.columns) == {"subj_id", "subj_freq"}
        assert freq.agg(F.sum("subj_freq")).first()[0] == written.count()


KB_BUILDERS = [
    (entity_kb_df, "entity_id long, type string"),
    (predicate_kb_df, "pred_id long, surface string, rank int"),
    (entity_df, "alias string, entity_id long, type string"),
]


class TestLocalKB:
    """The constant KB tables are LocalRelations: reading or broadcasting
    one runs no Python job."""

    @pytest.mark.parametrize("build,ddl", KB_BUILDERS)
    def test_plans_to_local_relation_with_ddl_schema(self, spark, build, ddl):
        df = build(spark)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), plan
        assert df.schema == DataType.fromDDL(ddl)

    @pytest.mark.parametrize("build,ddl", KB_BUILDERS)
    def test_collect_launches_no_job(self, spark, build, ddl):
        df = build(spark)
        with spark_jobs(spark) as jobs:
            rows = df.collect()
        assert rows and jobs == []
