"""Checkpointed-write edge cases: empty staged input, bucketing mismatch,
internally sorted bucket files, and the read-back of committed buckets."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mehari_spark.plans.lineage import load_committed, read_bucketed, write_bucketed

from .helpers import spark_jobs


def _df(spark, rows):
    return spark.createDataFrame(rows, "conv_id string, v long")


class TestWriteBucketedGuards:
    def test_empty_input_commits_zero_row_buckets(self, spark, tmp_path):
        out = str(tmp_path / "empty")
        results = write_bucketed(
            _df(spark, []), out, "r1", key_col="conv_id", n_buckets=4
        )
        assert len(results) == 4
        assert all(r.rows_out == 0 and not r.skipped for r in results)
        # restart sees all 4 committed and does nothing
        assert load_committed(out) == {0, 1, 2, 3}
        results2 = write_bucketed(
            _df(spark, [("a", 1)]), out, "r2", key_col="conv_id", n_buckets=4
        )
        assert all(r.skipped for r in results2)

    def test_n_buckets_mismatch_fails_fast(self, spark, tmp_path):
        out = str(tmp_path / "mismatch")
        write_bucketed(
            _df(spark, [("a", 1), ("b", 2)]), out, "r1", key_col="conv_id", n_buckets=4
        )
        with pytest.raises(ValueError, match="n_buckets=4"):
            write_bucketed(
                _df(spark, [("c", 3)]), out, "r2", key_col="conv_id", n_buckets=8
            )

    def test_key_col_mismatch_fails_fast(self, spark, tmp_path):
        out = str(tmp_path / "keymismatch")
        write_bucketed(
            _df(spark, [("a", 1)]), out, "r1", key_col="conv_id", n_buckets=2
        )
        with pytest.raises(ValueError, match="key_col"):
            write_bucketed(
                _df(spark, [("b", 2)]), out, "r2", key_col="v", n_buckets=2
            )

    def test_same_config_resumes_cleanly(self, spark, tmp_path):
        out = str(tmp_path / "resume")
        write_bucketed(
            _df(spark, [("a", 1), ("b", 2), ("c", 3)]),
            out,
            "r1",
            key_col="conv_id",
            n_buckets=2,
        )
        results = write_bucketed(
            _df(spark, [("a", 1)]), out, "r2", key_col="conv_id", n_buckets=2
        )
        assert all(r.skipped for r in results)
        assert read_bucketed(spark, out).count() == 3


class TestReadBucketed:
    def test_known_schema_reads_without_a_job(self, spark, tmp_path):
        out = str(tmp_path / "known")
        df = _df(spark, [("a", 1), ("b", 2), ("c", 3), ("d", 4)])
        write_bucketed(df, out, "r1", key_col="conv_id", n_buckets=4)
        os.makedirs(os.path.join(out, "bucket=9.old"))  # not a bucket dir
        with spark_jobs(spark) as jobs:
            got = read_bucketed(spark, out, df.schema)
        assert jobs == []
        # same columns and types as the read that infers them
        assert got.schema == read_bucketed(spark, out).schema
        assert sorted(got.collect()) == sorted(df.collect())

    def test_no_bucket_dir_gives_empty_frame(self, spark, tmp_path):
        out = str(tmp_path / "none")
        schema = _df(spark, []).schema
        write_bucketed(_df(spark, []), out, "r1", key_col="conv_id", n_buckets=2)
        got = read_bucketed(spark, out, schema)
        assert got.columns == ["conv_id", "v"] and got.count() == 0

    def test_bucket_subset_reads_only_those_dirs(self, spark, tmp_path):
        out = str(tmp_path / "subset")
        df = _df(spark, [(f"c{i}", i) for i in range(40)])
        write_bucketed(df, out, "r1", key_col="conv_id", n_buckets=4)
        by_bucket = {
            b: sorted(read_bucketed(spark, out, df.schema, buckets=[b]).collect())
            for b in range(4)
        }
        assert all(by_bucket.values())  # test premise: every bucket has rows
        with spark_jobs(spark) as jobs:
            got = read_bucketed(spark, out, df.schema, buckets=[3, 1, 7])
        assert jobs == []
        dirs = {os.path.basename(os.path.dirname(f)) for f in got.inputFiles()}
        assert dirs == {"bucket=1", "bucket=3"}
        assert sorted(got.collect()) == sorted(by_bucket[1] + by_bucket[3])
        # no dir among the requested buckets: the empty frame, no read
        none = read_bucketed(spark, out, df.schema, buckets=[5, 6])
        assert none.columns == ["conv_id", "v"] and none.count() == 0
        assert none.inputFiles() == []


class TestSortedBucketFiles:
    def test_every_data_file_is_internally_sorted(self, spark, tmp_path):
        # sort_cols makes each emitted parquet file key-ordered (SST /
        # Iceberg sorted-file discipline) with a LOCAL sort only — the plan
        # must not gain a shuffle
        import glob

        import pandas as pd

        df = (
            spark.range(5000)
            .select(
                F.concat(F.lit("c"), (F.col("id") % 61).cast("string")).alias(
                    "conv_id"
                ),
                (F.col("id") % 17).cast("int").alias("turn_idx"),
                F.xxhash64("id").alias("v"),
            )
            .repartition(8)  # unsorted, spread input
        )
        out = str(tmp_path / "t")
        write_bucketed(
            df, out, run_id="s", key_col="conv_id", n_buckets=4,
            sort_cols=["conv_id", "turn_idx"],
        )
        files = glob.glob(f"{out}/bucket=*/*.parquet")
        assert files
        for f in files:
            pdf = pd.read_parquet(f)[["conv_id", "turn_idx"]]
            assert list(map(tuple, pdf.values.tolist())) == sorted(
                map(tuple, pdf.values.tolist())
            ), f"unsorted file {f}"
        # content identical to the unsorted write path
        assert read_bucketed(spark, out).count() == 5000


class TestPipelineReadBack:
    def test_no_hit_input_writes_empty_tables(self, spark, tmp_path):
        from mehari_spark.datagen import synth_transcripts, turns_df
        from mehari_spark.dictionary import DictPattern, entity_kb_df, predicate_kb_df
        from mehari_spark.plans.pipeline import run_pipeline

        out = str(tmp_path / "nohit")
        turns = turns_df(spark, synth_transcripts(seed=7, n_convs=6, turns_per_conv=5))
        metrics = run_pipeline(
            spark, turns, [DictPattern(("zz-never-a-token",), "E", 1, 1, 0)], out,
            n_buckets=2,
            entity_kb=entity_kb_df(spark), predicate_kb=predicate_kb_df(spark),
        )
        assert metrics["triples_written"] == 0
        assert metrics["entities_written"] == 0
        assert spark.read.parquet(os.path.join(out, "freq_kb")).count() == 0
        assert load_committed(os.path.join(out, "entities")) == {0}
