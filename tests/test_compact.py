"""Bucket compaction: content-identical rewrite, small-file reduction,
crash-atomic swap + repair, idempotent re-run, and the content gate that
refuses a rewrite whose rows differ."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from mehari_spark.plans import commit, compact
from mehari_spark.plans.compact import compact_buckets
from mehari_spark.plans.lineage import read_bucketed, write_bucketed

from .test_merge import _files_state


def _table(spark, tmp_path, n=4000, n_buckets=4):
    out = str(tmp_path / "tbl")
    df = spark.range(n).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        (F.col("id") % 97).alias("v"),
    )
    # many staging tasks -> many small files per bucket
    write_bucketed(
        df.repartition(16), out, run_id="r1", key_col="conv_id", n_buckets=n_buckets
    )
    return out


def _files_per_bucket(out):
    return {
        os.path.basename(d): len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(out, "bucket=*"))
        if not d.endswith(".old")
    }


class TestCompaction:
    def test_compacts_to_single_sorted_file_same_content(self, spark, tmp_path):
        out = _table(spark, tmp_path)
        before = sorted(map(tuple, read_bucketed(spark, out).collect()))
        fb = _files_per_bucket(out)
        assert all(nf > 1 for nf in fb.values())  # test premise: small files

        res = compact_buckets(spark, out, sort_cols=["conv_id"])
        assert sorted(res["compacted"]) == [0, 1, 2, 3]
        fa = _files_per_bucket(out)
        assert all(nf == 1 for nf in fa.values())
        after = sorted(map(tuple, read_bucketed(spark, out).collect()))
        assert after == before  # byte-level layout changed, content didn't
        # checkpoint log carries one compacted row per bucket
        with open(os.path.join(out, "_checkpoints.jsonl")) as f:
            recs = [json.loads(l) for l in f]
        assert sum(1 for r in recs if r.get("status") == "compacted") == 4

    def test_rerun_skips_when_compact(self, spark, tmp_path):
        out = _table(spark, tmp_path)
        compact_buckets(spark, out)
        res2 = compact_buckets(spark, out)
        assert not res2["compacted"] and sorted(res2["skipped"]) == [0, 1, 2, 3]

    def test_size_policy_targets_only_small_file_buckets(self, spark, tmp_path):
        # self-targeting rewrite_data_files criterion: a bucket made of
        # few LARGE files is healthy — only buckets with >= min_files
        # files under the size threshold rewrite
        out = _table(spark, tmp_path)
        # bucket 0: pre-compact into one large file, then add one tiny
        # append so its file COUNT (2) passes the count gate but only one
        # file is "small"
        compact_buckets(spark, out, min_files=2)
        fb = _files_per_bucket(out)
        assert all(nf == 1 for nf in fb.values())
        extra = spark.createDataFrame([("cx", 1)], "conv_id string, v long")
        extra.coalesce(1).write.mode("append").parquet(
            os.path.join(out, "bucket=0")
        )
        sizes = sorted(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(out, "bucket=0", "*.parquet"))
        )
        cutoff = (sizes[0] + sizes[1]) // 2  # between tiny append and big file
        res = compact_buckets(spark, out, min_files=2, small_file_bytes=cutoff)
        # one small + one large file: not enough small files -> skipped
        assert 0 in res["skipped"] and not res["compacted"]
        # without the size policy the same bucket qualifies on count alone
        res2 = compact_buckets(spark, out, min_files=2)
        assert 0 in res2["compacted"]

    def test_sum_fingerprint_catches_even_multiplicity_diff(self, spark, tmp_path):
        # XOR alone cancels on even-multiplicity changes; the decimal-sum
        # companion must not
        from mehari_spark.plans.compact import _fingerprint

        a = spark.createDataFrame(
            [("x", 1), ("x", 1), ("y", 2)], "k string, v long"
        )
        b = spark.createDataFrame(
            [("z", 3), ("z", 3), ("y", 2)], "k string, v long"
        )
        na, xa, sa = _fingerprint(a)
        nb, xb, sb = _fingerprint(b)
        assert (na, xa) == (nb, xb)  # the blind spot is real
        assert sa != sb  # and the sum closes it

    def test_crash_mid_swap_repairs(self, spark, tmp_path, monkeypatch):
        out = _table(spark, tmp_path)
        before = sorted(map(tuple, read_bucketed(spark, out).collect()))

        def crash_between_renames(point, target):
            if point == "aside" and target.endswith("bucket=2"):
                raise RuntimeError("injected crash mid-swap of bucket 2")

        with monkeypatch.context() as m, pytest.raises(
            RuntimeError, match="injected crash"
        ):
            m.setattr(commit, "step", crash_between_renames)
            compact_buckets(spark, out)
        # bucket=2 is renamed aside; the repair protocol restores it
        assert os.path.exists(os.path.join(out, "bucket=2.old"))
        commit.repair(out)
        assert not os.path.exists(os.path.join(out, "bucket=2.old"))
        assert sorted(map(tuple, read_bucketed(spark, out).collect())) == before
        # and a fresh compaction completes the job
        res = compact_buckets(spark, out)
        assert 2 in res["compacted"]
        assert sorted(map(tuple, read_bucketed(spark, out).collect())) == before

    def test_content_gate_aborts_and_keeps_live_bucket(
        self, spark, tmp_path, monkeypatch
    ):
        out = _table(spark, tmp_path)
        before = _files_state(out)
        real = compact._fingerprint
        calls = []

        def staged_differs(df):
            # live first, then the staged read-back: corrupt the second
            n, xor, total = real(df)
            calls.append(n)
            return (n, xor, total + 1) if len(calls) == 2 else (n, xor, total)

        monkeypatch.setattr(compact, "_fingerprint", staged_differs)
        with pytest.raises(RuntimeError, match="would change content"):
            compact_buckets(spark, out)
        assert len(calls) == 2  # the first bucket's gate raised
        assert _files_state(out) == before  # live files untouched
        assert glob.glob(os.path.join(out, "_staging_compact_*")) == []
        with open(os.path.join(out, "_checkpoints.jsonl")) as f:
            recs = [json.loads(l) for l in f]
        assert not any(r.get("status") == "compacted" for r in recs)
