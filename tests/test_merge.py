"""MERGE INTO emulation: upsert semantics, bucket pruning (untouched
buckets byte-identical) and crash safety of the bucket swaps."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from mehari_spark.plans.lineage import write_bucketed
from mehari_spark.plans.merge import merge_into_bucketed

DDL = "conv_id string, turn_idx int, subj_id long, pred_id long, obj_id long"


def _base(spark):
    rows = [
        (f"c{i}", t, 1, 101, 2) for i in range(8) for t in range(3)
    ]
    return spark.createDataFrame(rows, DDL)


def _files_state(out_dir):
    state = {}
    for p in sorted(glob.glob(os.path.join(out_dir, "bucket=*", "*.parquet"))):
        st = os.stat(p)
        state[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return state


class TestMergeInto:
    @pytest.fixture()
    def table(self, spark, tmp_path):
        out = str(tmp_path / "t")
        write_bucketed(_base(spark), out, "r1", key_col="conv_id", n_buckets=4)
        return out

    def test_upsert_updates_and_inserts(self, spark, table):
        updates = spark.createDataFrame(
            [
                ("c0", 0, 1, 999, 2),   # update: replaces pred 101 -> 999
                ("c0", 7, 5, 101, 6),   # insert: new turn in existing conv
                ("zz_new", 0, 9, 101, 9),  # insert: new conv
            ],
            DDL,
        )
        res = merge_into_bucketed(
            spark, table, updates,
            match_cols=["conv_id", "turn_idx"],
            bucket_col="conv_id", n_buckets=4, precedence_cols=["pred_id"],
        )
        assert res["touched_buckets"]
        # rows_after (from the staged footers) is each touched bucket's count
        assert sorted(res["rows_after"]) == res["touched_buckets"]
        for b in res["touched_buckets"]:
            bdir = os.path.join(table, f"bucket={b}")
            assert res["rows_after"][b] == spark.read.parquet(bdir).count()
        after = spark.read.parquet(os.path.join(table, "bucket=*"))
        assert after.count() == 8 * 3 + 2  # 1 update + 2 inserts
        got = {
            (r.conv_id, r.turn_idx): r.pred_id
            for r in after.collect()
        }
        assert got[("c0", 0)] == 999
        assert got[("c0", 7)] == 101
        assert got[("zz_new", 0)] == 101
        assert got[("c1", 0)] == 101  # untouched row intact

    def test_untouched_buckets_not_rewritten(self, spark, table):
        before = _files_state(table)
        updates = spark.createDataFrame([("c0", 0, 1, 999, 2)], DDL)
        res = merge_into_bucketed(
            spark, table, updates,
            match_cols=["conv_id", "turn_idx"],
            bucket_col="conv_id", n_buckets=4, precedence_cols=["pred_id"],
        )
        assert len(res["touched_buckets"]) == 1
        touched = res["touched_buckets"][0]
        after = _files_state(table)
        for path, sig in before.items():
            if f"bucket={touched}" in path:
                continue
            assert after.get(path) == sig, f"untouched file rewritten: {path}"

    def test_layout_mismatch_fails_fast(self, spark, table):
        updates = spark.createDataFrame([("c0", 0, 1, 999, 2)], DDL)
        with pytest.raises(ValueError):
            merge_into_bucketed(
                spark, table, updates,
                match_cols=["conv_id", "turn_idx"],
                bucket_col="conv_id", n_buckets=8,  # wrong modulus
                precedence_cols=["pred_id"],
            )

    def test_merge_then_resume_write_still_validates(self, spark, table):
        # merge checkpoints carry the same layout metadata write_bucketed
        # validates on resume — a post-merge resumed write must not crash
        updates = spark.createDataFrame([("c0", 0, 1, 999, 2)], DDL)
        merge_into_bucketed(
            spark, table, updates,
            match_cols=["conv_id", "turn_idx"],
            bucket_col="conv_id", n_buckets=4, precedence_cols=["pred_id"],
        )
        results = write_bucketed(
            _base(spark), table, "r2", key_col="conv_id", n_buckets=4
        )
        assert all(r.skipped for r in results)  # all buckets committed


class TestMergeCrashSafety:
    def _seed_table(self, spark, out_dir):
        df = spark.createDataFrame(
            [(f"c{i}", i % 3, i * 10) for i in range(30)],
            "conv_id string, turn_idx int, v long",
        )
        write_bucketed(df, out_dir, run_id="seed", key_col="conv_id", n_buckets=4)
        return df

    def test_guard_bucket_col_in_match_cols(self, spark, tmp_path):
        out = str(tmp_path / "t")
        self._seed_table(spark, out)
        upd = spark.createDataFrame(
            [("c1", 1, 999)], "conv_id string, turn_idx int, v long"
        )
        with pytest.raises(ValueError, match="must be one of match_cols"):
            merge_into_bucketed(
                spark, out, upd, match_cols=["turn_idx"],
                bucket_col="conv_id", n_buckets=4, precedence_cols=["v"],
            )

    def test_crash_mid_swap_recovers_without_data_loss(
        self, spark, tmp_path, monkeypatch
    ):
        from mehari_spark.plans import commit
        from mehari_spark.plans.lineage import read_bucketed

        out = str(tmp_path / "t")
        self._seed_table(spark, out)
        before = {
            (r.conv_id, r.turn_idx): r.v for r in read_bucketed(spark, out).collect()
        }
        upd = spark.createDataFrame(
            [("c1", 1, 999), ("c2", 2, 888)],
            "conv_id string, turn_idx int, v long",
        )
        bcol = (
            upd.select(
                F.pmod(F.xxhash64(F.col("conv_id")), F.lit(4)).cast("int").alias("b")
            )
            .distinct()
            .collect()
        )
        crash_bucket = sorted(r.b for r in bcol)[0]

        def crash_between_renames(point, target):
            if point == "aside" and target.endswith(f"bucket={crash_bucket}"):
                raise RuntimeError(f"injected crash mid-swap of bucket {crash_bucket}")

        with monkeypatch.context() as m, pytest.raises(
            RuntimeError, match="injected crash mid-swap"
        ):
            m.setattr(commit, "step", crash_between_renames)
            merge_into_bucketed(
                spark, out, upd, match_cols=["conv_id", "turn_idx"],
                bucket_col="conv_id", n_buckets=4, precedence_cols=["v"],
            )
        # mid-swap state: bucket=<b> is renamed aside — the table is
        # readable only after repair; rerunning the merge repairs + applies
        merge_into_bucketed(
            spark, out, upd, match_cols=["conv_id", "turn_idx"],
            bucket_col="conv_id", n_buckets=4, run_id="merge2",
            precedence_cols=["v"],
        )
        after = {
            (r.conv_id, r.turn_idx): r.v for r in read_bucketed(spark, out).collect()
        }
        want = dict(before)
        want[("c1", 1)] = 999
        want[("c2", 2)] = 888
        assert after == want
        # no stray .old dirs or merge staging left behind
        leftovers = [
            d for d in os.listdir(out)
            if d.endswith(".old") or d.startswith("_staging_merge_")
        ]
        assert leftovers == []

    def test_rollback_when_new_data_never_landed(self, spark, tmp_path):
        import shutil

        from mehari_spark.plans.commit import repair
        from mehari_spark.plans.lineage import read_bucketed

        out = str(tmp_path / "t")
        self._seed_table(spark, out)
        before = sorted(map(tuple, read_bucketed(spark, out).collect()))
        # simulate a crash BETWEEN the two renames: bucket aside, no new data
        src = os.path.join(out, "bucket=0")
        shutil.move(src, src + ".old")
        assert repair(out) == [src]
        assert sorted(map(tuple, read_bucketed(spark, out).collect())) == before
