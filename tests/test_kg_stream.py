"""Streaming KG maintenance: transcript stream -> fused extraction ->
latest-assertion-wins MERGE. Cross-asserts the maintained table against the
batch current-state snapshot (triples_asof over the full input), exercises
restart resume, fresh-checkpoint epoch scoping, and merge idempotence."""

from __future__ import annotations

from pyspark.sql import functions as F

from mehari_spark.dictionary import demo_patterns
from mehari_spark.operators.graph import triples_asof
from mehari_spark.operators.triples import extract_triples_fused
from mehari_spark.plans.merge import merge_into_bucketed
from mehari_spark.sources.transcripts import transcripts
from mehari_spark.streaming.kg_stream import (
    applied_epochs,
    extract_batch_updates,
    read_kg_current,
    stream_kg_maintain,
)
from mehari_spark.streaming.replay import write_arrival_chunk

from .conftest import SF_UNIT

TURN_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _turns(spark):
    return transcripts(spark, SF_UNIT).select(*TURN_COLS)


def _batch_current(spark, turns_df):
    tr = extract_triples_fused(turns_df, demo_patterns())
    ts = turns_df.select(
        "conv_id", "turn_idx", F.unix_timestamp("ts").alias("ts_epoch")
    )
    return triples_asof(tr.join(ts, ["conv_id", "turn_idx"]))


def _sorted_pdf(df):
    cols = sorted(df.columns)
    return (
        df.toPandas()[cols]
        .astype(str)
        .sort_values(cols)
        .reset_index(drop=True)
    )


def _degree_scan_twin(spark, table_dir):
    """Full-table-scan degree profile — the exact twin the maintained
    partial-sum view must equal (the table stores only current rows)."""
    cur = read_kg_current(spark, table_dir)
    inc = cur.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("subj_id").alias("entity_id"), F.lit(1).alias("is_out")
                ),
                F.struct(
                    F.col("obj_id").alias("entity_id"), F.lit(0).alias("is_out")
                ),
            )
        ).alias("e")
    ).select("e.entity_id", "e.is_out")
    return inc.groupBy("entity_id").agg(
        F.sum("is_out").cast("long").alias("n_out"),
        F.sum(1 - F.col("is_out")).cast("long").alias("n_in"),
    )


def _pred_scan_twin(spark, table_dir):
    """Full-table-scan per-predicate assertion counts — the exact twin the
    maintained PREDICATE_VIEW must equal."""
    cur = read_kg_current(spark, table_dir)
    return cur.groupBy("pred_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_assertions")
    )


def _run(spark, in_dir, table_dir, ck, mfpt=1):
    q = stream_kg_maintain(
        spark, in_dir, table_dir, ck, demo_patterns(),
        n_buckets=8, max_files_per_trigger=mfpt,
    )
    q.awaitTermination()
    return q


class TestKgStream:
    def test_stream_equals_batch_snapshot(self, spark, tmp_path):
        """Three arrival waves (interleaving conversations so later epochs
        UPDATE keys earlier epochs inserted) -> maintained table equals the
        batch asof snapshot over the union."""
        turns = _turns(spark)
        in_dir = str(tmp_path / "in")
        table = str(tmp_path / "kg")
        ck = str(tmp_path / "ck")
        # wave by turn_idx band, NOT conv_id: every conversation spans all
        # three waves, so each epoch re-asserts keys from previous epochs
        for lo, hi in [(0, 2), (2, 4), (4, 1_000_000)]:
            write_arrival_chunk(
                turns.where((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi)),
                in_dir,
            )
        _run(spark, in_dir, table, ck)
        got = _sorted_pdf(read_kg_current(spark, table))
        want = _sorted_pdf(
            _batch_current(spark, turns).select(
                "subj_id", "pred_id", "obj_id", "ts_epoch"
            )
        )
        assert len(got) > 0
        assert got.equals(want)

    def test_restart_resumes_without_reapplying(self, spark, tmp_path):
        """Stop after wave 1, add waves 2-3, restart with the SAME
        checkpoint: final table equals batch; wave-1 epochs applied once."""
        turns = _turns(spark)
        in_dir = str(tmp_path / "in")
        table = str(tmp_path / "kg")
        ck = str(tmp_path / "ck")
        import os

        scope = os.path.abspath(ck)
        write_arrival_chunk(turns.where(F.col("turn_idx") < 3), in_dir)
        _run(spark, in_dir, table, ck)
        n_first = len(applied_epochs(table, scope))
        assert n_first >= 1
        write_arrival_chunk(turns.where(F.col("turn_idx") >= 3), in_dir)
        _run(spark, in_dir, table, ck)
        got = _sorted_pdf(read_kg_current(spark, table))
        want = _sorted_pdf(
            _batch_current(spark, turns).select(
                "subj_id", "pred_id", "obj_id", "ts_epoch"
            )
        )
        assert got.equals(want)
        # audit: every epoch recorded exactly once
        eps = applied_epochs(table, scope)
        assert len(eps) > n_first

    def test_fresh_checkpoint_not_skipped(self, spark, tmp_path):
        """A new stream (fresh checkpoint, epoch ids reset to 0) against the
        SAME table must still apply its batches — the epoch-done skip is
        scoped by checkpoint identity."""
        turns = _turns(spark)
        in_dir1 = str(tmp_path / "in1")
        in_dir2 = str(tmp_path / "in2")
        table = str(tmp_path / "kg")
        write_arrival_chunk(turns.where(F.col("turn_idx") < 3), in_dir1)
        _run(spark, in_dir1, table, str(tmp_path / "ck1"))
        # second stream, new checkpoint: its epoch 0 carries the later turns
        write_arrival_chunk(turns.where(F.col("turn_idx") >= 3), in_dir2)
        _run(spark, in_dir2, table, str(tmp_path / "ck2"))
        got = _sorted_pdf(read_kg_current(spark, table))
        want = _sorted_pdf(
            _batch_current(spark, turns).select(
                "subj_id", "pred_id", "obj_id", "ts_epoch"
            )
        )
        assert got.equals(want)

    def test_precedence_merge_idempotent(self, spark, tmp_path):
        """Re-applying an already-applied update batch (the foreachBatch
        retry scenario: crash between merge and offset commit) leaves the
        table's row set unchanged."""
        turns = _turns(spark)
        table = str(tmp_path / "kg")
        updates = extract_batch_updates(turns, demo_patterns())
        kw = dict(
            match_cols=["subj_id", "pred_id"],
            bucket_col="subj_id",
            n_buckets=8,
            precedence_cols=["ts_epoch", "conv_id", "turn_idx", "obj_id"],
        )
        merge_into_bucketed(spark, table, updates, run_id="e0", **kw)
        first = _sorted_pdf(read_kg_current(spark, table))
        merge_into_bucketed(spark, table, updates, run_id="e0-retry", **kw)
        second = _sorted_pdf(read_kg_current(spark, table))
        assert first.equals(second)

    def test_degree_view_equals_table_scan(self, spark, tmp_path):
        """Maintained degree partials (incremental refresh per epoch) sum
        to exactly the degree profile a full table scan computes."""
        turns = _turns(spark)
        in_dir = str(tmp_path / "in")
        table = str(tmp_path / "kg")
        ck = str(tmp_path / "ck")
        for lo, hi in [(0, 3), (3, 1_000_000)]:
            write_arrival_chunk(
                turns.where((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi)),
                in_dir,
            )
        q = stream_kg_maintain(
            spark, in_dir, table, ck, demo_patterns(),
            n_buckets=8, max_files_per_trigger=1, maintain_degree=True,
        )
        q.awaitTermination()
        from mehari_spark.plans.incremental import read_kg_degree

        got = _sorted_pdf(read_kg_degree(spark, table))
        want = _sorted_pdf(_degree_scan_twin(spark, table))
        assert len(got) > 0
        assert got.equals(want)

    def test_second_view_same_machinery(self, spark, tmp_path):
        """Generalized IVM (round-7 ask #3): PREDICATE_VIEW is maintained by
        the SAME refresh machinery in the same stream run as DEGREE_VIEW —
        both views equal their full-scan twins after multi-epoch updates."""
        from mehari_spark.plans.incremental import (
            DEGREE_VIEW,
            PREDICATE_VIEW,
            read_view,
        )

        turns = _turns(spark)
        in_dir = str(tmp_path / "in")
        table = str(tmp_path / "kg")
        ck = str(tmp_path / "ck")
        for lo, hi in [(0, 3), (3, 1_000_000)]:
            write_arrival_chunk(
                turns.where((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi)),
                in_dir,
            )
        q = stream_kg_maintain(
            spark, in_dir, table, ck, demo_patterns(),
            n_buckets=8, max_files_per_trigger=1,
            maintain_views=[DEGREE_VIEW, PREDICATE_VIEW],
        )
        q.awaitTermination()
        got_p = _sorted_pdf(read_view(spark, table, PREDICATE_VIEW))
        assert len(got_p) > 0
        assert got_p.equals(_sorted_pdf(_pred_scan_twin(spark, table)))
        assert _sorted_pdf(read_view(spark, table, DEGREE_VIEW)).equals(
            _sorted_pdf(_degree_scan_twin(spark, table))
        )

    def test_mixed_monoid_view(self, spark, tmp_path):
        """PRED_LATEST_VIEW merges one measure by SUM and one by MAX: the
        stream-maintained view equals the full-scan twin after interleaved
        multi-epoch waves (UPDATE epochs move latest_ts forward)."""
        from mehari_spark.plans.incremental import PRED_LATEST_VIEW, read_view

        turns = _turns(spark)
        in_dir = str(tmp_path / "in")
        table = str(tmp_path / "kg")
        ck = str(tmp_path / "ck")
        for lo, hi in [(0, 3), (3, 1_000_000)]:
            write_arrival_chunk(
                turns.where((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi)),
                in_dir,
            )
        q = stream_kg_maintain(
            spark, in_dir, table, ck, demo_patterns(),
            n_buckets=8, max_files_per_trigger=1,
            maintain_views=[PRED_LATEST_VIEW],
        )
        q.awaitTermination()
        got = _sorted_pdf(read_view(spark, table, PRED_LATEST_VIEW))
        want = _sorted_pdf(
            read_kg_current(spark, table)
            .groupBy("pred_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_assertions"),
                F.max("ts_epoch").cast("long").alias("latest_ts"),
            )
        )
        assert len(got) > 0
        assert got.equals(want)

    def test_bad_agg_kind_rejected(self):
        import pytest as _pytest

        from mehari_spark.plans.incremental import PartialAggSpec

        spec = PartialAggSpec(
            "bad", lambda df: df, ("g",), ("x",), agg_kinds=("avg",)
        )
        with _pytest.raises(ValueError):
            spec.kinds()

    def test_view_catch_up_generalized(self, spark, tmp_path):
        """Late-enable catch-up through the parameterized machinery: a
        PREDICATE_VIEW refresh with an empty touched list catches up every
        data bucket; a re-refresh is content-idempotent."""
        import pytest as _pytest

        from mehari_spark.plans.incremental import (
            PREDICATE_VIEW,
            read_view,
            refresh_partials,
        )

        turns = _turns(spark)
        in_dir = str(tmp_path / "in")
        table = str(tmp_path / "kg")
        write_arrival_chunk(turns, in_dir)
        _run(spark, in_dir, table, str(tmp_path / "ck"), mfpt=1_000_000)
        with _pytest.raises(FileNotFoundError):
            read_view(spark, table, PREDICATE_VIEW)
        done = refresh_partials(spark, table, [], PREDICATE_VIEW)
        assert done
        first = _sorted_pdf(read_view(spark, table, PREDICATE_VIEW))
        assert first.equals(_sorted_pdf(_pred_scan_twin(spark, table)))
        refresh_partials(spark, table, done, PREDICATE_VIEW)
        assert _sorted_pdf(read_view(spark, table, PREDICATE_VIEW)).equals(first)

    def test_killed_refresh_staging_is_swept(self, spark, tmp_path):
        """A refresh killed mid-write leaves its staging dir under the view
        dir; the next refresh sweeps it and the view is unchanged."""
        import os

        from mehari_spark.plans.incremental import (
            DEGREE_VIEW,
            read_view,
            refresh_partials,
        )
        from mehari_spark.plans.lineage import write_bucketed

        table = str(tmp_path / "kg")
        rows = spark.createDataFrame(
            [(s, 7, s + 1, 0, "c", 0) for s in range(20)],
            "subj_id long, pred_id long, obj_id long, ts_epoch long, "
            "conv_id string, turn_idx int",
        )
        write_bucketed(rows, table, "r1", key_col="subj_id", n_buckets=4)
        done = refresh_partials(spark, table, [], DEGREE_VIEW)
        before = _sorted_pdf(read_view(spark, table, DEGREE_VIEW))
        stale = os.path.join(table, "_analytics", "degree", "_staging_view_0123abcd")
        os.makedirs(os.path.join(stale, "_part=0"))
        refresh_partials(spark, table, done[:1], DEGREE_VIEW)
        assert not os.path.exists(stale)
        assert _sorted_pdf(read_view(spark, table, DEGREE_VIEW)).equals(before)

    def test_view_empty_bucket_partial(self, spark, tmp_path):
        """A spec whose row_fn filters a bucket to zero rows still gets an
        (empty) partial — read_view must not mistake it for 'missing' and
        the global view equals the filtered scan."""
        from mehari_spark.plans.incremental import (
            PartialAggSpec,
            _keep,
            read_view,
            refresh_partials,
        )

        def _rare_rows(rows):
            # keep only one predicate: most buckets produce no view rows
            return rows.where(F.col("pred_id") == 3).select(
                *_keep(rows, F.col("pred_id"),
                       F.lit(1).cast("long").alias("n_assertions"))
            )

        spec = PartialAggSpec("rare_pred", _rare_rows, ("pred_id",),
                              ("n_assertions",))
        turns = _turns(spark)
        in_dir = str(tmp_path / "in")
        table = str(tmp_path / "kg")
        write_arrival_chunk(turns, in_dir)
        _run(spark, in_dir, table, str(tmp_path / "ck"), mfpt=1_000_000)
        done = refresh_partials(spark, table, [], spec)
        assert len(done) >= 2  # every data bucket got a partial...
        got = _sorted_pdf(read_view(spark, table, spec))
        want = _sorted_pdf(
            read_kg_current(spark, table)
            .where(F.col("pred_id") == 3)
            .groupBy("pred_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_assertions"))
        )
        assert got.equals(want)
        assert len(got) <= 1  # ...even though the view has at most one group

    def test_untouched_partials_not_rewritten(self, spark, tmp_path):
        """A narrow second wave (one conversation) must refresh ONLY the
        buckets its merge touched: the other partial dirs' files are
        byte-identical objects (same inode set, same mtimes)."""
        import os

        turns = _turns(spark)
        in_dir = str(tmp_path / "in")
        table = str(tmp_path / "kg")
        ck = str(tmp_path / "ck")
        write_arrival_chunk(turns, in_dir)
        q = stream_kg_maintain(
            spark, in_dir, table, ck, demo_patterns(),
            n_buckets=8, max_files_per_trigger=1_000_000,
            maintain_degree=True,
        )
        q.awaitTermination()
        adir = os.path.join(table, "_analytics", "degree")
        before = {
            d: os.stat(os.path.join(adir, d)).st_mtime_ns
            for d in os.listdir(adir)
            if d.startswith("part=")
        }
        assert len(before) >= 2
        one_conv = turns.orderBy("conv_id").limit(1).select("conv_id")
        wave2 = turns.join(one_conv, "conv_id").withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 1 DAY")
        )
        write_arrival_chunk(wave2, in_dir)
        q = stream_kg_maintain(
            spark, in_dir, table, ck, demo_patterns(),
            n_buckets=8, max_files_per_trigger=1_000_000,
            maintain_degree=True,
        )
        q.awaitTermination()
        after = {
            d: os.stat(os.path.join(adir, d)).st_mtime_ns
            for d in os.listdir(adir)
            if d.startswith("part=")
        }
        unchanged = [d for d in before if after.get(d) == before[d]]
        changed = [d for d in before if after.get(d) != before[d]]
        # the single-conversation wave touches a strict subset of buckets
        assert changed, "second wave should refresh at least one partial"
        assert unchanged, "second wave must NOT rewrite every partial"
        # and the view still matches the scan twin exactly
        from mehari_spark.plans.incremental import read_kg_degree

        assert _sorted_pdf(read_kg_degree(spark, table)).equals(
            _sorted_pdf(_degree_scan_twin(spark, table))
        )

    def test_degree_catch_up_and_idempotence(self, spark, tmp_path):
        """Maintenance enabled late: refresh with an empty touched list
        catches up every data bucket; a second refresh is a no-op in
        content (idempotent — partials are derived data)."""
        from mehari_spark.plans.incremental import (
            DEGREE_VIEW,
            read_kg_degree,
            refresh_partials,
        )

        turns = _turns(spark)
        in_dir = str(tmp_path / "in")
        table = str(tmp_path / "kg")
        ck = str(tmp_path / "ck")
        write_arrival_chunk(turns, in_dir)
        _run(spark, in_dir, table, ck, mfpt=1_000_000)  # maintenance OFF
        import pytest as _pytest

        with _pytest.raises(FileNotFoundError):
            read_kg_degree(spark, table)
        done = refresh_partials(spark, table, [], DEGREE_VIEW)
        assert done  # caught up every data bucket
        first = _sorted_pdf(read_kg_degree(spark, table))
        assert first.equals(_sorted_pdf(_degree_scan_twin(spark, table)))
        refresh_partials(spark, table, done, DEGREE_VIEW)
        assert _sorted_pdf(read_kg_degree(spark, table)).equals(first)

    def test_commit_log_read_once_per_query(self, spark, tmp_path, monkeypatch):
        """Always-on discipline (round-6 What's-wrong #1): the applied-epoch
        audit set is read from the commit log ONCE per query lifetime, not
        per epoch — a multi-epoch run must invoke applied_epochs exactly
        once and still produce the batch-identical table."""
        import mehari_spark.streaming.kg_stream as kgs
        from mehari_spark.plans import commit

        calls = {"n": 0}
        real = kgs.applied_epochs
        real_tracker = commit.epoch_tracker

        def counting(table_dir, stage, scope):
            calls["n"] += 1
            return real_tracker(table_dir, stage, scope)

        monkeypatch.setattr(commit, "epoch_tracker", counting)
        turns = _turns(spark)
        in_dir = str(tmp_path / "in")
        table = str(tmp_path / "kg")
        for lo, hi in [(0, 2), (2, 4), (4, 1_000_000)]:
            write_arrival_chunk(
                turns.where((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi)),
                in_dir,
            )
        _run(spark, in_dir, table, str(tmp_path / "ck"))
        assert calls["n"] == 1  # 3+ epochs ran; log parsed once
        assert len(real(table, __import__("os").path.abspath(str(tmp_path / "ck")))) >= 3
        got = _sorted_pdf(read_kg_current(spark, table))
        want = _sorted_pdf(
            _batch_current(spark, turns).select(
                "subj_id", "pred_id", "obj_id", "ts_epoch"
            )
        )
        assert got.equals(want)

    def test_stream_resumes_across_log_compaction(self, spark, tmp_path):
        """Compacting the commit log between restarts (epoch_done prefix ->
        watermark row) must not change replay semantics: the restarted
        stream skips nothing it should apply and the table equals batch."""
        from mehari_spark.plans.commit import compact_log as compact_checkpoint_log

        turns = _turns(spark)
        in_dir = str(tmp_path / "in")
        table = str(tmp_path / "kg")
        ck = str(tmp_path / "ck")
        import os

        scope = os.path.abspath(ck)
        write_arrival_chunk(turns.where(F.col("turn_idx") < 3), in_dir)
        _run(spark, in_dir, table, ck)
        before = applied_epochs(table, scope)
        res = compact_checkpoint_log(table)
        assert res["rows_after"] <= res["rows_before"]
        assert applied_epochs(table, scope) == before  # watermark expands back
        write_arrival_chunk(turns.where(F.col("turn_idx") >= 3), in_dir)
        _run(spark, in_dir, table, ck)
        got = _sorted_pdf(read_kg_current(spark, table))
        want = _sorted_pdf(
            _batch_current(spark, turns).select(
                "subj_id", "pred_id", "obj_id", "ts_epoch"
            )
        )
        assert got.equals(want)

    def test_precedence_update_loses_to_newer_target(self, spark, tmp_path):
        """Latest-wins is symmetric: an UPDATE row older than the stored
        assertion must NOT overwrite it (plain upsert would)."""
        table = str(tmp_path / "kg")
        ddl = "subj_id long, pred_id long, obj_id long, ts_epoch long, conv_id string, turn_idx int"
        kw = dict(
            match_cols=["subj_id", "pred_id"],
            bucket_col="subj_id",
            n_buckets=4,
            precedence_cols=["ts_epoch", "conv_id", "turn_idx", "obj_id"],
        )
        newer = spark.createDataFrame([(1, 7, 100, 2000, "c2", 0)], ddl)
        older = spark.createDataFrame([(1, 7, 99, 1000, "c1", 0)], ddl)
        merge_into_bucketed(spark, table, newer, run_id="e0", **kw)
        merge_into_bucketed(spark, table, older, run_id="e1", **kw)
        rows = read_kg_current(spark, table).collect()
        assert len(rows) == 1 and rows[0].obj_id == 100
        # one batch with an older and a newer row for the stored key and a
        # pair for a new key: the one window over target + batch decides
        pairs = spark.createDataFrame(
            [
                (1, 7, 101, 3000, "c3", 1),
                (1, 7, 98, 1500, "c3", 0),
                (2, 7, 200, 1000, "c4", 0),
                (2, 7, 201, 1000, "c4", 1),
            ],
            ddl,
        )
        merge_into_bucketed(spark, table, pairs, run_id="e2", **kw)
        rows = read_kg_current(spark, table).collect()
        assert sorted((r.subj_id, r.obj_id) for r in rows) == [(1, 101), (2, 201)]
