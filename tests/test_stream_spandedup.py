"""Streaming span-level dedup: arrival-split invariance vs the batch
operator, restart resume, empty epochs, df-cap."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mehari_spark.operators.spandedup import span_matches_winnowed
from mehari_spark.plans import commit
from mehari_spark.streaming.replay import write_arrival_chunk
from mehari_spark.streaming.spandedup_stream import (
    applied_epochs,
    read_corpus_texts,
    read_span_matches,
    stream_span_dedup,
)

from .conftest import SF_UNIT

K, W = 24, 8


def _docs(spark):
    return spark.read.parquet(f"{SF_UNIT}/documents.parquet")


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _run(spark, in_dir, store, ck, mfpt=1, **kw):
    # modest bucket counts keep the toy stores at a few dirs per epoch
    # (the 1024-bucket default is the cluster-scale pruning granularity);
    # prune_min_bytes=0 forces the bucket-pruned read path so the
    # exactness suites exercise it end to end (the adaptive default would
    # full-scan these tiny stores)
    kw.setdefault("n_fp_buckets", 32)
    kw.setdefault("n_doc_buckets", 8)
    kw.setdefault("compact_every_epochs", None)
    kw.setdefault("prune_min_bytes", 0)
    q = stream_span_dedup(
        spark, in_dir, store, ck,
        k=K, w=W, max_files_per_trigger=mfpt, **kw,
    )
    q.awaitTermination()
    return q


class TestStreamSpanDedup:
    def test_multi_wave_equals_batch(self, spark, tmp_path):
        """Three arrival waves: the union of per-epoch spans equals the
        batch winnowed operator over the full corpus — pairs split across
        epochs meet via the index, same-epoch pairs via the batch join."""
        docs = _docs(spark)
        in_dir = str(tmp_path / "in")
        store = str(tmp_path / "store")
        # waves split BY ID RANGE so shared-passage pairs land both within
        # one wave and across waves
        for lo, hi in [(0, 150), (150, 320), (320, 10_000)]:
            write_arrival_chunk(
                docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
                in_dir,
            )
        _run(spark, in_dir, store, str(tmp_path / "ck"))
        got = _sorted_rows(read_span_matches(spark, store))
        want = _sorted_rows(span_matches_winnowed(docs, k=K, w=W))
        assert len(got) > 0
        assert got == want
        # the corpus store carries every doc exactly once
        assert read_corpus_texts(spark, store).count() == docs.count()

    def test_restart_resumes_without_reapplying(self, spark, tmp_path):
        """Stop after wave 1, add wave 2, restart with the SAME checkpoint:
        final spans equal batch; wave-1 epochs applied exactly once."""
        import os

        docs = _docs(spark)
        in_dir = str(tmp_path / "in")
        store = str(tmp_path / "store")
        ck = str(tmp_path / "ck")
        scope = os.path.abspath(ck)
        write_arrival_chunk(docs.where(F.col("doc_id") < 250), in_dir)
        _run(spark, in_dir, store, ck)
        n_first = len(applied_epochs(store, scope))
        assert n_first >= 1
        write_arrival_chunk(docs.where(F.col("doc_id") >= 250), in_dir)
        _run(spark, in_dir, store, ck)
        got = _sorted_rows(read_span_matches(spark, store))
        want = _sorted_rows(span_matches_winnowed(docs, k=K, w=W))
        assert got == want
        assert len(applied_epochs(store, scope)) > n_first

    def test_restart_with_other_bucket_moduli_raises(self, spark, tmp_path):
        """The store logs its bucket moduli with the first epoch: a restart
        with another n_fp_buckets must raise (its path-pruned reads would
        miss candidates). A store without a layout row predates the row
        and is read unpruned, so any moduli still give batch equality."""
        docs = _docs(spark)
        in_dir = str(tmp_path / "in")
        store = str(tmp_path / "store")
        ck = str(tmp_path / "ck")
        write_arrival_chunk(docs.where(F.col("doc_id") < 250), in_dir)
        _run(spark, in_dir, store, ck)
        write_arrival_chunk(docs.where(F.col("doc_id") >= 250), in_dir)
        with pytest.raises(ValueError, match="n_fp_buckets=32.*n_fp_buckets=64"):
            _run(spark, in_dir, store, ck, n_fp_buckets=64)
        # drop the layout row: the store now looks written before it
        rows = [r for r in commit.records(store) if r["status"] != "layout"]
        with open(commit.log_path(store), "w") as f:
            f.writelines(json.dumps(r, sort_keys=True) + "\n" for r in rows)
        _run(spark, in_dir, store, ck, n_fp_buckets=64)
        got = _sorted_rows(read_span_matches(spark, store))
        want = _sorted_rows(span_matches_winnowed(docs, k=K, w=W))
        assert got == want

    def test_log_rotation_bounded_and_exactly_once(self, spark, tmp_path, monkeypatch):
        """With rotation every 2 applied epochs the log stays bounded over
        3 rotations; a restart that replays an epoch already folded into
        the watermark skips it; the output equals the batch operator."""
        monkeypatch.setattr(commit, "ROTATE_EVERY", 2)
        rotations, done_rows = [], []
        real_compact, real_append = commit.compact_log, commit.append

        def counting_compact(root):
            rotations.append(real_compact(root))
            return rotations[-1]

        def recording_append(root, record):
            if record.get("status") == "epoch_done":
                done_rows.append(record["epoch"])
            real_append(root, record)

        monkeypatch.setattr(commit, "compact_log", counting_compact)
        monkeypatch.setattr(commit, "append", recording_append)
        docs = _docs(spark)
        in_dir = str(tmp_path / "in")
        store = str(tmp_path / "store")
        ck = str(tmp_path / "ck")
        bounds = [0, 70, 140, 210, 280, 350, 420, 10_000]
        for lo, hi in zip(bounds[:4], bounds[1:5]):
            write_arrival_chunk(
                docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), in_dir
            )
        _run(spark, in_dir, store, ck)
        assert done_rows == [0, 1, 2, 3] and len(rotations) == 2
        # forget Spark's commit of epoch 3: the restart replays it, and
        # only the rotated log (a watermark row) says it was applied
        for name in ("3", ".3.crc"):
            os.remove(os.path.join(ck, "commits", name))
        for lo, hi in zip(bounds[4:], bounds[5:]):
            write_arrival_chunk(
                docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), in_dir
            )
        _run(spark, in_dir, store, ck)
        assert done_rows == list(range(7))
        assert len(rotations) == 3
        # layout row + watermark after each rotation; + one epoch past it
        assert [r["rows_after"] for r in rotations] == [2, 2, 2]
        with open(commit.log_path(store)) as f:
            assert len(f.readlines()) == 3
        got = _sorted_rows(read_span_matches(spark, store))
        want = _sorted_rows(span_matches_winnowed(docs, k=K, w=W))
        assert got == want

    def test_single_wave_equals_batch(self, spark, tmp_path):
        """Everything in one epoch: the within-batch join alone must
        reproduce the batch operator (no index yet)."""
        docs = _docs(spark).limit(200)
        in_dir = str(tmp_path / "in")
        store = str(tmp_path / "store")
        write_arrival_chunk(docs, in_dir)
        _run(spark, in_dir, store, str(tmp_path / "ck"), mfpt=1_000_000)
        got = _sorted_rows(read_span_matches(spark, store))
        want = _sorted_rows(span_matches_winnowed(docs, k=K, w=W))
        assert got == want

    def test_short_docs_wave_is_harmless(self, spark, tmp_path):
        """A wave of sub-k documents produces no postings and no spans but
        still lands in the corpus store and completes its epoch."""
        spark_docs = spark.createDataFrame(
            [(90001, "tiny", "en", "s", 4), (90002, None, "en", "s", 0)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        in_dir = str(tmp_path / "in")
        store = str(tmp_path / "store")
        write_arrival_chunk(spark_docs, in_dir)
        _run(spark, in_dir, store, str(tmp_path / "ck"))
        assert read_span_matches(spark, store).count() == 0
        assert read_corpus_texts(spark, store).count() == 2

    def test_index_scan_prunes_to_batch_buckets(self, spark, tmp_path):
        """Per-epoch index IO must stay O(deltas + matched buckets) as
        epochs accumulate: after compaction the pruned read opens ONLY
        the requested fp_bucket subdirs of the bucketed base (by path)
        plus the small flat deltas — measured by the scan's own
        files-read metric, compared against an unpruned full read."""
        import os

        from mehari_spark.plans.observe import collect_plan_metrics
        from mehari_spark.streaming.spandedup_stream import (
            _pruned_index,
            _read_epochs,
            compact_span_store,
            _POSTING_SCHEMA,
        )

        docs = _docs(spark)
        in_dir = str(tmp_path / "in")
        store = str(tmp_path / "store")
        ck = str(tmp_path / "ck")
        scope = os.path.abspath(ck)
        for lo, hi in [(0, 120), (120, 260), (260, 400), (400, 10_000)]:
            write_arrival_chunk(
                docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
                in_dir,
            )
        _run(spark, in_dir, store, ck)
        res = compact_span_store(spark, store, scope, min_epoch_dirs=2)
        assert res["index"] >= 4

        def files_read(df):
            return sum(
                n.metrics.get("number of files read", 0)
                for n in collect_plan_metrics(df)
                if "Scan" in n.name
            )

        idx_base = os.path.join(store, "index")

        def files_under(*names):
            total = 0
            for ep in os.listdir(idx_base):
                d = os.path.join(idx_base, ep)
                if not os.path.isdir(d):
                    continue
                subs = [s for s in os.listdir(d) if s.startswith("fp_bucket=")]
                if subs:  # bucketed base: count only the requested buckets
                    for s in subs:
                        if s in names:
                            total += len(
                                [
                                    f
                                    for f in os.listdir(os.path.join(d, s))
                                    if f.endswith(".parquet")
                                ]
                            )
                else:  # flat delta: read in full
                    total += len(
                        [f for f in os.listdir(d) if f.endswith(".parquet")]
                    )
            return total

        full = files_read(
            _read_epochs(spark, store, "index", _POSTING_SCHEMA)
        )
        two = files_read(_pruned_index(spark, store, [3, 7]))
        assert two <= files_under("fp_bucket=3", "fp_bucket=7")
        assert two < full / 4
        assert files_read(_pruned_index(spark, store, [])) == 0

    def test_compaction_preserves_state_and_results(self, spark, tmp_path):
        """compact_span_store merges the applied epoch dirs into one
        bucketed dir per store with identical content; reads, a
        subsequent wave, and a rerun (idempotence) all behave as without
        compaction."""
        import os

        from mehari_spark.streaming.spandedup_stream import (
            compact_span_store,
        )

        docs = _docs(spark)
        in_dir = str(tmp_path / "in")
        store = str(tmp_path / "store")
        ck = str(tmp_path / "ck")
        scope = os.path.abspath(ck)
        for lo, hi in [(0, 150), (150, 320)]:
            write_arrival_chunk(
                docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
                in_dir,
            )
        _run(spark, in_dir, store, ck)
        texts_before = _sorted_rows(read_corpus_texts(spark, store))
        res = compact_span_store(spark, store, scope, min_epoch_dirs=2)
        assert res["index"] >= 2 and res["texts"] >= 2
        index_dirs = [
            d
            for d in os.listdir(os.path.join(store, "index"))
            if d.startswith("epoch=")
        ]
        assert len(index_dirs) == 1 and index_dirs[0].startswith("epoch=c")
        assert _sorted_rows(read_corpus_texts(spark, store)) == texts_before
        # second call with nothing to merge is a no-op
        assert compact_span_store(spark, store, scope, min_epoch_dirs=2) == {
            "index": 0,
            "texts": 0,
        }
        # a wave arriving AFTER compaction still pairs against the
        # compacted index: final spans equal the batch operator
        write_arrival_chunk(docs.where(F.col("doc_id") >= 320), in_dir)
        _run(spark, in_dir, store, ck)
        got = _sorted_rows(read_span_matches(spark, store))
        want = _sorted_rows(span_matches_winnowed(docs, k=K, w=W))
        assert got == want

    def test_compaction_refuses_to_overwrite_its_own_source(self, spark, tmp_path):
        """An epoch applied late (epoch 1 here) sits inside the range of
        an earlier compaction (c0-2): merging the two would name the
        output after one of its sources. Compaction must refuse before
        staging and leave the store's content whole."""
        import os

        import pytest

        from mehari_spark.plans.commit import append as append_checkpoint
        from mehari_spark.streaming.spandedup_stream import (
            compact_span_store,
        )

        docs = _docs(spark)
        in_dir = str(tmp_path / "in")
        store = str(tmp_path / "store")
        for lo, hi in [(0, 120), (120, 260), (260, 10_000)]:
            write_arrival_chunk(
                docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
                in_dir,
            )
        _run(spark, in_dir, store, str(tmp_path / "ck"))
        texts = _sorted_rows(read_corpus_texts(spark, store))
        spans = _sorted_rows(read_span_matches(spark, store))

        def mark_applied(scope, epoch):
            append_checkpoint(
                store,
                {
                    "status": "epoch_done",
                    "stage": "span_stream",
                    "scope": scope,
                    "epoch": epoch,
                },
            )

        # a lineage that has applied epochs 0 and 2 but not yet 1
        mark_applied("late", 0)
        mark_applied("late", 2)
        assert compact_span_store(spark, store, "late")["texts"] == 2
        texts_dir = os.path.join(store, "texts")
        assert sorted(os.listdir(texts_dir)) == ["epoch=1", "epoch=c0-2"]
        mark_applied("late", 1)
        with pytest.raises(RuntimeError, match="one of its own sources"):
            compact_span_store(spark, store, "late")
        assert sorted(os.listdir(texts_dir)) == ["epoch=1", "epoch=c0-2"]
        assert _sorted_rows(read_corpus_texts(spark, store)) == texts
        assert _sorted_rows(read_span_matches(spark, store)) == spans

    def test_inline_compaction_during_stream(self, spark, tmp_path):
        """compact_every_epochs triggers the merge inside the stream and
        the multi-wave == batch guarantee still holds."""
        import os

        docs = _docs(spark)
        in_dir = str(tmp_path / "in")
        store = str(tmp_path / "store")
        for lo, hi in [(0, 120), (120, 260), (260, 10_000)]:
            write_arrival_chunk(
                docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
                in_dir,
            )
        _run(
            spark, in_dir, store, str(tmp_path / "ck"),
            compact_every_epochs=2,
        )
        got = _sorted_rows(read_span_matches(spark, store))
        want = _sorted_rows(span_matches_winnowed(docs, k=K, w=W))
        assert got == want
        # the store was compacted at least once along the way
        assert any(
            d.startswith("epoch=c")
            for d in os.listdir(os.path.join(store, "index"))
        )

    def test_adaptive_fullscan_mode_equals_batch(self, spark, tmp_path):
        """Below the prune_min_bytes crossover the epoch reads the store
        in full — results must be identical to the pruned mode and the
        batch operator (pruning is an IO decision, never a semantic
        one)."""
        docs = _docs(spark)
        in_dir = str(tmp_path / "in")
        store = str(tmp_path / "store")
        for lo, hi in [(0, 200), (200, 10_000)]:
            write_arrival_chunk(
                docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
                in_dir,
            )
        _run(
            spark, in_dir, store, str(tmp_path / "ck"),
            prune_min_bytes=1 << 40,
        )
        got = _sorted_rows(read_span_matches(spark, store))
        want = _sorted_rows(span_matches_winnowed(docs, k=K, w=W))
        assert got == want

    def test_max_df_cap_applies_per_epoch(self, spark, tmp_path):
        """With max_df=1 every fingerprint seen in >1 doc of a batch is
        dropped from that batch's postings — no within-batch candidates
        survive on a corpus of near-identical docs."""
        import random

        rng = random.Random(5)
        passage = "".join(rng.choice("abcdefgh ") for _ in range(120))
        docs = spark.createDataFrame(
            [(i, passage, "en", "s", len(passage)) for i in range(4)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        in_dir = str(tmp_path / "in")
        store = str(tmp_path / "store")
        write_arrival_chunk(docs, in_dir)
        _run(spark, in_dir, store, str(tmp_path / "ck"),
             mfpt=1_000_000, max_df=1)
        assert read_span_matches(spark, store).count() == 0
