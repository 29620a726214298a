"""The epoch runner (streaming/epochs.py): its per-epoch callable driven
with a fake batch, a stateful stream replaying a logged epoch, and the
span stream releasing each epoch's checkpoints."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from mehari_spark.plans import commit
from mehari_spark.streaming.epochs import on_epoch, state_store_bytes


def _metrics(root):
    path = os.path.join(root, "_metrics.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f]


def _done(root):
    return [r["epoch"] for r in commit.records(root) if r["status"] == "epoch_done"]


class _Recorder:
    """A write that records its calls and returns ``result``."""

    def __init__(self, result):
        self.result, self.calls = result, []

    def __call__(self, batch_df, epoch_id):
        self.calls.append(epoch_id)
        return self.result


class TestOnEpoch:
    """The fake batch is a bare object: any Spark call on it would raise."""

    def test_replayed_epoch_does_not_call_write(self, tmp_path):
        root, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        scope = os.path.abspath(ck)
        commit.append(
            root, {"status": "epoch_done", "stage": "s", "scope": scope, "epoch": 0}
        )
        write = _Recorder({"rows_out": 1})
        run = on_epoch(write, root, "s", ck)
        run(object(), 0)
        assert write.calls == []
        run(object(), 1)
        assert write.calls == [1]
        assert _done(root) == [0, 1]

    def test_none_logs_nothing(self, tmp_path):
        root, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        write = _Recorder(None)
        run = on_epoch(write, root, "s", ck)
        run(object(), 0)
        run(object(), 0)  # not logged, so a replay runs the write again
        assert write.calls == [0, 0]
        assert not os.path.exists(commit.log_path(root))
        assert _metrics(root) == []

    def test_counts_log_one_epoch_row_and_its_metrics(self, tmp_path):
        root, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        run = on_epoch(_Recorder({"rows_out": 5, "spans": 2}), root, "s", ck)
        run(object(), 3)
        rows = commit.records(root)
        assert [(r["status"], r["epoch"], r["scope"]) for r in rows] == [
            ("epoch_done", 3, os.path.abspath(ck))
        ]
        got = {(m["run_id"], m["stage"], m["metric"]): m["value"] for m in _metrics(root)}
        assert set(got) == {
            ("epoch-3", "s", k) for k in ("wall_s", "rows_out", "spans", "state_store_bytes")
        }
        assert got[("epoch-3", "s", "rows_out")] == 5
        assert got[("epoch-3", "s", "state_store_bytes")] == 0  # no state dir
        assert got[("epoch-3", "s", "wall_s")] >= 0


def test_state_store_bytes_counts_live_versions(tmp_path):
    """Per partition dir: the newest snapshot plus the deltas after it."""
    part = tmp_path / "ck" / "state" / "0" / "0"
    part.mkdir(parents=True)
    for name, size in [("1.delta", 1), ("2.delta", 2), ("2.snapshot", 4), ("3.delta", 8)]:
        (part / name).write_bytes(b"x" * size)
    fresh = tmp_path / "ck" / "state" / "0" / "1"
    fresh.mkdir()
    (fresh / "1.delta").write_bytes(b"x" * 16)
    assert state_store_bytes(str(tmp_path / "ck")) == 4 + 8 + 16


def test_stateful_replay_skips_logged_epoch(spark, tmp_path):
    """Spark forgets its commit of epoch 1, so the restart replays it. The
    runner skips it (its log holds the epoch), and the state version the
    first attempt committed carries the keep-first verdicts on."""
    from mehari_spark.streaming.dedup_stream import DOCS_DDL, stream_dedup
    from mehari_spark.streaming.replay import write_arrival_chunk

    in_dir, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))

    def arrive(rows):
        write_arrival_chunk(spark.createDataFrame(rows, DOCS_DDL), in_dir)

    arrive([(1, "en", "text x"), (2, "en", "text y")])
    arrive([(3, "en", "text x")])
    q = stream_dedup(spark, in_dir, out, ck, max_files_per_trigger=1)
    q.processAllAvailable()
    q.stop()
    assert _done(out) == [0, 1]
    for name in ("1", ".1.crc"):
        os.remove(os.path.join(ck, "commits", name))
    arrive([(4, "en", "text x"), (5, "en", "text z")])
    q = stream_dedup(spark, in_dir, out, ck, max_files_per_trigger=1)
    q.processAllAvailable()
    q.stop()
    assert _done(out) == [0, 1, 2]  # epoch 1 applied once
    rows = spark.read.parquet(out)
    kept = {r.text_hash: r.first_doc_id for r in rows.filter("is_new").collect()}
    assert sorted(kept.values()) == [1, 2, 5]
    # x was seen by docs 1 and 3 before the restart, then by doc 4
    x = rows.filter(F.col("first_doc_id") == 1).agg(F.max("n_seen")).first()[0]
    assert x == 3
    assert sorted(
        m["run_id"] for m in _metrics(out) if m["metric"] == "rows_out"
    ) == ["epoch-0", "epoch-1", "epoch-2"]


def test_span_stream_releases_each_epoch_checkpoint(spark, tmp_path):
    """After three epochs no epoch's postings or candidate checkpoint is
    still cached: each epoch drops its own blocks."""
    from mehari_spark.streaming.replay import write_arrival_chunk
    from mehari_spark.streaming.spandedup_stream import stream_span_dedup

    from .conftest import SF_UNIT

    sc = spark.sparkContext

    def cached():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
    in_dir = str(tmp_path / "in")
    for lo, hi in [(0, 60), (60, 120), (120, 180)]:
        write_arrival_chunk(
            docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), in_dir
        )
    before = cached()
    stream_span_dedup(
        spark, in_dir, str(tmp_path / "store"), str(tmp_path / "ck"),
        n_fp_buckets=32, n_doc_buckets=8, compact_every_epochs=None,
        prune_min_bytes=0,  # the pruned path checkpoints the candidates too
    ).awaitTermination()
    assert _done(str(tmp_path / "store")) == [0, 1, 2]
    assert cached() - before == set()
