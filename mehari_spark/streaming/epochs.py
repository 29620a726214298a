"""The one epoch runner under every stream.

A stream supplies its source DDL, its plan over the source (the state
function, if any) and a per-epoch ``write(batch_df, epoch_id) -> dict |
None``. The runner owns the rest:

- the file source: the DDL plus ``maxFilesPerTrigger``;
- ``writeStream.foreachBatch``, the checkpoint location and the
  ``availableNow`` trigger;
- exactly-once epochs: the stream's completed epochs are read from its
  commit log once per query (``commit.epoch_tracker``) and a replayed
  epoch returns before its write runs (a stateful query's replay first
  drains its plan into a noop sink, see ``on_epoch``);
- after each epoch whose write returned counts, one ``epoch_done`` row
  (``commit.mark_epoch``) and its metrics rows (``lineage.write_metrics``,
  mehari's ``report.jsonl``): wall seconds, the write's counts and
  ``state_store_bytes``.

A write that returns None (an empty batch, a state-timer batch) logs
nothing, so an always-on TTL query grows neither file. Outside a stateful
replay the runner runs no Spark action of its own.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..plans import commit
from ..plans.lineage import write_metrics

Write = Callable[[DataFrame, int], dict | None]


def on_epoch(write: Write, log_root: str, stage: str, checkpoint_dir: str):
    """The ``foreachBatch`` callable of one query: skip a replayed epoch,
    run ``write``, then log the epoch and its metrics under ``log_root``."""
    scope = os.path.abspath(checkpoint_dir)
    # one log read per query lifetime; the tracker keeps a watermark plus
    # the epochs past its first gap, not every epoch id
    applied = commit.epoch_tracker(log_root, stage, scope)

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        # A logged epoch is one whose write ran to the end; Spark replays
        # it when it crashed before its own commit, and the write is not
        # repeated. A stateless query then runs nothing. A stateful one
        # (it has a state/ dir) already committed the epoch's state version
        # in that attempt, but Spark checks that every state store commits
        # in each batch, so the replay drains batch_df into a noop sink:
        # the stores commit the same version again from the same input.
        if int(epoch_id) in applied:
            if os.path.isdir(os.path.join(checkpoint_dir, "state")):
                batch_df.write.format("noop").mode("overwrite").save()
            return
        t0 = time.perf_counter()
        counts = write(batch_df, epoch_id)
        if counts is None:
            return
        metrics = {"wall_s": time.perf_counter() - t0, **counts}
        metrics["state_store_bytes"] = state_store_bytes(checkpoint_dir)
        commit.mark_epoch(log_root, stage, scope, epoch_id, applied)
        write_metrics(log_root, f"epoch-{int(epoch_id)}", stage, metrics)

    return run


def run_stream(
    spark: SparkSession,
    source_dir: str,
    ddl: str,
    write: Write,
    checkpoint_dir: str,
    log_root: str,
    stage: str,
    max_files_per_trigger: int,
    plan: Callable[[DataFrame], DataFrame] = lambda df: df,
    available_now: bool = False,
    output_mode: str = "append",
) -> StreamingQuery:
    """Start a query over the parquet files arriving in ``source_dir``:
    ``plan`` over the source, each epoch through ``on_epoch(write, ...)``.

    ``available_now`` drains the current backlog and terminates (the
    catch-up / cron shape); otherwise the query follows arrivals until
    stopped (the always-on shape), with the same epoch semantics."""
    source = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )
    writer = (
        plan(source)
        .writeStream.outputMode(output_mode)
        .foreachBatch(on_epoch(write, log_root, stage, checkpoint_dir))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_epoch_dir(df: DataFrame, out_dir: str, epoch_id: int) -> dict | None:
    """Write ``df`` as ``<out_dir>/epoch=<epoch_id>``: it is staged in a
    hidden dir and renamed into place, so a reader of ``epoch=*`` sees the
    whole epoch or none, and a replayed epoch replaces its earlier
    attempt's dir. -> its row count from the file footers. An empty epoch
    (a state-timer batch) publishes nothing and returns None."""
    staged = commit.open_staging(out_dir, "epoch")
    df.write.parquet(staged)
    rows = commit.staged_rows(staged)
    if not rows:
        shutil.rmtree(staged, ignore_errors=True)
        return None
    dest = os.path.join(out_dir, f"epoch={int(epoch_id)}")
    # no dir set aside: an `epoch=N.old` would match readers' epoch=* glob
    shutil.rmtree(dest, ignore_errors=True)
    commit.swap(staged, dest)
    return {"rows_out": rows}


def state_store_bytes(checkpoint_dir: str) -> int:
    """On-disk size of the query's live state store: per state partition
    directory, the newest ``.snapshot`` plus every ``.delta`` newer than it
    (a partition that never snapshotted counts all its deltas). Each key's
    latest value is in one of them, so this bounds live state from above
    without counting superseded history. 0 for a stateless query."""
    total = 0
    for dirpath, _dirnames, filenames in os.walk(os.path.join(checkpoint_dir, "state")):
        versioned = []
        for fn in filenames:
            stem, _, ext = fn.partition(".")
            if ext in ("delta", "snapshot") and stem.isdigit():
                versioned.append((int(stem), ext, os.path.join(dirpath, fn)))
        snaps = [v for v, e, _p in versioned if e == "snapshot"]
        floor_v = max(snaps, default=-1)
        for v, e, p in versioned:
            if (e == "snapshot" and v == floor_v) or (e == "delta" and v > floor_v):
                try:
                    total += os.path.getsize(p)
                except OSError:
                    pass
    return total
