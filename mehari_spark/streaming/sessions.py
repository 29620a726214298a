"""Streaming sessionization: watermark + session_window over an event stream.

The batch engine sessionizes with lag + running-sum windows
(plans/queries.events_sessions, the W1 ordered-stateful analog of mehari's
VariantBuffer flush, compound.rs:54-60). The streaming twin uses Spark's
native gap-based ``session_window`` aggregation with a watermark bounding
state: sessions close when the watermark passes gap past their last event,
so state is O(open sessions), not O(history) — the 100 TB streaming shape.

Both implementations compute the SAME sessions (same 30-minute gap rule);
tests cross-assert the (user, n_events) multiset streaming-vs-batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .epochs import run_stream, write_epoch_dir

EVENTS_DDL = (
    "event_id long, user_id long, event_type string, value double, "
    "props string, ts timestamp"
)

# reserved watermark-advancement sentinel: filtered out of the aggregation
# (but still observed by the EventTimeWatermark operator, which is all a
# sentinel is for)
SENTINEL_USER = -1
STAGE = "sessions"


def session_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based session aggregation (works on both batch and streaming
    DataFrames): one row per (user_id, session_window)."""
    return (
        events.groupBy(F.session_window(F.col("ts"), gap), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("session_window.start")).alias("start_ms"),
            F.unix_millis(F.col("session_window.end")).alias("end_ms"),
            "n_events",
            "first_event",
        )
    )


def stream_sessions(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """events parquet dir (streamed) -> per-session rows.

    ``append`` output (the only mode Spark supports for streaming
    session_window aggs): a session row is emitted exactly once, when the
    watermark passes its close — so the sink needs no dedup and each row is
    final. The watermark caps how long a session stays open AND drops
    ultra-late events (documented, same as the batch sessionize-then-compact
    contract). For finite/replayed inputs the last open sessions only flush
    when a later event advances the watermark past their close — call
    ``finalize_stream`` to do that automatically at end-of-stream (it feeds
    a SENTINEL_USER tick, which this pipeline excludes from the aggregation
    below, so sentinels advance the watermark without polluting output).
    """

    def plan(events: DataFrame) -> DataFrame:
        return session_agg(events.withWatermark("ts", watermark), gap)

    def write(batch_df: DataFrame, epoch_id: int) -> dict | None:
        # sentinels are excluded IN THE SINK, not in the streaming plan: any
        # deterministic user_id filter inside the plan gets pushed below the
        # aggregate (grouping column) and below the EventTimeWatermark node
        # all the way to the scan — dropping the sentinel before the
        # watermark ever observes it, which defeats its purpose. foreachBatch
        # runs on a plain batch DataFrame, outside the streaming plan.
        return write_epoch_dir(
            batch_df.filter(F.col("user_id") != SENTINEL_USER), output_dir, epoch_id
        )

    return run_stream(
        spark, input_dir, EVENTS_DDL, write, checkpoint_dir, output_dir, STAGE,
        max_files_per_trigger, plan=plan,
    )


def finalize_stream(
    query: StreamingQuery,
    spark: SparkSession,
    input_dir: str,
    horizon: str = "30 days",
) -> None:
    """Graceful end-of-stream flush for a finite replay.

    Appends one SENTINEL_USER event stamped max(input ts) + ``horizon`` —
    far enough past every open session's close (gap + watermark) that the
    watermark advances over all of them — waits for it to process (every
    trailing session row is emitted), then stops the query. The sentinel
    never reaches the aggregation (stream_sessions filters SENTINEL_USER
    after the watermark node), so the output needs no post-hoc cleanup.

    The source dataset is left unmutated: the sentinel part-files written
    into ``input_dir`` are removed after the query stops, so later batch
    reads (oracle checks, re-runs) never see the synthetic far-future
    event, and repeated finalize calls can't accumulate sentinels that
    keep shifting max(ts) forward.
    """
    import glob

    def _files() -> set[str]:
        return set(
            glob.glob(os.path.join(input_dir, "**", "*"), recursive=True)
        )

    before = _files()
    mx = (
        spark.read.schema(EVENTS_DDL)
        .parquet(input_dir)
        .agg(F.max("ts").alias("mx"))
        .first()["mx"]
    )
    sentinel = spark.createDataFrame(
        [(-1, SENTINEL_USER, "eos", 0.0, "{}", mx)], EVENTS_DDL
    ).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "props",
        (F.col("ts") + F.expr(f"INTERVAL {horizon}")).alias("ts"),
    )
    sentinel.write.mode("append").parquet(input_dir)
    clean = False
    try:
        query.processAllAvailable()
        clean = True
    finally:
        query.stop()
        # remove the sentinel part-files ONLY after a clean flush: if the
        # query errored mid-batch, the file-source log may still reference
        # them, and deleting now would turn the next checkpoint restart
        # into a FileNotFound failure. On the error path the files stay in
        # place so recovery can re-read them; a later clean finalize then
        # computes max(ts) INCLUDING the stale sentinel (horizon stacks
        # once per errored attempt — conservative: sessions still flush,
        # the sentinel user is still sink-filtered) and removes only its
        # own new files. Callers wanting a pristine input after an error
        # re-run finalize_stream once the query is healthy.
        if clean:
            for path in sorted(_files() - before, reverse=True):
                try:
                    os.remove(path) if os.path.isfile(path) else os.rmdir(path)
                except OSError:
                    pass
