"""Streaming session_window sessionization vs the batch lag+sum engine:
same 30-minute-gap rule, same sessions."""

from __future__ import annotations

import os
from datetime import datetime, timedelta

from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mehari_spark.streaming.sessions import EVENTS_DDL, session_agg, stream_sessions


def _events(spark):
    base = datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    eid = 0
    for user in (1, 2, 3):
        # session A: three events 5 min apart; 40-min gap; session B: two
        for off in (0, 5, 10, 50, 55):
            rows.append((eid, user, "click", 1.0, "{}", base + timedelta(minutes=off)))
            eid += 1
    # user 4: single-event session
    rows.append((eid, 4, "view", 1.0, "{}", base))
    return spark.createDataFrame(rows, EVENTS_DDL)


def _batch_sessions(spark, ev):
    # the batch engine's rule (plans/queries.events_sessions): 30-min gap
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ms = F.unix_millis(F.col("ts")) - F.unix_millis(F.lag("ts").over(w))
    g = ev.withColumn(
        "is_new",
        F.when(gap_ms > 1800000, 1).when(F.lag("ts").over(w).isNull(), 1).otherwise(0),
    )
    s = g.withColumn(
        "session_id", F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return s.groupBy("user_id", "session_id").agg(F.count("*").alias("n_events"))


class TestStreamingSessions:
    def test_session_agg_matches_batch_rule(self, spark):
        ev = _events(spark)
        got = sorted(
            (r.user_id, r.n_events) for r in session_agg(ev).collect()
        )
        want = sorted(
            (r.user_id, r.n_events) for r in _batch_sessions(spark, ev).collect()
        )
        assert got == want
        assert (4, 1) in got  # singleton session survives

    def _sentinel(self, spark, eid, day):
        return spark.createDataFrame(
            [(eid, 99, "tick", 0.0, "{}", datetime(2024, 3, day, 12, 0, 0))],
            EVENTS_DDL,
        )

    def test_streamed_equals_batch(self, spark, tmp_path):
        # append mode emits a session exactly once, when the watermark
        # passes its close — a sentinel event advances the watermark to
        # flush the finite input's trailing sessions
        ev = _events(spark)
        in_dir = str(tmp_path / "in")
        out_dir = str(tmp_path / "out")
        ck_dir = str(tmp_path / "ck")
        ev.write.mode("append").parquet(in_dir)
        q = stream_sessions(spark, in_dir, out_dir, ck_dir, watermark="1 minutes")
        q.processAllAvailable()
        self._sentinel(spark, 1000, 2).write.mode("append").parquet(in_dir)
        q.processAllAvailable()
        q.stop()
        streamed = sorted(
            (r.user_id, r.n_events)
            for r in spark.read.parquet(out_dir).collect()
            if r.user_id != 99
        )
        want = sorted(
            (r.user_id, r.n_events) for r in _batch_sessions(spark, ev).collect()
        )
        assert streamed == want
        # exactly-once emission: no session row appears twice
        out = spark.read.parquet(out_dir)
        assert out.count() == out.select("user_id", "start_ms").distinct().count()

    def test_watermark_drops_ultra_late_events(self, spark, tmp_path):
        ev = _events(spark)
        in_dir = str(tmp_path / "in")
        out_dir = str(tmp_path / "out")
        ck_dir = str(tmp_path / "ck")
        ev.write.mode("append").parquet(in_dir)
        q = stream_sessions(spark, in_dir, out_dir, ck_dir, watermark="1 minutes")
        q.processAllAvailable()
        # advance the watermark a day, then feed a 10-hour-late event
        self._sentinel(spark, 1000, 2).write.mode("append").parquet(in_dir)
        q.processAllAvailable()
        late = spark.createDataFrame(
            [(999, 1, "click", 1.0, "{}", datetime(2024, 3, 1, 2, 0, 0))],
            EVENTS_DDL,
        )
        late.write.mode("append").parquet(in_dir)
        self._sentinel(spark, 1001, 4).write.mode("append").parquet(in_dir)
        q.processAllAvailable()
        q.stop()
        out = spark.read.parquet(out_dir)
        # the late event must not have opened a session row
        assert out.filter(F.col("first_event") == 999).count() == 0

    def test_max_files_per_trigger_bounds_each_batch(self, spark, tmp_path):
        # three one-file arrival chunks at one file per trigger: three
        # micro-batches that each read rows, not one batch of all three
        ev = _events(spark)
        in_dir = str(tmp_path / "in")
        for user in (1, 2, 3):
            ev.filter(F.col("user_id") == user).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)
        q = stream_sessions(
            spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ck"),
            max_files_per_trigger=1,
        )
        q.processAllAvailable()
        progress = q.recentProgress
        q.stop()
        assert sum(p["numInputRows"] > 0 for p in progress) == 3
