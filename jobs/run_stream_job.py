"""spark-submit entry point for every stream of ``mehari_spark/streaming/``.

Each stream runs on the one epoch runner (streaming/epochs.py): a
file-source directory of arriving parquet chunks, exactly-once epochs
through the output's commit log, and one metrics row set per epoch in
``<table>/_metrics.jsonl``. Restart with the same --checkpoint resumes and
never re-applies an epoch.

Cluster usage (north_rule packaging contract):

    jobs/package.sh
    spark-submit --py-files mehari_spark.zip jobs/run_stream_job.py <stream> \
        --input <arrival dir> --table <output dir> \
        --checkpoint <stream checkpoint dir> \
        [--max-files-per-trigger 16] [--follow] \
        [--buckets 64] [--maintain-degree] [--maintain-predicates]

``<stream>`` is one of:

- ``kg``        transcripts -> MERGE into the bucketed KG table (kg_stream)
- ``span``      documents -> shared-span dedup store (spandedup_stream)
- ``dedup``     documents -> keep-first exact dedup verdicts (dedup_stream)
- ``neardup``   documents -> keep-first near-dup verdicts (neardup_stream)
- ``ingest``    documents -> quality gate, exact, near-dup (ingest_pipeline)
- ``sessions``  events -> session rows (sessions)

``--buckets``, ``--maintain-degree`` and ``--maintain-predicates`` apply
to ``kg`` only. By default the job drains everything currently in
--input and exits (the batch-catchup / cron shape); ``sessions`` then
flushes its still-open sessions (``finalize_stream``). ``--follow`` runs
until killed, processing chunks as they arrive (the always-on shape).

Smoke run (bare python needs the repo on PYTHONPATH; spark-submit ships
the zip instead); --sf-dir seeds --input from a testdata scale dir:

    PYTHONPATH=. python jobs/run_stream_job.py kg --sf-dir <testdata sf dir> \
        --table <dir>/kg_tbl --checkpoint <dir>/kg_ck --maintain-degree
"""

from __future__ import annotations

import argparse
import json
import os
import sys

STREAMS = ("kg", "span", "dedup", "neardup", "ingest", "sessions")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="mehari_spark streams")
    ap.add_argument("stream", choices=STREAMS)
    ap.add_argument("--input", help="arrival directory of parquet chunks")
    ap.add_argument("--sf-dir", help="testdata sf dir (seed --input for the smoke run)")
    ap.add_argument(
        "--table", required=True,
        help="output directory: the KG table, span store or verdict dir",
    )
    ap.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    ap.add_argument("--max-files-per-trigger", type=int, default=16)
    ap.add_argument(
        "--follow",
        action="store_true",
        help="run until killed instead of draining once",
    )
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--maintain-degree", action="store_true")
    ap.add_argument(
        "--maintain-predicates",
        action="store_true",
        help="also maintain the per-predicate assertion-count view "
        "(plans/incremental.py PREDICATE_VIEW, same refresh machinery)",
    )
    args = ap.parse_args(argv)
    if not args.input and not args.sf_dir:
        ap.error("one of --input / --sf-dir is required")
    return args


def _seed(spark, args) -> str:
    """Write the ``--sf-dir`` input of the stream as one arrival chunk
    beside the output dir; -> the arrival dir."""
    from pyspark.sql import functions as F

    from mehari_spark.streaming.replay import write_arrival_chunk

    input_dir = os.path.join(
        os.path.dirname(os.path.abspath(args.table)), f"_{args.stream}_arrivals"
    )
    if args.stream == "kg":
        from mehari_spark.sources.transcripts import transcripts

        df = transcripts(spark, args.sf_dir)
    elif args.stream == "sessions":
        df = spark.read.parquet(f"{args.sf_dir}/events.parquet")
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    write_arrival_chunk(df, input_dir)
    return input_dir


def _drain(query, follow: bool) -> None:
    """An always-on query: follow arrivals until killed, or process what
    is there and stop."""
    if follow:
        query.awaitTermination()
    else:
        query.processAllAvailable()
        query.stop()


def _run_kg(spark, args, input_dir: str) -> dict:
    from mehari_spark.dictionary import demo_patterns
    from mehari_spark.plans.incremental import PREDICATE_VIEW, read_kg_degree, read_view
    from mehari_spark.streaming.kg_stream import read_kg_current, stream_kg_maintain

    stream_kg_maintain(
        spark,
        input_dir,
        args.table,
        args.checkpoint,
        demo_patterns(),
        n_buckets=args.buckets,
        max_files_per_trigger=args.max_files_per_trigger,
        maintain_degree=args.maintain_degree,
        maintain_views=[PREDICATE_VIEW] if args.maintain_predicates else None,
        available_now=not args.follow,
    ).awaitTermination()
    stats = {"current_rows": read_kg_current(spark, args.table).count()}
    if args.maintain_degree:
        stats["degree_entities"] = read_kg_degree(spark, args.table).count()
    if args.maintain_predicates:
        stats["predicates"] = read_view(spark, args.table, PREDICATE_VIEW).count()
    return stats


def _run_span(spark, args, input_dir: str) -> dict:
    from mehari_spark.streaming.spandedup_stream import read_span_matches, stream_span_dedup

    stream_span_dedup(
        spark,
        input_dir,
        args.table,
        args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
        available_now=not args.follow,
    ).awaitTermination()
    return {"spans": read_span_matches(spark, args.table).count()}


def _run_dedup(spark, args, input_dir: str) -> dict:
    from mehari_spark.streaming.dedup_stream import stream_dedup

    _drain(
        stream_dedup(
            spark, input_dir, args.table, args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
        ),
        args.follow,
    )
    return {}


def _run_neardup(spark, args, input_dir: str) -> dict:
    from mehari_spark.streaming.neardup_stream import stream_neardup_dedup

    stream_neardup_dedup(
        spark, input_dir, args.table, args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
        trigger_available_now=not args.follow,
    ).awaitTermination()
    return {}


def _run_ingest(spark, args, input_dir: str) -> dict:
    from mehari_spark.streaming.ingest_pipeline import (
        process_all,
        read_pipeline_verdicts,
        stream_ingest_pipeline,
    )

    q1, q2 = stream_ingest_pipeline(
        spark, input_dir, args.table, args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    if args.follow:
        spark.streams.awaitAnyTermination()
    else:
        process_all(q1, q2)
    q1.stop()
    q2.stop()
    verdicts = read_pipeline_verdicts(spark, args.table).groupBy("verdict").count()
    return {"verdicts": {r["verdict"]: r["count"] for r in verdicts.collect()}}


def _run_sessions(spark, args, input_dir: str) -> dict:
    from mehari_spark.streaming.sessions import finalize_stream, stream_sessions

    q = stream_sessions(
        spark, input_dir, args.table, args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    if args.follow:
        q.awaitTermination()
    else:
        finalize_stream(q, spark, input_dir)
    return {}


# stream -> (runner, its module, the checkpoint subdir its epochs log under)
_RUNNERS = {
    "kg": (_run_kg, "kg_stream", ""),
    "span": (_run_span, "spandedup_stream", ""),
    "dedup": (_run_dedup, "dedup_stream", ""),
    "neardup": (_run_neardup, "neardup_stream", ""),
    "ingest": (_run_ingest, "ingest_pipeline", "stage1"),
    "sessions": (_run_sessions, "sessions", ""),
}


def run(spark, args: argparse.Namespace) -> dict:
    """Run the stream ``args.stream`` in ``spark``; -> its stats: epochs
    applied, the summed ``rows_out`` of its epoch metrics and the
    stream's own output counts."""
    import importlib

    from mehari_spark.plans import commit

    runner, module, scope_sub = _RUNNERS[args.stream]
    stats = runner(spark, args, args.input or _seed(spark, args))
    stage = importlib.import_module(f"mehari_spark.streaming.{module}").STAGE
    scope = os.path.abspath(os.path.join(args.checkpoint, scope_sub))
    metrics_path = os.path.join(args.table, "_metrics.jsonl")
    rows_out = 0
    if os.path.exists(metrics_path):
        with open(metrics_path) as f:
            recs = [json.loads(line) for line in f]
        rows_out = sum(
            r["value"] for r in recs if r["stage"] == stage and r["metric"] == "rows_out"
        )
    return {
        "stream": args.stream,
        "epochs_applied": len(commit.applied_epochs(args.table, stage, scope)),
        "rows_out": rows_out,
        **stats,
    }


def main() -> int:
    args = parse_args()
    from mehari_spark.session import job_session

    spark = job_session(f"mehari-spark-{args.stream}-stream")
    print(json.dumps(run(spark, args)))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
