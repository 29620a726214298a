"""Per-partition checkpoints, lineage and metrics.

Mehari writes a ``<output>.report.jsonl`` recording every build decision
(db/transcripts/create/mod.rs:137-241) and commits RocksDB writes in batches
(db/mod.rs:208-309). Our analog: the output table is written in B bucket
groups (bucket = pmod(xxhash64(conv_id), B)); each bucket commit appends a
checkpoint row + metrics rows. A restarted run skips committed buckets —
kill/restart yields the identical table with no duplicate work.

At production scale each bucket group is one Iceberg append (atomic commit);
in the sandbox each bucket is one parquet subdirectory written atomically via
rename-on-success (write to _tmp, then move).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class BucketResult:
    bucket: int
    rows_out: int
    skipped: bool
    elapsed_s: float


def _ckpt_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_checkpoints.jsonl")


def load_committed(
    out_dir: str,
    run_scope: str = "",
    n_buckets: int | None = None,
    key_col: str | None = None,
) -> set[int]:
    """Buckets already committed by ANY previous run of this output.

    When ``n_buckets``/``key_col`` are given, every committed record that
    carries them must agree — resuming the same out_dir under a different
    bucketing modulus or key would silently skip buckets whose contents
    hash differently, corrupting the table (duplicate + missing rows), so
    we fail fast instead."""
    path = _ckpt_path(out_dir)
    done: set[int] = set()
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                if rec.get("status") != "committed":
                    continue
                if (
                    n_buckets is not None
                    and "n_buckets" in rec
                    and int(rec["n_buckets"]) != n_buckets
                ):
                    raise ValueError(
                        f"checkpoint bucketing mismatch in {out_dir}: committed "
                        f"with n_buckets={rec['n_buckets']}, resume requested "
                        f"n_buckets={n_buckets}"
                    )
                if (
                    key_col is not None
                    and "key_col" in rec
                    and rec["key_col"] != key_col
                ):
                    raise ValueError(
                        f"checkpoint key mismatch in {out_dir}: committed with "
                        f"key_col={rec['key_col']!r}, resume requested "
                        f"key_col={key_col!r}"
                    )
                done.add(int(rec["bucket"]))
    return done


def append_checkpoint(out_dir: str, record: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    with open(_ckpt_path(out_dir), "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")


def compact_checkpoint_log(out_dir: str) -> dict:
    """Rotate the append-only commit log down to its load-bearing rows.

    An always-on maintenance stream (streaming/kg_stream.py) appends
    staged/committed/epoch_done rows every epoch, so the JSONL grows with
    stream AGE, not table size. Compaction rewrites it keeping exactly
    what the readers need — the reference's analog is bounded per-batch
    commit bookkeeping (db/mod.rs:208-309):

    - the LAST ``committed`` row per (stage, bucket) — preserves
      ``load_committed``'s bucket set and its layout validation;
    - ``staged`` rows only when no later ``committed`` row covers the
      same (run_id, bucket) — i.e. a possibly in-flight merge; completed
      swaps' staged audit rows drop;
    - per kg_stream scope, the contiguous ``epoch_done`` prefix 0..N
      collapses to ONE ``epoch_watermark`` row (epochs complete in order
      — foreachBatch is sequential — so the prefix is the whole set);
      rows past a gap are kept verbatim;
    - unknown statuses are kept verbatim (forward compatibility).

    Atomic: rewritten to a temp file then ``os.replace``d, so a crash
    leaves either the old or the new log. Idempotent. Returns
    ``{"rows_before": ..., "rows_after": ...}``."""
    path = _ckpt_path(out_dir)
    if not os.path.exists(path):
        return {"rows_before": 0, "rows_after": 0}
    with open(path) as f:
        recs = [json.loads(line) for line in f if line.strip()]

    last_committed: dict[tuple, int] = {}  # (stage, bucket) -> line idx
    committed_after: dict[tuple, int] = {}  # (run_id, bucket) -> line idx
    epochs: dict[str, set[int]] = {}  # kg_stream scope -> done epoch ids
    for i, rec in enumerate(recs):
        status = rec.get("status")
        if status == "committed":
            last_committed[(rec.get("stage"), rec.get("bucket"))] = i
            committed_after[(rec.get("run_id"), rec.get("bucket"))] = i
        elif status == "epoch_done" and rec.get("stage") == "kg_stream":
            epochs.setdefault(rec.get("scope"), set()).add(int(rec["epoch"]))
        elif status == "epoch_watermark" and rec.get("stage") == "kg_stream":
            epochs.setdefault(rec.get("scope"), set()).update(
                range(int(rec["max_epoch"]) + 1)
            )

    kept: list[dict] = []
    for i, rec in enumerate(recs):
        status = rec.get("status")
        if status == "committed":
            if last_committed[(rec.get("stage"), rec.get("bucket"))] == i:
                kept.append(rec)
        elif status == "staged":
            if committed_after.get((rec.get("run_id"), rec.get("bucket")), -1) < i:
                kept.append(rec)  # no later commit covers it: maybe in-flight
        elif status in ("epoch_done", "epoch_watermark") and rec.get(
            "stage"
        ) == "kg_stream":
            continue  # re-emitted compacted below
        else:
            kept.append(rec)
    for scope in sorted(epochs, key=str):
        done = epochs[scope]
        watermark = -1
        while watermark + 1 in done:
            watermark += 1
        if watermark >= 0:
            kept.append(
                {
                    "status": "epoch_watermark",
                    "stage": "kg_stream",
                    "scope": scope,
                    "max_epoch": watermark,
                }
            )
        for e in sorted(e for e in done if e > watermark):
            kept.append(
                {
                    "status": "epoch_done",
                    "stage": "kg_stream",
                    "scope": scope,
                    "epoch": e,
                }
            )

    tmp = path + ".compact.tmp"
    with open(tmp, "w") as f:
        for rec in kept:
            f.write(json.dumps(rec, sort_keys=True) + "\n")
    os.replace(tmp, path)
    return {"rows_before": len(recs), "rows_after": len(kept)}


def write_bucketed(
    df: DataFrame,
    out_dir: str,
    run_id: str,
    key_col: str = "conv_id",
    n_buckets: int = 8,
    stage: str = "triples",
    fail_after: int | None = None,
    sort_cols: list[str] | None = None,
) -> list[BucketResult]:
    """Write ``df`` into n_buckets by hash(key_col) with per-bucket commits.

    ``sort_cols`` sorts rows WITHIN each task before the partitioned write
    (a local sort — no extra shuffle), so every emitted parquet file is
    internally sorted on those columns: the RocksDB-SST / Iceberg
    sorted-data-file discipline (mehari writes key-ordered SSTs,
    db/mod.rs:208-309) that downstream merge reads and range scans exploit.

    Resume-aware two-phase write:
      1. ONE Spark job computes all *uncommitted* buckets (filter on the
         bucket column is pushed into the plan) and stages them via
         ``partitionBy("_bucket")`` — all buckets in parallel, the upstream
         plan executes exactly once per restart.
      2. per-bucket commit = atomic directory rename + checkpoint row
         (cheap, no recompute) — the Iceberg-append analog.

    Restart skips committed buckets in BOTH phases, so a killed run
    recomputes only the remainder. ``fail_after`` kills the run after K
    commits (the kill/restart test from BASELINE.md).
    """
    committed = load_committed(out_dir, n_buckets=n_buckets, key_col=key_col)
    remaining = [b for b in range(n_buckets) if b not in committed]
    results: list[BucketResult] = [BucketResult(b, 0, True, 0.0) for b in committed]
    if not remaining:
        return results

    # clear stale staging from killed runs (their buckets were not committed)
    import glob as _glob

    for stale in _glob.glob(os.path.join(out_dir, "_staging_*")):
        shutil.rmtree(stale, ignore_errors=True)

    bucket_col = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
    staging = os.path.join(out_dir, f"_staging_{run_id}")
    t0 = time.time()
    staged = df.withColumn("_bucket", bucket_col).filter(
        F.col("_bucket").isin(remaining)
    )
    if sort_cols:
        staged = staged.sortWithinPartitions("_bucket", *sort_cols)
    staged.write.mode("overwrite").partitionBy("_bucket").parquet(staging)
    stage_elapsed = time.time() - t0

    n_done = 0
    try:
        for b in remaining:
            t1 = time.time()
            src = os.path.join(staging, f"_bucket={b}")
            final = os.path.join(out_dir, f"bucket={b}")
            # row count from the staged files' parquet footers — no Spark
            # job, the same local-filesystem contract as the os.replace
            # below; a bucket the input never reached has no dir: 0 rows
            rows = sum(
                pq.read_metadata(f).num_rows
                for f in _glob.glob(os.path.join(src, "*.parquet"))
            )
            if os.path.exists(src):
                if os.path.exists(final):
                    shutil.rmtree(final)
                os.replace(src, final)
            append_checkpoint(
                out_dir,
                {
                    "run_id": run_id,
                    "bucket": b,
                    "status": "committed",
                    "rows_out": rows,
                    "stage": stage,
                    "n_buckets": n_buckets,
                    "key_col": key_col,
                    "committed_at": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                    "elapsed_s": round(time.time() - t1, 3),
                },
            )
            results.append(BucketResult(b, rows, False, time.time() - t1))
            n_done += 1
            if fail_after is not None and n_done >= fail_after:
                raise RuntimeError(f"injected failure after {n_done} bucket commits")
    finally:
        if os.path.exists(staging) and n_done == len(remaining):
            shutil.rmtree(staging, ignore_errors=True)
    write_metrics(
        out_dir, run_id, stage, {"stage_write_s": round(stage_elapsed, 3)}
    )
    return results


def read_bucketed(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "bucket=*"))


def write_metrics(out_dir: str, run_id: str, stage: str, metrics: dict) -> None:
    """Metrics rows alongside each commit (report.jsonl analog)."""
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "_metrics.jsonl"), "a") as f:
        for k, v in metrics.items():
            f.write(
                json.dumps(
                    {"run_id": run_id, "stage": stage, "metric": k, "value": v},
                    sort_keys=True,
                )
                + "\n"
            )
