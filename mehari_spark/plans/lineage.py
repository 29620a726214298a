"""Per-partition checkpoints, lineage and metrics.

Mehari writes a ``<output>.report.jsonl`` recording every build decision
(db/transcripts/create/mod.rs:137-241) and commits RocksDB writes in batches
(db/mod.rs:208-309). Our analog: the output table is written in B bucket
groups (bucket = pmod(xxhash64(conv_id), B)); each bucket commit appends a
checkpoint row + metrics rows. A restarted run skips committed buckets —
kill/restart yields the identical table with no duplicate work.

At production scale each bucket group is one Iceberg append (atomic commit);
in the sandbox each bucket is one parquet subdirectory published by the
staged swap of plans/commit.py, which also owns the log and its repair.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import local_frame
from . import commit
# perfbench/tracing.py reads the log through this name
from .commit import log_path as _ckpt_path  # noqa: F401


@dataclass
class BucketResult:
    bucket: int
    rows_out: int
    skipped: bool
    elapsed_s: float


def load_committed(
    out_dir: str, n_buckets: int | None = None, key_col: str | None = None
) -> set[int]:
    """Buckets already committed by ANY previous run of this output.

    When ``n_buckets``/``key_col`` are given, every logged row that
    carries them must agree (``commit.check_layout``): resuming under
    another modulus or key would skip buckets whose contents hash
    differently, so it fails fast instead."""
    commit.check_layout(out_dir, n_buckets=n_buckets, key_col=key_col)
    return {int(r["bucket"]) for r in commit.records(out_dir, status="committed")}


def bucket_of(key_col: str, n_buckets: int) -> Column:
    """The bucket of a row: ``pmod(xxhash64(key_col), n_buckets)``."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def write_bucketed(
    df: DataFrame,
    out_dir: str,
    run_id: str,
    key_col: str = "conv_id",
    n_buckets: int = 8,
    stage: str = "triples",
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
      2. ``commit_buckets``: per-bucket ``commit.swap`` + checkpoint row.

    Restart skips committed buckets in BOTH phases, so a killed run
    recomputes only the remainder.
    """
    committed = load_committed(out_dir, n_buckets=n_buckets, key_col=key_col)
    remaining = [b for b in range(n_buckets) if b not in committed]
    results: list[BucketResult] = [BucketResult(b, 0, True, 0.0) for b in committed]
    if not remaining:
        return results

    commit.repair(out_dir)
    staging = commit.open_staging(out_dir, "write")
    t0 = time.time()
    staged = df.withColumn("_bucket", bucket_of(key_col, n_buckets)).filter(
        F.col("_bucket").isin(remaining)
    )
    if sort_cols:
        staged = staged.sortWithinPartitions("_bucket", *sort_cols)
    staged.write.mode("overwrite").partitionBy("_bucket").parquet(staging)
    stage_elapsed = time.time() - t0

    results += commit_buckets(
        out_dir, run_id, staging, remaining, stage, n_buckets, key_col
    )
    shutil.rmtree(staging, ignore_errors=True)
    write_metrics(
        out_dir, run_id, stage, {"stage_write_s": round(stage_elapsed, 3)}
    )
    return results


def commit_buckets(
    out_dir: str,
    run_id: str,
    staging: str,
    buckets: list[int],
    stage: str,
    n_buckets: int,
    key_col: str = "conv_id",
) -> list[BucketResult]:
    """Publish each bucket ``b`` of ``buckets`` from ``<staging>/_bucket=<b>``:
    ``commit.swap`` into ``bucket=<b>``, then its checkpoint row, with the
    row count from the staged footers (no Spark job) — the Iceberg-append
    analog. A bucket the input never reached has no staged dir: 0 rows,
    still logged, so a restart skips it."""
    results = []
    for b in buckets:
        t1 = time.time()
        src = os.path.join(staging, f"_bucket={b}")
        rows = commit.staged_rows(src)
        if os.path.exists(src):
            commit.swap(src, os.path.join(out_dir, f"bucket={b}"))
        commit.append(
            out_dir,
            {
                "run_id": run_id,
                "bucket": b,
                "status": "committed",
                "rows_out": rows,
                "stage": stage,
                "n_buckets": n_buckets,
                "key_col": key_col,
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "elapsed_s": round(time.time() - t1, 3),
            },
        )
        results.append(BucketResult(b, rows, False, time.time() - t1))
    return results


def part_dirs(root: str, prefix: str = "bucket") -> dict[int, str]:
    """The ``<prefix>=<n>`` dirs of ``root`` as {n: path}, in ``<prefix>=*``
    glob (lexical) order: a table's ``bucket`` dirs, a view's ``part``
    dirs. Anything else (``bucket=3.old``, staging) is not one."""
    names = sorted(os.listdir(root)) if os.path.isdir(root) else []
    dir_re = re.compile(rf"{prefix}=(\d+)")
    return {
        int(m[1]): os.path.join(root, n) for n in names if (m := dir_re.fullmatch(n))
    }


def read_bucketed(
    spark: SparkSession,
    out_dir: str,
    schema: StructType | None = None,
    buckets: list[int] | None = None,
) -> DataFrame:
    """The ``bucket=<b>`` dirs of ``out_dir`` (only those of ``buckets``,
    when given), read by their explicit paths in ``bucket=*`` glob order.
    With the known ``schema`` the read runs no inference job, and no bucket
    dir at all gives an empty frame."""
    paths = [
        path
        for b, path in part_dirs(out_dir).items()
        if buckets is None or b in buckets
    ]
    if schema is None:
        return spark.read.parquet(*paths)
    if not paths:
        return local_frame(spark, [], schema)
    return spark.read.schema(schema).parquet(*paths)


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
