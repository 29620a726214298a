"""Bucket compaction: the small-file maintenance job (Iceberg
``rewrite_data_files`` analog) for tables written by plans/lineage.py.

Long-running ingest produces many small parquet files per bucket (every
staging task that held rows of the bucket wrote one); at 100 TB the
per-file open/footer overhead throttles every downstream scan. Compaction
rewrites each oversized bucket into ``target_files`` internally-sorted
files with the SAME crash-atomic staged swap as every other writer
(plans/commit.py): stage -> verify row count + content fingerprint ->
``commit.swap`` — a crash at any point is repaired forward/back by
``commit.repair`` and the checkpoint log only records buckets whose swap
completed.

Content safety is checked, not assumed (``content_gate``, which the span
store's compaction shares): the staged rewrite must match the live data on
row count AND two independent order-insensitive content fingerprints
before the swap happens: bit_xor of xxhash64 over all columns plus the
SUM of the same hashes as decimal(38,0). XOR alone is blind to
even-multiplicity changes (dropping two copies of row X while gaining two
copies of row Y cancels); the sum catches exactly that class, and a
collision would have to fool both aggregates simultaneously.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import commit
from .lineage import part_dirs, write_metrics


def _bucket_files(bucket_dir: str) -> list[str]:
    return [
        f
        for f in glob.glob(os.path.join(bucket_dir, "*.parquet"))
        if os.path.isfile(f)
    ]


def _fingerprint(df: DataFrame) -> tuple[int, int, int]:
    """(row_count, xor-hash, sum-hash) in one aggregation.

    Two independent order-insensitive reductions over the same row hash:
    bit_xor (cheap, but even-multiplicity-blind) and sum as decimal(38,0)
    (multiplicity-sensitive, ANSI-overflow-safe for any realistic bucket).
    A content diff must cancel under BOTH to slip past the swap gate."""
    h = F.xxhash64(*df.columns)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("fp"),
        F.sum(h.cast("decimal(38,0)")).alias("fps"),
    ).first()
    return (
        int(row["n"]),
        int(row["fp"] if row["fp"] is not None else 0),
        int(row["fps"] if row["fps"] is not None else 0),
    )


def content_gate(live: DataFrame, staged: str, what: str) -> int:
    """The swap gate of every compaction: the rewrite staged at ``staged``
    must hold the rows of ``live`` (row count and both fingerprints).
    On a mismatch the staged dir is dropped and ``what`` raises, so the
    live data is never swapped out. Returns the row count."""
    want = _fingerprint(live)
    got = _fingerprint(live.sparkSession.read.parquet(staged).select(*live.columns))
    if got != want:
        shutil.rmtree(staged, ignore_errors=True)
        raise RuntimeError(
            f"{what} would change content (rows {want[0]}->{got[0]}, "
            "fingerprint mismatch) — aborted"
        )
    return got[0]


def needs_compaction(
    files: list[str], min_files: int, small_file_bytes: int | None
) -> bool:
    """Self-targeting trigger policy (the ``rewrite_data_files`` file-size
    criterion): a bucket qualifies when it holds at least ``min_files``
    files AND — if ``small_file_bytes`` is set — at least ``min_files`` of
    them are below that size. A bucket of few, already-large files is
    healthy and is left alone; rewriting it would burn IO for nothing."""
    if len(files) < min_files:
        return False
    if small_file_bytes is None:
        return True

    def _is_small(f: str) -> bool:
        # a file can vanish between listing and stat (concurrent
        # finalize/repair of the same table): treat it as not-small
        # rather than aborting the whole maintenance sweep
        try:
            return os.path.getsize(f) < small_file_bytes
        except OSError:
            return False

    small = [f for f in files if _is_small(f)]
    return len(small) >= min_files


def compact_buckets(
    spark: SparkSession,
    out_dir: str,
    run_id: str = "compact",
    target_files: int = 1,
    min_files: int = 2,
    small_file_bytes: int | None = None,
    sort_cols: list[str] | None = None,
) -> dict:
    """Compact every committed bucket that ``needs_compaction`` — the scan
    is self-targeting (file-count, optionally file-size, thresholds), so
    the maintenance job needs no explicit bucket list.

    Returns {"compacted": {bucket: {files_before, files_after, rows}},
    "skipped": [buckets]}. ``sort_cols`` re-sorts rows within each output
    file (restoring the sorted-file invariant merged away by many small
    appends). A compaction first repairs any swap a crash interrupted."""
    commit.repair(out_dir)
    compacted: dict[int, dict] = {}
    skipped: list[int] = []
    for b, bdir in part_dirs(out_dir).items():
        files = _bucket_files(bdir)
        if not needs_compaction(files, min_files, small_file_bytes):
            skipped.append(b)
            continue
        t0 = time.time()
        live = spark.read.parquet(bdir)
        staged = commit.open_staging(out_dir, "compact")
        out = live.coalesce(target_files)
        if sort_cols:
            out = out.sortWithinPartitions(*sort_cols)
        out.write.mode("overwrite").parquet(staged)
        n_staged = content_gate(live, staged, f"compaction of bucket {b}")
        commit.swap(staged, bdir)
        files_after = len(_bucket_files(bdir))
        commit.append(
            out_dir,
            {
                "run_id": run_id,
                "bucket": b,
                "status": "compacted",
                "rows_out": n_staged,
                "files_before": len(files),
                "files_after": files_after,
                "stage": "compact",
                "committed_at": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                ),
                "elapsed_s": round(time.time() - t0, 3),
            },
        )
        compacted[b] = {
            "files_before": len(files),
            "files_after": files_after,
            "rows": n_staged,
        }
    write_metrics(
        out_dir,
        run_id,
        "compact",
        {"n_compacted": len(compacted), "n_skipped": len(skipped)},
    )
    return {"compacted": compacted, "skipped": skipped}
