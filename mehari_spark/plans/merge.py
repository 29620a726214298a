"""MERGE INTO emulation over the bucketed table: partition-pruned upsert.

Mehari's RocksDB stores upsert per key inside batched writes
(db/mod.rs:208-309); the lakehouse analog is Iceberg/Delta MERGE INTO,
which rewrites only the data files containing matched keys. Our bucketed
layout (``lineage.bucket_of``) gives the same pruning: an update batch
touches only the buckets its rows hash into, so the merge

  1. computes the touched bucket set from the UPDATE side (tiny agg),
  2. reads ONLY those buckets of the target (``lineage.read_bucketed``
     with the batch's schema: untouched buckets are never opened, let
     alone rewritten, and the read runs no schema-inference job),
  3. keeps, per match key, the highest-precedence row of target ∪ batch,
  4. rewrites the touched buckets through ``lineage.commit_buckets``,
     the per-bucket ``commit.swap`` + ``committed`` row loop every
     bucketed writer shares.

Two distinct keys: ``bucket_col`` is the TABLE's layout key (must equal the
key_col the table was written with — validated against the checkpoint log);
``match_cols`` is the row identity the upsert matches on. At 100 TB with B
in the thousands, a small update batch rewrites a few buckets out of
thousands — the Iceberg copy-on-write file-pruning shape.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import commit
from .lineage import bucket_of, commit_buckets, load_committed, read_bucketed


def merge_into_bucketed(
    spark: SparkSession,
    out_dir: str,
    updates: DataFrame,
    match_cols: list[str],
    bucket_col: str,
    n_buckets: int,
    run_id: str = "merge",
    *,
    precedence_cols: list[str],
) -> dict:
    """Upsert ``updates`` into the bucketed table at ``out_dir``: per
    ``match_cols`` key, the row of HIGHEST PRECEDENCE (descending over
    ``precedence_cols``, which must totally order rows within a match key
    — e.g. the KG's latest-assertion-wins ``(ts_epoch, conv_id, turn_idx,
    obj_id)``) among the stored row and the update rows survives; new keys
    are inserted. The batch may carry a key more than once; the same rule
    picks its winner.

    Returns {"touched_buckets": [...], "rows_after": {bucket: n}}. Buckets
    not touched by any update row stay byte-identical. The merge is
    IDEMPOTENT: re-applying an already-applied batch leaves every bucket's
    row set unchanged, which makes a retried streaming epoch
    (kg_stream.py) safe to replay without an applied-batch lookup.

    Fails fast if (n_buckets, bucket_col) disagree with the table's
    checkpoint log (same guard as write_bucketed resume), or if
    ``bucket_col`` is not one of ``match_cols`` (bucket pruning would be
    unsound: matching target rows in untouched buckets would survive as
    duplicates). A merge first repairs any swap a crash interrupted."""
    if bucket_col not in match_cols:
        raise ValueError(
            f"bucket_col {bucket_col!r} must be one of match_cols {match_cols} — "
            "otherwise rows matching an update key can live in buckets the "
            "merge never rewrites (duplicate keys after merge)"
        )
    # validate the layout against the table's commit history
    load_committed(out_dir, n_buckets=n_buckets, key_col=bucket_col)
    commit.repair(out_dir)

    bucket = bucket_of(bucket_col, n_buckets)
    touched = sorted(r[0] for r in updates.select(bucket).distinct().collect())
    if not touched:
        return {"touched_buckets": [], "rows_after": {}}

    # a target row that already IS the winner survives byte-identical, so
    # replaying an applied batch is a no-op
    target = read_bucketed(spark, out_dir, updates.schema, buckets=touched)
    winner = Window.partitionBy(*match_cols).orderBy(
        *[F.desc(c) for c in precedence_cols]
    )
    merged = (
        target.unionByName(updates)
        .withColumn("_rn", F.row_number().over(winner))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("_bucket", bucket)
    )
    staging = commit.open_staging(out_dir, "merge")
    merged.write.mode("overwrite").partitionBy("_bucket").parquet(staging)
    results = commit_buckets(
        out_dir, run_id, staging, touched, "merge", n_buckets, bucket_col
    )
    shutil.rmtree(staging, ignore_errors=True)
    return {
        "touched_buckets": touched,
        "rows_after": {r.bucket: r.rows_out for r in results},
    }
