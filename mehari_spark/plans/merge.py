"""MERGE INTO emulation over the bucketed table: partition-pruned upsert.

Mehari's RocksDB stores upsert per key inside batched writes
(db/mod.rs:208-309); the lakehouse analog is Iceberg/Delta MERGE INTO,
which rewrites only the data files containing matched keys. Our bucketed
layout (bucket = pmod(xxhash64(bucket_col), B), plans/lineage.py) gives the
same pruning: an update batch touches only the buckets its rows hash into,
so the merge

  1. computes the touched bucket set from the UPDATE side (tiny agg),
  2. reads ONLY those buckets of the target (partition pruning on the
     bucket directory — untouched buckets are never opened, let alone
     rewritten),
  3. applies the upsert (left-anti on the MATCH key within touched
     buckets: update wins on match, both sides survive otherwise),
  4. rewrites the touched buckets through the staged swap of
     plans/commit.py (a ``staged`` row, the swap, then a ``committed``
     row with the row count from the staged footers).

Two distinct keys: ``bucket_col`` is the TABLE's layout key (must equal the
key_col the table was written with — validated against the checkpoint log);
``match_cols`` is the row identity the upsert matches on. At 100 TB with B
in the thousands, a small update batch rewrites a few buckets out of
thousands — the Iceberg copy-on-write file-pruning shape.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import commit
from .lineage import load_committed


def merge_into_bucketed(
    spark: SparkSession,
    out_dir: str,
    updates: DataFrame,
    match_cols: list[str],
    bucket_col: str,
    n_buckets: int,
    run_id: str = "merge",
    precedence_cols: list[str] | None = None,
) -> dict:
    """Upsert ``updates`` into the bucketed table at ``out_dir``.

    Rows whose ``match_cols`` equal an existing row's replace it; new keys
    are inserted. Returns {"touched_buckets": [...], "rows_after":
    {bucket: n}}. Buckets not touched by any update row stay byte-identical.
    Fails fast if (n_buckets, bucket_col) disagree with the table's
    checkpoint log (same guard as write_bucketed resume), if ``bucket_col``
    is not one of ``match_cols`` (bucket pruning would be unsound: matching
    target rows in untouched buckets would survive as duplicates), or if
    ``updates`` carries duplicate match keys (MERGE INTO multiple-match
    error semantics). A merge first repairs any swap a crash interrupted.

    ``precedence_cols`` switches the on-match rule from "update wins" to
    "HIGHEST PRECEDENCE wins" (descending over the listed columns, which
    must totally order rows within a match key — e.g. the KG's
    latest-assertion-wins ``(ts_epoch, conv_id, turn_idx, obj_id)``).
    In this mode duplicate match keys in the update batch are legal (the
    same rule reduces the batch first), and the merge is IDEMPOTENT:
    re-applying any already-applied batch leaves every bucket's row set
    unchanged, which is what makes it safe to replay a retried streaming
    epoch (kg_stream.py) without an applied-batch lookup.
    """
    if bucket_col not in match_cols:
        raise ValueError(
            f"bucket_col {bucket_col!r} must be one of match_cols {match_cols} — "
            "otherwise rows matching an update key can live in buckets the "
            "merge never rewrites (duplicate keys after merge)"
        )
    # validate the layout against the table's commit history
    load_committed(out_dir, n_buckets=n_buckets, key_col=bucket_col)
    commit.repair(out_dir)

    prec_window = None
    if precedence_cols:
        from pyspark.sql import Window

        prec_window = Window.partitionBy(*match_cols).orderBy(
            *[F.desc(c) for c in precedence_cols]
        )
        # same winner rule WITHIN the batch first: the reduced batch is
        # what determines touched buckets and the target comparison set
        updates = (
            updates.withColumn("_rn", F.row_number().over(prec_window))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        dup = (
            updates.groupBy(*match_cols)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"updates contain duplicate match keys (e.g. {dup[0].asDict()}) — "
                "MERGE INTO multiple-match is ambiguous; dedupe the update batch"
            )

    bcol = F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(n_buckets)).cast("int")
    upd = updates.withColumn("_bucket", bcol)
    touched = sorted(
        r["_bucket"] for r in upd.select("_bucket").distinct().collect()
    )
    if not touched:
        return {"touched_buckets": [], "rows_after": {}}

    existing_dirs = [
        os.path.join(out_dir, f"bucket={b}")
        for b in touched
        if os.path.exists(os.path.join(out_dir, f"bucket={b}"))
    ]
    data_cols = list(updates.columns)
    if existing_dirs:
        target = spark.read.parquet(*existing_dirs).select(*data_cols)
    else:
        target = spark.createDataFrame([], updates.schema)

    if prec_window is not None:
        # highest-precedence-wins: union both sides, keep the winner per
        # match key. A target row that already IS the winner survives
        # byte-identical, so replaying an applied batch is a no-op.
        merged = (
            target.unionByName(updates.select(*data_cols))
            .withColumn("_rn", F.row_number().over(prec_window))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .withColumn("_bucket", bcol)
        )
    else:
        # upsert: every update row survives; target rows survive iff unmatched
        survivors = target.join(
            updates.select(*match_cols).distinct(), match_cols, "left_anti"
        )
        merged = survivors.unionByName(updates.select(*data_cols)).withColumn(
            "_bucket", bcol
        )

    staging = commit.open_staging(out_dir, "merge")
    merged.write.mode("overwrite").partitionBy("_bucket").parquet(staging)
    counts: dict[int, int] = {}
    for b in touched:
        src = os.path.join(staging, f"_bucket={b}")
        counts[b] = commit.staged_rows(src)
        if os.path.exists(src):
            commit.append(
                out_dir,
                {
                    "run_id": run_id,
                    "bucket": b,
                    "status": "staged",
                    "stage": "merge",
                    "n_buckets": n_buckets,
                    "key_col": bucket_col,
                },
            )
            commit.swap(src, os.path.join(out_dir, f"bucket={b}"))
        commit.append(
            out_dir,
            {
                "run_id": run_id,
                "bucket": b,
                "status": "committed",
                "rows_out": counts[b],
                "stage": "merge",
                "n_buckets": n_buckets,
                "key_col": bucket_col,
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            },
        )
    shutil.rmtree(staging, ignore_errors=True)
    return {"touched_buckets": touched, "rows_after": counts}
