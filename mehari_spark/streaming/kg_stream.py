"""Continuous KG maintenance: transcript stream -> fused triple extraction
-> latest-assertion-wins MERGE into the bucketed triple table.

This is the kg_construct tier's streaming completion. Batch mode extracts
triples with ``extract_triples_fused`` and snapshots current state with
``triples_asof`` (both oracle-checked); production ingest is CONTINUOUS —
new conversations arrive, their assertions must upsert the KG without
re-scanning the corpus. The reference's discipline is the same shape at
the storage layer: mehari upserts annotations per key inside batched
RocksDB writes (db/mod.rs:208-309); here the table is the bucketed
parquet layout (plans/lineage.py) and the upsert is the partition-pruned
MERGE (plans/merge.py) with ``precedence_cols`` carrying the temporal
rule, so only the buckets an epoch's subjects hash into are rewritten.

Exactly-once, by TWO independent mechanisms (either alone suffices):

- the merge is IDEMPOTENT: latest-assertion-wins over a total precedence
  order means re-applying an already-applied epoch leaves every bucket's
  row set unchanged, so a foreachBatch retry after a crash between the
  merge and Spark's offset commit cannot corrupt the table;
- the epoch runner (streaming/epochs.py) logs each completed epoch in
  the table's checkpoint log and skips a replayed one.

Scale notes (100 TB): extraction is the zero-shuffle fused kernel per
micro-batch (narrow map over arriving files); the within-batch reduction
shuffles only the batch's triples on (subj_id, pred_id); the merge reads
and rewrites ONLY touched buckets — with thousands of buckets, an epoch
touching k subjects rewrites O(k) buckets, never the table. State lives
entirely in the table + its commit log: the streaming query itself is
stateless (no applyInPandasWithState store to size or TTL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.triples import extract_triples_fused
from ..plans import commit
from ..plans.lineage import read_bucketed
from ..plans.merge import merge_into_bucketed
from .epochs import run_stream

TURNS_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

# the KG current-state row: match key + object + the total precedence order
MATCH_COLS = ["subj_id", "pred_id"]
PRECEDENCE_COLS = ["ts_epoch", "conv_id", "turn_idx", "obj_id"]
DATA_COLS = ["subj_id", "pred_id", "obj_id", "ts_epoch", "conv_id", "turn_idx"]
STAGE = "kg_stream"


def applied_epochs(table_dir: str, scope: str) -> set[int]:
    """Epoch ids whose merge fully completed under the streaming
    checkpoint ``scope`` (epoch ids are unique only within one
    checkpoint lineage)."""
    return commit.applied_epochs(table_dir, STAGE, scope)


def extract_batch_updates(batch_df: DataFrame, patterns) -> DataFrame:
    """One micro-batch of turns -> its latest-assertion-per-key update set.

    Fused extraction (zero-shuffle narrow map), ts attached from the same
    batch (join on (conv_id, turn_idx) — batch-local, AQE broadcasts the
    small side), then reduced to one row per (subj_id, pred_id) by the
    SAME precedence rule the merge applies, so the update batch the merge
    sees is already minimal."""
    from pyspark.sql import Window

    tr = extract_triples_fused(batch_df, patterns)
    ts = batch_df.select(
        "conv_id", "turn_idx", F.unix_timestamp("ts").alias("ts_epoch")
    )
    w = Window.partitionBy(*MATCH_COLS).orderBy(
        *[F.desc(c) for c in PRECEDENCE_COLS]
    )
    return (
        tr.join(ts, ["conv_id", "turn_idx"])
        .select(*DATA_COLS)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def stream_kg_maintain(
    spark: SparkSession,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    patterns,
    n_buckets: int = 8,
    max_files_per_trigger: int = 1,
    maintain_degree: bool = False,
    available_now: bool = True,
    maintain_views=None,
) -> StreamingQuery:
    """Start the maintenance stream; returns the StreamingQuery.

    ``input_dir`` is a file-source directory of turn parquet chunks
    (production: a queue/table commit log). The KG table at ``table_dir``
    is created on the first epoch and thereafter upserted in place.

    ``maintain_views`` (a list of plans.incremental.PartialAggSpec;
    ``maintain_degree=True`` is shorthand for adding DEGREE_VIEW)
    additionally keeps each view's per-bucket partials consistent with
    the table: after each epoch's merge, ONLY the touched buckets'
    partials are recomputed — incremental view maintenance, ordered
    merge -> refresh -> epoch_done so a crash replays the idempotent
    pair and the audit row always implies consistent partials.

    Every ``commit.ROTATE_EVERY`` applied epochs the table's commit log is
    rotated (``commit.compact_log``): the epoch_done rows collapse to one
    watermark row and superseded bucket-commit rows drop, so the log
    stays O(buckets + scopes), not O(stream age)."""
    views = list(maintain_views or [])
    if maintain_degree:
        from ..plans.incremental import DEGREE_VIEW

        if all(v.name != DEGREE_VIEW.name for v in views):
            views.append(DEGREE_VIEW)

    def write(batch_df: DataFrame, epoch_id: int) -> dict:
        updates = extract_batch_updates(batch_df, patterns)
        res = merge_into_bucketed(
            spark,
            table_dir,
            updates,
            match_cols=MATCH_COLS,
            bucket_col="subj_id",
            n_buckets=n_buckets,
            run_id=f"epoch-{epoch_id}",
            precedence_cols=PRECEDENCE_COLS,
        )
        if views:
            from ..plans.incremental import refresh_partials

            for v in views:
                refresh_partials(spark, table_dir, res["touched_buckets"], v)
        return {
            "touched_buckets": len(res["touched_buckets"]),
            "rows_after": sum(res["rows_after"].values()),
        }

    return run_stream(
        spark, input_dir, TURNS_DDL, write, checkpoint_dir, table_dir, STAGE,
        max_files_per_trigger, available_now=available_now,
    )


def read_kg_current(spark: SparkSession, table_dir: str) -> DataFrame:
    """The maintained current-state snapshot — comparable 1:1 with the
    batch ``kg_triples_current`` (triples_asof) over the same input."""
    return read_bucketed(spark, table_dir).select(
        "subj_id", "pred_id", "obj_id", "ts_epoch"
    )
