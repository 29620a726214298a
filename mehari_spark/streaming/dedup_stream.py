"""Streaming exact dedup: keep-first document dedup over an ingest stream.

The 100 TB ingest-side form of the batch `doc_exact_dedup` operator:
documents arrive continuously; a document whose content hash was already
seen in ANY earlier micro-batch is a duplicate. Mehari's analog is the
global seen-keys dedup inside parallel ingest (db/mod.rs:208-309).

State design: the group KEY is the content hash itself, so per-key state is
a tiny (first_doc_id, n_seen) tuple and total state is O(distinct
documents) in the checkpointed state store (RocksDB-backed on a cluster,
partitioned by hash — horizontally scalable, no global set on any single
node). ``keep_first`` is the one state function; the composed ingest
pipeline (ingest_pipeline.py) runs it behind its quality gate. The stream
emits one row per (hash, trigger-it-appeared-in): ``is_new`` marks the
trigger that FIRST saw the hash, so downstream keeps exactly the first
copy and the emission is exactly-once per document (state and sink
offsets commit together with the query checkpoint).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .epochs import run_stream, write_epoch_dir

DOCS_DDL = "doc_id long, lang string, text string"
STATE_DDL = "first_doc_id long, n_seen long"
STAGE = "dedup_stream"


def _keep_first_update(key, pdf_iter, state: GroupState):
    """One content-hash group per trigger, in doc_id order: quality-failed
    rows (``filter_reasons`` != 0) pass through and never claim the hash;
    the first passing arrival of an unseen hash is kept, later ones are
    exact dups of the stored first_doc_id. Every input column passes
    through, plus ``dup_of``, ``is_new`` and the hash's running
    ``n_seen``."""
    first, n = state.get if state.exists else (None, 0)
    pdf = pd.concat(list(pdf_iter), ignore_index=True).sort_values(
        "doc_id", kind="stable"
    )
    dup_of, is_new, n_seen = [], [], []
    for doc_id, reasons in zip(pdf["doc_id"].tolist(), pdf["filter_reasons"].tolist()):
        dup = None
        if reasons == 0:
            if first is None:
                first = doc_id
            # a replayed first copy stays the keeper
            dup = None if doc_id == first else first
            n += 1
        dup_of.append(dup)
        is_new.append(reasons == 0 and dup is None)
        n_seen.append(n)
    if first is not None:
        state.update((int(first), int(n)))
    yield pdf.assign(
        dup_of=pd.Series(dup_of, dtype="object", index=pdf.index),
        is_new=pd.Series(is_new, dtype="bool", index=pdf.index),
        n_seen=pd.Series(n_seen, dtype="int64", index=pdf.index),
    )


def keep_first(docs: DataFrame) -> DataFrame:
    """Keep-first exact dedup of a document stream carrying ``doc_id``,
    ``filter_reasons`` and ``text_hash``: its columns plus ``dup_of``,
    ``is_new`` and ``n_seen`` (``_keep_first_update``)."""
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in docs.schema)
    return docs.groupBy("text_hash").applyInPandasWithState(
        _keep_first_update,
        outputStructType=f"{cols}, dup_of long, is_new boolean, n_seen long",
        stateStructType=STATE_DDL,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 64,
) -> StreamingQuery:
    """documents parquet dir (streamed) -> per-hash dedup verdict rows
    ``(text_hash, first_doc_id, n_seen, is_new)`` in ``epoch=N`` dirs.

    Downstream filter ``is_new`` yields the kept (first-copy) corpus;
    ``is_new = false`` rows carry the running duplicate count for audit.
    """

    def plan(docs: DataFrame) -> DataFrame:
        return keep_first(
            docs.select(
                F.md5("text").alias("text_hash"),
                "doc_id",
                F.lit(0).alias("filter_reasons"),
            )
        )

    def write(batch_df: DataFrame, epoch_id: int) -> dict | None:
        per_hash = batch_df.groupBy("text_hash").agg(
            F.min(F.coalesce("dup_of", "doc_id")).alias("first_doc_id"),
            F.max("n_seen").alias("n_seen"),
            F.bool_or("is_new").alias("is_new"),
        )
        return write_epoch_dir(per_hash, output_dir, epoch_id)

    return run_stream(
        spark, input_dir, DOCS_DDL, write, checkpoint_dir, output_dir, STAGE,
        max_files_per_trigger, plan=plan, output_mode="update",
    )
