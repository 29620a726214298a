"""Composed streaming ingest pipeline: quality gate -> exact dedup ->
near-dup dedup (bounded signature state), end to end.

Batch curation has ``plans/dataprep.run_dataprep``; this is its ingest-time
twin — the topology a 100 TB pipeline runs CONTINUOUSLY instead of
re-scanning the corpus. Spark allows one ``applyInPandasWithState`` per
query, so the two stateful stages are chained THROUGH STORAGE — the
standard multi-stage streaming topology (stage boundaries are tables, the
same discipline as chaining through Kafka topics or Delta tables):

- **Stage 1** (one streaming query): quality-gate every arriving document
  (stateless Catalyst bitmask, definitionally identical to the batch gate
  via ``textstats.quality_reasons``), then keep-first EXACT dedup with
  ``applyInPandasWithState`` keyed by content hash (tiny
  (first_doc_id, n_seen) state per distinct document — the cheap state
  that shrinks the corpus before similarity work). Quality-failed docs are
  audited but never claim their hash (batch semantics: dedup runs over the
  quality-passing corpus). The sink writes one audit row per document AND
  hands survivors (with text) to the stage boundary.
- **Stage boundary**: survivors of each epoch land as ONE deterministic,
  atomically-replaced file (``epoch-%08d.parquet``, the replay-writer
  discipline) — a retried epoch rewrites the same path with the same
  deterministic content, so the downstream file source never sees
  duplicate paths and end-to-end exactly-once survives a crash between
  the two checkpoints; sequential names keep arrival monotone.
- **Stage 2** (second streaming query): ``stream_neardup_dedup`` over the
  boundary directory — MinHash-LSH keep-first near-dup dedup with the
  bounded adaptive signature state (neardup_stream.py), its own
  checkpoint.

``read_pipeline_verdicts`` folds both stages into one row per input
document: verdict = 'quality' | 'exact_dup' | 'near_dup' | 'kept'.

Scale notes: stage 1 state is O(distinct hashes) tiny tuples; stage 2
state is bounded per doc/band; both stores shard by group key across
executors (RocksDB-backed on a cluster). The boundary coalesces each
epoch to one file — right for micro-batch-sized epochs (a queue-fed
trigger), while a bulk-backfill epoch would raise
``max_files_per_trigger`` on stage 2 and write partitioned boundary
files instead.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.textstats import quality_reasons
from ..plans.commit import publish_file
from .neardup_stream import read_verdicts as read_neardup_verdicts
from .neardup_stream import stream_neardup_dedup

DOCS_DDL = "doc_id long, lang string, text string"
_STAGE1_OUT_DDL = (
    "doc_id long, lang string, text string, filter_reasons int,"
    " dup_of long, is_new boolean"
)
_STAGE1_STATE_DDL = "first_doc_id long, n_seen long"
AUDIT_DDL = "doc_id long, filter_reasons int, dup_of long, is_new boolean"


def _stage1_update(key, pdf_iter, state: GroupState):
    """One content-hash group per trigger: quality-failed rows pass
    through audited (never claiming the hash); the first quality-passing
    arrival of an unseen hash is kept, later ones are exact dups of the
    stored first_doc_id."""
    first, n = state.get if state.exists else (None, 0)
    rows = []
    for pdf in pdf_iter:
        rows.extend(
            zip(
                pdf["doc_id"].tolist(),
                pdf["lang"].tolist(),
                pdf["text"].tolist(),
                pdf["filter_reasons"].tolist(),
            )
        )
    rows.sort(key=lambda r: r[0])  # keep-first needs in-trigger id order
    out = {k: [] for k in ("doc_id", "lang", "text", "filter_reasons", "dup_of", "is_new")}
    for doc_id, lang, text, reasons in rows:
        dup_of = None
        is_new = False
        if reasons == 0:
            if first is None:
                first = doc_id
                is_new = True
            elif doc_id == first:
                is_new = True  # replayed first copy stays the keeper
            else:
                dup_of = first
            n += 1
        out["doc_id"].append(doc_id)
        out["lang"].append(lang)
        out["text"].append(text)
        out["filter_reasons"].append(reasons)
        out["dup_of"].append(dup_of)
        out["is_new"].append(is_new)
    if first is not None:
        state.update((int(first), int(n)))
    yield pd.DataFrame(
        {
            "doc_id": pd.Series(out["doc_id"], dtype="int64"),
            "lang": pd.Series(out["lang"], dtype="object"),
            "text": pd.Series(out["text"], dtype="object"),
            "filter_reasons": pd.Series(out["filter_reasons"], dtype="int32"),
            "dup_of": pd.Series(out["dup_of"], dtype="object"),
            "is_new": pd.Series(out["is_new"], dtype="bool"),
        }
    )


def stream_ingest_pipeline(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.95,
    state_mode: str = "signature",
    max_files_per_trigger: int = 64,
) -> tuple[StreamingQuery, StreamingQuery]:
    """Start both stages; returns (stage1_query, stage2_query).

    Layout under ``out_dir``: ``audit/epoch=N`` (stage-1 per-doc rows),
    ``boundary/`` (survivor handoff files), ``neardup/epoch=N`` (stage-2
    verdicts). Checkpoints: ``<checkpoint_dir>/stage1`` and ``/stage2``.
    Drive with ``process_all(q1, q2)``; restart by calling again with the
    same dirs — both stages resume from their checkpoints and verdicts
    stay exactly-once per document."""
    audit_dir = os.path.join(out_dir, "audit")
    boundary_dir = os.path.join(out_dir, "boundary")
    neardup_dir = os.path.join(out_dir, "neardup")
    # stage 2's file source resolves its path at start — the boundary dir
    # must exist before stage 1 has produced anything
    os.makedirs(boundary_dir, exist_ok=True)

    stream = (
        spark.readStream.schema(DOCS_DDL)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
        .select(
            "doc_id",
            "lang",
            "text",
            quality_reasons(F.col("text")).alias("filter_reasons"),
            F.md5("text").alias("text_hash"),
        )
    )
    stage1 = stream.groupBy("text_hash").applyInPandasWithState(
        _stage1_update,
        outputStructType=_STAGE1_OUT_DDL,
        stateStructType=_STAGE1_STATE_DDL,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def sink1(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df.persist()
        try:
            batch_df.select(
                "doc_id", "filter_reasons", "dup_of", "is_new"
            ).write.mode("overwrite").parquet(
                os.path.join(audit_dir, f"epoch={epoch_id}")
            )
            # a retried epoch rewrites the SAME file with the same
            # deterministic content, so the stage-2 file source (which
            # tracks paths) never ingests an epoch twice — the
            # cross-checkpoint exactly-once seam
            publish_file(
                batch_df.filter("is_new").select("doc_id", "lang", "text"),
                os.path.join(boundary_dir, f"epoch-{epoch_id:08d}.parquet"),
            )
        finally:
            batch_df.unpersist()

    q1 = (
        stage1.writeStream.outputMode("update")
        .foreachBatch(sink1)
        .option(
            "checkpointLocation", os.path.join(checkpoint_dir, "stage1")
        )
        .start()
    )
    # stage 2 sources the boundary dir; its glob re-evaluates per trigger,
    # so files stage 1 writes later are picked up as they appear
    q2 = stream_neardup_dedup(
        spark,
        boundary_dir,
        neardup_dir,
        os.path.join(checkpoint_dir, "stage2"),
        threshold=threshold,
        state_mode=state_mode,
        max_files_per_trigger=max_files_per_trigger,
    )
    return q1, q2


def process_all(q1: StreamingQuery, q2: StreamingQuery) -> None:
    """Drain the composed pipeline: stage 1 to quiescence first (so every
    boundary file exists), then stage 2."""
    q1.processAllAvailable()
    q2.processAllAvailable()


def read_pipeline_verdicts(spark: SparkSession, out_dir: str) -> DataFrame:
    """One row per INPUT document across both stages:
    (doc_id, filter_reasons, dup_of, verdict) with verdict in
    {'quality', 'exact_dup', 'near_dup', 'kept'} — the composed audit
    table (every drop attributable to a stage, the report.jsonl
    discipline)."""
    audit = spark.read.schema(AUDIT_DDL).parquet(
        os.path.join(out_dir, "audit", "epoch=*")
    )
    near = read_neardup_verdicts(
        spark, os.path.join(out_dir, "neardup")
    ).select(
        "doc_id",
        F.col("dup_of").alias("near_dup_of"),
        F.col("is_new").alias("near_new"),
    )
    joined = audit.join(near, "doc_id", "left")
    verdict = (
        F.when(F.col("filter_reasons") != 0, "quality")
        .when(~F.col("is_new"), "exact_dup")
        .when(~F.coalesce(F.col("near_new"), F.lit(True)), "near_dup")
        .otherwise("kept")
    )
    return joined.select(
        "doc_id",
        "filter_reasons",
        F.coalesce(F.col("dup_of"), F.col("near_dup_of")).alias("dup_of"),
        verdict.alias("verdict"),
    )
