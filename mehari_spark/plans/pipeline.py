"""End-to-end KG-construction pipeline (the `mehari annotate seqvars` analog,
mod.rs:829-1047 -> SURVEY.md §3.1 Spark translation).

Stages (each one a narrow/wide DataFrame stage; the only wide shuffles are
the conv_id repartition, the triple-assembly window, and the coref groupBy):

 1. scan transcripts (Iceberg/parquet), prune to (conv_id, turn_idx, text)
 2. repartition by hash(conv_id) with optional hot-key salting, then
    sortWithinPartitions(conv_id, turn_idx) — the coordinate-sorted
    contract (compound.rs:54-60 analog; per-turn text-equality invariant)
 3. mapInArrow dictionary mention scan (broadcast compiled match table)
 4. windowed triple assembly + best-per-group dedup
 5. per-conversation coreference connected components
 6. bucketed, checkpointed write of triples + entities + metrics

Resumable: write_bucketed skips committed buckets on restart.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dictionary import DictPattern
from ..operators.coref import coref_clusters
from ..operators.enrich import enrich_triples
from ..operators.mentions import (
    detect_mentions,
    match_table_counters,
    resolve_overlaps,
)
from ..operators.triples import assemble_triples, extract_triples_fused
from .lineage import write_bucketed, write_metrics


def partition_for_scan(
    transcripts: DataFrame,
    n_partitions: int = 32,
    salt_hot: bool = True,
    hot_threshold: int = 100_000,
) -> DataFrame:
    """Repartition by hash(conv_id) (+salt for hot conversations), restore
    (conv_id, turn_idx) order within partitions.

    Salting (north_rule P15): hot conversations are DETECTED with a cheap
    map-side-combined count over conv_id only (column-pruned scan — no text
    bytes move), broadcast back, and EVERY row of a hot conversation gets a
    per-turn salt so no prefix of it can pin a partition (round 1 salted
    only rows with turn_idx > threshold, which left the first `threshold`
    turns on one partition — ADVICE r01). The mention scan is per-turn so
    salting is transparent to it; downstream per-conv stages re-shuffle on
    conv_id themselves (windows/groupBys do their own partitioning).
    """
    if salt_hot:
        hot = (
            transcripts.groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("_n_turns"))
            .filter(F.col("_n_turns") > hot_threshold)
            .select("conv_id", F.lit(True).alias("_hot"))
        )
        # 64 salt buckets: with B buckets hashed over P partitions the
        # loaded-partition max is ~(B/P + sqrt-collisions) buckets; 16 over
        # 32 measured a 260k-row max (4 colliding buckets) on a 1M-turn hot
        # conv, 64 measures ~2x flatter (bench_skew.py)
        df = transcripts.join(F.broadcast(hot), "conv_id", "left").withColumn(
            "_salt",
            F.when(F.col("_hot"), F.pmod(F.col("turn_idx"), F.lit(64))).otherwise(
                F.lit(0)
            ),
        )
        out = df.repartition(n_partitions, F.col("conv_id"), F.col("_salt")).drop(
            "_salt", "_hot"
        )
    else:
        out = transcripts.repartition(n_partitions, F.col("conv_id"))
    return out.sortWithinPartitions("conv_id", "turn_idx")


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    patterns: list[DictPattern],
    out_dir: str,
    run_id: str | None = None,
    n_partitions: int = 32,
    n_buckets: int = 8,
    mode: str = "fused",
    entity_kb: DataFrame | None = None,
    predicate_kb: DataFrame | None = None,
) -> dict:
    """Full pipeline; returns a metrics dict. Re-running with the same
    out_dir resumes from per-bucket checkpoints.

    ``mode='fused'`` runs the whole per-turn kernel inside the scan (zero
    mention shuffles — the mehari execution shape); ``mode='windowed'`` is
    the declarative window-based plan (same results, used by the
    oracle-checked queries).

    When ``entity_kb`` (entity_id, type) and ``predicate_kb`` (pred_id,
    surface, rank) are given, the annotator chain (enrich_triples — the
    setup_seqvars_annotator analog, mod.rs:1162-1312) broadcast-joins them
    onto the triples before the bucketed write, so the materialized table
    carries KB annotations exactly like mehari's annotated VCF output."""
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()
    tables_before = match_table_counters()

    if mode == "fused":
        # the fused kernel is turn-local: no cross-row ordering needed, so
        # the raw-text repartition shuffle is skipped entirely — the scan
        # stays a narrow map and the only wide stages are the bucketed
        # write and coref's groupBy(conv_id) (which shuffles the narrow
        # triple rows, ~10x smaller than the text)
        triples = extract_triples_fused(transcripts, patterns)
    else:
        ordered = partition_for_scan(transcripts, n_partitions=n_partitions)
        mentions = resolve_overlaps(detect_mentions(ordered, patterns))
        triples = assemble_triples(mentions)
    if entity_kb is not None and predicate_kb is not None:
        # in-flight annotators: prebuilt KBs only (pure broadcast joins, the
        # fact stream is scanned ONCE); the frequency KB is derived from the
        # MATERIALIZED table below, mehari-style (frequency.rs is a prebuilt
        # artifact, never an inline recompute of the input)
        triples = enrich_triples(
            triples, entity_kb, predicate_kb, with_freq=False
        )
    # lineage struct rides with every materialized row (report.jsonl analog)
    triples = triples.withColumn(
        "lineage",
        F.struct(F.lit(run_id).alias("run_id"), F.lit("triples").alias("stage")),
    )
    results = write_bucketed(
        triples,
        f"{out_dir}/triples",
        run_id,
        key_col="conv_id",
        n_buckets=n_buckets,
        stage="triples",
    )

    written = spark.read.parquet(f"{out_dir}/triples/bucket=*")
    if entity_kb is not None and predicate_kb is not None:
        # second-phase annotator artifact: subject-frequency KB from a
        # column-pruned scan of the materialized triples (parquet reads the
        # subj_id column only — the 100 TB-safe way to build frequency.rs)
        (
            written.groupBy("subj_id")
            .agg(F.count(F.lit(1)).alias("subj_freq"))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/freq_kb")
        )

    clusters = coref_clusters(written)
    write_bucketed(
        clusters,
        f"{out_dir}/entities",
        run_id,
        key_col="conv_id",
        n_buckets=max(1, n_buckets // 2),
        stage="entities",
    )

    elapsed = time.time() - t0
    rows_out = sum(r.rows_out for r in results)
    metrics = {
        "elapsed_s": round(elapsed, 3),
        "triples_written": rows_out,
        "buckets_skipped": sum(1 for r in results if r.skipped),
        "n_partitions": n_partitions,
        "n_buckets": n_buckets,
    }
    # this call's match-table cache traffic (a build compiles + broadcasts)
    for name, n in match_table_counters().items():
        metrics[name] = n - tables_before[name]
    write_metrics(out_dir, run_id, "pipeline", metrics)
    return metrics
