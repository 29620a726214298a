"""Composed training-data curation pipeline: the documents-side analog of
the KG pipeline (plans/pipeline.py), wiring the training-data operators the
build brief names as first-class into ONE resumable job:

    documents
      -> quality gate (Gopher-style reasons bitmask, textstats.quality_filter)
      -> language id (marker-profile argmax, textstats.lang_id)
      -> exact dedup (md5 groups; keep min doc_id per hash)
      -> near-dup clustering (MinHash-LSH pairs -> global pointer-jump CC;
         keep the min-doc_id representative per component)
      -> optional span-level shared-passage gate (operators/spandedup.py
         dup mass; span_dup_max_permille)
      -> token accounting (BPE-ish regexp_extract_all, JVM-side)
      -> bucketed, checkpointed, sorted-file write (plans/lineage.py)

Per-stage decision counters land in ``_metrics.jsonl`` (mehari's
report.jsonl discipline, db/transcripts/create/mod.rs:137-241): every
dropped document is attributable to a stage. The write is the same
two-phase commit as the KG pipeline, so kill/restart resumes by bucket.

Scale notes (100 TB): quality/lang/token stages are narrow, single-scan
Catalyst expressions; exact dedup is one shuffle on md5; the near-dup edge
set is LSH-blocked (sub-quadratic) and the clustering is O(log n)
pointer-jumping rounds with optional durable checkpoints; the final write
is partition-parallel. Nothing collects documents to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def curate_documents(
    docs: DataFrame,
    near_dup_threshold: float = 0.95,
    cc_checkpoint_dir: str | None = None,
    span_dup_max_permille: int | None = None,
) -> DataFrame:
    """documents -> one row per INPUT doc with the full curation verdict.

    Columns: doc_id, lang, pred_lang, n_tokens, n_bpe, n_bpe_real (trained
    BPE merges — operators/bpe.py), filter_reasons,
    exact_rep (min doc_id of its md5 group), component_id (near-dup
    cluster), span_dropped (shared-passage gate verdict, False when the
    gate is off), kept (passed quality AND not span-dropped AND is its
    cluster's representative).
    The caller filters ``kept`` for the curated corpus; keeping the full
    verdict table makes every drop auditable (report.jsonl discipline).
    """
    from ..operators.coref import connected_components_global
    from ..operators.dedup import exact_dedup_groups, minhash_lsh_pairs
    from ..operators.textstats import lang_id, quality_filter

    # narrow per-doc stages (single scan each, pure Catalyst)
    quality = quality_filter(docs)  # (doc_id, n_tokens, filter_reasons, kept)
    langs = lang_id(docs)  # (doc_id, pred_lang, hits)
    bpe_pat = r"'[a-z]+|[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"
    tokens = docs.select(
        "doc_id",
        "lang",
        F.size(F.regexp_extract_all("text", F.lit(bpe_pat), F.lit(0)))
        .cast("long")
        .alias("n_bpe"),
    )
    # REAL BPE token accounting (operators/bpe.py): trained merges table
    # broadcast + Arrow-batched encode — the budget unit downstream
    # packing/mixture stages consume; n_bpe (regexp) kept for comparison
    from ..operators.bpe import bpe_token_counts

    real_counts = bpe_token_counts(docs).withColumnRenamed(
        "n_tokens", "n_bpe_real"
    )
    tokens = tokens.join(real_counts, "doc_id")

    # exact dedup: representative = min doc_id per md5(text)
    exact = exact_dedup_groups(docs).select(
        F.col("text_hash"), F.col("min_doc_id").alias("exact_rep")
    )
    doc_hash = docs.select("doc_id", F.md5("text").alias("text_hash"))
    exact_rep = doc_hash.join(exact, "text_hash").select("doc_id", "exact_rep")

    # near-dup clustering: LSH-blocked pairs -> global CC; singleton docs
    # label themselves
    pairs = minhash_lsh_pairs(docs, threshold=near_dup_threshold).select(
        "doc_a", "doc_b"
    )
    comps = connected_components_global(
        pairs,
        src="doc_a",
        dst="doc_b",
        check_every=2,
        checkpoint_dir=cc_checkpoint_dir,
    ).withColumnRenamed("node", "doc_id")

    # downstream dataset assembly: deterministic content-hash split
    # (leakage-safe — exact dupes share a split; operators/curation.py)
    from ..operators.curation import train_split

    splits = train_split(docs).select("doc_id", "split")

    out = (
        tokens.join(quality.select("doc_id", "n_tokens", "filter_reasons"), "doc_id")
        .join(langs.select("doc_id", "pred_lang"), "doc_id", "left")
        .join(exact_rep, "doc_id")
        .join(splits, "doc_id")
        .join(comps, "doc_id", "left")
        .withColumn(
            "component_id", F.coalesce(F.col("component"), F.col("doc_id"))
        )
        .drop("component")
    )
    # representative = min doc_id among the QUALITY-PASSING members of each
    # near-dup component (exact dupes share a component: identical token
    # sets collide in every LSH band). A component whose every member fails
    # quality keeps nothing; exact_rep stays as the audit column attributing
    # exact-duplicate collapses.
    from pyspark.sql import Window as W

    # optional span-level dedup gate (round 7, operators/spandedup.py):
    # drop docs whose k-gram positions are mostly shared with OTHER docs
    # (span_dup_permille above the threshold) — the cross-document
    # shared-passage screen doc-level near-dup misses. The MASS gate is
    # SYMMETRIC: every heavy copy drops (a doc survives iff it carries
    # enough unique material); keep-one-copy semantics is the separate
    # span_trim_plan operator. Attribution stays separate from the
    # quality bitmask (span_dropped column) so every drop remains
    # auditable; representative election treats span-dropped docs like
    # quality failures (they can't represent their component).
    if span_dup_max_permille is not None:
        # hashed-gram production form (round 8): the exact-string twin
        # span_dup_mass stays as the oracle-checked registry entry; the
        # GATE shuffles int64 gram hashes instead of gram strings (gate
        # verdicts asserted identical in tests/test_dataprep.py)
        from ..operators.spandedup import span_dup_mass_hashed

        mass = span_dup_mass_hashed(docs, k=16).select("doc_id", "dup_permille")
        out = out.join(mass, "doc_id", "left").withColumn(
            "span_dropped",
            F.coalesce(F.col("dup_permille"), F.lit(0))
            > span_dup_max_permille,
        ).drop("dup_permille")
    else:
        out = out.withColumn("span_dropped", F.lit(False))

    w = W.partitionBy("component_id")
    eligible = (F.col("filter_reasons") == 0) & ~F.col("span_dropped")
    rep = F.min(F.when(eligible, F.col("doc_id"))).over(w)
    return out.withColumn("kept", eligible & (F.col("doc_id") == rep))


def run_dataprep(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str = "dataprep",
    n_buckets: int = 8,
    near_dup_threshold: float = 0.95,
    mixture_weights: dict[str, float] | None = None,
    span_dup_max_permille: int | None = None,
) -> dict:
    """Full curation job: verdict table -> bucketed committed write of the
    KEPT corpus + stage counters. Returns the counters dict (also appended
    to ``<out_dir>/_metrics.jsonl``).

    ``mixture_weights``: optional final assembly stage — per-source
    weighted sampling (operators/curation.py:mixture_sample) over the
    KEPT corpus; the (doc_id, lang, epoch) plan lands in
    ``<out_dir>/mixture`` and ``n_mixture_rows`` joins the counters.
    Mixture runs AFTER dedup by construction (sampling is
    content-independent, so surviving representatives sample
    independently)."""
    from .lineage import write_bucketed, write_metrics
    from .stagecache import release, release_taken

    pending = curate_documents(
        docs, near_dup_threshold,
        span_dup_max_permille=span_dup_max_permille,
    )
    verdict = pending.localCheckpoint(eager=True)
    release_taken(pending, docs)  # e.g. the near-dup labels checkpoint
    agg = verdict.agg(
        F.count("*").alias("n_input"),
        F.sum((F.col("filter_reasons") != 0).cast("long")).alias("n_quality_drop"),
        F.sum(
            (
                (F.col("filter_reasons") == 0)
                & ~F.col("span_dropped")
                & ~F.col("kept")
            ).cast("long")
        ).alias("n_dup_drop"),
        F.sum(
            ((F.col("filter_reasons") == 0) & F.col("span_dropped")).cast("long")
        ).alias("n_span_drop"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.sum(
            (F.col("kept") & (F.col("split") == "train")).cast("long")
        ).alias("n_kept_train"),
        F.countDistinct("component_id").alias("n_components"),
    ).first()
    counters = {k: int(agg[k]) for k in agg.asDict()}

    results = write_bucketed(
        verdict.filter(F.col("kept")).select(
            "doc_id", "pred_lang", "n_tokens", "n_bpe", "n_bpe_real",
            "component_id", "split"
        ),
        out_dir,
        run_id=run_id,
        key_col="doc_id",
        n_buckets=n_buckets,
        stage="dataprep",
        sort_cols=["doc_id"],
    )
    counters["n_buckets_written"] = sum(0 if r.skipped else 1 for r in results)
    if mixture_weights is not None:
        import os

        from ..operators.curation import mixture_sample

        kept_docs = docs.join(
            verdict.filter(F.col("kept")).select("doc_id"), "doc_id"
        )
        mixture = mixture_sample(kept_docs, mixture_weights)
        mixture.write.mode("overwrite").parquet(os.path.join(out_dir, "mixture"))
        counters["n_mixture_rows"] = spark.read.parquet(
            os.path.join(out_dir, "mixture")
        ).count()
    release(verdict)
    write_metrics(out_dir, run_id, "dataprep", counters)
    return counters
