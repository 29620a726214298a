"""Deduplication suite over the documents table.

Mehari analog: the global seen-keys dedup in parallel ingest
(db/mod.rs:208-309) and unique-signature group dedup (compound.rs:114-163).
For a 100 TB training-data pipeline we provide the standard ladder:

- exact:     md5 of normalized text, groupBy — one shuffle on the hash.
- n-gram Jaccard: exact token-set similarity via inverted-index explode-join
  (shuffle on (lang, token); linear in postings, never a cross join).
- MinHash/LSH: band rows from the blocking stage's MinHash kernel
  (operators/blocking.py), candidates from its band self-join, exact
  re-rank — the sub-quadratic scale path.
- SimHash: 64-bit fingerprints, 16-bit chunk blocking for Hamming<=3 on
  the same band self-join.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.simhash import simhash64
from .blocking import band_pairs, minhash_band_rows, whitespace_tokens


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """md5(text) groups: (text_hash, n_docs, min_doc_id) — exact duplicates
    share a group; min_doc_id is the canonical representative."""
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


def _doc_tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        "lang",
        F.array_distinct(F.split(F.col("text"), " ")).alias("toks"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.95,
    within: tuple[str, ...] = ("lang",),
    max_docs: int = 100_000,
) -> DataFrame:
    """Doc pairs with token-set Jaccard >= threshold, blocked by ``within``
    columns (() = global).

    Inverted-index join: explode distinct tokens, equi-join on (within…, token),
    count intersections, compute J = ni / (na + nb - ni). The shuffle key is
    the join key; hot tokens are the skew risk — AQE skew-join splits them.

    SCALE GUARD: this is the EXACT baseline — the postings self-join is
    worst-case quadratic in docs sharing a token, so it refuses corpora
    above ``max_docs`` rows. The production path at scale is
    ``minhash_lsh_pairs`` (banded MinHash blocking + exact re-rank), which
    this function exists to validate.
    """
    n_docs = docs.count()
    if n_docs > max_docs:
        raise ValueError(
            f"ngram_jaccard_pairs is the exact all-pairs baseline and is "
            f"capped at {max_docs} docs (got {n_docs}); use "
            f"minhash_lsh_pairs (operators/dedup.py) for corpora at scale"
        )
    toks = _doc_tokens(docs)
    sizes = toks.select("doc_id", F.size("toks").alias("n_toks"))
    posts = toks.select("doc_id", *within, F.explode("toks").alias("tok"))
    keys = [*within, "tok"]
    a = posts.select(F.col("doc_id").alias("doc_a"), *keys)
    b = posts.select(F.col("doc_id").alias("doc_b"), *keys)
    inter = (
        a.join(b, keys)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("ni"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_toks", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_toks", "nb"), "doc_b")
        .withColumn("jaccard", F.col("ni") / (F.col("na") + F.col("nb") - F.col("ni")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.95,
    num_perm: int = 128,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact-Jaccard re-rank.

    Candidates come from band-bucket self-join (sub-quadratic); the exact
    re-rank keeps precision at 1.0, so recall vs ngram_jaccard_pairs is the
    only LSH-tunable (tested >= 0.95 in tests/test_dedup_similarity.py).

    Band geometry: bands=8 x rows=16 puts the S-curve knee at
    (1/8)^(1/16) ~ 0.878 (P(collide) = 0.99 at s=0.95, 0.20 at s=0.80,
    0.026 at s=0.70). The corpus is adversarially similar (token-set
    Jaccard 0.5-0.9 between most same-vocab documents), so the flatter
    8x8 knee (~0.85) admitted ~40% of ALL pairs as candidates at sf0.1;
    16 rows/band cuts mid-similarity collisions ~5x at the same >=0.95
    recall for true near-dups.
    """
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism
    src_df = docs.select("doc_id", "text")
    if src_df.rdd.getNumPartitions() < par:
        src_df = src_df.repartition(par)  # parallelize the signature scan
    # the band table feeds both self-join sides: materialized once (the
    # session-local form of writing the signature table once at 100 TB)
    # through the bounded stage cache, which evicts it as newer stages arrive
    from ..plans.stagecache import materialize_once

    bands_df = materialize_once(
        spark,
        ("minhash_bands", src_df, num_perm, bands, seed),
        lambda: src_df.mapInPandas(
            lambda it: minhash_band_rows(
                it, "doc_id", "text", whitespace_tokens, num_perm, bands, seed
            ),
            schema="doc_id long, band_idx int, band_key long",
        ),
    )
    # NOTE (round 8): pushing the size prefilter INTO the band self-join
    # (broadcast per-doc token counts on both sides) halves the candidate
    # pairs (2.02M -> 0.97M) but measured SLOWER end to end at sf0.1
    # (2.6-5.6 s -> 4.8-6.4 s): the distinct on 4.3M 16-byte rows is
    # cheaper than the two extra broadcast joins, and the re-rank already
    # applies the same filter before the intersect. Kept as-was.
    cand = band_pairs(bands_df, "doc_id", ["band_idx", "band_key"], ("doc_a", "doc_b"))
    # exact re-rank: join the candidate pairs back to the token ARRAYS (two
    # equi-joins on doc_id) and intersect in-row — O(|cand| * doc_len), no
    # postings explosion. The postings join is only worth it for the
    # all-pairs exact path (ngram_jaccard_pairs).
    toks = materialize_once(
        spark,
        ("minhash_toks", src_df),
        lambda: _doc_tokens(docs).select("doc_id", "toks"),
    )  # consumed by both re-rank join sides
    inter = (
        cand.join(toks.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a")), "doc_a")
        .join(toks.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b")), "doc_b")
        # size prefilter: J(a,b) <= min/max, so |toks| differing by more
        # than the threshold ratio can never pass — skip the intersect
        .filter(
            F.least(F.size("toks_a"), F.size("toks_b"))
            >= threshold * F.greatest(F.size("toks_a"), F.size("toks_b"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("toks_a", "toks_b")).alias("ni"),
            F.size("toks_a").alias("na"),
            F.size("toks_b").alias("nb"),
        )
    )
    return (
        inter.withColumn(
            "jaccard", F.col("ni") / (F.col("na") + F.col("nb") - F.col("ni"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _simhash_rows(it: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        fps = [
            simhash64((txt or "").split(" ")) for txt in pdf["text"].tolist()
        ]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                # store as signed 64-bit (parquet/Spark have no uint64)
                "simhash": pd.Series(
                    [fp - (1 << 64) if fp >= (1 << 63) else fp for fp in fps],
                    dtype="int64",
                ),
            }
        )


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", "text").mapInPandas(
        _simhash_rows, schema="doc_id long, simhash long"
    )


def simhash_candidate_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate near-dup pairs with Hamming(simhash) <= max_hamming via
    16-bit chunk blocking (pigeonhole over 4 chunks).

    The fingerprint table feeds both chunk-join sides: materialized once
    via the bounded stage cache (round-8; the python simhash kernel ran
    per side before — 2.3 s -> ~1.3 s at sf0.1)."""
    from ..plans.stagecache import materialize_once

    fp = materialize_once(
        docs.sparkSession,
        ("simhash_fp", docs),
        lambda: simhash_fingerprints(docs),
    )
    chunks = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), i -> named_struct("
                "'chunk_idx', i, 'chunk_val', (simhash >> (i * 16)) & 65535))"
            )
        ).alias("c"),
    ).select("doc_id", "simhash", "c.*")
    cand = band_pairs(
        chunks, "doc_id", ["chunk_idx", "chunk_val"], ("doc_a", "doc_b"), carry=["simhash"]
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
