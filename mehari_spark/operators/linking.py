"""Entity linking: candidate blocking via MinHash/LSH + vectorized scoring.

Mehari analog: transcript picking. Exact-alias hits are the fast path (the
broadcast-dictionary scan in mentions.py); *noisy* surface forms need
candidate generation + scoring + best-pick — mehari's tag-priority transcript
picking (logic.rs:303-446) and worst-consequence dedup (logic.rs:452-513).

Two paths, both returning (surface, entity_id, score):

- ``link_exact_jaccard``: exact character-n-gram Jaccard via explode-join —
  the oracle-checkable reference path. The shuffle is on (shingle), i.e.
  the classic token-inverted-index join; scales linearly in total shingle
  occurrences, not quadratically in rows.
- ``link_lsh``: band rows over shingles from the blocking stage's MinHash
  kernel (operators/blocking.py), candidates from a two-sided band
  equi-join between surfaces and aliases, exact Jaccard re-rank on the
  (much smaller) candidate set. This is the 100 TB path: candidate count
  is governed by (bands, rows) not |surfaces|x|dict|.

Best-link per surface = row_number over (score desc, entity_id) — F6/F7.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..kernels.minhash import shingles
from .blocking import minhash_band_rows

NGRAM = 2


def _shingle_df(df: DataFrame, col: str, n: int = NGRAM) -> DataFrame:
    """(col, shingle) pairs, distinct n-grams of '^value$' — built-ins only."""
    return (
        df.select(col)
        .distinct()
        .withColumn("_padded", F.concat(F.lit("^"), F.col(col), F.lit("$")))
        .withColumn(
            "shingle",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(1, length(_padded) - {n - 1}), "
                    f"i -> substr(_padded, i, {n})))"
                )
            ),
        )
        .select(col, "shingle")
    )


def link_exact_jaccard(
    surfaces: DataFrame,
    dictionary: DataFrame,
    surface_col: str = "surface",
    alias_col: str = "alias",
    id_col: str = "entity_id",
    threshold: float = 0.2,
    n: int = NGRAM,
) -> DataFrame:
    """Exact n-gram-Jaccard top-1 link per surface (inverted-index join)."""
    s_sh = _shingle_df(surfaces, surface_col, n)
    d_sh = _shingle_df(dictionary.select(alias_col, id_col), alias_col, n).join(
        dictionary.select(alias_col, id_col).distinct(), alias_col
    )
    s_cnt = s_sh.groupBy(surface_col).agg(F.count("*").alias("ns"))
    d_cnt = d_sh.groupBy(alias_col, id_col).agg(F.count("*").alias("nd"))
    inter = (
        s_sh.join(d_sh, "shingle")
        .groupBy(surface_col, alias_col, id_col)
        .agg(F.count("*").alias("ni"))
    )
    scored = (
        inter.join(s_cnt, surface_col)
        .join(d_cnt, [alias_col, id_col])
        .withColumn(
            "score",
            F.col("ni") / (F.col("ns") + F.col("nd") - F.col("ni")),
        )
        .filter(F.col("score") >= threshold)
    )
    w = W.partitionBy(surface_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col(surface_col).alias("surface"),
            F.col(id_col).alias("entity_id"),
            F.round(F.col("score"), 6).alias("score"),
        )
    )


def _band_rows(
    pdf_iter: Iterable[pd.DataFrame],
    col: str,
    num_perm: int,
    bands: int,
    n: int,
    seed: int,
) -> Iterator[pd.DataFrame]:
    """(value, band_idx, band_key) for every value of every batch: the
    blocking stage's MinHash kernel over the value's ``^value$`` n-gram
    shingles."""
    for pdf in minhash_band_rows(
        pdf_iter, col, col, lambda v: set(shingles(f"^{v}$", n)), num_perm, bands, seed
    ):
        yield pdf.rename(columns={col: "value"})


def minhash_bands(
    df: DataFrame,
    col: str,
    num_perm: int = 64,
    bands: int = 16,
    n: int = NGRAM,
    seed: int = 42,
) -> DataFrame:
    """(value, band_idx, band_key) — one row per band per distinct value."""
    return df.select(F.col(col)).distinct().mapInPandas(
        lambda it: _band_rows(it, col, num_perm, bands, n, seed),
        schema="value string, band_idx int, band_key long",
    )


def link_lsh(
    surfaces: DataFrame,
    dictionary: DataFrame,
    surface_col: str = "surface",
    alias_col: str = "alias",
    id_col: str = "entity_id",
    threshold: float = 0.2,
    num_perm: int = 128,
    bands: int = 64,
    n: int = NGRAM,
) -> DataFrame:
    """LSH-blocked top-1 link: band join -> exact-Jaccard re-rank.

    Band geometry is aligned with the scoring threshold: the S-curve knee is
    (1/bands)^(1/rows) with rows = num_perm/bands, so the default 64 bands x
    2 rows puts the knee at (1/64)^(1/2) ~= 0.125 — well BELOW the default
    0.2 threshold, i.e. a candidate at exactly the threshold collides in at
    least one band with probability 1-(1-0.2^2)^64 ~= 0.93, and anything
    scoring 0.25+ (every real link in the fixture data) at 0.98+. Round-1
    shipped 16 bands x 4 rows (knee ~= 0.5), which silently blocked every
    candidate below Jaccard 0.5 — the 0-row bug in CORRECTNESS_r01. Callers
    that change ``threshold`` should re-derive (bands, rows) so the knee
    stays below it.
    """
    s_bands = minhash_bands(surfaces, surface_col, num_perm, bands, n).withColumnRenamed(
        "value", "surface"
    )
    d_bands = minhash_bands(dictionary, alias_col, num_perm, bands, n).withColumnRenamed(
        "value", alias_col
    )
    cand = (
        s_bands.join(d_bands, ["band_idx", "band_key"])
        .select("surface", alias_col)
        .distinct()
    )
    # exact re-rank on the candidate set only (the LSH payoff at scale)
    s_sh = _shingle_df(surfaces, surface_col, n).withColumnRenamed(
        surface_col, "surface"
    )
    d_sh = _shingle_df(dictionary.select(alias_col), alias_col, n)
    s_cnt = s_sh.groupBy("surface").agg(F.count("*").alias("ns"))
    d_cnt = d_sh.groupBy(alias_col).agg(F.count("*").alias("nd"))
    inter = (
        cand.join(s_sh, "surface")
        .join(d_sh, [alias_col, "shingle"])
        .groupBy("surface", alias_col)
        .agg(F.count("*").alias("ni"))
    )
    scored = (
        inter.join(s_cnt, "surface")
        .join(d_cnt, alias_col)
        .withColumn("score", F.col("ni") / (F.col("ns") + F.col("nd") - F.col("ni")))
        .filter(F.col("score") >= threshold)
        .join(
            dictionary.select(alias_col, id_col).distinct(), alias_col
        )
    )
    w = W.partitionBy("surface").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "surface",
            F.col(id_col).alias("entity_id"),
            F.round(F.col("score"), 6).alias("score"),
        )
    )
