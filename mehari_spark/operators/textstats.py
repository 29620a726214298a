"""Text analysis for training-data pipelines: quality, tokens, lang-id,
fingerprints.

All hot-path scoring is built-in Catalyst expressions (whole-stage codegen);
the winnowing fingerprint is the one pandas-UDF step (pure-integer kernel in
kernels/fingerprint.py).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.fingerprint import fingerprint
from ..session import local_frame

STOPWORDS = ("the", "a")


def text_quality(docs: DataFrame) -> DataFrame:
    """Per-doc quality stats: token count, distinct ratio, stopword ratio,
    mean token length — integer/rounded outputs for stable hashing."""
    toks = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    # stopword OCCURRENCES (not distinct), so filter+size rather than intersect
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        n_stop.alias("n_stopwords"),
        F.round((F.length("text") - F.size(toks) + 1) / F.size(toks), 4).alias(
            "avg_token_len"
        ),
        F.round(
            F.size(F.array_distinct(toks)) / F.size(toks), 4
        ).alias("distinct_ratio"),
    )


def token_topk(docs: DataFrame, k: int = 25) -> DataFrame:
    """Global token frequencies, top-k by (count desc, token asc)."""
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(k)
    )


# fixed per-language marker-token profiles for the n-gram/keyword heuristic
# language identifier (deterministic; a real deployment would broadcast
# trained char-n-gram profiles — same plumbing, different table)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "fast", "small"),
    "de": ("batch", "slow", "window"),
    "fr": ("merge", "vector", "column"),
    "es": ("join", "stream", "value"),
    "zh": ("hash", "scan", "query"),
}


def lang_id(docs: DataFrame) -> DataFrame:
    """Keyword-profile language ID: argmax over marker-token hit counts.

    Expressed as a broadcast join against the marker table + groupBy argmax
    (max_by) — no UDF. Deterministic tie-break by language code.
    """
    spark = docs.sparkSession
    markers = local_frame(
        spark,
        [(lang, m) for lang, ms in LANG_MARKERS.items() for m in ms],
        "cand_lang string, marker string",
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    hits = (
        toks.join(F.broadcast(markers), toks.token == markers.marker)
        .groupBy("doc_id", "cand_lang")
        .agg(F.count("*").alias("hits"))
    )
    # deterministic argmax: order by (hits desc, cand_lang asc) via window
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("cand_lang"))
    return (
        hits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cand_lang").alias("pred_lang"), "hits")
    )


def _fingerprint_rows(
    it: Iterable[pd.DataFrame], k: int, w: int
) -> Iterator[pd.DataFrame]:
    for pdf in it:
        ids: list[int] = []
        fps: list[int] = []
        for doc_id, txt in zip(pdf["doc_id"].tolist(), pdf["text"].tolist()):
            for h in fingerprint(txt or "", k=k, w=w):
                ids.append(doc_id)
                fps.append(h & 0x7FFFFFFFFFFFFFFF)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "fp": pd.Series(fps, dtype="int64"),
            }
        )


def doc_fingerprints(docs: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Winnowing fingerprints: (doc_id, fp) rows — join fp to find overlap."""
    return docs.select("doc_id", "text").mapInPandas(
        lambda it: _fingerprint_rows(it, k, w), schema="doc_id long, fp long"
    )


def quality_reasons(text_col):
    """The quality-gate reasons BITMASK as a reusable Column expression —
    shared by the batch filter and the streaming ingest pipeline so both
    gates are definitionally identical. Pure Catalyst, stream-safe."""
    toks = F.split(text_col, " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return (
        F.when(n_tokens < 10, 1).otherwise(0)
        + F.when(n_tokens > 1000, 2).otherwise(0)
        + F.when(100 * n_distinct < 20 * n_tokens, 4).otherwise(0)
        + F.when(n_stop == 0, 8).otherwise(0)
    ).cast("int")


def quality_filter(docs: DataFrame) -> DataFrame:
    """Gopher-style pretraining quality filter: every doc gets a reasons
    BITMASK (the hard/soft Reason-enum discipline of mehari's dictionary
    build, db/transcripts/create/models.rs:65-108) plus the kept verdict.

    Rules (integer-exact so the DuckDB oracle hashes identically):
      bit 1 — too few tokens        (n_tokens < 10)
      bit 2 — too many tokens       (n_tokens > 1000)
      bit 4 — low distinct ratio    (100 * n_distinct < 20 * n_tokens)
      bit 8 — no stopword           (n_stopwords == 0)
    kept = reasons == 0. Pure Catalyst expressions, one narrow pass.
    """
    reasons = quality_reasons(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        reasons.alias("filter_reasons"),
        (reasons == 0).alias("kept"),
    )


# --------------------------------------------------------------------------
# PII scrubbing
# --------------------------------------------------------------------------

# engine-portable regex subset: char classes + bounded quantifiers only,
# identical semantics under Java regex (Spark) and RE2 (DuckDB)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\d{3}-\d{3}-\d{4}"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_emails, n_phones, scrubbed): redact emails/phone numbers.

    Pure Catalyst regexp_count/regexp_replace — the standard pre-training
    PII pass, one scan, no shuffle, whole-stage codegen. Patterns are kept
    to the Java-regex/RE2 common subset so the DuckDB oracle is exact."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
        ).alias("scrubbed"),
    )


def pii_scrub_oracle(docs_rel: str = "documents", text_expr: str = "text") -> str:
    return f"""
SELECT doc_id,
       len(regexp_extract_all({text_expr}, '{EMAIL_RE}'))::BIGINT AS n_emails,
       len(regexp_extract_all({text_expr}, '{PHONE_RE}'))::BIGINT AS n_phones,
       regexp_replace(regexp_replace({text_expr}, '{EMAIL_RE}', '[EMAIL]', 'g'),
                      '{PHONE_RE}', '[PHONE]', 'g') AS scrubbed
FROM {docs_rel}
"""


# --------------------------------------------------------------------------
# integer-scaled TF-IDF top terms
# --------------------------------------------------------------------------


def tfidf_topterms(docs: DataFrame, k: int = 3, idf_scale: int = 1000) -> DataFrame:
    """(doc_id, term, tf, score): top-k terms per doc by integer-scaled
    TF-IDF — score = tf * ((N * idf_scale) DIV df), all 64-bit integer
    floor arithmetic so Spark and DuckDB agree exactly (no log/float).

    Plan: one shuffle on (doc_id, term) for tf, one on term for df, the
    corpus size N broadcast as a 1-row scalar, one window on doc_id for
    the top-k. Rarer terms get a strictly larger idf step, which is the
    ordering TF-IDF exists to induce."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    from pyspark.sql import Window as _W

    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            (
                F.col("tf")
                * F.expr(f"(n_docs * {idf_scale}) DIV df")
            )
            .cast("long")
            .alias("score"),
        )
    )
    w = _W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("doc_id", "term", "tf", "score")
    )


def tfidf_topterms_oracle(
    docs_rel: str = "documents", k: int = 3, idf_scale: int = 1000
) -> str:
    return f"""
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {docs_rel}),
tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term),
idf AS (SELECT term, COUNT(DISTINCT doc_id)::BIGINT AS df FROM toks GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id)::BIGINT AS n_docs FROM {docs_rel}),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         (tf.tf * ((n.n_docs * {idf_scale}) // idf.df))::BIGINT AS score
  FROM tf JOIN idf USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
  FROM scored
) WHERE rn <= {k}
"""


# --------------------------------------------------------------------------
# intra-document repetition profile (Gopher-style quality signal)
# --------------------------------------------------------------------------


def repetition_profile(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, n_tokens, n_distinct, distinct_milli, top_ngram_n,
    dup_ngram_milli): within-document repetition metrics — the Gopher
    repetition filters (duplicate n-gram fraction, distinct-token ratio)
    in exact integer permille.

    n-grams come from LEAD windows over token position (one shuffle on
    doc_id); everything else is per-doc aggregation. dup_ngram_milli =
    1000 * (occurrences of n-grams seen more than once) DIV total n-grams."""
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("doc_id").orderBy("pos")
    gram_parts = [F.col("tok")] + [
        F.lead("tok", i).over(w) for i in range(1, n)
    ]
    grams = toks.select(
        "doc_id",
        F.concat_ws(" ", *gram_parts).alias("gram"),
        F.lead("tok", n - 1).over(w).alias("_last"),
    ).where(F.col("_last").isNotNull())
    gram_counts = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("cnt"))
    gram_stats = gram_counts.groupBy("doc_id").agg(
        F.max("cnt").cast("long").alias("top_ngram_n"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("dup_occ"),
        F.sum("cnt").cast("long").alias("total_grams"),
    )
    tok_stats = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("n_distinct"),
    )
    return (
        tok_stats.join(gram_stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            F.expr("(1000 * n_distinct) DIV n_tokens").alias("distinct_milli"),
            F.coalesce(F.col("top_ngram_n"), F.lit(0).cast("long")).alias(
                "top_ngram_n"
            ),
            F.coalesce(
                F.expr("(1000 * dup_occ) DIV total_grams"),
                F.lit(0).cast("long"),
            ).alias("dup_ngram_milli"),
        )
    )


def repetition_profile_oracle(docs_rel: str = "documents", n: int = 3) -> str:
    lead_cols = " || ' ' || ".join(
        ["tok"] + [f"LEAD(tok, {i}) OVER w" for i in range(1, n)]
    )
    return f"""
toks AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos, w2[i+1] AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS w2 FROM {docs_rel}),
       unnest(generate_series(0, len(w2)-1)) AS g(i)
),
grams AS (
  SELECT doc_id, {lead_cols} AS gram, LEAD(tok, {n - 1}) OVER w AS _last
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
gram_counts AS (
  SELECT doc_id, gram, COUNT(*)::BIGINT AS cnt FROM grams
  WHERE _last IS NOT NULL GROUP BY doc_id, gram
),
gram_stats AS (
  SELECT doc_id, MAX(cnt)::BIGINT AS top_ngram_n,
         SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::BIGINT AS dup_occ,
         SUM(cnt)::BIGINT AS total_grams
  FROM gram_counts GROUP BY doc_id
),
tok_stats AS (
  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
         len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct
  FROM {docs_rel}
)
SELECT t.doc_id, t.n_tokens, t.n_distinct,
       (1000 * t.n_distinct) // t.n_tokens AS distinct_milli,
       COALESCE(g.top_ngram_n, 0)::BIGINT AS top_ngram_n,
       COALESCE((1000 * g.dup_occ) // g.total_grams, 0)::BIGINT AS dup_ngram_milli
FROM tok_stats t LEFT JOIN gram_stats g USING (doc_id)
"""
