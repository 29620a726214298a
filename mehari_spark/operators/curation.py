"""Dataset-assembly operators a training-data pipeline runs AFTER
filtering/dedup: deterministic split assignment, token-budget shard
packing, benchmark-contamination screening, and weighted mixture
sampling.

All are pure Catalyst (no Python in the hot path) and cross-engine
deterministic, so each ships a DuckDB oracle. Oracle SQL is GENERATED
from the same parameters the operator takes (``*_oracle()`` functions) —
a caller registering a non-default configuration regenerates the oracle
with it, so Spark/DuckDB parity can never silently drift on parameters.

- ``train_split``: content-hash split (md5 hex prefix compared as a
  string — identical lowercase-hex semantics and binary collation in
  Spark and DuckDB). Hashing CONTENT (not ids) means exact duplicates
  land in the same split — the standard leakage guard — and assignment
  is stable under re-ingestion and cluster size.
- ``shard_packing``: sequential greedy packing of documents into
  ~``budget``-token shards via a TWO-PASS distributed prefix sum (local
  cumsum per (lang, bucket) + broadcast per-bucket offsets), identical
  to the global per-lang cumsum but parallel WITHIN a language.
- ``contamination_screen``: flags documents sharing any word n-gram
  (default 8) with a benchmark corpus — the standard decontamination
  pass before training. Benchmark n-grams are broadcast (a benchmark is
  small by definition); the corpus side streams, so the plan is one
  scan + broadcast join + aggregation at any corpus size. Both sides
  are surface-normalized first (casing/punctuation evasion defeated).
- ``mixture_sample``: per-source weighted sampling — weight >= 1 means
  full repetition epochs, the fractional remainder a deterministic
  content-independent hash-threshold subsample. The final stage of
  training-data assembly ("3 epochs of wiki, 0.5 of crawl").
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..session import local_frame


def train_split(
    docs: DataFrame, train_hex: str = "e6", val_hex: str = "f3"
) -> DataFrame:
    """(doc_id, h2, split): deterministic content-hash split.

    The first two md5 hex chars (256 buckets) compared as strings:
    < ``train_hex`` -> train (default 230/256 ~ 89.8%), < ``val_hex`` ->
    val (13/256 ~ 5.1%), else test."""
    h2 = F.substring(F.md5("text"), 1, 2)
    return docs.select(
        "doc_id",
        h2.alias("h2"),
        F.when(h2 < F.lit(train_hex), "train")
        .when(h2 < F.lit(val_hex), "val")
        .otherwise("test")
        .alias("split"),
    )


def train_split_oracle(train_hex: str = "e6", val_hex: str = "f3") -> str:
    return f"""
SELECT doc_id,
       substr(md5(text), 1, 2) AS h2,
       CASE WHEN substr(md5(text), 1, 2) < '{train_hex}' THEN 'train'
            WHEN substr(md5(text), 1, 2) < '{val_hex}' THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


TRAIN_SPLIT_ORACLE = train_split_oracle()


def shard_packing(
    docs: DataFrame,
    budget: int = 20_000,
    bucket_span: int | None = None,
    target_buckets: int = 64,
) -> DataFrame:
    """(doc_id, lang, n_tokens, shard_id): greedy sequential packing into
    ~``budget``-token shards per lang (shard of a doc = completed budget
    units BEFORE it, so a shard always receives at least one doc and
    overflows by at most one doc — the standard greedy pack).

    SCALE SHAPE (the 100 TB fix): packing is a prefix sum in doc_id
    order, and a single ``PARTITION BY lang`` window serializes an entire
    language's corpus through one task. Instead we run the standard
    two-pass distributed prefix sum:

    1. bucket = doc_id DIV span — contiguous, ORDER-PRESERVING ranges of
       the sort key, so per-bucket local cumsums + re-based offsets equal
       the global cumsum EXACTLY (no approximation; the oracle stays the
       single-window SQL).
    2. local cumsum windowed by (lang, bucket) — parallel across buckets
       within a language.
    3. per-(lang, bucket) totals aggregated, offset = prefix sum of the
       totals over the TINY bucket table (one row per bucket), broadcast
       back and added to the local cumsum.

    ``bucket_span=None`` derives the span from one bounded metadata agg
    (min/max doc_id -> ~``target_buckets`` buckets). Sparse or skewed id
    ranges only make buckets uneven, never wrong — bucketing any
    monotone function of doc_id preserves the pack order. Integer
    arithmetic only."""
    lens = docs.select(
        "lang",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    if bucket_span is None:
        lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
        if hi is None:  # empty corpus: any span packs the zero rows
            span = 1
        else:
            span = max(1, (int(hi) - int(lo) + 1) // max(1, target_buckets))
    else:
        span = max(1, bucket_span)
    lens = lens.withColumn("bucket", F.expr(f"doc_id DIV {span}"))
    # pass 1: local prefix sum, parallel over (lang, bucket)
    local_cum = F.sum("n_tokens").over(
        W.partitionBy("lang", "bucket").orderBy("doc_id")
    )
    local = lens.withColumn("local_cum", local_cum)
    # pass 2: per-bucket totals -> prefix offsets over the tiny bucket
    # table (rows = #langs x #buckets — driver-scale metadata; the one
    # serial window left never sees document rows). Aggregated from the
    # narrow `lens` projection, NOT the windowed result: map-side combine
    # makes this branch's shuffle carry only per-bucket partials (a
    # totals-from-max-running-sum variant would reshuffle every document
    # row a second time, and AQE does not reuse the window exchange
    # across the two consumers — measured). The cost is a second pass
    # over the 3-column projection, which at 100 TB reads a
    # column-pruned fraction of the table.
    offsets = (
        lens.groupBy("lang", "bucket")
        .agg(F.sum("n_tokens").alias("btot"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("btot").over(
                    W.partitionBy("lang")
                    .orderBy("bucket")
                    .rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("lang", "bucket", "offset")
    )
    return (
        local.join(F.broadcast(offsets), ["lang", "bucket"])
        .withColumn("cum", F.col("local_cum") + F.col("offset"))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            # integer floor-division only — no float rounding to diverge
            # between engines
            F.expr(f"(cum - n_tokens) DIV {budget}").alias("shard_id"),
        )
    )


def shard_packing_oracle(budget: int = 20_000) -> str:
    # the ORACLE is the single-window global cumsum: the two-pass Spark
    # plan must reproduce it exactly (prefix-sum identity)
    return f"""
SELECT doc_id, lang, n_tokens,
       ((cum - n_tokens) // {budget})::BIGINT AS shard_id
FROM (
  SELECT doc_id, lang,
         len(string_split(text, ' '))::BIGINT AS n_tokens,
         SUM(len(string_split(text, ' '))::BIGINT)
           OVER (PARTITION BY lang ORDER BY doc_id) AS cum
  FROM documents
)
"""


SHARD_PACKING_ORACLE = shard_packing_oracle()

# Surface normalization shared by both contamination sides: lowercase,
# strip every char outside [a-z0-9 ], collapse runs of spaces, trim.
# Spark and DuckDB regexp semantics agree on these two patterns, so the
# oracle applies the IDENTICAL normalization.
_NORM_RE_DROP = "[^a-z0-9 ]"
_NORM_RE_WS = "  *"


def _normalized_text(col):
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), _NORM_RE_DROP, ""),
            _NORM_RE_WS,
            " ",
        )
    )


def _word_ngrams(docs: DataFrame, n: int, normalize: bool) -> DataFrame:
    """(doc_id, gram): all word n-grams per document (docs shorter than
    n words produce none). ``normalize`` lowercases and strips
    punctuation FIRST so trivially-perturbed benchmark text (casing,
    added punctuation) still collides with the corpus side."""
    text = _normalized_text(F.col("text")) if normalize else F.col("text")
    toks = F.split(text, " ")
    return docs.select("doc_id", toks.alias("w")).filter(
        F.size("w") >= n
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {n - 1}),"
                f" i -> array_join(slice(w, i, {n}), ' '))"
            )
        ).alias("gram"),
    )


def contamination_screen(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    normalize: bool = True,
) -> DataFrame:
    """(doc_id, n_shared, contaminated) for every non-benchmark doc:
    ``n_shared`` = distinct benchmark word-``n``-grams the doc contains,
    ``contaminated`` = any overlap. Benchmark grams broadcast; the corpus
    side never shuffles its text. Both sides run the same surface
    normalization by default (lowercase, punctuation stripped, expressed
    in Catalyst so the oracle mirrors it) — a benchmark quote that was
    re-cased or re-punctuated still screens."""
    bench_ids = benchmark.select("doc_id")
    bench_grams = _word_ngrams(benchmark, n, normalize).select("gram").distinct()
    shared = (
        _word_ngrams(docs, n, normalize)
        .join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared"))
    )
    return (
        docs.select("doc_id")
        .join(bench_ids, "doc_id", "left_anti")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def contamination_oracle(
    n: int = 8, benchmark_pred: str = "doc_id < 5", normalize: bool = True
) -> str:
    """DuckDB oracle for ``contamination_screen`` where the benchmark is
    the subset of ``documents`` selected by ``benchmark_pred``."""
    norm = (
        "trim(regexp_replace(regexp_replace(lower(text),"
        f" '{_NORM_RE_DROP}', '', 'g'), '{_NORM_RE_WS}', ' ', 'g'))"
        if normalize
        else "text"
    )
    return f"""
WITH words AS (
  SELECT doc_id, string_split({norm}, ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(w[t.i : t.i + {n - 1}], ' ') AS gram
  FROM words, unnest(range(1, greatest(len(w) - {n - 2}, 1))) AS t(i)
),
bench AS (
  SELECT DISTINCT gram FROM grams WHERE {benchmark_pred}
),
shared AS (
  SELECT g.doc_id, COUNT(DISTINCT g.gram)::BIGINT AS n_shared
  FROM grams g JOIN bench USING (gram)
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_shared, 0)::BIGINT AS n_shared,
       COALESCE(s.n_shared, 0) > 0 AS contaminated
FROM documents d LEFT JOIN shared s USING (doc_id)
WHERE NOT ({benchmark_pred})
"""


CONTAMINATION_ORACLE = contamination_oracle()


def _frac_hex(frac: float, digits: int = 8) -> str:
    """Hash threshold for a fractional keep rate: md5-hex-prefix strings
    below this hex literal (string compare — identical collation in
    Spark and DuckDB) are kept. Resolution 16^-digits (~2.3e-10).

    Clamped to ``16^digits - 1`` ('ff...f'): a fractional part whose
    rounding hits the ceiling would otherwise emit a ``digits+1``-char
    literal ('100000000'), and string-comparing ``digits``-char prefixes
    against that keeps only prefixes starting '0' (~1/16 instead of ~all).
    The clamp keeps everything except the single all-f prefix —
    within the scheme's stated resolution of the intended rate."""
    ceiling = 16**digits
    return format(min(ceiling - 1, max(0, round(frac * ceiling))), f"0{digits}x")


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    source_col: str = "lang",
    default_weight: float = 0.0,
) -> DataFrame:
    """(doc_id, lang, epoch): deterministic per-source weighted sampling —
    the mixture-assembly stage of training-data prep (e.g. 3 epochs of
    wiki, 0.5 of crawl).

    A source with weight w contributes floor(w) FULL repetition epochs
    plus one fractional epoch keeping a deterministic
    md5(doc_id:epoch)-threshold subsample of the remainder. Sampling is
    keyed on (doc_id, epoch) — independent across epochs, stable under
    re-ingestion and cluster size, and content-independent so exact
    duplicates don't co-sample (dedup runs BEFORE mixture). Pure
    Catalyst: broadcast per-source epoch plan, explode, hash filter —
    one corpus scan, no shuffle."""
    spark = docs.sparkSession
    plan_rows = []
    for src, w in weights.items():
        if w < 0:
            raise ValueError(f"negative mixture weight for {src!r}: {w}")
        full = int(math.floor(w))
        frac = w - full
        n_ep = full + (1 if frac > 0 else 0)
        plan_rows.append((src, n_ep, full, _frac_hex(frac)))
    if default_weight > 0:
        raise NotImplementedError(
            "default_weight > 0: enumerate sources explicitly in weights"
        )
    plan = local_frame(
        spark, plan_rows, f"{source_col} string, n_ep int, full_ep int, thr string"
    )
    exploded = (
        docs.select("doc_id", source_col)
        .join(F.broadcast(plan), source_col)
        .select(
            "doc_id",
            source_col,
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("n_ep").cast("long") - 1)
            ).alias("epoch"),
            "full_ep",
            "thr",
        )
    )
    kept = exploded.filter(
        (F.col("epoch") < F.col("full_ep"))
        | (
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id"), F.col("epoch"))), 1, 8
            )
            < F.col("thr")
        )
    )
    return kept.select("doc_id", source_col, "epoch")


def mixture_sample_oracle(
    weights: dict[str, float], source_col: str = "lang"
) -> str:
    """DuckDB oracle generated from the SAME weights dict (parameter
    drift between operator and oracle is structurally impossible)."""
    rows = []
    for src, w in weights.items():
        full = int(math.floor(w))
        frac = w - full
        n_ep = full + (1 if frac > 0 else 0)
        rows.append(f"('{src}', {n_ep}, {full}, '{_frac_hex(frac)}')")
    values = ",\n         ".join(rows)
    return f"""
WITH plan({source_col}, n_ep, full_ep, thr) AS (
  VALUES {values}
)
SELECT d.doc_id, d.{source_col}, t.e::BIGINT AS epoch
FROM documents d
JOIN plan p USING ({source_col}),
     unnest(range(0, p.n_ep)) AS t(e)
WHERE t.e < p.full_ep
   OR substr(md5(d.doc_id::VARCHAR || ':' || t.e::VARCHAR), 1, 8) < p.thr
"""


# demo mixture used by the registry entry: repetition epochs (en),
# weight-1 passthrough (de), pure fractional subsamples (es, fr), and an
# excluded source (zh — weight absent = dropped)
DEMO_MIXTURE = {"en": 2.5, "de": 1.0, "es": 0.5, "fr": 0.25}
MIXTURE_SAMPLE_ORACLE = mixture_sample_oracle(DEMO_MIXTURE)
