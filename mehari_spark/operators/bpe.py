"""BPE tokenization as a Spark operator: broadcast merges table +
Arrow-batched encode kernel (the X1 shape — same discipline as the
Aho-Corasick mention scanner in operators/mentions.py).

The merges table is tiny (kilobytes) and read-mostly, so it ships to
executors as a broadcast variable; each executor compiles it ONCE into a
rank dict + per-word encoding cache keyed by a content fingerprint
(word frequency is Zipfian — the cache removes almost every merge loop,
which is what production tokenizers do). Texts stream through
mapInPandas in Arrow batches; no per-row Python UDFs.

100 TB notes: the scan is embarrassingly parallel (no shuffle), the
broadcast is O(vocab) not O(data), and the word cache bounds per-task
CPU by the number of DISTINCT words per batch rather than total tokens.
Golden gate: tests assert the Spark kernel's token counts equal the
pure-python encoder's (kernels/bpe.py) document-for-document, and the
trained assets regenerate bit-identically from the corpus.
"""

from __future__ import annotations

import json
import os
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..kernels.bpe import encode, merges_to_ranks

_ASSETS_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "resources",
    "bpe_assets.json",
)

# per-executor compiled-tokenizer cache: merges fingerprint -> (ranks,
# word-encoding cache); bounded like the AC automaton cache
_TOK_CACHE: dict[str, tuple[dict, dict]] = {}
_TOK_CACHE_MAX = 4


def load_bpe_assets() -> dict:
    """Read the checked-in trained-BPE assets.

    Zip-safe: under ``spark-submit --py-files mehari_spark.zip`` the
    package lives INSIDE the archive, so the plain filesystem path does
    not exist (NotADirectoryError) — fall back to importlib.resources,
    which reads through the zip importer (found by the round-8
    spark-submit smoke re-run of run_dataprep_job; the direct open stays
    first because it also works for a repo checkout not on sys.path)."""
    try:
        with open(_ASSETS_PATH) as f:
            return json.load(f)
    except (NotADirectoryError, FileNotFoundError):
        from importlib import resources

        ref = resources.files("mehari_spark") / "resources" / "bpe_assets.json"
        return json.loads(ref.read_text())


def _merges_fingerprint(merges: list) -> str:
    import hashlib

    h = hashlib.sha1()
    for a, b in merges:
        h.update(f"{a}\x1f{b}\x1e".encode())
    return h.hexdigest()


def _compiled(fp: str, merges: list) -> tuple[dict, dict]:
    got = _TOK_CACHE.pop(fp, None)
    if got is None:
        got = (merges_to_ranks(merges), {})
        while len(_TOK_CACHE) >= _TOK_CACHE_MAX:
            _TOK_CACHE.pop(next(iter(_TOK_CACHE)))
    _TOK_CACHE[fp] = got  # pop+reinsert keeps recency order (true LRU)
    return got


def _count_batches(
    it: Iterable[pd.DataFrame], fp: str, merges: list
) -> Iterator[pd.DataFrame]:
    ranks, cache = _compiled(fp, merges)
    for pdf in it:
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(pdf["doc_id"].tolist(), dtype="int64"),
                "n_tokens": pd.Series(
                    [len(encode(t, ranks, cache)) for t in pdf["text"].tolist()],
                    dtype="int64",
                ),
            }
        )


def bpe_token_counts(docs: DataFrame, merges: list | None = None) -> DataFrame:
    """(doc_id, n_tokens): BPE token accounting — the per-document unit an
    LLM pipeline budgets by."""
    merges = merges if merges is not None else load_bpe_assets()["merges"]
    sc = docs.sparkSession.sparkContext
    bc = sc.broadcast(merges)
    fp = _merges_fingerprint(merges)
    return docs.select("doc_id", "text").mapInPandas(
        lambda it: _count_batches(it, fp, bc.value),
        schema="doc_id long, n_tokens long",
    )


def bpe_expected_counts_oracle() -> str:
    """DuckDB oracle: the PRECOMPUTED expected counts (golden artifact,
    regenerated + compared in tests) joined to the documents view on
    md5(text). Hash-keyed because the two oracle scales (sf0.001 /
    sf0.01) carry DIFFERENT 500-doc corpora — one content-addressed
    asset covers both; a doc whose text is not in the asset simply drops
    out, which the row-count check would catch."""
    assets = load_bpe_assets()
    rows = ", ".join(
        f"('{c['text_md5']}', {c['n_tokens']})"
        for c in assets["expected_counts"]
    )
    return (
        "SELECT d.doc_id, v.n_tokens::BIGINT AS n_tokens\n"
        f"FROM documents d JOIN (VALUES {rows}) v(text_md5, n_tokens)\n"
        "ON md5(COALESCE(d.text, '')) = v.text_md5"
    )
