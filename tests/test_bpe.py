"""Real BPE tokenizer: asset reproducibility, Spark-kernel golden
agreement with the pure-python encoder, encode semantics, dataprep
integration."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from mehari_spark.datagen import BPE_N_MERGES, build_bpe_assets
from mehari_spark.kernels.bpe import (
    encode,
    encode_word,
    merges_to_ranks,
    train_bpe,
    word_symbols,
)
from mehari_spark.operators.bpe import (
    _ASSETS_PATH,
    bpe_token_counts,
    load_bpe_assets,
)

from .conftest import SF_UNIT


class TestBpeKernel:
    def test_train_is_deterministic_and_learns_frequent_pairs(self):
        corpus = ["low low low low low", "lower lower", "newest newest newest",
                  "widest"]
        m1 = train_bpe(corpus, 10)
        m2 = train_bpe(list(corpus), 10)
        assert m1 == m2
        ranks = merges_to_ranks(m1)
        # 'low' appears 7 times (5 + 2 as prefix of lower); with 10 merges
        # it must encode to a single token
        assert len(encode_word("low", ranks)) == 1

    def test_zero_merges_is_chars(self):
        assert encode_word("abc", {}) == word_symbols("abc")
        assert encode("a b", {}) == ["a", "</w>", "b", "</w>"]

    def test_unknown_word_passes_through(self):
        ranks = merges_to_ranks(train_bpe(["low low"], 5))
        toks = encode_word("zzz", ranks)
        assert "".join(toks) == "zzz</w>"

    def test_empty_and_null(self):
        ranks = merges_to_ranks([("l", "o")])
        assert encode("", ranks) == []
        assert encode(None, ranks) == []

    def test_cache_transparent(self):
        corpus = ["spark spark shuffle shuffle shuffle partition"]
        ranks = merges_to_ranks(train_bpe(corpus, 15))
        cache: dict = {}
        t = "shuffle partition spark shuffle unknownword"
        assert encode(t, ranks, cache) == encode(t, ranks)
        assert encode(t, ranks, cache) == encode(t, ranks)  # warm hit

    def test_tokens_roundtrip_text(self):
        """Concatenating tokens (with </w> -> space) reconstructs the
        pre-tokenized text: BPE is lossless."""
        corpus = ["merge batch window order", "batch batch window"]
        ranks = merges_to_ranks(train_bpe(corpus, 25))
        t = "batch window merge order batch"
        joined = "".join(encode(t, ranks)).replace("</w>", " ").strip()
        assert joined == t


class TestBpeAssets:
    def test_assets_regenerate_bit_identical(self, spark):
        """The checked-in merges + expected counts regenerate exactly from
        the corpora — the golden artifact is reproducible, not hand-made.
        Counts cover BOTH oracle scales (hash-keyed: the sf0.001 and
        sf0.01 corpora have equal row counts but different texts)."""
        def texts(sf):
            return [
                r.text
                for r in spark.read.parquet(f"{sf}/documents.parquet")
                .select("doc_id", "text")
                .orderBy("doc_id")
                .collect()
            ]

        train = texts(SF_UNIT)
        extra = texts("/root/testdata/sf0.01")
        rebuilt = build_bpe_assets(train, train + extra)
        with open(_ASSETS_PATH) as f:
            stored = json.load(f)
        assert rebuilt["n_merges"] == stored["n_merges"] == BPE_N_MERGES
        assert rebuilt["merges"] == stored["merges"]
        assert rebuilt["expected_counts"] == stored["expected_counts"]


class TestBpeSparkKernel:
    def test_golden_agreement_with_pure_python(self, spark):
        """The Arrow-batched Spark kernel's token counts equal the
        pure-python encoder's document-for-document on the real corpus."""
        docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
        merges = load_bpe_assets()["merges"]
        ranks = merges_to_ranks(merges)
        got = {r.doc_id: r.n_tokens for r in bpe_token_counts(docs).collect()}
        want = {
            r.doc_id: len(encode(r.text, ranks))
            for r in docs.select("doc_id", "text").collect()
        }
        assert got == want

    def test_counts_match_encode_and_partitioning_invariant(self, spark):
        docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
        base = {r.doc_id: r.n_tokens for r in bpe_token_counts(docs).collect()}
        ranks = merges_to_ranks(load_bpe_assets()["merges"])
        assert base == {
            r.doc_id: len(encode(r.text, ranks))
            for r in docs.select("doc_id", "text").collect()
        }
        shuffled = docs.repartition(16, F.rand(seed=7))
        again = {r.doc_id: r.n_tokens for r in bpe_token_counts(shuffled).collect()}
        assert again == base

    def test_dataprep_carries_real_bpe_column(self, spark):
        from mehari_spark.plans.dataprep import curate_documents

        docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet").limit(60)
        verdict = curate_documents(docs)
        assert "n_bpe_real" in verdict.columns
        got = {r.doc_id: r.n_bpe_real for r in
               verdict.select("doc_id", "n_bpe_real").collect()}
        want = {r.doc_id: r.n_tokens for r in bpe_token_counts(docs).collect()}
        assert got == want
