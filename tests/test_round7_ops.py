"""Round-7 fixes: curation edge-case guards (ADVICE r6)."""

from __future__ import annotations


class TestCurationAdviceFixes:
    def test_shard_packing_empty_input(self, spark):
        """ADVICE r6: bucket_span=None on an empty corpus must return an
        empty result, not TypeError on int(None)."""
        from mehari_spark.operators.curation import shard_packing

        empty = spark.createDataFrame(
            [], "doc_id long, lang string, text string"
        )
        assert shard_packing(empty).count() == 0

    def test_frac_hex_ceiling_clamped(self):
        """ADVICE r6: a fractional part rounding to 1.0 must emit an
        8-char threshold keeping ~everything, not a 9-char literal that
        string-compare keeps only '0'-prefixed hashes (~6%)."""
        from mehari_spark.operators.curation import _frac_hex

        t = _frac_hex(1 - 1e-12)
        assert len(t) == 8 and t == "ffffffff"
        assert _frac_hex(0.0) == "00000000"
        # keep rate under the clamped threshold is ~1, not ~1/16
        kept = sum(1 for i in range(1000) if format(i, "08x") < t)
        assert kept == 1000

    def test_mixture_sample_near_one_fraction(self, spark):
        """End-to-end: weight 1.9999999999999 must keep ~2 epochs worth,
        not 1 + ~6% of the second."""
        from mehari_spark.operators.curation import mixture_sample

        docs = spark.createDataFrame(
            [(i, "en") for i in range(200)], "doc_id long, lang string"
        )
        out = mixture_sample(docs, {"en": 1.9999999999999})
        n = out.count()
        assert n >= 395  # ~400; only the all-f md5 prefix can drop
