"""Pure-kernel unit tests (no Spark) — mehari's kernel-test layer
(keys.rs:207-280, binning tests mod.rs:1760-1770)."""

from __future__ import annotations

import numpy as np

from mehari_spark.kernels.ahocorasick import TokenAhoCorasick
from mehari_spark.kernels.fingerprint import fingerprint, rolling_hashes, winnow
from mehari_spark.kernels.minhash import (
    band_keys,
    hash_tokens,
    minhash_signature,
    perm_params,
    shingles,
)
from mehari_spark.kernels.normalize import normalize_surface, normalize_token
from mehari_spark.kernels.simhash import hamming64, simhash64, simhash_chunks
from mehari_spark.kernels.unionfind import UnionFind, connected_components


class TestAhoCorasick:
    def test_single_token(self):
        ac = TokenAhoCorasick([(("spark",), "E1"), (("join",), "P1")])
        toks = "spark will join the spark table".split()
        got = sorted(ac.scan(toks))
        assert got == [(0, 1, "E1"), (2, 1, "P1"), (4, 1, "E1")]

    def test_multi_token_and_overlap(self):
        ac = TokenAhoCorasick(
            [(("apache", "spark"), "E1"), (("spark",), "E2"), (("spark", "sql"), "E3")]
        )
        toks = "apache spark sql".split()
        got = sorted(ac.scan(toks))
        # all three overlapping patterns must be reported
        assert got == [(0, 2, "E1"), (1, 1, "E2"), (1, 2, "E3")]

    def test_failure_links_cross_pattern(self):
        # suffix of one pattern is prefix of another: a b c vs b c d
        ac = TokenAhoCorasick([(("a", "b", "c"), 1), (("b", "c", "d"), 2)])
        got = sorted(ac.scan("a b c d".split()))
        assert got == [(0, 3, 1), (1, 3, 2)]

    def test_empty(self):
        ac = TokenAhoCorasick([(("x",), 1)])
        assert ac.scan([]) == []


class TestNormalize:
    def test_token(self):
        assert normalize_token("Hello!") == "hello"
        assert normalize_token("--x--") == "x"

    def test_surface(self):
        assert normalize_surface("  Apache   SPARK! ") == "apache spark"


class TestUnionFind:
    def test_components_min_label(self):
        comp = connected_components([(3, 1), (1, 2), (10, 11)])
        assert comp[1] == comp[2] == comp[3] == 1
        assert comp[10] == comp[11] == 10

    def test_chain_order_independent(self):
        a = connected_components([(5, 4), (4, 3), (3, 2), (2, 1)])
        b = connected_components([(1, 2), (3, 2), (4, 3), (5, 4)])
        assert a == {k: 1 for k in a}
        assert b == {k: 1 for k in b}

    def test_path_compression_idempotent(self):
        uf = UnionFind()
        uf.union(7, 9)
        uf.union(9, 8)
        assert uf.find(8) == 7 and uf.find(9) == 7


class TestMinHash:
    def test_signature_deterministic(self):
        a, b = perm_params(32, seed=42)
        h = hash_tokens(["alpha", "beta", "gamma"])
        s1 = minhash_signature(h, a, b)
        s2 = minhash_signature(hash_tokens(["alpha", "beta", "gamma"]), a, b)
        assert np.array_equal(s1, s2)

    def test_jaccard_estimate(self):
        a, b = perm_params(256, seed=42)
        t1 = [f"tok{i}" for i in range(100)]
        t2 = [f"tok{i}" for i in range(50, 150)]  # true jaccard = 50/150
        s1 = minhash_signature(hash_tokens(t1), a, b)
        s2 = minhash_signature(hash_tokens(t2), a, b)
        est = (s1 == s2).mean()
        assert abs(est - 1 / 3) < 0.12

    def test_band_collision(self):
        a, b = perm_params(64, seed=42)
        s1 = minhash_signature(hash_tokens([f"t{i}" for i in range(40)]), a, b)
        s2 = minhash_signature(
            hash_tokens([f"t{i}" for i in range(40)] + ["x"]), a, b
        )
        k1, k2 = band_keys(s1, 16), band_keys(s2, 16)
        assert any(x == y for x, y in zip(k1, k2))  # near-dup collides
        assert band_keys(s1, 16) == band_keys(s1, 16)

    def test_shingles(self):
        assert shingles("abcd", 3) == ["abc", "bcd"]
        assert shingles("ab", 3) == ["ab"]


class TestSimHash:
    def test_near_dup_small_hamming(self):
        t1 = [f"w{i}" for i in range(64)]
        t2 = t1[:-1] + ["zzz"]
        d = hamming64(simhash64(t1), simhash64(t2))
        assert d <= 12
        far = hamming64(simhash64(t1), simhash64([f"q{i}" for i in range(64)]))
        assert far > d

    def test_chunks_cover(self):
        fp = simhash64(["a", "b", "c"])
        chunks = simhash_chunks(fp, 4)
        rebuilt = 0
        for i, v in chunks:
            rebuilt |= v << (i * 16)
        assert rebuilt == fp


class TestFingerprint:
    def test_rolling_window_count(self):
        hs = rolling_hashes("abcdefgh", k=3)
        assert len(hs) == 6
        # same k-gram -> same hash
        assert rolling_hashes("xxabcxx", 3)[2] == rolling_hashes("abc", 3)[0]

    def test_winnow_dedups(self):
        assert winnow([5, 4, 3, 3, 3, 9], w=3) == [3]

    def test_fingerprint_shift_invariant_core(self):
        f1 = set(fingerprint("the quick brown fox jumps over", k=4, w=3))
        f2 = set(fingerprint("PREFIX the quick brown fox jumps over", k=4, w=3))
        assert len(f1 & f2) >= len(f1) // 2
