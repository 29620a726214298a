"""Pure-kernel unit tests (no Spark) — mehari's kernel-test layer
(keys.rs:207-280, binning tests mod.rs:1760-1770)."""

from __future__ import annotations

import numpy as np

from mehari_spark.kernels import minhash
from mehari_spark.kernels.ahocorasick import TokenAhoCorasick
from mehari_spark.kernels.fingerprint import fingerprint, rolling_hashes, winnow
from mehari_spark.kernels.minhash import (
    band_keys,
    hash_tokens,
    minhash_signature,
    perm_params,
    shingles,
    signatures_batch,
)
from mehari_spark.kernels.simhash import simhash64
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

    def test_signatures_batch_segments_bit_identical(self, monkeypatch):
        """Document-aligned segmenting never changes a signature: the
        batch crosses the default ~1M-token budget (and much smaller
        ones, a document longer than the budget included), with empty
        documents at the start, the middle, a segment edge and the end."""
        a, b = perm_params(4, seed=7)
        rng = np.random.default_rng(3)
        vocab = [f"w{i}" for i in range(5000)]
        memo = dict(zip(vocab, hash_tokens(vocab).tolist()))
        lens = rng.integers(0, 1000, 2400)
        lens[[0, 7, 1200, 2399]] = 0
        tok_sets = [set(rng.choice(vocab, n, replace=True)) for n in lens]
        total = sum(len(t) for t in tok_sets)
        assert total > 1 << 20

        def unchunked(sets):  # the one-pass formula over the whole batch
            n_tok = np.array([len(t) for t in sets])
            th = np.array([memo[t] for s in sets for t in s], dtype=np.uint64)
            m = np.uint64((1 << 61) - 1)
            with np.errstate(over="ignore"):
                h = (a[:, None] * (th[None, :] & m) + b[:, None]) % m
            out = np.full((len(sets), len(a)), np.iinfo(np.uint64).max, np.uint64)
            starts = np.concatenate(([0], np.cumsum(n_tok)[:-1]))[n_tok > 0]
            out[n_tok > 0] = np.minimum.reduceat(h, starts, axis=1).T
            return out

        assert np.array_equal(signatures_batch(tok_sets, memo, a, b), unchunked(tok_sets))
        small = tok_sets[:60]
        want = unchunked(small)
        for budget in (1, 100, 999, 5000):
            monkeypatch.setattr(minhash, "_SEGMENT_TOKENS", budget)
            assert np.array_equal(signatures_batch(small, memo, a, b), want), budget

    def test_shingles(self):
        assert shingles("abcd", 3) == ["abc", "bcd"]
        assert shingles("ab", 3) == ["ab"]


class TestSimHash:
    def test_near_dup_small_hamming(self):
        t1 = [f"w{i}" for i in range(64)]
        t2 = t1[:-1] + ["zzz"]
        d = bin(simhash64(t1) ^ simhash64(t2)).count("1")
        assert d <= 12
        far = bin(simhash64(t1) ^ simhash64([f"q{i}" for i in range(64)])).count("1")
        assert far > d


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


def test_stage_partition_writes_one_row_group_per_bucket_file(tmp_path, monkeypatch):
    """Bucket slices are buffered into one row group per bucket file, not
    one per Arrow batch; past ROW_GROUP_ROWS a file splits into groups of
    at most that many rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mehari_spark.kernels import stage

    names = ["conv_id", "turn_idx", "subj_id", "pred_id", "obj_id", "_tb", "_eb"]
    types = [pa.string(), pa.int32(), pa.int64(), pa.int64(), pa.int64(), pa.int32(), pa.int32()]
    batches = [
        pa.RecordBatch.from_arrays(
            [
                pa.array([f"c{i}"] * 100, types[0]),
                pa.array(range(100), types[1]),
                pa.array(range(100), types[2]),
                pa.array([7] * 100, types[3]),
                pa.array(range(1, 101), types[4]),
                pa.array([r % 2 for r in range(100)], types[5]),
                pa.array([None] * 100, types[6]),
            ],
            names=names,
        )
        for i in range(5)
    ]
    staging = stage.Staging(
        triples=str(tmp_path / "t"), entities=None, freq=None,
        columns=tuple(names[:5]), spark_schemas={"triples": "{}"},
    )

    def groups(task):
        files = stage.stage_partition(iter(batches), staging, task).to_pylist()
        out = {}
        for m in files:
            md = pq.read_metadata(m["path"])
            assert md.num_rows == m["rows"] == 250
            out[m["bucket"]] = [md.row_group(g).num_rows for g in range(md.num_row_groups)]
        return out

    assert groups("00000-1") == {0: [250], 1: [250]}
    monkeypatch.setattr(stage, "ROW_GROUP_ROWS", 120)
    assert groups("00000-2") == {0: [100, 100, 50], 1: [100, 100, 50]}
