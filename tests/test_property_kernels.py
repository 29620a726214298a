"""Property-based kernel tests (hypothesis): the AC automaton and the
Arrow-batch matching kernel against a naive scanner and the golden triple
extractor, union-find against brute-force reachability, minhash
determinism — randomized analogs of mehari's key round-trip properties
(keys.rs:207-280)."""

from __future__ import annotations

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from mehari_spark.datagen import Turn, reference_triples
from mehari_spark.dictionary import DictPattern
from mehari_spark.kernels.ahocorasick import TokenAhoCorasick
from mehari_spark.kernels.dictmatch import compile_table, match, tokenize, triple_batch
from mehari_spark.kernels.minhash import hash_tokens, minhash_signature, perm_params
from mehari_spark.kernels.unionfind import connected_components

TOKENS = st.sampled_from(["a", "b", "c", "d", "ab", "x"])


def naive_scan(tokens, patterns):
    out = []
    for pid, pat in enumerate(patterns):
        L = len(pat)
        for i in range(len(tokens) - L + 1):
            if tuple(tokens[i : i + L]) == pat:
                out.append((i, L, pid))
    return sorted(out)


@settings(max_examples=200, deadline=None)
@given(
    text=st.lists(TOKENS, max_size=40),
    pats=st.lists(
        st.lists(TOKENS, min_size=1, max_size=3).map(tuple),
        min_size=1,
        max_size=8,
        unique=True,
    ),
)
def test_ac_equals_naive(text, pats):
    ac = TokenAhoCorasick([(p, i) for i, p in enumerate(pats)])
    got = sorted((s, l, pid) for s, l, pid in ac.scan(text))
    assert got == naive_scan(text, pats)
    table = compile_table([DictPattern(p, "E", i, i, 0) for i, p in enumerate(pats)])
    raw = match(table, tokenize(pa.array([" ".join(text)]), table))
    assert sorted(zip(*(a.tolist() for a in raw))) == naive_scan(text, pats)


# a 3-token alphabet makes shared surfaces, suffix-contained aliases and
# dense hits likely
ABC = st.sampled_from(["a", "b", "c"])


@settings(max_examples=300, deadline=None)
@given(
    turns=st.lists(st.lists(ABC, max_size=12), max_size=6),
    pats=st.lists(
        st.tuples(
            st.lists(ABC, min_size=1, max_size=3).map(tuple),
            st.sampled_from("EP"),
            st.integers(0, 5),
            st.integers(0, 3),
        ),
        min_size=1,
        max_size=10,
    ),
)
def test_triple_batch_equals_golden(turns, pats):
    # shared surfaces across and within kinds, duplicate ids, contained and
    # co-located spans: the batch kernel must give the golden triples
    dictionary = [DictPattern(t, k, i, i + 10 * (k == "P"), r) for t, k, i, r in pats]
    texts = [" ".join(toks) for toks in turns]
    batch = pa.RecordBatch.from_pydict(
        {"conv_id": ["c"] * len(texts), "turn_idx": list(range(len(texts))), "text": texts},
        schema=pa.schema(
            [("conv_id", pa.string()), ("turn_idx", pa.int32()), ("text", pa.string())]
        ),
    )
    got = {
        (r["conv_id"], r["turn_idx"], r["subj_id"], r["pred_id"], r["obj_id"])
        for r in triple_batch(batch, compile_table(dictionary)).to_pylist()
    }
    golden = reference_triples(
        [Turn("c", i, "user", t, None, None) for i, t in enumerate(texts)], dictionary
    )
    assert got == golden


@settings(max_examples=100, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)), max_size=60
    )
)
def test_unionfind_equals_reachability(edges):
    comp = connected_components(edges)
    # brute-force reachability labels
    nodes = {n for e in edges for n in e}
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    seen: dict[int, int] = {}
    for start in sorted(nodes):
        if start in seen:
            continue
        stack, grp = [start], []
        while stack:
            n = stack.pop()
            if n in seen:
                continue
            seen[n] = start
            grp.append(n)
            stack.extend(adj[n] - seen.keys())
    assert comp == seen


@settings(max_examples=50, deadline=None)
@given(toks=st.lists(st.text(min_size=1, max_size=6), min_size=0, max_size=50))
def test_minhash_deterministic_and_permutation_invariant(toks):
    a, b = perm_params(32, seed=1)
    s1 = minhash_signature(hash_tokens(sorted(set(toks))), a, b)
    s2 = minhash_signature(hash_tokens(sorted(set(reversed(toks)))), a, b)
    assert (s1 == s2).all()  # signature depends on the SET only


@settings(max_examples=300, deadline=None)
@given(seed=st.integers(0, 10**9))
def test_wav_codec_roundtrip_any_seed(seed):
    # decoder(encoder(seed)) recovers the generator's parameters exactly,
    # whatever bytes the PCM payload happens to contain
    from mehari_spark.operators.multimodal import _parse_wav, synth_wav_bytes

    parsed = _parse_wav(synth_wav_bytes(seed))
    assert parsed is not None
    sr, n, dur, rms = parsed
    assert sr == 8000
    assert n == 800 + (seed % 5) * 80
    assert dur == n * 1000 // 8000
    assert 340 <= rms <= 360  # sine RMS ~ 0.5/sqrt(2) regardless of freq


@settings(max_examples=300, deadline=None)
@given(seed=st.integers(0, 10**9))
def test_ppm_codec_roundtrip_any_seed(seed):
    # header parsing must survive raster bytes that look like whitespace
    # or header characters ('P', '#', digits) at any position
    from mehari_spark.operators.multimodal import _parse_ppm, synth_ppm_bytes

    parsed = _parse_ppm(synth_ppm_bytes(seed))
    assert parsed is not None
    w, h, _r, _g, _b = parsed
    assert (w, h) == (8 + seed % 16, 6 + seed % 10)
