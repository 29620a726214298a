"""Property-based kernel tests (hypothesis): the AC automaton and the
Arrow-batch matching kernel against a naive scanner and the golden triple
extractor, union-find against brute-force reachability, the numpy
components kernel against union-find, minhash determinism — randomized analogs of mehari's key round-trip properties
(keys.rs:207-280)."""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from mehari_spark.datagen import Turn, reference_triples
from mehari_spark.dictionary import DictPattern
from mehari_spark.kernels.ahocorasick import TokenAhoCorasick
from mehari_spark.kernels.components import (
    cluster_batch,
    components,
    min_label,
    number_nodes,
)
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


# few distinct ids, so duplicate edges and shared components are likely;
# the int64 extremes and negative ids sort at the ends of a group
IDS = st.sampled_from([-(2**63), 2**63 - 1, -(2**40), -3, -1, 0, 1, 2, 5, 2**40])


def _union_find_per_group(groups: list[list[tuple[int, int]]]) -> dict:
    return {
        (g, node): label
        for g, edges in enumerate(groups)
        for node, label in connected_components(edges).items()
    }


@settings(max_examples=300, deadline=None)
@given(
    groups=st.lists(st.lists(st.tuples(IDS, IDS), max_size=12), max_size=6),
    lo=st.integers(0, 3),
    hi=st.integers(0, 3),
)
def test_components_equal_union_find_per_group(groups, lo, hi):
    """Duplicate edges, empty groups and self-loops, by both the flat kernel
    and the list-column batch function on a batch sliced out of a larger
    one (list offsets that do not start at zero)."""
    g = np.array([i for i, es in enumerate(groups) for _ in es], dtype=np.int64)
    u = np.array([a for es in groups for a, _ in es], dtype=np.int64)
    v = np.array([b for es in groups for _, b in es], dtype=np.int64)
    want = _union_find_per_group(groups)
    node_group, node, label = components(g, u, v)
    assert dict(zip(zip(node_group.tolist(), node.tolist()), label.tolist())) == want

    # pad with lo leading and hi trailing conversations, then slice them off
    pad = [[(7, 8), (8, 9)]]
    lists = pad * lo + groups + pad * hi
    src = pa.array([[a for a, _ in es] for es in lists], pa.list_(pa.int64()))
    dst = pa.array([[b for _, b in es] for es in lists], pa.list_(pa.int64()))
    conv = pa.array([f"c{i - lo}" for i in range(len(lists))])
    batch = pa.RecordBatch.from_arrays([conv, src, dst], ["conv_id", "src", "dst"])
    out = cluster_batch(batch.slice(lo, len(groups)))
    got = {
        (int(r["conv_id"][1:]), r["entity_id"]): r["cluster_id"]
        for r in out.to_pylist()
    }
    assert len(got) == out.num_rows
    assert got == want


def test_min_label_rounds_logarithmic_on_shuffled_path():
    n = 100_000
    path = np.random.default_rng(0).permutation(n).astype(np.int64)
    _, node, a, b = number_nodes(np.zeros(n - 1, np.int64), path[:-1], path[1:])
    label, rounds = min_label(len(node), a, b)
    assert (label == 0).all()
    assert rounds <= 2 * math.ceil(math.log2(n)), rounds


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


N_T, N_E = 3, 2  # an entity bucket is not the triples bucket mod 2


def _stage_batches(convs, loops, rnd, n_batches) -> tuple[list[pa.RecordBatch], list]:
    """Tagged triple rows of the conversations, shuffled and cut into
    ``n_batches`` batches (some may be empty); conversation ``i`` has
    triples bucket ``i % N_T`` (null when committed) and entity bucket
    ``i % N_E`` (null when committed). ``loops`` adds a conversation of
    self-loops only."""
    rows = []
    groups = list(convs) + ([([(x, x) for x in loops], False, False)] if loops else [])
    for i, (edges, t_done, e_done) in enumerate(groups):
        for s, o in edges:
            tb = None if t_done else i % N_T
            eb = None if e_done else i % N_E
            rows.append((f"c{i}", len(rows), s, 7, o, tb, eb))
    rnd.shuffle(rows)
    cuts = sorted(rnd.randint(0, len(rows)) for _ in range(n_batches - 1))
    names = ["conv_id", "turn_idx", "subj_id", "pred_id", "obj_id", "_tb", "_eb"]
    types = [pa.string(), pa.int32(), pa.int64(), pa.int64(), pa.int64(), pa.int32(), pa.int32()]
    batches = [
        pa.RecordBatch.from_arrays(
            [pa.array([r[k] for r in chunk], t) for k, t in enumerate(types)], names=names
        )
        for chunk in (rows[a:b] for a, b in zip([0] + cuts, cuts + [len(rows)]))
    ]
    return batches, rows


@settings(max_examples=60, deadline=None)
@given(
    convs=st.lists(
        st.tuples(st.lists(st.tuples(IDS, IDS), max_size=8), st.booleans(), st.booleans()),
        max_size=5,
    ),
    loops=st.lists(IDS, max_size=3),
    rnd=st.randoms(use_true_random=False),
    n_batches=st.integers(1, 4),
)
def test_stage_partition_publishes_each_row_once(convs, loops, rnd, n_batches):
    """The staging kernel over one partition, whatever its batch cut and
    row order: the published triples buckets hold exactly their input
    rows, the entity buckets the union-find clusters, freq_kb the subject
    counts of every row, and a second attempt's files are never
    published."""
    import glob
    import os
    import tempfile
    from collections import Counter

    import pyarrow.parquet as pq

    from mehari_spark.kernels.stage import Staging, stage_partition
    from mehari_spark.plans.pipeline import FREQ_SPARK_SCHEMA, publish_freq, publish_manifest

    batches, rows = _stage_batches(convs, loops, rnd, n_batches)
    with tempfile.TemporaryDirectory() as root:
        t_dir, e_dir = os.path.join(root, "triples"), os.path.join(root, "entities")
        staging = Staging(
            triples=os.path.join(t_dir, "_staging_write_t"),
            entities=os.path.join(e_dir, "_staging_write_e"),
            freq=os.path.join(root, "_staging_freq_f"),
            columns=("conv_id", "turn_idx", "subj_id", "pred_id", "obj_id"),
            spark_schemas={"triples": "{}", "entities": "{}", "freq_kb": FREQ_SPARK_SCHEMA.json()},
        )
        first = stage_partition(iter(batches), staging, "00000-1").to_pylist()
        stage_partition(iter(batches), staging, "00000-2")  # a second attempt
        publish_manifest(first, "triples", t_dir, staging.triples, "r", list(range(N_T)), N_T)
        publish_manifest(first, "entities", e_dir, staging.entities, "r", list(range(N_E)), N_E)
        publish_freq(first, staging.freq, os.path.join(root, "freq_kb"))

        published = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        assert all("00000-1" in p or "freq_kb" in p for p in published)
        assert not [p for p in published if "00000-2" in p or "_staging" in p]

        def read(table_dir, b):
            files = glob.glob(os.path.join(table_dir, f"bucket={b}", "*.parquet"))
            return [tuple(r.values()) for f in files for r in pq.read_table(f).to_pylist()]

        for b in range(N_T):
            want = sorted(r[:5] for r in rows if r[5] == b)
            assert sorted(read(t_dir, b)) == want
        want_clusters = {
            (f"c{i}", node): label
            for i, (edges, _t, e_done) in enumerate(convs)
            if not e_done
            for node, label in connected_components([e for e in edges if e[0] != e[1]]).items()
        }
        got = {}
        for b in range(N_E):
            for conv, node, label in read(e_dir, b):
                assert int(conv[1:]) % N_E == b
                got[(conv, node)] = label
        assert got == want_clusters
        freq = pq.read_table(os.path.join(root, "freq_kb")).to_pylist()
        assert {r["subj_id"]: r["subj_freq"] for r in freq} == Counter(r[2] for r in rows)
        assert len(freq) == len({r[2] for r in rows})
