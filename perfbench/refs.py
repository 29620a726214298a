"""Output checks that share no code with the engine under test.

- Sparse KG: every token window up to the longest alias is looked up in a
  dict of alias tuples (no automaton); the hits found for a turn are then
  resolved by ``datagen.reference_triples``, the pure-Python golden rule.
- Coreference: a union-find over the reference triples' entity edges.
- Stream: the current-state snapshot and degree view recomputed by a full
  scan in plain Python.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

from mehari_spark.datagen import Turn, reference_triples
from mehari_spark.dictionary import DictPattern


def window_reference_triples(
    turns: list[tuple[str, int, str]], patterns: list[DictPattern]
) -> set[tuple[str, int, int, int, int]]:
    """Golden (conv_id, turn_idx, subj, pred, obj) for ``turns``."""
    index: dict[tuple[str, ...], list[DictPattern]] = defaultdict(list)
    for p in patterns:
        index[p.tokens].append(p)
    max_len = max(len(p.tokens) for p in patterns)
    golden: set[tuple[str, int, int, int, int]] = set()
    for conv, turn_idx, text in turns:
        toks = text.split(" ") if text else []
        found: dict[DictPattern, None] = {}
        for i in range(len(toks)):
            for L in range(1, min(max_len, len(toks) - i) + 1):
                for p in index.get(tuple(toks[i : i + L]), ()):
                    found[p] = None
        if found:
            # only patterns present in the turn can hit, so the golden
            # extractor's naive scan over them equals a full-dictionary scan
            turn = Turn(conv, turn_idx, "", text, None, None)
            golden |= reference_triples([turn], list(found))
    return golden


def union_find_clusters(
    triples: set[tuple[str, int, int, int, int]],
) -> set[tuple[str, int, int]]:
    """(conv_id, entity_id, cluster_id = min entity of its component) for
    every entity on an edge subj != obj."""
    parent: dict[tuple[str, int], tuple[str, int]] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for conv, _turn, subj, _pred, obj in triples:
        if subj == obj:
            continue
        ra, rb = find((conv, subj)), find((conv, obj))
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {(conv, ent, find((conv, ent))[1]) for conv, ent in parent}


def current_state(
    triples_ts: list[tuple[int, int, int, int, str, int]],
) -> set[tuple[int, int, int, int]]:
    """Latest assertion per (subj, pred) from (subj, pred, obj, ts_epoch,
    conv_id, turn_idx) rows; ties broken by (ts, conv, turn, obj)."""
    best: dict[tuple[int, int], tuple] = {}
    for subj, pred, obj, ts, conv, turn in triples_ts:
        key = (ts, conv, turn, obj)
        cur = best.get((subj, pred))
        if cur is None or key > cur:
            best[(subj, pred)] = key
    return {(s, p, k[3], k[0]) for (s, p), k in best.items()}


def degrees(current: set[tuple[int, int, int, int]]) -> dict[int, tuple[int, int]]:
    """entity -> (out_degree, in_degree) over current-state triples."""
    out: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    for subj, _pred, obj, _ts in current:
        out[subj][0] += 1
        out[obj][1] += 1
    return {k: (v[0], v[1]) for k, v in out.items()}


def ids_digest(ids) -> str:
    h = hashlib.sha256()
    for i in sorted(ids):
        h.update(f"{i}\n".encode())
    return h.hexdigest()
