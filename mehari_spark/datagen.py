"""Deterministic synthetic transcripts + golden triples (FIXTURES.md §1/§4).

Mehari's correctness anchor is golden outputs from an external reference
implementation (clinvar.excerpt.vep.tsv etc., SURVEY.md §5). Ours: a seeded
generator plants dictionary mentions into turn text, and an independent
pure-Python reference extractor (``reference_triples``) computes the golden
(subj, pred, obj) set. The Spark engine must reproduce it at P/R >= 0.95
(it reproduces it exactly — the margin is headroom for future fuzzier rules).

Everything is a pure function of (seed, n_convs, ...): no wall clock, no
global state.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import datetime, timedelta

from .dictionary import DictPattern

# test dictionary: includes a multi-token alias and an ambiguous surface
TEST_ENTITIES: list[tuple[str, int]] = [
    ("alice", 1),
    ("bob", 2),
    ("carol", 3),
    ("apache spark", 4),
    ("spark", 4),  # alias of the same entity (multi-token + short form)
    ("kafka", 5),
    ("flink", 6),
]
TEST_PREDICATES: list[tuple[str, int, int, int]] = [
    # (surface, pred_id, rank, canon_id)
    ("uses", 201, 1, 201),
    ("employs", 202, 2, 201),  # umbrella rewrite -> uses
    ("asks", 203, 3, 203),
    ("builds", 204, 4, 204),
]
DISTRACTORS = ["hello", "please", "thanks", "today", "report", "x1", "x2", "zz"]


def fixture_patterns() -> list[DictPattern]:
    pats = [
        DictPattern(tuple(a.split(" ")), "E", eid, eid, 0) for a, eid in TEST_ENTITIES
    ]
    pats += [
        DictPattern((s,), "P", pid, canon, rank)
        for s, pid, rank, canon in TEST_PREDICATES
    ]
    return pats


@dataclass(frozen=True)
class Turn:
    conv_id: str
    turn_idx: int
    role: str
    text: str
    tool: str | None
    ts: datetime


def synth_transcripts(
    seed: int = 42,
    n_convs: int = 20,
    turns_per_conv: int = 10,
    hot_convs: int = 1,
    hot_factor: int = 10,
) -> list[Turn]:
    """Plant E-P-E patterns among distractor tokens. ``hot_convs`` get
    hot_factor x turns (the skew fixture)."""
    rng = random.Random(seed)
    base = datetime(2024, 1, 1)
    turns: list[Turn] = []
    ent_surfaces = [a for a, _ in TEST_ENTITIES]
    pred_surfaces = [s for s, _p, _r, _c in TEST_PREDICATES]
    for ci in range(n_convs):
        conv_id = f"tconv_{ci:05d}"
        n_turns = turns_per_conv * (hot_factor if ci < hot_convs else 1)
        for ti in range(n_turns):
            words: list[str] = []
            # 1-3 planted patterns per turn, separated by distractors
            for _ in range(rng.randint(1, 3)):
                words += rng.sample(DISTRACTORS, k=rng.randint(0, 2))
                words += ent_surfaces[rng.randrange(len(ent_surfaces))].split(" ")
                words.append(pred_surfaces[rng.randrange(len(pred_surfaces))])
                words += ent_surfaces[rng.randrange(len(ent_surfaces))].split(" ")
            words += rng.sample(DISTRACTORS, k=rng.randint(0, 2))
            turns.append(
                Turn(
                    conv_id=conv_id,
                    turn_idx=ti,
                    role=("user", "assistant", "tool")[ti % 3],
                    text=" ".join(words),
                    tool="search" if ti % 3 == 2 else None,
                    ts=base + timedelta(hours=ci, minutes=ti),
                )
            )
    return turns


# --- independent pure-Python reference extractor (the golden oracle) -------


def _scan_tokens(tokens: list[str], patterns: list[DictPattern]):
    """Naive O(n*m) dictionary scan — deliberately independent of the
    matching kernel under test."""
    hits = []
    for p in patterns:
        L = len(p.tokens)
        for i in range(len(tokens) - L + 1):
            if tuple(tokens[i : i + L]) == p.tokens:
                hits.append((i, L, p))
    return hits


def reference_triples(
    turns: list[Turn], patterns: list[DictPattern]
) -> set[tuple[str, int, int, int, int]]:
    """Golden (conv_id, turn_idx, subj, pred, obj) per the reference rule:
    nearest entity before/after each predicate, longest-mention overlap
    resolution, best (min rank) predicate per (subj, obj) group."""
    golden: set[tuple[str, int, int, int, int]] = set()
    for t in turns:
        toks = t.text.split(" ") if t.text else []
        hits = _scan_tokens(toks, patterns)
        ents = sorted(
            [(i, L, p) for (i, L, p) in hits if p.kind == "E"],
            key=lambda x: (x[0], -x[1], x[2].ref_id),
        )
        # overlap resolution: longest-then-leftmost (resolve_overlaps analog)
        kept_ents = []
        prev_end = -1
        best_at: dict[int, tuple[int, int, DictPattern]] = {}
        for i, L, p in ents:
            if i not in best_at:  # longest first due to sort key
                best_at[i] = (i, L, p)
        for i in sorted(best_at):
            s, L, p = best_at[i]
            if s + L > prev_end:
                kept_ents.append((s, L, p))
                prev_end = max(prev_end, s + L)
        preds = [(i, p) for (i, L, p) in hits if p.kind == "P"]
        cand = []
        for pi, pp in preds:
            before = [e for e in kept_ents if e[0] < pi]
            after = [e for e in kept_ents if e[0] > pi]
            if before and after:
                subj = max(before, key=lambda e: e[0])[2].ref_id
                obj = min(after, key=lambda e: e[0])[2].ref_id
                cand.append((subj, obj, pp.rank, pp.canon_id, pi))
        best: dict[tuple[int, int], tuple[int, int, int]] = {}
        for subj, obj, rank, canon, pi in cand:
            key = (subj, obj)
            cur = best.get(key)
            if cur is None or (rank, canon, pi) < cur:
                best[key] = (rank, canon, pi)
        for (subj, obj), (_r, canon, _pi) in best.items():
            golden.add((t.conv_id, t.turn_idx, subj, canon, obj))
    return golden


def big_dictionary(
    vocab: list[str],
    n_aliases: int,
    seed: int = 13,
    predicates: list[tuple[str, int, int, int]] | None = None,
) -> list[DictPattern]:
    """Deterministic large multi-token dictionary at scale
    (mehari's dictionary is ~250k transcripts, txs.proto:220-229).

    Aliases are 2/3/4-token sequences over ``vocab`` — heavily ambiguous
    (every 2-combo is a prefix of many 3-combos, so shared trie prefixes
    and multi-output states are exercised constantly) and guaranteed to HIT in
    text drawn from the same vocabulary. 4-token combos are hash-thinned
    to land exactly at n_aliases. Entity ids are the enumeration index; a
    small single-token predicate set rides along so triples still form.
    """
    from itertools import product

    pats: list[DictPattern] = []
    eid = 10_000  # clear of demo/fixture id spaces
    for L in (2, 3):
        for combo in product(vocab, repeat=L):
            if len(pats) >= n_aliases:
                break
            pats.append(DictPattern(tuple(combo), "E", eid, eid, 0))
            eid += 1
    if len(pats) < n_aliases:
        need = n_aliases - len(pats)
        total4 = len(vocab) ** 4
        keep_mod = max(1, total4 // need)
        h = seed
        for combo in product(vocab, repeat=4):
            # cheap deterministic LCG over the enumeration index
            h = (h * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            if h % keep_mod == 0:
                pats.append(DictPattern(tuple(combo), "E", eid, eid, 0))
                eid += 1
                if len(pats) >= n_aliases:
                    break
    preds = predicates or [
        ("uses", 201, 1, 201),
        ("asks", 203, 3, 203),
        ("builds", 204, 4, 204),
    ]
    pats += [
        DictPattern((s,), "P", pid, canon, rank) for s, pid, rank, canon in preds
    ]
    return pats


def reference_compounds(
    golden: set[tuple[str, int, int, int, int]], min_parts: int = 2
) -> set[tuple]:
    """Pure-Python golden for the compound synthetic-record fold
    (predict_multiple analog): group golden triples by (conv, subj); groups
    with >= min_parts distinct (pred, obj) parts emit one merged record
    (conv, subj, 1000, n_parts, min_obj, max_obj, first_turn, last_turn,
    min_pred)."""
    groups: dict[tuple[str, int], list[tuple[int, int, int]]] = {}
    for conv, turn, subj, pred, obj in golden:
        groups.setdefault((conv, subj), []).append((pred, obj, turn))
    out: set[tuple] = set()
    for (conv, subj), parts in groups.items():
        distinct = {(p, o) for p, o, _t in parts}
        if len(distinct) < min_parts:
            continue
        turns_ = [t for _p, _o, t in parts]
        out.add(
            (
                conv,
                subj,
                1000,
                len(distinct),
                min(o for _p, o in distinct),
                max(o for _p, o in distinct),
                min(turns_),
                max(turns_),
                min(p for p, _o in distinct),
            )
        )
    return out


def turns_df(spark, turns: list[Turn]):
    from .schemas import TRANSCRIPTS_SCHEMA

    return spark.createDataFrame(
        [(t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts) for t in turns],
        TRANSCRIPTS_SCHEMA,
    )


# ---------------------------------------------------------------------------
# BPE tokenizer assets (kernels/bpe.py): trained merges + expected per-doc
# token counts, stored under mehari_spark/resources/ and regenerated +
# compared in tests (reproducibility gate).
# ---------------------------------------------------------------------------

BPE_N_MERGES = 80  # leaves the longer corpus words multi-token (non-trivial)


def build_bpe_assets(
    train_texts: list[str | None], count_texts: list[str | None]
) -> dict:
    """Train the merges table on ``train_texts`` (the sf0.001 corpus) and
    precompute expected token counts keyed by md5(text) over
    ``count_texts`` (the sf0.001 + sf0.01 union) — the checked-in golden
    artifact backing the doc_bpe_real_tokens oracle. Hash-keyed because
    the two oracle scales have the same ROW COUNT (500) but different
    TEXTS; joining the oracle VALUES on md5(text) makes one asset valid
    at both scales (and exact duplicates collapse to one entry)."""
    import hashlib

    from .kernels.bpe import merges_to_ranks, token_count, train_bpe

    merges = train_bpe(train_texts, BPE_N_MERGES)
    ranks = merges_to_ranks(merges)
    cache: dict = {}
    by_hash: dict[str, int] = {}
    for t in count_texts:
        h = hashlib.md5((t or "").encode()).hexdigest()
        by_hash[h] = token_count(t, ranks, cache)
    counts = [
        {"text_md5": h, "n_tokens": n} for h, n in sorted(by_hash.items())
    ]
    return {
        "n_merges": BPE_N_MERGES,
        "merges": [list(m) for m in merges],
        "expected_counts": counts,
    }
