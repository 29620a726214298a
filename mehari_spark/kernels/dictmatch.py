"""Dictionary matching over Arrow batches: the one production matcher.

A dictionary compiles once into a ``MatchTable``: the distinct pattern
tokens (token id = index), a trie whose edges are the sorted keys
``parent_state * (V + 1) + token_id`` (``V`` = vocabulary size; id ``V``
marks a token outside the dictionary and has no edge), and a CSR table of
the patterns that end at each state. A batch of turns is then matched with
no per-row Python loop:

1. ``tokenize``: ``pyarrow.compute`` splits ``text`` on single spaces,
   flattens the lists and maps every token to its id with ``index_in``.
   Null and empty text give no tokens; empty tokens between double spaces
   are kept, exactly as ``str.split(" ")`` keeps them.
2. ``match``: one exact, level-by-level trie walk. Every token position
   starts a walk at the root; level ``d`` advances every live walk by the
   token at ``start + d`` with one ``searchsorted`` over the edge keys, and
   a walk dies at its row's end or at a missing edge. Each level reports
   the patterns ending at the reached states, so every pattern of every
   length is found at every position.
3. ``mention_batch`` and ``triple_batch`` turn the raw matches into mention
   rows or final triples in numpy over the whole batch.

Nothing here touches Spark: ``operators/mentions.py`` and
``operators/triples.py`` call the batch functions from ``mapInArrow``.
``kernels/ahocorasick.py`` is the per-turn reference automaton for tests.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# Arrow twins of schemas.MENTIONS_DDL and triples.TRIPLES_DDL
MENTION_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("kind", pa.string()),
        ("ref_id", pa.int64()),
        ("canon_id", pa.int64()),
        ("rank", pa.int32()),
        ("pos", pa.int32()),
        ("tok_len", pa.int32()),
        ("char_start", pa.int32()),
        ("char_end", pa.int32()),
    ]
)
TRIPLE_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("subj_id", pa.int64()),
        ("pred_id", pa.int64()),
        ("obj_id", pa.int64()),
        ("pred_pos", pa.int32()),
    ]
)


@dataclass(frozen=True)
class MatchTable:
    """A compiled dictionary. Payload arrays are indexed by pattern."""

    vocab: pa.Array  # distinct pattern tokens
    edge_key: np.ndarray  # sorted parent * (len(vocab) + 1) + token id
    edge_child: np.ndarray  # state reached by each edge
    end_ptr: np.ndarray  # patterns ending at state s, by ref_id:
    end_pat: np.ndarray  #   end_pat[end_ptr[s]:end_ptr[s + 1]]
    depth: int  # longest pattern, in tokens
    kind: pa.Array
    is_entity: np.ndarray
    ref_id: np.ndarray
    canon_id: np.ndarray
    rank: np.ndarray


def compile_table(patterns: Sequence) -> MatchTable:
    """Compile ``DictPattern``-like objects (``tokens``, ``kind``,
    ``ref_id``, ``canon_id``, ``rank``). A pattern with no tokens never
    matches."""
    tok_id: dict[str, int] = {}
    child: dict[tuple[int, int], int] = {}  # (parent, token id) -> state
    end_state = np.zeros(len(patterns), dtype=np.int64)
    for i, p in enumerate(patterns):
        state = 0
        for tok in p.tokens:
            edge = (state, tok_id.setdefault(tok, len(tok_id)))
            state = child.setdefault(edge, len(child) + 1)
        end_state[i] = state
    n_states = len(child) + 1
    edges = np.array(list(child), dtype=np.int64).reshape(-1, 2)
    key = edges[:, 0] * (len(tok_id) + 1) + edges[:, 1]
    order = np.argsort(key)
    end_ptr = np.zeros(n_states + 1, dtype=np.int64)
    np.cumsum(np.bincount(end_state, minlength=n_states), out=end_ptr[1:])
    ref_id = np.array([p.ref_id for p in patterns], dtype=np.int64)
    return MatchTable(
        vocab=pa.array(list(tok_id), pa.string()),
        edge_key=key[order],
        edge_child=np.array(list(child.values()), dtype=np.int64)[order],
        end_ptr=end_ptr,
        end_pat=np.lexsort((ref_id, end_state)),
        depth=max((len(p.tokens) for p in patterns), default=0),
        kind=pa.array([p.kind for p in patterns], pa.string()),
        is_entity=np.array([p.kind == "E" for p in patterns], dtype=bool),
        ref_id=ref_id,
        canon_id=np.array([p.canon_id for p in patterns], dtype=np.int64),
        rank=np.array([p.rank for p in patterns], dtype=np.int64),
    )


class Tokens(NamedTuple):
    """A batch's token stream, row after row."""

    flat: pa.Array  # token strings
    ids: np.ndarray  # vocabulary id per token (len(vocab) = not in it)
    row: np.ndarray  # row of each token
    row_start: np.ndarray  # flat index of each row's first token


def tokenize(text: pa.Array, table: MatchTable) -> Tokens:
    """Split ``text`` on single spaces and map tokens to vocabulary ids."""
    lists = pc.split_pattern(text, " ")
    counts = pc.list_value_length(lists).fill_null(0).to_numpy().astype(np.int64)
    # split_pattern gives "" one empty token; null and "" text give none
    blank = pc.equal(text, "").fill_null(False).to_numpy(zero_copy_only=False)
    flat = pc.list_flatten(lists).filter(pa.array(np.repeat(~blank, counts)))
    counts[blank] = 0
    vocab = table.vocab.cast(flat.type)
    ids = pc.index_in(flat, value_set=vocab).fill_null(len(vocab))
    return Tokens(
        flat=flat,
        ids=ids.to_numpy().astype(np.int64),
        row=np.repeat(np.arange(counts.size, dtype=np.int64), counts),
        row_start=np.cumsum(counts) - counts,
    )


def match(table: MatchTable, tokens: Tokens) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every dictionary hit as flat arrays (start token, length, pattern)."""
    stride = len(table.vocab) + 1
    ids = tokens.ids
    start = np.arange(ids.size, dtype=np.int64)
    limit = np.append(tokens.row_start, ids.size)[tokens.row + 1]  # row end
    state = np.zeros(ids.size, dtype=np.int64)
    empty = np.zeros(0, dtype=np.int64)
    starts, lengths, pats = [empty], [empty], [empty]
    for d in range(table.depth):
        live = start + d < limit
        start, limit, state = start[live], limit[live], state[live]
        key = state * stride + ids[start + d]
        # depth > 0 implies at least one edge
        j = np.minimum(np.searchsorted(table.edge_key, key), table.edge_key.size - 1)
        hit = table.edge_key[j] == key
        start, limit, state = start[hit], limit[hit], table.edge_child[j[hit]]
        if not start.size:
            break
        lo = table.end_ptr[state]
        n_end = table.end_ptr[state + 1] - lo
        # CSR expansion: one row per (walk, pattern ending at its state)
        first = np.repeat(lo - (np.cumsum(n_end) - n_end), n_end)
        starts.append(np.repeat(start, n_end))
        lengths.append(np.full(first.size, d + 1, dtype=np.int64))
        pats.append(table.end_pat[first + np.arange(first.size)])
    return np.concatenate(starts), np.concatenate(lengths), np.concatenate(pats)


def _rows(batch: pa.RecordBatch, rows: np.ndarray) -> list[pa.Array]:
    return [
        batch.column("conv_id").take(rows).cast(pa.string()),
        batch.column("turn_idx").take(rows).cast(pa.int32()),
    ]


def mention_batch(batch: pa.RecordBatch, table: MatchTable) -> pa.RecordBatch:
    """One row per dictionary hit, with token and code-point positions."""
    tk = tokenize(batch.column("text"), table)
    start, length, pat = match(table, tk)
    row = tk.row[start]
    n_chars = pc.utf8_length(tk.flat).to_numpy().astype(np.int64)
    char_at = np.cumsum(n_chars + 1) - n_chars - 1  # from the batch's start
    row_char = char_at[tk.row_start[row]]
    last = start + length - 1
    return pa.RecordBatch.from_arrays(
        _rows(batch, row)
        + [
            table.kind.take(pat),
            table.ref_id[pat],
            table.canon_id[pat],
            table.rank[pat].astype(np.int32),
            (start - tk.row_start[row]).astype(np.int32),
            length.astype(np.int32),
            (char_at[start] - row_char).astype(np.int32),
            (char_at[last] + n_chars[last] - row_char).astype(np.int32),
        ],
        schema=MENTION_SCHEMA,
    )


def triple_batch(batch: pa.RecordBatch, table: MatchTable) -> pa.RecordBatch:
    """Final triples of a batch of turns.

    Entity mentions keep the longest match at each position (lowest
    ``ref_id`` on ties) and drop matches inside an earlier kept span.
    Every predicate hit is a candidate: subj is the nearest kept entity
    starting strictly before it, obj the nearest starting strictly after it,
    both in the same turn. Each (turn, subj, obj) keeps its lowest
    (rank, canon_id, position) predicate."""
    tk = tokenize(batch.column("text"), table)
    start, length, pat = match(table, tk)
    ent = table.is_entity[pat]

    e_start, e_len, e_pat = start[ent], length[ent], pat[ent]
    # by start, longest first; equal spans end at one trie state, and match()
    # emits them in that state's CSR order (by ref_id), which a stable sort keeps
    o = np.argsort(e_start * (table.depth + 1) - e_len, kind="stable")
    e_start, e_end, e_pat = e_start[o], (e_start + e_len)[o], e_pat[o]
    longest = np.ones(e_start.size, dtype=bool)
    longest[1:] = e_start[1:] != e_start[:-1]
    e_start, e_end, e_pat = e_start[longest], e_end[longest], e_pat[longest]
    # flat positions: an earlier row's spans all end before this row starts,
    # so one running max over the batch is the per-row containment check
    prev_end = np.maximum.accumulate(np.concatenate(([0], e_end)))[:-1]
    kept = e_end > prev_end
    e_start, e_ref = e_start[kept], table.ref_id[e_pat[kept]]
    e_row = tk.row[e_start]

    p_start, p_pat = start[~ent], pat[~ent]
    before = np.searchsorted(e_start, p_start, "left") - 1
    after = np.searchsorted(e_start, p_start, "right")
    ok = (before >= 0) & (after < e_start.size)
    p_start, p_pat, before, after = p_start[ok], p_pat[ok], before[ok], after[ok]
    p_row = tk.row[p_start]
    ok = (e_row[before] == p_row) & (e_row[after] == p_row)
    p_start, p_pat, p_row = p_start[ok], p_pat[ok], p_row[ok]
    subj, obj = e_ref[before[ok]], e_ref[after[ok]]
    canon = table.canon_id[p_pat]

    o = np.lexsort((p_start, canon, table.rank[p_pat], obj, subj, p_row))
    p_row, subj, obj = p_row[o], subj[o], obj[o]
    best = np.ones(o.size, dtype=bool)
    best[1:] = (p_row[1:] != p_row[:-1]) | (subj[1:] != subj[:-1]) | (obj[1:] != obj[:-1])
    sel = o[best]
    row = p_row[best]
    return pa.RecordBatch.from_arrays(
        _rows(batch, row)
        + [
            subj[best],
            canon[sel],
            obj[best],
            (p_start[sel] - tk.row_start[row]).astype(np.int32),
        ],
        schema=TRIPLE_SCHEMA,
    )
