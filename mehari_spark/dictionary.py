"""Entity dictionary + predicate ontology (the TxSeqDatabase / SO-terms analogs).

Mehari ships an immutable transcript dictionary (protobuf, txs.proto:220-229)
and a fixed, severity-ranked consequence ontology (terms.rs:78-397 with the
severity order at terms.rs:335-397 and umbrella rewrites at logic.rs:1054-1180).
We carry the same two structures:

- ``DEMO_ENTITIES``   — surface alias -> stable entity_id
- ``DEMO_PREDICATES`` — surface form -> (pred_id, rank, rewrite_to)

The demo instance below is built over the deterministic vocabulary of the
driver's synthetic ``documents`` table, so that the driver's DuckDB oracle can
reproduce it as inline ``VALUES`` — the golden-comparison trick mehari uses
against VEP TSVs (verify/seqvars.rs:96-364).

The engine itself is dictionary-agnostic: every operator takes dictionary rows
as input; tests use their own dictionaries (incl. multi-token and ambiguous
aliases).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class DictPattern:
    """One dictionary pattern: a token sequence with its payload."""

    tokens: tuple[str, ...]
    kind: str  # 'E' entity | 'P' predicate
    ref_id: int  # entity_id or raw pred_id
    canon_id: int  # post-rewrite id (== ref_id for entities)
    rank: int  # severity/priority for best-per-group dedup


# --- demo entity dictionary (single-token aliases so the DuckDB oracle can
#     reproduce mention detection with a token equi-join) -------------------
DEMO_ENTITIES: list[tuple[str, int, str]] = [
    # (alias, entity_id, type)
    ("spark", 1, "engine"),
    ("customer", 2, "actor"),
    ("table", 3, "artifact"),
    ("window", 4, "artifact"),
    ("stream", 5, "artifact"),
    ("vector", 6, "artifact"),
    ("query", 7, "artifact"),
    ("column", 8, "artifact"),
    ("row", 9, "artifact"),
    ("key", 10, "artifact"),
    ("line", 11, "artifact"),
    ("data", 12, "concept"),
    ("value", 13, "concept"),
    ("part", 14, "artifact"),
    ("batch", 15, "artifact"),
]

# --- demo predicate ontology: (surface, pred_id, rank, rewrite_to) ----------
# 'merge' and 'order' are umbrella-rewritten (adjust_vep_terms analog,
# logic.rs:1054-1180); 'group' rewrites onto 'agg'.
DEMO_PREDICATES: list[tuple[str, int, int, int]] = [
    ("join", 101, 1, 101),
    ("merge", 102, 2, 101),
    ("sort", 103, 3, 103),
    ("order", 104, 4, 103),
    ("scan", 105, 5, 105),
    ("filter", 106, 6, 106),
    ("group", 107, 7, 108),
    ("agg", 108, 8, 108),
    ("hash", 109, 9, 109),
    ("dup", 110, 10, 110),
]


def demo_patterns() -> list[DictPattern]:
    pats = [
        DictPattern((alias,), "E", eid, eid, 0) for alias, eid, _t in DEMO_ENTITIES
    ]
    pats += [
        DictPattern((s,), "P", pid, canon, rank)
        for s, pid, rank, canon in DEMO_PREDICATES
    ]
    return pats


# --- multi-token demo entities (provider.rs:35-99 scale-surface analog):
# 2-token aliases that OVERLAP the single-token dictionary — "data stream"
# shadows both "data"(12, same start, longest wins) and "stream"(5,
# contained); "hash key" shadows "key"(10) and is co-located with the
# predicate surface "hash"(109), exercising per-kind overlap resolution AND
# the strictly-before/after co-location rule in one dictionary.
DEMO_MULTITOK_ENTITIES: list[tuple[tuple[str, ...], int, str]] = [
    (("data", "stream"), 16, "artifact"),
    (("hash", "key"), 17, "artifact"),
]


def multitok_patterns() -> list[DictPattern]:
    """demo_patterns + the 2-token aliases that overlap single-token ones —
    exercises multi-token matching, entity overlap resolution and the
    co-location rule in the same kernel as the demo dictionary."""
    return demo_patterns() + [
        DictPattern(tokens, "E", eid, eid, 0)
        for tokens, eid, _t in DEMO_MULTITOK_ENTITIES
    ]


def entity_values_sql() -> str:
    """DuckDB-compatible inline VALUES for the entity dictionary."""
    rows = ", ".join(f"('{a}', {i})" for a, i, _t in DEMO_ENTITIES)
    return f"(VALUES {rows}) AS ent(alias, entity_id)"


def predicate_values_sql() -> str:
    rows = ", ".join(
        f"('{s}', {p}, {r}, {c})" for s, p, r, c in DEMO_PREDICATES
    )
    return f"(VALUES {rows}) AS prd(surface, pred_id, rank, canon_id)"


def entity_kb_sql() -> str:
    """DuckDB inline VALUES: (entity_id, type) — the entity KB side table."""
    rows = ", ".join(f"({i}, '{t}')" for _a, i, t in DEMO_ENTITIES)
    return f"(VALUES {rows}) AS ekb(entity_id, type)"


def predicate_kb_sql() -> str:
    """DuckDB inline VALUES: (pred_id, surface, rank) for CANONICAL
    predicates only (pred_id == canon_id), matching triples.pred_id."""
    rows = ", ".join(
        f"({p}, '{s}', {r})" for s, p, r, c in DEMO_PREDICATES if p == c
    )
    return f"(VALUES {rows}) AS pkb(pred_id, surface, rank)"


def entity_kb_df(spark: SparkSession):
    """(entity_id, type) KB side table as a broadcastable DataFrame."""
    return spark.createDataFrame(
        [(i, t) for _a, i, t in DEMO_ENTITIES], "entity_id long, type string"
    )


def predicate_kb_df(spark: SparkSession):
    """Canonical-predicate KB: (pred_id, surface, rank)."""
    return spark.createDataFrame(
        [(p, s, r) for s, p, r, c in DEMO_PREDICATES if p == c],
        "pred_id long, surface string, rank int",
    )


def entity_df(spark: SparkSession):
    """Entity dictionary as a (broadcastable) DataFrame."""
    return spark.createDataFrame(
        [(a, i, t) for a, i, t in DEMO_ENTITIES],
        "alias string, entity_id long, type string",
    )
