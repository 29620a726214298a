"""Predicate canonicalization: rule-table rewrites onto stable predicate IDs.

The mehari analog is HGVS/SO normalization: a fixed ontology of terms with a
severity order (terms.rs:78-397) plus umbrella rewrites and suppression
rules (adjust_vep_terms / consequences_fix_special_cases,
logic.rs:1054-1371). SURVEY.md §7.2(5) demands this be a *testable rule
table*, not ad-hoc code — so rules are data: (match_id, rewrite_to | NULL).

A NULL rewrite_to suppresses the predicate (row dropped); transitive chains
are closed at rule-compile time on the driver (the table is tiny), so the
executor-side operation is a single broadcast-join hop.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


@dataclass(frozen=True)
class CanonRule:
    """One canonicalization rule: rewrite / suppress / rank-override.

    ``target_id=None`` suppresses the predicate. ``rank_override`` pins the
    severity rank of the REWRITTEN predicate (mehari's special-case rank
    fixes, consequences_fix_special_cases, logic.rs:1183-1371); when the
    rule chains, the LAST override along the chain wins."""

    match_id: int
    target_id: int | None
    rank_override: int | None = None


@dataclass(frozen=True)
class ContextRule:
    """A CONTEXT-CONDITIONAL special-case rewrite (phase 1).

    Fires only when ``when_expr`` (a SQL boolean over the triple's columns)
    holds on the row; among rules matching the same predicate, the highest
    ``priority`` wins (ties: declaration order) — mehari's
    consequences_fix_special_cases discipline (logic.rs:1183-1371), where
    context-dependent fixups are applied BEFORE the unconditional term
    table and conflicting special cases are priority-ordered.

    ``target_id=None`` suppresses the row in that context. The rewritten id
    then flows through the phase-2 closed chain table, so a context rule
    can redirect a predicate INTO an existing chain."""

    match_id: int
    when_expr: str
    target_id: int | None
    priority: int = 0
    rank_override: int | None = None


# The rule corpus (26 rules total: 20 unconditional + 6 context-conditional
# — the adjust_vep_terms + consequences_fix_special_cases discipline,
# logic.rs:1054-1371): umbrella rewrites, suppressions, multi-hop chains
# with conflicting rank overrides (last wins), chains ending in
# suppression, 2- and 3-cycles (defensively kept), identity rank
# overrides, chains into identity-override rules, and context-conditional
# special cases incl. a shadowed lower-priority rule.
CANON_RULES: list[CanonRule] = [
    CanonRule(103, 101),        # umbrella: sort -> join family head
    CanonRule(110, None),       # suppression: dup is never emitted
    CanonRule(109, 108),        # hash -> agg
    CanonRule(105, 150),        # chain head: scan -> staged id ...
    CanonRule(150, 151, 42),    # ... -> final synthetic canonical, rank 42
    CanonRule(104, 103),        # chains onto the 103->101 umbrella
    CanonRule(102, 101),        # direct umbrella (non-occurring input)
    CanonRule(107, 108),        # direct umbrella (non-occurring input)
    CanonRule(111, None),       # suppression of a non-occurring id
    CanonRule(106, 106, 66),    # identity rewrite, pure rank override
    CanonRule(112, 113),        # cycle pair: defensively keeps original
    CanonRule(113, 112),
    # --- round-4 depth (non-occurring ids: closure semantics pinned in
    # tests/test_canon_corpus.py; the ids never reach the demo triples) ---
    CanonRule(120, 121, 5),     # 3-hop chain with CONFLICTING overrides:
    CanonRule(121, 122, 7),     # ... the LAST override along the chain
    CanonRule(122, 123),        # ... wins -> 120 closes to (123, rank 7)
    CanonRule(124, 125),        # chain ENDING in a suppression:
    CanonRule(125, None),       # ... 124 is transitively suppressed
    CanonRule(126, 127),        # 3-cycle: all three defensively keep
    CanonRule(127, 128),        # ... their original ids, no overrides
    CanonRule(128, 126),
    CanonRule(129, 106),        # chain INTO the identity-override rule:
                                # ... closes to (106, rank 66)
    CanonRule(130, 103),        # chains onto 103 -> 101 umbrella
]

# Phase-1 context-conditional special cases over the triple columns
# (conv_id, turn_idx, subj_id, pred_id, obj_id). Declaration order breaks
# priority ties; CASE-chain evaluation makes first-match-wins exact.
CONTEXT_RULES: list[ContextRule] = [
    # redirect 'hash' into the scan->151 chain on every 3rd turn — the
    # context rule ENTERS an existing phase-2 chain (final id 151, rank 42)
    ContextRule(109, "turn_idx % 3 = 0", 105, priority=10),
    # conflicting-priority pair on the SAME match id: turn_idx % 4 = 0
    # implies % 2 = 0, so the priority-10 rule always shadows the
    # priority-5 one — the shadowed rule is pinned dead in tests
    ContextRule(103, "turn_idx % 2 = 0", 108, priority=10),
    ContextRule(103, "turn_idx % 4 = 0", 106, priority=5),
    # context-conditional SUPPRESSION: 'filter' facts where the object
    # outranks the subject id are dropped entirely
    ContextRule(106, "obj_id > subj_id", None),
    # context-conditional pure rank override (identity target)
    ContextRule(101, "turn_idx = 0", 101, rank_override=99),
    # another chain entry: 'agg' on turn 3 mod 7 -> staged 150 -> 151
    ContextRule(108, "turn_idx % 7 = 3", 150),
]


def close_rule_table(
    rules: list[CanonRule],
) -> dict[int, tuple[int | None, int | None]]:
    """Transitively close a CanonRule list -> {match: (final_target|None,
    final_rank_override|None)} (driver-side; the table is tiny).

    Semantics: chains follow target links until a fixpoint / suppression;
    the last rank_override seen along the chain wins; a chain that reaches a
    suppression suppresses; a CYCLE keeps the original id with no override
    (defensive)."""
    base = {r.match_id: r for r in rules}
    closed: dict[int, tuple[int | None, int | None]] = {}
    for k in base:
        seen = {k}
        cur: int | None = k
        rank: int | None = None
        while cur is not None:
            rule = base.get(cur)
            if rule is None:
                break
            if rule.rank_override is not None:
                rank = rule.rank_override
            nxt = rule.target_id
            if nxt is None:
                cur = None
                break
            if nxt == cur:  # identity rewrite: fixpoint
                break
            if nxt in seen:  # cycle -> keep original, drop overrides
                cur, rank = k, None
                break
            seen.add(nxt)
            cur = nxt
        closed[k] = (cur, rank)
    return closed


def apply_context_rules(
    triples: DataFrame,
    ctx_rules: list[ContextRule],
    pred_col: str = "pred_id",
) -> DataFrame:
    """Phase 1: apply context-conditional special cases (suppress / rewrite
    / rank-override), first-match-wins in (priority desc, declaration)
    order.

    Compiled driver-side into ONE Catalyst CASE expression per output (the
    fired-rule index), so the fact stream pays a single whole-stage-codegen
    projection — no join, no shuffle, no Python. Adds ``_ctx_rank``
    (the fired rule's rank_override, else NULL) for phase 2 to fold into
    canon_rank."""
    if not ctx_rules:
        return triples.withColumn("_ctx_rank", F.lit(None).cast("int"))
    ordered = sorted(
        enumerate(ctx_rules), key=lambda ir: (-ir[1].priority, ir[0])
    )
    fired_sql = (
        "CASE "
        + " ".join(
            f"WHEN {pred_col} = {int(r.match_id)} AND ({r.when_expr}) THEN {i}"
            for i, (_orig, r) in enumerate(ordered)
        )
        + " ELSE -1 END"
    )
    out = triples.withColumn("_ctx_fired", F.expr(fired_sql))
    suppress_ids = [i for i, (_o, r) in enumerate(ordered) if r.target_id is None]
    if suppress_ids:
        out = out.filter(~F.col("_ctx_fired").isin(suppress_ids))
    new_pred = F.col(pred_col)
    ctx_rank = F.lit(None).cast("int")
    for i, (_orig, r) in enumerate(ordered):
        if r.target_id is not None:
            new_pred = F.when(
                F.col("_ctx_fired") == i, F.lit(int(r.target_id))
            ).otherwise(new_pred)
        if r.rank_override is not None:
            ctx_rank = F.when(
                F.col("_ctx_fired") == i, F.lit(int(r.rank_override))
            ).otherwise(ctx_rank)
    return (
        out.withColumn(pred_col, new_pred)
        .withColumn("_ctx_rank", ctx_rank.cast("int"))
        .drop("_ctx_fired")
    )


def canonicalize_full(
    triples: DataFrame,
    rules: list[CanonRule],
    kb_ranks: DataFrame,
    pred_col: str = "pred_id",
) -> DataFrame:
    """Rule-corpus canonicalization with rank resolution.

    Applies the closed rule table (rewrites + suppressions) and emits a
    ``canon_rank`` column: the chain's rank_override when one fired, else
    the KB rank of the FINAL predicate id (``kb_ranks``: (pred_id, rank)).
    Both hops are broadcast joins on the fact stream — zero fact shuffles,
    the annotator-chain shape."""
    spark = triples.sparkSession
    closed = close_rule_table(rules)
    rule_df = local_frame(
        spark,
        [
            (int(k), None if t is None else int(t), r)
            for k, (t, r) in closed.items()
        ],
        "match_id long, target_id long, rank_override int",
    )
    joined = triples.join(
        F.broadcast(rule_df), triples[pred_col] == rule_df.match_id, "left"
    )
    rewritten = (
        joined.filter(F.col("match_id").isNull() | F.col("target_id").isNotNull())
        .withColumn(pred_col, F.coalesce(F.col("target_id"), F.col(pred_col)))
        .drop("match_id", "target_id")
    )
    kb = kb_ranks.select(
        F.col("pred_id").alias("_kb_pred"), F.col("rank").alias("_kb_rank")
    )
    # override precedence, LAST-WINS along the whole pipeline: the phase-2
    # chain override (latest) beats a phase-1 context override beats the KB
    # rank of the final id
    rank_sources = [F.col("rank_override")]
    if "_ctx_rank" in rewritten.columns:
        rank_sources.append(F.col("_ctx_rank"))
    rank_sources.append(F.col("_kb_rank"))
    return (
        rewritten.join(
            F.broadcast(kb), rewritten[pred_col] == F.col("_kb_pred"), "left"
        )
        .withColumn("canon_rank", F.coalesce(*rank_sources).cast("int"))
        .drop("rank_override", "_kb_pred", "_kb_rank", "_ctx_rank")
    )


def canonicalize_corpus(
    triples: DataFrame,
    ctx_rules: list[ContextRule],
    rules: list[CanonRule],
    kb_ranks: DataFrame,
    pred_col: str = "pred_id",
) -> DataFrame:
    """The full two-phase canonicalizer: context-conditional special cases
    (phase 1, codegen CASE chain) then the closed unconditional rule table
    (phase 2, broadcast join) with last-wins rank resolution — the
    consequences_fix_special_cases + adjust_vep_terms composition
    (logic.rs:1054-1371). Zero fact shuffles end to end."""
    return canonicalize_full(
        apply_context_rules(triples, ctx_rules, pred_col), rules, kb_ranks, pred_col
    )
