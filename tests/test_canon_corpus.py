"""Round-4 canonicalizer depth: closure semantics of the widened rule
corpus (conflicting overrides, suppressing chains, 3-cycles) and the
phase-1 context-conditional special cases (priority conflicts, shadowed
rules, context suppression / rank override, chain entry) — the
vep.disagreement-cases discipline: every tricky rule interaction is pinned
to an expected output."""

from __future__ import annotations

from mehari_spark.dictionary import predicate_kb_df
from mehari_spark.operators.canonicalize import (
    CANON_RULES,
    CONTEXT_RULES,
    apply_context_rules,
    canonicalize_corpus,
    close_rule_table,
)

TRIPLE_DDL = "conv_id string, turn_idx int, subj_id long, pred_id long, obj_id long"


class TestClosureDepth:
    def setup_method(self):
        self.closed = close_rule_table(CANON_RULES)

    def test_conflicting_overrides_last_wins(self):
        # 120 -(rank 5)-> 121 -(rank 7)-> 122 -> 123: the later override wins
        assert self.closed[120] == (123, 7)
        assert self.closed[121] == (123, 7)
        assert self.closed[122] == (123, None)

    def test_chain_into_suppression(self):
        assert self.closed[124] == (None, None)  # 124 -> 125 -> suppressed
        assert self.closed[125] == (None, None)

    def test_three_cycle_keeps_originals(self):
        for pid in (126, 127, 128):
            assert self.closed[pid] == (pid, None)

    def test_chain_into_identity_override(self):
        assert self.closed[129] == (106, 66)  # picks up 106's identity rank

    def test_chain_onto_umbrella(self):
        assert self.closed[130] == (101, None)

    def test_corpus_size(self):
        assert len(CANON_RULES) + len(CONTEXT_RULES) >= 25


class TestContextRules:
    def _one(self, spark, turn, pred, subj=5, obj=1):
        return spark.createDataFrame(
            [("c", turn, subj, pred, obj)], TRIPLE_DDL
        )

    def test_priority_shadowing(self, spark):
        # turn 4: both the %2 (prio 10) and %4 (prio 5) rules match 103 —
        # the higher-priority rewrite to 108 must win (106 is dead)
        out = apply_context_rules(self._one(spark, 4, 103), CONTEXT_RULES).collect()[0]
        assert out.pred_id == 108 and out._ctx_rank is None
        # odd turn: neither context rule fires, 103 passes to phase 2
        out = apply_context_rules(self._one(spark, 5, 103), CONTEXT_RULES).collect()[0]
        assert out.pred_id == 103

    def test_context_suppression_is_conditional(self, spark):
        kept = apply_context_rules(self._one(spark, 1, 106, subj=9, obj=2), CONTEXT_RULES)
        dropped = apply_context_rules(self._one(spark, 1, 106, subj=2, obj=9), CONTEXT_RULES)
        assert kept.count() == 1 and dropped.count() == 0

    def test_context_rank_override(self, spark):
        out = apply_context_rules(self._one(spark, 0, 101), CONTEXT_RULES).collect()[0]
        assert out.pred_id == 101 and out._ctx_rank == 99
        out = apply_context_rules(self._one(spark, 2, 101), CONTEXT_RULES).collect()[0]
        assert out._ctx_rank is None


class TestCorpusDisagreements:
    """Same predicate, different context -> pinned different outcomes
    through the FULL two-phase pipeline."""

    def _run(self, spark, rows):
        df = spark.createDataFrame(rows, TRIPLE_DDL)
        return {
            (r.turn_idx, r.pred_id, r.canon_rank)
            for r in canonicalize_corpus(
                df, CONTEXT_RULES, CANON_RULES, predicate_kb_df(spark)
            ).collect()
        }

    def test_hash_splits_by_turn_context(self, spark):
        got = self._run(
            spark, [("c", 3, 5, 109, 1), ("c", 4, 5, 109, 1)]
        )
        # turn 3 (%3=0): 109 -> ctx 105 -> chain 151 rank 42
        # turn 4: unconditional 109 -> 108, KB rank 8
        assert got == {(3, 151, 42), (4, 108, 8)}

    def test_agg_enters_staged_chain_on_context(self, spark):
        got = self._run(
            spark, [("c", 3, 5, 108, 1), ("c", 5, 5, 108, 1)]
        )
        assert got == {(3, 151, 42), (5, 108, 8)}

    def test_sort_splits_even_odd(self, spark):
        got = self._run(
            spark, [("c", 2, 5, 103, 1), ("c", 7, 5, 103, 1)]
        )
        # even turn: ctx -> 108 (rank 8); odd: umbrella -> 101 (rank 1)
        assert got == {(2, 108, 8), (7, 101, 1)}

    def test_join_rank_context_override(self, spark):
        got = self._run(
            spark, [("c", 0, 5, 101, 1), ("c", 1, 5, 101, 1)]
        )
        assert got == {(0, 101, 99), (1, 101, 1)}

    def test_chain_override_beats_context_override(self, spark):
        # synthetic: give 105 a context rank override, then let the
        # phase-2 chain override (42) win — LAST-wins precedence
        from mehari_spark.operators.canonicalize import ContextRule

        ctx = [ContextRule(105, "turn_idx >= 0", 105, rank_override=7)]
        df = spark.createDataFrame([("c", 1, 5, 105, 1)], TRIPLE_DDL)
        out = canonicalize_corpus(
            df, ctx, CANON_RULES, predicate_kb_df(spark)
        ).collect()[0]
        assert out.pred_id == 151 and out.canon_rank == 42

    def test_suppressions_both_phases(self, spark):
        got = self._run(
            spark,
            [
                ("c", 1, 2, 106, 9),  # ctx suppression (obj > subj)
                ("c", 1, 9, 110, 2),  # phase-2 unconditional suppression
                ("c", 1, 9, 106, 2),  # survives: identity + rank 66
                ("c", 1, 9, 555, 2),  # no rule, not in the KB: passes through
            ],
        )
        assert got == {(1, 106, 66), (1, 555, None)}

    def test_zero_fact_shuffles(self, spark):
        """The two-phase plan stays shuffle-free on the fact stream: a CASE
        projection + two broadcast joins."""
        df = spark.createDataFrame(
            [("c", i, 5, 101 + (i % 10), 1) for i in range(100)], TRIPLE_DDL
        )
        plan = (
            canonicalize_corpus(df, CONTEXT_RULES, CANON_RULES, predicate_kb_df(spark))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan
