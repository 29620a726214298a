"""Edge cases for the Arrow-batch matching kernel (regression: trailing
empty-text rows in an Arrow batch; code-point char offsets)."""

from __future__ import annotations

from mehari_spark.dictionary import DictPattern
from mehari_spark.operators.mentions import detect_mentions
from mehari_spark.operators.triples import extract_triples_fused


def _edge_turns(spark):
    return spark.createDataFrame(
        [("c", 0, "é x é é"), ("c", 1, None), ("c", 2, ""), ("c", 3, "zz"),
         ("c", 4, "x"), ("c", 5, None)],
        "conv_id string, turn_idx int, text string",
    )


def test_trailing_empty_rows_and_unicode(spark):
    pats = [DictPattern(("é",), "E", 1, 1, 0), DictPattern(("x",), "P", 2, 2, 1)]
    df = _edge_turns(spark)
    rows = sorted(
        (r.turn_idx, r.kind, r.pos, r.char_start, r.char_end)
        for r in detect_mentions(df, pats).collect()
    )
    assert rows == [
        (0, "E", 0, 0, 1), (0, "E", 2, 4, 5), (0, "E", 3, 6, 7),
        (0, "P", 1, 2, 3), (4, "P", 0, 0, 1),
    ]
    txt = "é x é é"
    assert all(txt[cs:ce] in ("é", "x") for t, _k, _p, cs, ce in rows if t == 0)

    # the same rows through a multi-token dictionary and the fused operator:
    # "é é" spans two tokens (char 4..7) and, as the longest entity at pos 2,
    # shadows both single "é" mentions after the predicate
    multi = pats + [DictPattern(("é", "é"), "E", 3, 3, 0)]
    rows_multi = sorted(
        (r.turn_idx, r.kind, r.pos, r.char_start, r.char_end)
        for r in detect_mentions(df, multi).collect()
    )
    assert rows_multi == sorted(rows + [(0, "E", 2, 4, 7)])
    assert txt[4:7] == "é é"

    def fused(p):
        return {
            (r.turn_idx, r.subj_id, r.pred_id, r.obj_id, r.pred_pos)
            for r in extract_triples_fused(df, p).collect()
        }

    assert fused(pats) == {(0, 1, 2, 1, 1)}
    assert fused(multi) == {(0, 1, 2, 3, 1)}


def test_empty_dictionary(spark):
    df = _edge_turns(spark)
    assert detect_mentions(df, []).count() == 0
    assert extract_triples_fused(df, []).count() == 0


def test_vectorized_equals_ac_path(spark):
    from mehari_spark.dictionary import demo_patterns
    from mehari_spark.sources.transcripts import transcripts

    t = transcripts(spark, "/root/testdata/sf0.001").limit(300)
    fast = detect_mentions(t, demo_patterns())
    ac = detect_mentions(
        t, demo_patterns() + [DictPattern(("zzz", "qqq"), "E", 999, 999, 0)]
    )
    cols = ["conv_id", "turn_idx", "kind", "ref_id", "pos", "char_start", "char_end"]
    assert sorted(map(tuple, fast.select(cols).collect())) == sorted(
        map(tuple, ac.select(cols).collect())
    )


def test_colocated_entity_predicate_tie_rule(spark):
    # ambiguous surface 'x' registered as BOTH entity and predicate: the
    # co-located entity mention must count as neither subj (strictly
    # before) nor obj (strictly after) — windowed plan, fused kernel, and
    # the pure-python golden must agree (ADVICE r01 tie-order finding)
    from mehari_spark.datagen import Turn, reference_triples, turns_df
    from mehari_spark.operators.mentions import resolve_overlaps
    from mehari_spark.operators.triples import assemble_triples, extract_triples_fused
    from datetime import datetime

    pats = [
        DictPattern(("alice",), "E", 1, 1, 0),
        DictPattern(("bob",), "E", 2, 2, 0),
        DictPattern(("x",), "E", 3, 3, 0),
        DictPattern(("x",), "P", 301, 301, 1),
        DictPattern(("uses",), "P", 302, 302, 2),
    ]
    turns = [
        Turn("c", 0, "user", "alice x bob", None, datetime(2024, 1, 1)),
        Turn("c", 1, "user", "x uses bob", None, datetime(2024, 1, 1)),
        Turn("c", 2, "user", "alice uses x", None, datetime(2024, 1, 1)),
    ]
    golden = reference_triples(turns, pats)
    df = turns_df(spark, turns)
    windowed = {
        (r.conv_id, r.turn_idx, r.subj_id, r.pred_id, r.obj_id)
        for r in assemble_triples(
            resolve_overlaps(detect_mentions(df, pats))
        ).collect()
    }
    fused = {
        (r.conv_id, r.turn_idx, r.subj_id, r.pred_id, r.obj_id)
        for r in extract_triples_fused(df, pats).collect()
    }
    # turn 0: co-located E/P at pos 1 -> subj=alice, obj=bob via pred 'x'
    assert ("c", 0, 1, 301, 2) in golden
    assert golden == windowed == fused
