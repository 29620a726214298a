"""Round-3 operator tests: blocked embedding near-dup pairs, clustered IVF
(sublinear probing), the multi-token dictionary path, the content-keyed AC
automaton cache, the canonicalizer rule corpus (disagreement cases) and
graceful end-of-stream session flush."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMALL, SF_UNIT


# --------------------------------------------------------------------------
# blocked embedding near-dup pairs (emb_near_dup_lsh)
# --------------------------------------------------------------------------


class TestNearDupPairs:
    def _exact_pairs(self, spark, sf_dir, threshold=0.9):
        from mehari_spark.operators.similarity import _dot, _norm
        from mehari_spark.plans.queries import _near_dup_corpus

        c = _near_dup_corpus(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
        a = c.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
        b = c.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
        return (
            a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
            .withColumn(
                "cos",
                F.round(
                    _dot(F.col("ea"), F.col("eb"))
                    / (_norm(F.col("ea")) * _norm(F.col("eb"))),
                    9,
                ),
            )
            .filter(F.col("cos") >= threshold)
            .select(
                "vec_a",
                "vec_b",
                F.floor(F.col("cos") * 1000000).cast("long").alias("cos_ppm"),
            )
        )

    @pytest.mark.parametrize("sf_dir", [SF_UNIT, SF_SMALL])
    def test_lsh_pairs_identical_to_exact(self, spark, sf_dir):
        # blocking must not lose a single pair at the 0.9 threshold — the
        # LSH output IS the exact output (kg_link_lsh discipline)
        from mehari_spark.operators.similarity import lsh_near_dup_pairs
        from mehari_spark.plans.queries import _near_dup_corpus

        corpus = _near_dup_corpus(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
        got = sorted(map(tuple, lsh_near_dup_pairs(corpus, 0.9).collect()))
        want = sorted(map(tuple, self._exact_pairs(spark, sf_dir).collect()))
        assert got == want
        assert len(got) >= 500  # every planted (orig, shifted) pair found

    def test_blocking_is_subquadratic(self, spark):
        # candidate count after the band join must be a small fraction of
        # all pairs — the property that makes this the 100 TB plan
        from mehari_spark.operators.similarity import banded_lsh_signatures
        from mehari_spark.plans.queries import _near_dup_corpus

        corpus = _near_dup_corpus(
            spark.read.parquet(f"{SF_UNIT}/embeddings.parquet")
        )
        n = corpus.count()
        sigs = banded_lsh_signatures(corpus)
        cand = (
            sigs.alias("a")
            .join(
                sigs.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select("a.vec_id", "b.vec_id")
            .distinct()
            .count()
        )
        all_pairs = n * (n - 1) // 2
        assert cand < 0.05 * all_pairs  # measured ~1.3%

    def test_plan_has_no_cartesian_or_bnlj(self, spark):
        from mehari_spark.plans.queries import QUERIES

        df = QUERIES["emb_near_dup_lsh"][0](spark, SF_UNIT)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


# --------------------------------------------------------------------------
# clustered IVF: sublinear probing (nprobe/n_centroids = 1/8)
# --------------------------------------------------------------------------


class TestClusteredIVF:
    def test_recall_at_nprobe_2_of_16(self, spark):
        from mehari_spark.operators.similarity import (
            cosine_topk,
            ivf_topk,
            synth_clustered,
        )

        corpus = synth_clustered(
            spark.read.parquet(f"{SF_UNIT}/embeddings.parquet")
        ).localCheckpoint(eager=True)
        qids = list(range(10))
        exact = {
            (r.query_id, r.neighbor_id)
            for r in cosine_topk(corpus, qids, k=3).collect()
        }
        approx = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(
                corpus, qids, k=3, n_centroids=16, nprobe=2
            ).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9  # measured 1.0 — probing 1/8 of the cells


# --------------------------------------------------------------------------
# multi-token dictionary path (AC automaton + overlap resolution)
# --------------------------------------------------------------------------


class TestMultiTokenDictionary:
    def test_windowed_equals_fused_ac_path(self, spark):
        # the fused kernel's AC branch implements the same overlap +
        # assembly semantics as resolve_overlaps + assemble_triples
        from mehari_spark.dictionary import multitok_patterns
        from mehari_spark.operators.mentions import detect_mentions, resolve_overlaps
        from mehari_spark.operators.triples import (
            assemble_triples,
            extract_triples_fused,
        )
        from mehari_spark.sources.transcripts import transcripts

        t = transcripts(spark, SF_UNIT)
        pats = multitok_patterns()
        windowed = sorted(
            map(
                tuple,
                assemble_triples(resolve_overlaps(detect_mentions(t, pats)))
                .select("conv_id", "turn_idx", "subj_id", "pred_id", "obj_id")
                .collect(),
            )
        )
        fused = sorted(
            map(
                tuple,
                extract_triples_fused(t, pats)
                .select("conv_id", "turn_idx", "subj_id", "pred_id", "obj_id")
                .collect(),
            )
        )
        assert windowed == fused
        assert len(windowed) > 0

    def test_overlap_semantics_on_crafted_turns(self, spark):
        # "data stream" shadows data(12)+stream(5) -> entity 16;
        # "hash key" shadows key(10), co-located with predicate hash(109)
        from mehari_spark.dictionary import multitok_patterns
        from mehari_spark.operators.mentions import detect_mentions, resolve_overlaps

        rows = [
            ("c1", 0, "data stream join table"),   # 16 --join--> 3
            ("c1", 1, "spark hash key merge row"),  # pred hash co-located w/ 17
            ("c1", 2, "data join stream"),          # no bigram: plain 12/5
        ]
        t = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
        m = resolve_overlaps(detect_mentions(t, multitok_patterns()))
        got = {
            (r.turn_idx, r.kind, r.ref_id, r.pos, r.tok_len) for r in m.collect()
        }
        assert (0, "E", 16, 0, 2) in got          # 2-token match wins
        assert (0, "E", 12, 0, 1) not in got       # same-start single dropped
        assert (0, "E", 5, 1, 1) not in got        # contained single dropped
        assert (0, "E", 3, 3, 1) in got
        assert (1, "E", 17, 1, 2) in got           # hash key -> 17
        assert (1, "P", 109, 1, 1) in got          # predicate hash survives (per-kind)
        assert (1, "E", 10, 2, 1) not in got       # key contained
        assert (2, "E", 12, 0, 1) in got           # no bigram: singles intact
        assert (2, "E", 5, 2, 1) in got

    def test_colocated_entity_not_subj_or_obj(self, spark):
        # "spark hash key row": predicate hash@1 is co-located with entity
        # 17 ("hash key"@1), so 17 is neither subj nor obj for it — subj is
        # spark(1)@0, obj skips to row(9)@3
        from mehari_spark.dictionary import multitok_patterns
        from mehari_spark.operators.triples import extract_triples_fused

        t = spark.createDataFrame(
            [("c1", 0, "spark hash key row")],
            "conv_id string, turn_idx int, text string",
        )
        trip = extract_triples_fused(t, multitok_patterns()).collect()
        assert len(trip) == 1
        assert (trip[0].subj_id, trip[0].pred_id, trip[0].obj_id) == (1, 109, 9)


class TestMultiTokenFuzz:
    def test_adversarial_dictionary_random_text(self, spark):
        # seeded fuzz over the nastiest dictionary shapes: chained partial
        # overlaps (("a","b") and ("b","c") both survive on "a b c"), shared
        # prefixes, a surface that is BOTH an entity and a predicate, and
        # 3-token spans — fused == windowed == pure-python golden on 3000
        # random turns
        import random

        from mehari_spark.datagen import Turn, reference_triples
        from mehari_spark.dictionary import DictPattern
        from mehari_spark.operators.mentions import detect_mentions, resolve_overlaps
        from mehari_spark.operators.triples import (
            assemble_triples,
            extract_triples_fused,
        )

        pats = [
            DictPattern(("a", "b"), "E", 1, 1, 0),
            DictPattern(("b", "c"), "E", 2, 2, 0),
            DictPattern(("a", "b", "c"), "E", 3, 3, 0),
            DictPattern(("a",), "E", 4, 4, 0),
            DictPattern(("c",), "E", 5, 5, 0),
            DictPattern(("d",), "E", 6, 6, 0),
            DictPattern(("p",), "P", 101, 101, 1),
            DictPattern(("q",), "P", 102, 102, 2),
            DictPattern(("d",), "P", 103, 103, 3),  # dual-kind surface
            DictPattern(("p",), "P", 104, 104, 0),  # ambiguous predicate surface
        ]
        rng = random.Random(99)
        vocab = ["a", "b", "c", "d", "p", "q", "z"]
        turns = [
            Turn(
                conv_id=f"c{i % 97}",
                turn_idx=i // 97,
                role="user",
                text=" ".join(rng.choice(vocab) for _ in range(rng.randint(0, 14))),
                tool=None,
                ts=None,
            )
            for i in range(3000)
        ]
        df = spark.createDataFrame(
            [(t.conv_id, t.turn_idx, t.text) for t in turns],
            "conv_id string, turn_idx int, text string",
        )
        golden = reference_triples(turns, pats)
        fused = {
            (r.conv_id, r.turn_idx, r.subj_id, r.pred_id, r.obj_id)
            for r in extract_triples_fused(df, pats).collect()
        }
        windowed = {
            (r.conv_id, r.turn_idx, r.subj_id, r.pred_id, r.obj_id)
            for r in assemble_triples(
                resolve_overlaps(detect_mentions(df, pats))
            ).collect()
        }
        assert fused == golden
        assert windowed == golden
        assert len(golden) > 100  # the fuzz actually produced triples


# --------------------------------------------------------------------------
# match-table cache: content-keyed, reused, bounded
# --------------------------------------------------------------------------


class TestAutomatonCache:
    def test_fingerprint_stable_and_content_sensitive(self):
        from mehari_spark.dictionary import demo_patterns, multitok_patterns
        from mehari_spark.operators.mentions import dict_fingerprint

        assert dict_fingerprint(demo_patterns()) == dict_fingerprint(demo_patterns())
        assert dict_fingerprint(demo_patterns()) != dict_fingerprint(
            multitok_patterns()
        )

    def test_cache_hit_on_second_invocation(self, spark):
        import mehari_spark.operators.mentions as M
        from mehari_spark.dictionary import multitok_patterns

        sc = spark.sparkContext
        pats = multitok_patterns()
        key = M.dict_fingerprint(pats)
        M._TABLE_CACHE.clear()
        before = M._TABLE_BUILDS
        a1 = M._match_table(sc, key, pats)
        a2 = M._match_table(sc, key, pats)
        assert a1 is a2  # compiled and broadcast once, reused
        assert M._TABLE_BUILDS == before + 1

    def test_cache_bounded(self, spark):
        import mehari_spark.operators.mentions as M
        from mehari_spark.dictionary import DictPattern

        M._TABLE_CACHE.clear()
        for i in range(10):
            pats = [DictPattern((f"tok{i}", f"b{i}"), "E", i, i, 0)]
            M._match_table(spark.sparkContext, M.dict_fingerprint(pats), pats)
        assert len(M._TABLE_CACHE) <= M._TABLE_CACHE_MAX

    def test_repeated_calls_reuse_one_broadcast(self, spark):
        """Five fused extractions with one dictionary leave at most one new
        broadcast file on the driver: one per dictionary version, not per
        call. A different dictionary gets its own entry with identical
        results."""
        import os

        import mehari_spark.operators.mentions as M
        from mehari_spark.dictionary import DictPattern, multitok_patterns
        from mehari_spark.operators.triples import extract_triples_fused
        from mehari_spark.sources.transcripts import transcripts

        df = transcripts(spark, SF_UNIT)
        sc = spark.sparkContext
        before = set(os.listdir(sc._temp_dir))
        counts = [extract_triples_fused(df, multitok_patterns()).count() for _ in range(5)]
        assert len(set(os.listdir(sc._temp_dir)) - before) <= 1
        assert len(set(counts)) == 1 and counts[0] > 0

        # an equal dictionary with one more, never-matching pattern is a
        # new version: a new entry, the same triples
        pats = multitok_patterns()
        edited = pats + [DictPattern(("zz-no-such-token",), "E", 10**9, 10**9, 0)]
        n_before = len(M._TABLE_CACHE)
        builds = M._TABLE_BUILDS
        got = extract_triples_fused(df, edited)
        assert M._TABLE_BUILDS == builds + 1
        assert len(M._TABLE_CACHE) == min(n_before + 1, M._TABLE_CACHE_MAX)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, extract_triples_fused(df, pats).collect())
        )


# --------------------------------------------------------------------------
# canonicalizer rule corpus: disagreement cases
# --------------------------------------------------------------------------


class TestCanonRuleCorpus:
    def test_rule_closure_disagreement_cases(self):
        from mehari_spark.operators.canonicalize import CanonRule, close_rule_table

        rules = [
            CanonRule(1, 2),            # chain head
            CanonRule(2, 3, 7),         # chain middle with override
            CanonRule(3, 4),            # chain tail -> 4 (no rule on 4)
            CanonRule(5, None),         # plain suppression
            CanonRule(6, 5),            # chain INTO a suppression
            CanonRule(8, 8, 9),         # identity rewrite, pure rank override
            CanonRule(10, 11),          # cycle pair
            CanonRule(11, 10),
            CanonRule(12, 13, 1),       # override then later override wins
            CanonRule(13, 14, 2),
        ]
        closed = close_rule_table(rules)
        assert closed[1] == (4, 7)      # 1->2->3->4, the single override rides
        assert closed[2] == (4, 7)
        assert closed[5] == (None, None)
        assert closed[6] == (None, None)  # suppression propagates up the chain
        assert closed[8] == (8, 9)
        assert closed[10] == (10, None)   # cycle: keep original, drop overrides
        assert closed[11] == (11, None)
        assert closed[12] == (14, 2)      # LAST override along the chain wins

    def test_canonicalize_full_matches_manual(self, spark):
        from mehari_spark.dictionary import predicate_kb_df
        from mehari_spark.operators.canonicalize import CANON_RULES, canonicalize_full

        t = spark.createDataFrame(
            [("c", 0, 1, p, 2) for p in (101, 103, 105, 106, 108, 109, 110)],
            "conv_id string, turn_idx int, subj_id long, pred_id long, obj_id long",
        )
        out = {
            (r.pred_id, r.canon_rank)
            for r in canonicalize_full(t, CANON_RULES, predicate_kb_df(spark))
            .select("pred_id", "canon_rank")
            .collect()
        }
        # 103->101(kb rank 1), 105->151(override 42), 109->108(kb 8),
        # 106 keeps id with rank 66, 110 suppressed
        assert out == {(101, 1), (151, 42), (108, 8), (106, 66)}


# --------------------------------------------------------------------------
# graceful end-of-stream session flush (no manual sentinel)
# --------------------------------------------------------------------------


class TestStreamFinalize:
    def test_finalize_flushes_trailing_sessions(self, spark, tmp_path):
        from datetime import datetime, timedelta

        from mehari_spark.streaming.sessions import (
            EVENTS_DDL,
            finalize_stream,
            session_agg,
            stream_sessions,
        )

        base = datetime(2024, 3, 1, 12, 0, 0)
        rows = []
        eid = 0
        for user in (1, 2):
            for off in (0, 5, 50):  # two sessions per user, both left OPEN
                rows.append(
                    (eid, user, "click", 1.0, "{}", base + timedelta(minutes=off))
                )
                eid += 1
        ev = spark.createDataFrame(rows, EVENTS_DDL)
        in_dir, out_dir, ck = (
            str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
        )
        ev.write.mode("append").parquet(in_dir)
        q = stream_sessions(spark, in_dir, out_dir, ck, watermark="1 minutes")
        q.processAllAvailable()
        finalize_stream(q, spark, in_dir)  # NO manual sentinel event
        got = sorted(
            (r.user_id, r.n_events) for r in spark.read.parquet(out_dir).collect()
        )
        want = sorted((r.user_id, r.n_events) for r in session_agg(ev).collect())
        assert got == want  # trailing open sessions were emitted
        assert all(u >= 0 for u, _n in got)  # sentinel never reaches output
