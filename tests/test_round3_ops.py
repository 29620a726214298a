"""Round-3 operator tests: blocked embedding near-dup pairs, clustered IVF
(sublinear probing), the multi-token dictionary path, the content-keyed AC
automaton cache, the canonicalizer rule corpus (disagreement cases), durable
CC checkpointing with resume, crash-atomic MERGE, and graceful end-of-stream
session flush."""

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
                corpus, qids, k=3, n_centroids=16, nprobe=2, seed=42
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

    def test_legacy_dict_api_unchanged(self, spark):
        from mehari_spark.operators.canonicalize import canonicalize_predicates

        t = spark.createDataFrame(
            [("c", 0, 1, p, 2) for p in (101, 103, 110)],
            "conv_id string, turn_idx int, subj_id long, pred_id long, obj_id long",
        )
        got = sorted(
            r.pred_id
            for r in canonicalize_predicates(t, {103: 101, 110: None}).collect()
        )
        assert got == [101, 101]


# --------------------------------------------------------------------------
# durable CC checkpointing + resume
# --------------------------------------------------------------------------


def _chain_edges(spark, n=64):
    # one long path (worst case for label propagation) + isolated pairs
    rows = [(i, i + 1) for i in range(n)] + [(1000 + 2 * i, 1001 + 2 * i) for i in range(8)]
    return spark.createDataFrame(rows, "src long, dst long")


class TestDurableCC:
    def test_durable_equals_local(self, spark, tmp_path):
        from mehari_spark.operators.coref import connected_components_global

        edges = _chain_edges(spark)
        local = sorted(
            map(tuple, connected_components_global(edges).collect())
        )
        durable = sorted(
            map(
                tuple,
                connected_components_global(
                    edges, checkpoint_dir=str(tmp_path / "cc")
                ).collect(),
            )
        )
        assert local == durable

    def test_check_every_cadence_same_result(self, spark):
        from mehari_spark.operators.coref import connected_components_global

        edges = _chain_edges(spark)
        want = sorted(
            map(
                tuple,
                connected_components_global(
                    edges, small_graph_threshold=0
                ).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                connected_components_global(
                    edges, check_every=2, small_graph_threshold=0
                ).collect(),
            )
        )
        assert got == want

    def test_resume_mid_iteration(self, spark, tmp_path):
        from mehari_spark.operators.coref import (
            connected_components_global,
            load_cc_checkpoint,
        )

        edges = _chain_edges(spark)
        ck = str(tmp_path / "cc")
        want = sorted(map(tuple, connected_components_global(edges).collect()))
        # "crash" after 2 rounds: max_iter caps the run mid-iteration
        partial, r1 = connected_components_global(
            edges, max_iter=2, with_rounds=True, checkpoint_dir=ck, checkpoint_every=1
        )
        partial.collect()
        assert r1 == 2
        labels, done = load_cc_checkpoint(spark, ck)
        assert done == 2 and labels is not None
        # resume from the durable round-2 state and finish
        resumed, r2 = connected_components_global(
            edges, with_rounds=True, checkpoint_dir=ck, checkpoint_every=1
        )
        got = sorted(map(tuple, resumed.collect()))
        assert got == want
        assert r2 > 2  # continued from the checkpoint, not from scratch


# --------------------------------------------------------------------------
# crash-atomic MERGE
# --------------------------------------------------------------------------


class TestMergeCrashSafety:
    def _seed_table(self, spark, out_dir):
        from mehari_spark.plans.lineage import write_bucketed

        df = spark.createDataFrame(
            [(f"c{i}", i % 3, i * 10) for i in range(30)],
            "conv_id string, turn_idx int, v long",
        )
        write_bucketed(df, out_dir, run_id="seed", key_col="conv_id", n_buckets=4)
        return df

    def test_guard_bucket_col_in_match_cols(self, spark, tmp_path):
        from mehari_spark.plans.merge import merge_into_bucketed

        out = str(tmp_path / "t")
        self._seed_table(spark, out)
        upd = spark.createDataFrame(
            [("c1", 1, 999)], "conv_id string, turn_idx int, v long"
        )
        with pytest.raises(ValueError, match="must be one of match_cols"):
            merge_into_bucketed(
                spark, out, upd, match_cols=["turn_idx"],
                bucket_col="conv_id", n_buckets=4,
            )

    def test_guard_duplicate_update_keys(self, spark, tmp_path):
        from mehari_spark.plans.merge import merge_into_bucketed

        out = str(tmp_path / "t")
        self._seed_table(spark, out)
        upd = spark.createDataFrame(
            [("c1", 1, 999), ("c1", 1, 888)],
            "conv_id string, turn_idx int, v long",
        )
        with pytest.raises(ValueError, match="duplicate match keys"):
            merge_into_bucketed(
                spark, out, upd, match_cols=["conv_id", "turn_idx"],
                bucket_col="conv_id", n_buckets=4,
            )

    def test_crash_mid_swap_recovers_without_data_loss(
        self, spark, tmp_path, monkeypatch
    ):
        from mehari_spark.plans import commit
        from mehari_spark.plans.lineage import read_bucketed
        from mehari_spark.plans.merge import merge_into_bucketed

        out = str(tmp_path / "t")
        self._seed_table(spark, out)
        before = {
            (r.conv_id, r.turn_idx): r.v for r in read_bucketed(spark, out).collect()
        }
        upd = spark.createDataFrame(
            [("c1", 1, 999), ("c2", 2, 888)],
            "conv_id string, turn_idx int, v long",
        )
        bcol = (
            upd.select(
                F.pmod(F.xxhash64(F.col("conv_id")), F.lit(4)).cast("int").alias("b")
            )
            .distinct()
            .collect()
        )
        crash_bucket = sorted(r.b for r in bcol)[0]

        def crash_between_renames(point, target):
            if point == "aside" and target.endswith(f"bucket={crash_bucket}"):
                raise RuntimeError(f"injected crash mid-swap of bucket {crash_bucket}")

        with monkeypatch.context() as m, pytest.raises(
            RuntimeError, match="injected crash mid-swap"
        ):
            m.setattr(commit, "step", crash_between_renames)
            merge_into_bucketed(
                spark, out, upd, match_cols=["conv_id", "turn_idx"],
                bucket_col="conv_id", n_buckets=4,
            )
        # mid-swap state: bucket=<b> is renamed aside — the table is
        # readable only after repair; rerunning the merge repairs + applies
        merge_into_bucketed(
            spark, out, upd, match_cols=["conv_id", "turn_idx"],
            bucket_col="conv_id", n_buckets=4, run_id="merge2",
        )
        after = {
            (r.conv_id, r.turn_idx): r.v for r in read_bucketed(spark, out).collect()
        }
        want = dict(before)
        want[("c1", 1)] = 999
        want[("c2", 2)] = 888
        assert after == want
        # no stray .old dirs or merge staging left behind
        leftovers = [
            d for d in os.listdir(out)
            if d.endswith(".old") or d.startswith("_staging_merge_")
        ]
        assert leftovers == []

    def test_rollback_when_new_data_never_landed(self, spark, tmp_path):
        import shutil

        from mehari_spark.plans.commit import repair
        from mehari_spark.plans.lineage import read_bucketed

        out = str(tmp_path / "t")
        self._seed_table(spark, out)
        before = sorted(map(tuple, read_bucketed(spark, out).collect()))
        # simulate a crash BETWEEN the two renames: bucket aside, no new data
        src = os.path.join(out, "bucket=0")
        shutil.move(src, src + ".old")
        assert repair(out) == [src]
        assert sorted(map(tuple, read_bucketed(spark, out).collect())) == before


class TestSortedBucketFiles:
    def test_every_data_file_is_internally_sorted(self, spark, tmp_path):
        # sort_cols makes each emitted parquet file key-ordered (SST /
        # Iceberg sorted-file discipline) with a LOCAL sort only — the plan
        # must not gain a shuffle
        import glob

        import pandas as pd

        from mehari_spark.plans.lineage import read_bucketed, write_bucketed

        df = (
            spark.range(5000)
            .select(
                F.concat(F.lit("c"), (F.col("id") % 61).cast("string")).alias(
                    "conv_id"
                ),
                (F.col("id") % 17).cast("int").alias("turn_idx"),
                F.xxhash64("id").alias("v"),
            )
            .repartition(8)  # unsorted, spread input
        )
        out = str(tmp_path / "t")
        write_bucketed(
            df, out, run_id="s", key_col="conv_id", n_buckets=4,
            sort_cols=["conv_id", "turn_idx"],
        )
        files = glob.glob(f"{out}/bucket=*/*.parquet")
        assert files
        for f in files:
            pdf = pd.read_parquet(f)[["conv_id", "turn_idx"]]
            assert list(map(tuple, pdf.values.tolist())) == sorted(
                map(tuple, pdf.values.tolist())
            ), f"unsorted file {f}"
        # content identical to the unsorted write path
        assert read_bucketed(spark, out).count() == 5000


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
