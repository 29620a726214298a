"""Approximate paths (MinHash-LSH, IVF, SimHash, LSH linking) measured
against their exact counterparts — recall >= 0.95, precision 1.0 where the
re-rank is exact. This is the BASELINE.json P/R discipline applied to every
probabilistic operator."""

from __future__ import annotations

from pyspark.sql import functions as F

from mehari_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_candidate_pairs,
)
from mehari_spark.operators.linking import link_exact_jaccard, link_lsh
from mehari_spark.operators.similarity import cosine_topk, ivf_topk
from mehari_spark.dictionary import entity_df

from .conftest import SF_UNIT


def _docs(spark):
    return spark.read.parquet(f"{SF_UNIT}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF_UNIT}/embeddings.parquet")


class TestDedup:
    def test_exact_groups_cover_all_docs(self, spark):
        docs = _docs(spark)
        groups = exact_dedup_groups(docs)
        assert groups.agg(F.sum("n_docs")).first()[0] == docs.count()

    def test_minhash_recall_vs_exact(self, spark):
        docs = _docs(spark)
        exact = {
            (r.doc_a, r.doc_b)
            for r in ngram_jaccard_pairs(docs, threshold=0.95, within=()).collect()
        }
        lsh = {
            (r.doc_a, r.doc_b)
            for r in minhash_lsh_pairs(docs, threshold=0.95).collect()
        }
        assert lsh <= exact  # exact re-rank => precision 1.0
        if exact:
            recall = len(lsh & exact) / len(exact)
            assert recall >= 0.95, f"LSH recall {recall:.3f} < 0.95 ({len(exact)} true pairs)"

    def test_simhash_candidates_are_pairs(self, spark):
        pairs = simhash_candidate_pairs(_docs(spark), max_hamming=3).collect()
        for r in pairs:
            assert r.doc_a < r.doc_b and r.hamming <= 3


class TestSimilarity:
    def test_ivf_recall_vs_brute(self, spark):
        emb = _emb(spark)
        qids = list(range(10))
        brute = {
            (r.query_id, r.neighbor_id)
            for r in cosine_topk(emb, qids, k=3).collect()
        }
        # 8 cells / 6 probed: the synthetic vectors are near-uniform on the
        # sphere (worst case for IVF), so the probe fraction must be high
        # to clear 0.9 — real clustered corpora run nprobe << n_centroids
        ivf = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(emb, qids, k=3, n_centroids=8, nprobe=6).collect()
        }
        recall = len(ivf & brute) / len(brute)
        assert recall >= 0.9, f"IVF recall {recall:.3f} too low"

    def test_brute_topk_shape(self, spark):
        out = cosine_topk(_emb(spark), [0, 1], k=5).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append(r.rank)
        assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())


class TestLinking:
    def test_lsh_link_recall_vs_exact(self, spark):
        # noisy surfaces: aliases with one char appended/duplicated
        rows = [(a + a[-1],) for a, _i, _t in __import__("mehari_spark.dictionary", fromlist=["DEMO_ENTITIES"]).DEMO_ENTITIES]
        surfaces = spark.createDataFrame(rows, "surface string")
        ents = entity_df(spark)
        exact = {
            (r.surface, r.entity_id)
            for r in link_exact_jaccard(surfaces, ents, threshold=0.2).collect()
        }
        lsh = {
            (r.surface, r.entity_id)
            for r in link_lsh(surfaces, ents, threshold=0.2).collect()
        }
        assert exact, "exact linker found nothing — fixture broken"
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.95, f"LSH link recall {recall:.3f}"

    def test_registry_lsh_equals_exact_at_driver_sf(self, spark):
        # kg_link_lsh carries the exact-path oracle, so blocking must not
        # lose a single link at the driver's correctness sf (0.01) — this is
        # the regression guard for the round-1 band-geometry bug (16x4 knee
        # at ~0.5 silently dropped every candidate below Jaccard 0.5).
        from mehari_spark.plans import queries as Q

        from .conftest import SF_SMALL

        exact = {
            (r.surface, r.entity_id)
            for r in Q.QUERIES["kg_link_surface_forms"][0](spark, SF_SMALL).collect()
        }
        lsh = {
            (r.surface, r.entity_id)
            for r in Q.QUERIES["kg_link_lsh"][0](spark, SF_SMALL).collect()
        }
        assert exact, "exact linker found nothing — fixture broken"
        assert lsh == exact, f"LSH blocking lost links: {exact - lsh}"

    def test_band_table_equals_scalar_reference(self):
        # the batch MinHash kernel gives link_lsh the same (value, band_idx,
        # band_key) rows as one scalar signature + band_keys call per value
        import pandas as pd

        from mehari_spark.dictionary import DEMO_ENTITIES
        from mehari_spark.kernels.minhash import (
            band_keys,
            hash_tokens,
            minhash_signature,
            perm_params,
            shingles,
        )
        from mehari_spark.operators.linking import NGRAM, _band_rows

        aliases = [a for a, _i, _t in DEMO_ENTITIES]
        vals = aliases + [a + a[-1] for a in aliases] + ["", "x", None]
        batches = [pd.DataFrame({"v": vals[:7]}), pd.DataFrame({"v": vals[7:]})]
        got = [
            row
            for pdf in _band_rows(iter(batches), "v", 128, 64, NGRAM, 42)
            for row in zip(pdf["value"], pdf["band_idx"], pdf["band_key"])
        ]
        a, b = perm_params(128, seed=42)
        want = [
            (v, i, k)
            for v in vals
            for i, k in enumerate(
                band_keys(minhash_signature(hash_tokens(shingles(f"^{v}$", NGRAM)), a, b), 64)
            )
        ]
        assert got == want

    def test_exact_link_self_alias(self, spark):
        # an exact alias must link to its own entity with score 1.0
        surfaces = spark.createDataFrame([("spark",), ("customer",)], "surface string")
        out = {r.surface: (r.entity_id, r.score) for r in
               link_exact_jaccard(surfaces, entity_df(spark), threshold=0.2).collect()}
        assert out["spark"] == (1, 1.0)
        assert out["customer"] == (2, 1.0)


class TestDedupClustering:
    def test_lsh_clusters_preserve_exact_coassignments(self, spark):
        # production path (LSH edges -> CC) must keep >=95% of the exact
        # path's same-cluster pairs (recall discipline of the pair stage
        # carried through the clustering stage)
        from mehari_spark.plans import queries as Q

        from .conftest import SF_UNIT

        exact = {
            r.doc_id: r.component_id
            for r in Q.QUERIES["doc_dedup_clusters"][0](spark, SF_UNIT).collect()
        }
        lsh = {
            r.doc_id: r.component_id
            for r in Q.QUERIES["doc_dedup_clusters_lsh"][0](spark, SF_UNIT).collect()
        }
        assert set(exact) == set(lsh)  # every doc labeled in both
        exact_pairs = {
            (a, b)
            for a in exact
            for b in exact
            if a < b and exact[a] == exact[b]
        }
        assert exact_pairs, "exact path found no co-clustered docs"
        kept = sum(1 for a, b in exact_pairs if lsh[a] == lsh[b])
        recall = kept / len(exact_pairs)
        assert recall >= 0.95, f"cluster co-assignment recall {recall:.3f}"
