"""Round-8 profiling harness (NOT the driver bench): per-stage isolation of
the hot headline queries with the noop sink (guide §1.4), labeled jobs,
partition counts. Ad-hoc; numbers feed OPTIMIZATION_r08.md."""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import functions as F  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def t(spark, label, df=None, action=None):
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    if action is not None:
        n = action()
    else:
        df.write.format("noop").mode("overwrite").save()
        n = ""
    dt = time.time() - t0
    print(f"  {label:48s} {dt:7.3f}s  {n}")
    spark.sparkContext.setJobDescription(None)
    return dt


def main():
    from mehari_spark.session import get_spark
    from mehari_spark.plans.stagecache import clear_shared_stages

    spark = get_spark("r8-profile", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")

    # warmup the worker pool
    spark.range(128).repartition(32).mapInPandas(lambda it: it, schema="id long").count()

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    print("documents partitions:", docs.rdd.getNumPartitions(), "rows:", docs.count())

    from mehari_spark.sources.transcripts import transcripts

    tr = transcripts(spark, SF)
    print("transcripts partitions:", tr.rdd.getNumPartitions())

    which = set(sys.argv[1:]) or {"minhash", "neardup", "mentions", "winnow", "pagerank", "enriched"}

    if "mentions" in which:
        print("== kg_entity_mentions decomposition ==")
        from mehari_spark.operators.mentions import detect_mentions
        from mehari_spark.dictionary import demo_patterns

        t(spark, "transcripts scan only", tr)
        m = detect_mentions(transcripts(spark, SF), demo_patterns())
        t(spark, "mentions scan (no agg)", m)
        q = (
            m.filter(F.col("kind") == "E")
            .groupBy("conv_id", "turn_idx", F.col("ref_id").alias("entity_id"))
            .agg(F.count("*").alias("n_mentions"))
        )
        t(spark, "mentions + groupBy (full query)", q)

    if "minhash" in which:
        print("== doc_minhash_pairs decomposition ==")
        from mehari_spark.operators.blocking import minhash_band_rows, whitespace_tokens
        from mehari_spark.operators.dedup import _doc_tokens, minhash_lsh_pairs

        src = docs.select("doc_id", "text")
        par = spark.sparkContext.defaultParallelism
        print("  src partitions:", src.rdd.getNumPartitions(), "par:", par)
        srcr = src.repartition(par)
        bands_df = srcr.mapInPandas(
            lambda it: minhash_band_rows(it, "doc_id", "text", whitespace_tokens, 128, 8, 42),
            schema="doc_id long, band_idx int, band_key long",
        )
        t(spark, "signature kernel (repart + mapInPandas)", bands_df)
        clear_shared_stages()
        bands_p = bands_df.persist()
        t(spark, "bands persist", action=lambda: bands_p.count())
        cand = (
            bands_p.alias("x")
            .join(bands_p.alias("y"), ["band_idx", "band_key"])
            .filter(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
            .distinct()
        )
        cand_p = cand.persist()
        t(spark, "band join + distinct", action=lambda: cand_p.count())
        toks = _doc_tokens(docs).select("doc_id", "toks").persist()
        t(spark, "tokenize arrays", action=lambda: toks.count())
        inter = (
            cand_p.join(
                toks.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a")),
                "doc_a",
            )
            .join(
                toks.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b")),
                "doc_b",
            )
            .filter(
                F.least(F.size("toks_a"), F.size("toks_b"))
                >= 0.95 * F.greatest(F.size("toks_a"), F.size("toks_b"))
            )
            .select(
                "doc_a",
                "doc_b",
                F.size(F.array_intersect("toks_a", "toks_b")).alias("ni"),
                F.size("toks_a").alias("na"),
                F.size("toks_b").alias("nb"),
            )
        )
        t(spark, "re-rank join + intersect", inter)
        bands_p.unpersist(); cand_p.unpersist(); toks.unpersist()
        clear_shared_stages()
        full = minhash_lsh_pairs(docs, threshold=0.95)
        t(spark, "full minhash_lsh_pairs (shared-stage path)", full)
        clear_shared_stages()

    if "neardup" in which:
        print("== emb_near_dup_lsh decomposition ==")
        from mehari_spark.plans.queries import QUERIES, _near_dup_corpus
        from mehari_spark.operators.blocking import banded_lsh_signatures

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        print("  embeddings rows:", emb.count(), "dim:", len(emb.first()["embedding"]))
        corpus = _near_dup_corpus(emb)
        t(spark, "corpus derivation", corpus)
        cp = corpus.persist()
        t(spark, "corpus persist", action=lambda: cp.count())
        sigs = banded_lsh_signatures(cp, 32, 12, 11, "vec_id", "embedding")
        sp = sigs.persist()
        t(spark, "banded signatures", action=lambda: sp.count())
        cand = (
            sp.alias("a")
            .join(
                sp.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
            .distinct()
        )
        cnd = cand.persist()
        t(spark, "band self-join + distinct", action=lambda: cnd.count())
        from mehari_spark.operators.similarity import _dot, _norm

        va = cp.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
        vb = cp.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
        scored = (
            cnd.join(va, "vec_a")
            .join(vb, "vec_b")
            .withColumn(
                "cos",
                F.round(
                    _dot(F.col("ea"), F.col("eb"))
                    / (_norm(F.col("ea")) * _norm(F.col("eb"))),
                    9,
                ),
            )
            .filter(F.col("cos") >= 0.9)
        )
        t(spark, "exact re-rank (HOF dot/norm)", scored)
        cp.unpersist(); sp.unpersist(); cnd.unpersist()
        clear_shared_stages()
        fn, _ = QUERIES["emb_near_dup_lsh"]
        t(spark, "full emb_near_dup_lsh", fn(spark, SF))
        clear_shared_stages()

    if "winnow" in which:
        print("== doc_span_matches_winnowed decomposition ==")
        from mehari_spark.operators.spandedup import winnowed_postings

        wp = winnowed_postings(docs, 24, 8)
        t(spark, "winnowed postings kernel", wp)
        from mehari_spark.plans.queries import QUERIES

        fn, _ = QUERIES["doc_span_matches_winnowed"]
        t(spark, "full doc_span_matches_winnowed", fn(spark, SF))

    if "pagerank" in which:
        print("== graph tier ==")
        from mehari_spark.plans.queries import QUERIES

        for name in ("kg_entity_degree", "kg_pagerank", "kg_kcore"):
            fn, _ = QUERIES[name]
            t0 = time.time()
            df = fn(spark, SF)
            build = time.time() - t0
            t(spark, f"{name} (exec after {build:.2f}s build)", df)

    if "enriched" in which:
        print("== kg_triples / enriched / compound / coref ==")
        from mehari_spark.plans.queries import QUERIES

        for name in (
            "kg_triples",
            "kg_triples_enriched",
            "kg_compound_triples",
            "kg_coref_clusters",
        ):
            fn, _ = QUERIES[name]
            t0 = time.time()
            df = fn(spark, SF)
            build = time.time() - t0
            t(spark, f"{name} (exec after {build:.2f}s build)", df)

    spark.stop()


if __name__ == "__main__":
    main()
