"""IVF vs brute-force ANN wall-time evidence on a replicated clustered
corpus (>= 200k vectors).

The recall gates in tests/ prove the PROBE GEOMETRY is sublinear
(nprobe/n_centroids of the cells scanned); this bench proves the TIME is:
same corpus, same queries, exact brute-force top-k vs IVF probe + in-cell
exact re-rank, recall reported next to the speedup.

Usage:  python bench_ivf.py          # one JSON line on stdout
Env:    IVF_REPLICATE (default 128 -> 256k vectors), IVF_QUERIES (16),
        SPARK_GRAFT_CPUS (32), MEHARI_SPARK_LOCAL_DIR (shuffle dir)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")


def main() -> None:
    # the written corpus and its index live in shared memory: ~200 MB at
    # the default IVF_REPLICATE, so they go whether or not the run finishes
    tmp = tempfile.mkdtemp(prefix="ivf-corpus-", dir="/dev/shm")
    try:
        _bench(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _bench(tmp: str) -> None:
    from pyspark.sql import functions as F

    from mehari_spark.operators.similarity import (
        cosine_topk,
        synth_clustered,
    )
    from mehari_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    replicate = int(os.environ.get("IVF_REPLICATE", "128"))
    n_queries = int(os.environ.get("IVF_QUERIES", "16"))
    spark = get_spark("mehari-spark-ivf-bench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    n_base = base.count()
    # replicate with disjoint id ranges, then plant cluster structure —
    # deterministic, so both paths see the identical corpus
    rep = spark.range(replicate).withColumnRenamed("id", "r")
    corpus_raw = base.crossJoin(rep).select(
        (F.col("vec_id") + F.col("r") * 10_000_000).alias("vec_id"),
        "embedding",
    )
    n_cells = int(os.environ.get("IVF_CELLS", "256"))
    clustered = synth_clustered(corpus_raw, n_clusters=n_cells)
    corpus_path = os.path.join(tmp, "corpus.parquet")
    clustered.repartition(cores).write.mode("overwrite").parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    n_vecs = corpus.count()
    query_ids = [int(i) for i in range(n_queries)]

    def timed(fn):
        t0 = time.time()
        df = fn()
        rows = df.collect()
        return time.time() - t0, rows

    # warmup: spin up the Python worker pool + parquet reader so neither
    # timed path pays session bring-up
    corpus.limit(256).mapInPandas(
        lambda it: it, schema="vec_id long, embedding array<double>"
    ).count()
    corpus.select(F.size("embedding").alias("d")).agg(F.max("d")).collect()

    # --- offline index build (paid once, amortized over every query) ---
    from mehari_spark.operators.similarity import build_ivf_index, ivf_query_topk

    index_path = os.path.join(tmp, "ivf-index")
    t0 = time.time()
    build_ivf_index(corpus, index_path, n_centroids=n_cells)
    t_build = time.time() - t0

    # --- query-time comparison at two batch widths. The honest physics:
    # per-query work is always O(nprobe/n_centroids of the corpus), but the
    # SCAN is the union of probed cells — a small/concentrated query batch
    # prunes most partitions (the seek-y FAISS case), a wide spread batch
    # touches most cells and only saves compute, not IO. Report both.
    # pre-fetch the query VECTORS (untimed): in serving, queries arrive
    # with the request — neither path should pay a corpus scan to look
    # them up
    all_q = corpus.filter(F.col("vec_id").isin(query_ids)).collect()
    by_id = {r.vec_id: r for r in all_q}

    def local_queries(q_ids):
        return spark.createDataFrame(
            [(int(i), list(by_id[i].embedding)) for i in q_ids],
            "vec_id long, embedding array<double>",
        )

    from mehari_spark.operators.similarity import cosine_topk_arrow

    # open the index ONCE (untimed) — serving holds the table open; the
    # partition listing is cached in the InMemoryFileIndex and per-query
    # pruning still applies
    cells_open = spark.read.parquet(os.path.join(index_path, "cells"))

    # untimed warmup of all plan shapes (codegen + first exchange)
    cosine_topk_arrow(corpus, local_queries([0]), k=3).collect()
    ivf_query_topk(spark, index_path, local_queries([0]), k=3, nprobe=1,
                   cells_df=cells_open).collect()

    configs = []
    for nq in (4, n_queries):
        q_ids = [int(i) for i in range(nq)]
        ql = local_queries(q_ids)
        # brute baseline: SAME Arrow matmul kernel, full-corpus scan — the
        # comparison isolates the index (scan less), not the kernel style
        t_brute, brute_rows = timed(lambda: cosine_topk_arrow(corpus, ql, k=10))
        t_ivf, ivf_rows = timed(
            lambda: ivf_query_topk(spark, index_path, ql, k=10, nprobe=4, cells_df=cells_open)
        )
        # reference: the registry's pure-Catalyst HOF exact baseline
        t_hof, _ = timed(lambda: cosine_topk(corpus, q_ids, k=10, queries_df=ql))
        brute = {(r.query_id, r.neighbor_id) for r in brute_rows}
        ivf = {(r.query_id, r.neighbor_id) for r in ivf_rows}
        recall = len(brute & ivf) / len(brute) if brute else 1.0
        configs.append(
            {
                "n_queries": nq,
                "brute_query_sec": round(t_brute, 2),
                "brute_hof_sec": round(t_hof, 2),
                "ivf_query_sec": round(t_ivf, 2),
                "query_speedup": round(t_brute / t_ivf, 2),
                "recall_vs_brute": round(recall, 4),
            }
        )

    print(
        json.dumps(
            {
                "metric": "ivf_vs_brute_seconds",
                "n_vectors": n_vecs,
                "n_base": n_base,
                "k": 10,
                "n_centroids": n_cells,
                "nprobe": 4,
                "index_build_sec": round(t_build, 2),
                "configs": configs,
                "cores": cores,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
