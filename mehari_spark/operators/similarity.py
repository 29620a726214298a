"""Similarity search over an embedding column (array<float>).

Three shared pieces carry the tier:

- ``_side`` / ``_cos``: the exact Catalyst score — one norm per vector on
  each join side, then a built-in higher-order-function fold (zip_with +
  aggregate) that stays in whole-stage codegen, rounded to 9 digits so
  float ulps cannot flip an order. ``cosine_topk``, the all-pairs registry
  baseline and the ``lsh_near_dup_pairs`` re-rank all score with it.
- ``_topk``: the one top-k cut, ``row_number`` over (cos desc, id asc).
- ``_probe_topk``: the Arrow probe-and-score kernel. It reads a cells frame
  (vec_id, embedding, centroid), sends each cell's rows only to the queries
  routed to that cell, scores them with one matmul per cell and emits a
  local top-k per query for the global cut.

The entry points:

- ``cosine_topk``: brute-force exact top-k — the (small) query set is
  broadcast against the streamed corpus.
- ``cosine_topk_arrow``: the same top-k on the kernel, with one cell that
  every query probes — the throughput form of brute force.
- ``ivf_topk``: IVF approximate top-k — train K centroids, assign every
  vector to its nearest one, probe the assigned frame's nprobe nearest
  cells per query. The candidate set per query shrinks by ~K/nprobe; the
  score inside the probed cells is exact.
- ``build_ivf_index`` / ``ivf_query_topk``: the persistent IVF index — the
  assigned corpus written partitioned by cell once, each query batch
  probing its nprobe cells through partition pruning.
- ``lsh_near_dup_pairs`` / ``hyperplane_lsh_buckets``: cosine LSH over the
  blocking stage's hyperplane kernel and band self-join
  (operators/blocking.py) — embedding near-dup pairs with an exact
  re-rank, and plain single-band buckets.
"""

from __future__ import annotations

import os
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .blocking import band_pairs, banded_lsh_signatures, unit_rows


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _side(df: DataFrame, id_as: str, vec_as: str, norm_as: str) -> DataFrame:
    """One join side of a cosine score: (id, vector, norm) under the given
    names. Norms are per vector, so each side computes them once instead
    of twice per scored pair — bit-identical cos."""
    return df.select(
        F.col("vec_id").alias(id_as),
        F.col("embedding").alias(vec_as),
        _norm(F.col("embedding")).alias(norm_as),
    )


def _cos(vec_a: str, vec_b: str, norm_a: str, norm_b: str):
    """cos of two ``_side`` columns, rounded to 9 digits (the oracle's
    rounding, so an ulp cannot flip a rank or a threshold)."""
    return F.round(
        _dot(F.col(vec_a), F.col(vec_b)) / (F.col(norm_a) * F.col(norm_b)), 9
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, rank): the k best ``cos`` per query, ties
    broken by the lower neighbor id."""
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _ppm_pairs(scored: DataFrame, threshold: float) -> DataFrame:
    """(vec_a, vec_b, cos_ppm) of the scored pairs at or above threshold;
    the ppm integer keeps the output float-hash-proof."""
    return scored.filter(F.col("cos") >= threshold).select(
        "vec_a",
        "vec_b",
        F.floor(F.col("cos") * 1000000).cast("long").alias("cos_ppm"),
    )


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 3,
    queries_df: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (excluding self).

    Output: (query_id, neighbor_id, rank) — ids only, so the value hash is
    float-rounding-proof. ``queries_df`` (vec_id, embedding) supplies the
    query vectors directly — the serving-path shape, where queries arrive
    with the request instead of being re-scanned out of the corpus."""
    q_src = queries_df if queries_df is not None else embeddings.filter(
        F.col("vec_id").isin(query_ids)
    )
    q = _side(q_src, "query_id", "qv", "qn")
    scored = (
        _side(embeddings, "neighbor_id", "cv", "cn")
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", _cos("qv", "cv", "qn", "cn"))
    )
    return _topk(scored, k)


def _local_topk_rows(
    sims: np.ndarray, ids: np.ndarray, qids: np.ndarray, k: int
) -> pd.DataFrame:
    """Per-query local top-k under the EXACT global order (cos desc, id
    asc). argpartition alone breaks ties arbitrarily — with duplicated
    vectors (exact cos ties) a batch could emit high-id ties while
    dropping the low-id ones the global merge would have ranked first, so
    the tied tail is widened to every element sharing the k-th cos before
    the lexicographic cut."""
    out_q: list[int] = []
    out_n: list[int] = []
    out_c: list[float] = []
    n = sims.shape[0]
    top = min(k, n)
    for qi in range(sims.shape[1]):
        col = sims[:, qi]
        if n > top:
            part = np.argpartition(-col, top - 1)
            kth = col[part[top - 1]]
            cand = np.flatnonzero(col >= kth)
        else:
            cand = np.arange(n)
        cand = cand[np.isfinite(col[cand])]
        if cand.size == 0:
            continue
        order = np.lexsort((ids[cand], -col[cand]))[:top]
        sel = cand[order]
        out_q.extend([int(qids[qi])] * len(sel))
        out_n.extend(ids[sel].tolist())
        out_c.extend(col[sel].tolist())
    return pd.DataFrame(
        {
            "query_id": pd.Series(out_q, dtype="int64"),
            "neighbor_id": pd.Series(out_n, dtype="int64"),
            "cos": pd.Series(out_c, dtype="float64"),
        }
    )


def _collect_queries(queries: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """A query batch on the driver (batches are small by definition):
    (ids, unit-length vectors)."""
    rows = queries.select("vec_id", "embedding").collect()
    vecs = np.asarray([r[1] for r in rows], dtype=np.float64)
    return (
        np.asarray([r[0] for r in rows], dtype=np.int64),
        unit_rows(vecs) if rows else vecs,
    )


def _probe_topk(
    cells: DataFrame,
    qids: np.ndarray,
    qunit: np.ndarray,
    route: dict[int, np.ndarray],
    k: int,
) -> DataFrame:
    """Exact top-k of each query over the cells routed to it.

    ``cells`` is (vec_id, embedding, centroid); ``route`` maps a cell to the
    indices (into ``qids``/``qunit``) of the queries that probe it. Only
    routed cells are read — on a table partitioned by cell the ``isin``
    becomes a PartitionFilter and the other cells' files are skipped. Each
    Arrow batch is scored with one (cell rows x d) @ (d x queries of the
    cell) matmul per cell, so the work is O(rows x queries per cell), and a
    local top-k per query goes to the global cut. A per-row HOF fold here
    is interpreted per ELEMENT and measured ~10x slower at 64 dims."""

    def score(it: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = unit_rows(np.asarray(pdf["embedding"].tolist(), dtype=np.float64))
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cell_ids = pdf["centroid"].to_numpy(dtype=np.int64)
            for c in np.unique(cell_ids):
                qis = route[int(c)]
                rows = np.flatnonzero(cell_ids == c)
                sub_ids = ids[rows]
                sims = mat[rows] @ qunit[qis].T  # (n_cell, nq_cell)
                sims = np.where(
                    sub_ids[:, None] != qids[qis][None, :], sims, -np.inf
                )
                yield _local_topk_rows(sims, sub_ids, qids[qis], k)

    local_topk = (
        cells.filter(F.col("centroid").isin(sorted(route)))
        .select("vec_id", "embedding", "centroid")
        .mapInPandas(score, schema="query_id long, neighbor_id long, cos double")
    )
    return _topk(local_topk, k)


def _ivf_probe(
    cells: DataFrame, queries: DataFrame, cents: np.ndarray, nprobe: int, k: int
) -> DataFrame:
    """Route each query to its nprobe nearest centroids' cells, then score
    those cells on the kernel."""
    qids, qunit = _collect_queries(queries)
    route: dict[int, np.ndarray] = {}
    if len(qids):  # a query batch may be empty or match no corpus id
        probes = np.argsort(-(qunit @ cents.T), axis=1)[:, :nprobe]
        route = {
            int(c): np.flatnonzero((probes == c).any(axis=1))
            for c in np.unique(probes)
        }
    return _probe_topk(cells, qids, qunit, route, k)


def cosine_topk_arrow(
    embeddings: DataFrame, queries_df: DataFrame, k: int = 10
) -> DataFrame:
    """Exact brute-force top-k on the Arrow kernel: the whole corpus is one
    cell that every query probes. Same output contract as ``cosine_topk``
    (which keeps the pure-Catalyst HOF form for oracle parity); this is the
    throughput form — the fair full-scan baseline for the IVF index
    query."""
    qids, qunit = _collect_queries(queries_df)
    route = {0: np.arange(len(qids))} if len(qids) else {}
    return _probe_topk(
        embeddings.withColumn("centroid", F.lit(0)), qids, qunit, route, k
    )


def train_centroids(embeddings: DataFrame, n_centroids: int = 16) -> np.ndarray:
    """Deterministic mini-Lloyd IVF training (8 iterations) on a bounded
    sample.

    The sample is the 4096 vectors with the lowest SALTED HASH of their id
    (xxhash64(id, 42)) — deterministic across runs and cluster sizes like a
    lowest-id sample, but uniform over the corpus even when ids correlate
    with content (ids assigned per source would otherwise train the coarse
    quantizer on a biased slice). At 100 TB this is still a bounded
    driver-side constant — the standard IVF coarse-quantizer training
    recipe.
    """
    sample = (
        embeddings.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id"), F.lit(42)), F.col("vec_id"))
        .limit(4096)
        .toPandas()
    )
    mat = unit_rows(np.asarray(sample["embedding"].tolist(), dtype=np.float64))
    rng = np.random.RandomState(42)
    cents = mat[rng.choice(len(mat), size=min(n_centroids, len(mat)), replace=False)]
    for _ in range(8):
        assign = (mat @ cents.T).argmax(axis=1)
        for c in range(cents.shape[0]):
            members = mat[assign == c]
            if len(members):
                v = members.mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cents[c] = v / n
    return cents


def assign_centroids(embeddings: DataFrame, centroids: np.ndarray) -> DataFrame:
    """(vec_id, embedding, centroid): every vector with its nearest
    centroid, by a vectorized argmax of dot products (one matmul per Arrow
    batch). Centroids ride as a broadcast variable."""
    bc = embeddings.sparkSession.sparkContext.broadcast(centroids)
    vec_type = embeddings.schema["embedding"].dataType.simpleString()

    def assign(it: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents: np.ndarray = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            sims = unit_rows(mat) @ cents.T
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "embedding": pdf["embedding"],
                    "centroid": pd.Series(sims.argmax(axis=1), dtype="int32"),
                }
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        assign, schema=f"vec_id long, embedding {vec_type}, centroid int"
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 3,
    n_centroids: int = 8,
    nprobe: int = 6,
) -> DataFrame:
    """Approximate top-k: probe the nprobe nearest centroid cells per query,
    exact cosine score inside the probed cells. The coarse quantizer is
    trained once (bounded sample, deterministic); the assigned corpus is
    probed in memory, without an index on disk.

    Default geometry note: the synthetic test embeddings are near-uniform
    on the sphere (no cluster structure), so high nprobe/n_centroids ratios
    are needed for recall (measured 0.93 at 8/6, 0.83 at 16/8 on sf0.001).
    Real embedding corpora cluster heavily and run nprobe << n_centroids —
    tune per corpus; the plan shape (cell routing + in-cell exact score) is
    what carries to 100 TB, not these constants."""
    trained = train_centroids(embeddings, n_centroids)
    return _ivf_probe(
        assign_centroids(embeddings, trained),
        embeddings.filter(F.col("vec_id").isin(query_ids)),
        trained,
        nprobe,
        k,
    )


def build_ivf_index(
    embeddings: DataFrame, index_path: str, n_centroids: int = 64
) -> np.ndarray:
    """Build a persistent IVF index: train the coarse quantizer, assign
    every vector to its cell, and write the corpus PARTITIONED BY CELL
    (``centroid=N/`` parquet partitions) plus the trained centroids.

    This is the offline half of real IVF: the O(corpus) assignment scan is
    paid ONCE at index build; every query afterwards reads only its nprobe
    probed cells — Spark partition pruning turns the cell probe into a
    physical skip of the other partitions' files (the FAISS inverted-list
    seek, expressed as parquet layout). Returns the trained centroids."""
    trained = train_centroids(embeddings, n_centroids)
    (
        assign_centroids(embeddings, trained)
        # co-locate each cell into one task before the partitioned write:
        # otherwise every shuffle partition writes a sliver of every cell
        # (tasks x cells tiny files — the small-file antipattern that
        # throttles the probe-time scan with per-file open overhead)
        .repartition(n_centroids, "centroid")
        .write.mode("overwrite")
        .partitionBy("centroid")
        .parquet(os.path.join(index_path, "cells"))
    )
    np.save(os.path.join(index_path, "centroids.npy"), trained)
    return trained


def ivf_query_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    cells_df: DataFrame | None = None,
) -> DataFrame:
    """Query a ``build_ivf_index`` index: per query, probe the nprobe
    nearest cells and exact-cosine score inside them.

    The probed cell list becomes an ``isin`` filter on the PARTITION column
    — Catalyst prunes every other cell at the scan (check PartitionFilters
    in the plan), so the work is O(corpus * nprobe / n_centroids), not
    O(corpus). ``cells_df`` is a pre-opened index table: serving holds the
    table open, since re-opening per query re-lists every partition
    directory (measured as the dominant cost at small probe counts).
    Partition pruning applies to the cached file index all the same."""
    cells = (
        cells_df
        if cells_df is not None
        else spark.read.parquet(os.path.join(index_path, "cells"))
    )
    cents = np.load(os.path.join(index_path, "centroids.npy"))
    return _ivf_probe(cells, queries, cents, nprobe, k)


def synth_clustered(embeddings: DataFrame, n_clusters: int = 16) -> DataFrame:
    """Derive a CLUSTERED corpus from any embedding table (deterministic).

    Real embedding corpora cluster heavily — the uniform-on-sphere demo data
    does not, which forces IVF into near-brute-force nprobe ratios. This
    transform plants cluster structure: vector i joins cluster (i mod
    n_clusters); out = normalize(centroid_c + 0.35 * v). A member's cosine
    to its centroid is then ~0.94 while cross-cluster cosines stay near 0,
    so a trained quantizer recovers the clusters and nprobe=2 of 16 cells
    reaches recall >= 0.9 (pytest-gated)."""

    def gen(it: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            # the same seeded draw in every batch: one set of cluster centres
            cents = np.random.RandomState(5).randn(n_clusters, mat.shape[1])
            cents /= np.linalg.norm(cents, axis=1, keepdims=True)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            out = cents[ids % n_clusters] + 0.35 * mat
            out /= np.linalg.norm(out, axis=1, keepdims=True)
            yield pd.DataFrame({"vec_id": ids, "embedding": list(out)})

    return embeddings.select("vec_id", "embedding").mapInPandas(
        gen, schema="vec_id long, embedding array<double>"
    )


def lsh_near_dup_pairs(corpus: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Blocked embedding near-dup PAIRS — the 100 TB path.

    Candidates come from a (band, sig) self-equi-join of the 32x12 banded
    signatures (hash join; sub-quadratic — never an all-pairs broadcast),
    then the exact cosine re-rank keeps pairs >= threshold. With the band
    knee far below the threshold, blocking provably loses no pair on the
    demo corpus, so the output is IDENTICAL to the exact all-pairs query
    (asserted in pytest; the J8 candidate-from-index discipline,
    strucvars/mod.rs:3189-3290). Output: (vec_a, vec_b, cos_ppm)."""
    # the signatures feed both self-join sides: materialized once (with any
    # derived-corpus pipeline under them) through the bounded stage cache
    from ..plans.stagecache import materialize_once

    sigs = materialize_once(
        corpus.sparkSession,
        ("hyperplane_bands", corpus),
        lambda: banded_lsh_signatures(corpus),
    )
    cand = band_pairs(sigs, "vec_id", ["band", "sig"], ("vec_a", "vec_b"))
    # per-side norms: the re-rank stage measured ~1.9 s -> ~0.7 s at sf0.1
    # against norms inside the candidate row (guide §1.2 step 2)
    scored = (
        cand.join(_side(corpus, "vec_a", "ea", "norm_a"), "vec_a")
        .join(_side(corpus, "vec_b", "eb", "norm_b"), "vec_b")
        .withColumn("cos", _cos("ea", "eb", "norm_a", "norm_b"))
    )
    return _ppm_pairs(scored, threshold)


def hyperplane_lsh_buckets(embeddings: DataFrame) -> DataFrame:
    """(vec_id, bucket) — sign pattern across 16 random hyperplanes (cosine
    LSH): the one band of the hyperplane kernel with 16 rows."""
    return banded_lsh_signatures(embeddings, 1, 16, 7).select(
        "vec_id", F.col("sig").alias("bucket")
    )
