"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-k — broadcast the (small) query set
  against all vectors; the dot product is a built-in higher-order-function
  fold (zip_with + aggregate), so it stays in whole-stage codegen. At scale
  the query side is what's broadcast; the corpus streams.
- ``ivf_topk``: IVF-style approximate path — K deterministic centroids,
  assign every vector to its nearest centroid (vectorized numpy pandas UDF),
  probe only the nprobe closest centroids per query. The candidate set per
  query shrinks by ~K/nprobe; the final re-rank is exact.
- ``build_ivf_index`` / ``ivf_query_topk``: the persistent IVF index — the
  corpus written partitioned by cell once, each query batch probing its
  nprobe cells through partition pruning and re-ranking them with one
  routed matmul per cell.
- ``lsh_near_dup_pairs`` / ``hyperplane_lsh_buckets``: cosine LSH over the
  blocking stage's hyperplane kernel and band self-join
  (operators/blocking.py) — embedding near-dup pairs with an exact
  re-rank, and plain single-band buckets.
"""

from __future__ import annotations

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


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries_df: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (excluding self).

    Output: (query_id, neighbor_id, rank) — ids only, so the value hash is
    float-rounding-proof. ``queries_df`` (same id/vec columns) supplies the
    query vectors directly — the serving-path shape, where queries arrive
    with the request instead of being re-scanned out of the corpus."""
    q_src = queries_df if queries_df is not None else embeddings.filter(
        F.col(id_col).isin(query_ids)
    )
    # per-side norm precompute: |queries| + |corpus| HOF folds instead of
    # 2x|corpus x queries| inside the scored row — bit-identical cos
    q = q_src.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos",
            _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


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


def cosine_topk_arrow(
    embeddings: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k with the Arrow-vectorized kernel: one
    (batch x d) @ (d x nq) matmul per Arrow batch, local top-k per query,
    tiny global merge. Same output contract as ``cosine_topk`` (which keeps
    the pure-Catalyst HOF form for oracle parity); this is the throughput
    form — the fair full-scan baseline for the IVF index query."""
    q_rows = queries_df.select(id_col, vec_col).collect()
    qids = np.asarray([r[0] for r in q_rows], dtype=np.int64)
    qnorm = unit_rows(np.asarray([r[1] for r in q_rows], dtype=np.float64))

    def score(it: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            sims = unit_rows(np.asarray(pdf[vec_col].tolist(), dtype=np.float64)) @ qnorm.T
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            sims = np.where(ids[:, None] != qids[None, :], sims, -np.inf)
            yield _local_topk_rows(sims, ids, qids, k)

    local_topk = embeddings.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, cos double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        local_topk.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _centroids(dim: int, n_centroids: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    c = rng.randn(n_centroids, dim)
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def train_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    sample_size: int = 4096,
    iters: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic mini-Lloyd IVF training on a bounded sample.

    The sample is the ``sample_size`` vectors with the lowest SALTED HASH
    of their id (xxhash64(id, seed)) — deterministic across runs and
    cluster sizes like a lowest-id sample, but uniform over the corpus
    even when ids correlate with content (ids assigned per source would
    otherwise train the coarse quantizer on a biased slice). At 100 TB
    this is still a bounded driver-side constant — the standard IVF
    coarse-quantizer training recipe.
    """
    sample = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(sample_size)
        .toPandas()
    )
    mat = unit_rows(np.asarray(sample[vec_col].tolist(), dtype=np.float64))
    rng = np.random.RandomState(seed)
    cents = mat[rng.choice(len(mat), size=min(n_centroids, len(mat)), replace=False)]
    for _ in range(iters):
        assign = (mat @ cents.T).argmax(axis=1)
        for c in range(cents.shape[0]):
            members = mat[assign == c]
            if len(members):
                v = members.mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cents[c] = v / n
    return cents


def assign_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """(vec_id, centroid) via vectorized argmax of dot products (one matmul
    per Arrow batch). Centroids ride as a broadcast variable."""
    bc = (
        embeddings.sparkSession.sparkContext.broadcast(centroids)
        if centroids is not None
        else None
    )

    def assign(it: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents: np.ndarray | None = bc.value if bc is not None else None
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            if cents is None:
                cents = _centroids(mat.shape[1], n_centroids, seed)
            sims = unit_rows(mat) @ cents.T
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].astype("int64"),
                    "centroid": pd.Series(sims.argmax(axis=1), dtype="int32"),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        assign, schema="vec_id long, centroid int"
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 3,
    n_centroids: int = 8,
    nprobe: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe the nprobe nearest centroid cells per query,
    exact cosine re-rank inside the probed cells. The coarse quantizer is
    trained once (bounded sample, deterministic) and broadcast.

    Default geometry note: the synthetic test embeddings are near-uniform
    on the sphere (no cluster structure), so high nprobe/n_centroids ratios
    are needed for recall (measured 0.93 at 8/6, 0.83 at 16/8 on sf0.001).
    Real embedding corpora cluster heavily and run nprobe << n_centroids —
    tune per corpus; the plan shape (cell equi-join + in-cell re-rank) is
    what carries to 100 TB, not these constants."""
    trained = train_centroids(
        embeddings, n_centroids=n_centroids, seed=seed, id_col=id_col, vec_col=vec_col
    )
    bc = embeddings.sparkSession.sparkContext.broadcast(trained)

    def q_probes(it: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents: np.ndarray | None = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            if cents is None:
                cents = _centroids(mat.shape[1], n_centroids, seed)
            sims = unit_rows(mat) @ cents.T
            order = np.argsort(-sims, axis=1)[:, :nprobe]
            ids = np.repeat(pdf[id_col].to_numpy(dtype=np.int64), nprobe)
            yield pd.DataFrame(
                {
                    "query_id": ids,
                    "centroid": pd.Series(order.ravel(), dtype="int32"),
                }
            )

    assigned = assign_centroids(
        embeddings, n_centroids, seed, id_col, vec_col, centroids=trained
    )
    queries = embeddings.filter(F.col(id_col).isin(query_ids))
    probes = queries.select(id_col, vec_col).mapInPandas(
        q_probes, schema="query_id long, centroid int"
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    cand = (
        probes.join(assigned.withColumnRenamed("vec_id", "neighbor_id"), "centroid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
        .join(F.broadcast(qv), "query_id")
        .join(
            embeddings.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("cv"),
                _norm(F.col(vec_col)).alias("cn"),
            ),
            "neighbor_id",
        )
        .withColumn(
            "cos",
            _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def build_ivf_index(
    embeddings: DataFrame,
    index_path: str,
    n_centroids: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Build a persistent IVF index: train the coarse quantizer, assign
    every vector to its cell, and write the corpus PARTITIONED BY CELL
    (``centroid=N/`` parquet partitions) plus the trained centroids.

    This is the offline half of real IVF: the O(corpus) assignment scan is
    paid ONCE at index build; every query afterwards reads only its nprobe
    probed cells — Spark partition pruning turns the cell probe into a
    physical skip of the other partitions' files (the FAISS inverted-list
    seek, expressed as parquet layout). Returns the trained centroids."""
    import os

    trained = train_centroids(
        embeddings, n_centroids=n_centroids, seed=seed, id_col=id_col, vec_col=vec_col
    )
    assigned = assign_centroids(
        embeddings, n_centroids, seed, id_col, vec_col, centroids=trained
    )
    (
        embeddings.select(id_col, vec_col)
        .join(assigned, id_col)
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
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells_df: DataFrame | None = None,
) -> DataFrame:
    """Query a ``build_ivf_index`` index: per query, probe the nprobe
    nearest cells and exact-cosine re-rank inside them.

    The probed cell list becomes an ``isin`` filter on the PARTITION column
    — Catalyst prunes every other cell at the scan (check PartitionFilters
    in the plan), so the work is O(corpus * nprobe / n_centroids), not
    O(corpus). Queries are collected to the driver (query batches are small
    by definition) and broadcast."""
    import os

    cents = np.load(os.path.join(index_path, "centroids.npy"))
    q_rows = queries.select(id_col, vec_col).collect()
    qnorm = unit_rows(np.asarray([r[1] for r in q_rows], dtype=np.float64))
    sims = qnorm @ cents.T
    probe_lists = np.argsort(-sims, axis=1)[:, :nprobe]
    probed_cells = sorted({int(c) for row in probe_lists for c in row})

    qids = np.asarray([int(r[0]) for r in q_rows], dtype=np.int64)
    # probe mask: may_score[cell, query] — a cell row scores ONLY against
    # the queries that probed its cell (true IVF candidate semantics)
    n_cells = cents.shape[0]
    mask = np.zeros((n_cells, len(qids)), dtype=bool)
    for qi, probes in enumerate(probe_lists):
        mask[probes, qi] = True

    # ``cells_df``: a pre-opened index table (serving holds the table open;
    # re-opening per query re-lists every partition directory — measured as
    # the dominant cost at small probe counts). Partition pruning applies
    # to the cached file index all the same.
    base_cells = (
        cells_df
        if cells_df is not None
        else spark.read.parquet(os.path.join(index_path, "cells"))
    )
    cells = base_cells.filter(
        F.col("centroid").isin(probed_cells)  # -> PartitionFilters prune
    )

    # per-cell query routing: queries grouped BY PROBED CELL so each
    # cell's rows matmul only against the queries that probed that cell
    # — with wide query batches (16+) the probed-cell union approaches
    # the whole index and an unrouted (batch x all-queries) matmul
    # erodes the compute pruning even though the mask kept the
    # SEMANTICS right; routing restores O(rows x queries/cell)
    cell_queries = {
        int(c): np.flatnonzero(mask[c]) for c in probed_cells
    }

    def score(it: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Arrow-vectorized scoring: one (cell_rows x d) @ (d x nq_cell)
        # matmul per cell group, LOCAL top-k per query emitted — the
        # driver-side merge then ranks nq x batches x k tiny rows. A
        # per-row HOF fold here is interpreted per ELEMENT and measured
        # ~10x slower than the matmul at 64 dims.
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = unit_rows(np.asarray(pdf[vec_col].tolist(), dtype=np.float64))
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cell_ids = pdf["centroid"].to_numpy(dtype=np.int64)
            for c in np.unique(cell_ids):
                qis = cell_queries.get(int(c))
                if qis is None or qis.size == 0:
                    continue
                rows = np.flatnonzero(cell_ids == c)
                sub_ids = ids[rows]
                sims = mat[rows] @ qnorm[qis].T  # (n_cell, nq_cell)
                sims = np.where(
                    sub_ids[:, None] != qids[qis][None, :], sims, -np.inf
                )
                yield _local_topk_rows(sims, sub_ids, qids[qis], k)

    local_topk = cells.select(id_col, vec_col, "centroid").mapInPandas(
        score, schema="query_id long, neighbor_id long, cos double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        local_topk.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def synth_clustered(
    embeddings: DataFrame,
    n_clusters: int = 16,
    tightness: float = 0.35,
    seed: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Derive a CLUSTERED corpus from any embedding table (deterministic).

    Real embedding corpora cluster heavily — the uniform-on-sphere demo data
    does not, which forces IVF into near-brute-force nprobe ratios. This
    transform plants cluster structure: vector i joins cluster (i mod
    n_clusters); out = normalize(centroid_c + tightness * v). With tightness
    0.35 a member's cosine to its centroid is ~0.94 while cross-cluster
    cosines stay near 0, so a trained quantizer recovers the clusters and
    nprobe=2 of 16 cells reaches recall >= 0.9 (pytest-gated)."""

    def gen(it: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rng = np.random.RandomState(seed)
        cents = rng.randn(n_clusters, 0)  # re-built once dim is known
        built = False
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            if not built:
                rng = np.random.RandomState(seed)
                cents = rng.randn(n_clusters, mat.shape[1])
                cents /= np.linalg.norm(cents, axis=1, keepdims=True)
                built = True
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            out = cents[ids % n_clusters] + tightness * mat
            out /= np.linalg.norm(out, axis=1, keepdims=True)
            yield pd.DataFrame({"vec_id": ids, "embedding": list(out)})

    return embeddings.select(id_col, vec_col).mapInPandas(
        gen, schema="vec_id long, embedding array<double>"
    )


def lsh_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_bands: int = 32,
    rows_per_band: int = 12,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Blocked embedding near-dup PAIRS — the 100 TB path.

    Candidates come from a (band, sig) self-equi-join of the banded
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
        ("hyperplane_bands", corpus, n_bands, rows_per_band, seed),
        lambda: banded_lsh_signatures(
            corpus, n_bands, rows_per_band, seed, id_col, vec_col
        ),
    )
    cand = band_pairs(sigs, "vec_id", ["band", "sig"], ("vec_a", "vec_b"))
    # norms are per-VECTOR, not per-pair: compute them once on each join
    # side (|corpus| evaluations) instead of inside the candidate row
    # (2x|candidates| interpreted HOF folds) — bit-identical cos, the
    # re-rank stage measured ~1.9 s -> ~0.7 s at sf0.1 (guide §1.2 step 2)
    va = corpus.select(
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("ea"),
        _norm(F.col(vec_col)).alias("norm_a"),
    )
    vb = corpus.select(
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("eb"),
        _norm(F.col(vec_col)).alias("norm_b"),
    )
    scored = (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn(
            "cos",
            F.round(
                _dot(F.col("ea"), F.col("eb"))
                / (F.col("norm_a") * F.col("norm_b")),
                9,
            ),
        )
    )
    return scored.filter(F.col("cos") >= threshold).select(
        "vec_a",
        "vec_b",
        F.floor(F.col("cos") * 1000000).cast("long").alias("cos_ppm"),
    )


def hyperplane_lsh_buckets(
    embeddings: DataFrame,
    n_planes: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, bucket) — sign pattern across random hyperplanes (cosine
    LSH): the one band of the hyperplane kernel with ``n_planes`` rows."""
    return banded_lsh_signatures(embeddings, 1, n_planes, seed, id_col, vec_col).select(
        "vec_id", F.col("sig").alias("bucket")
    )
