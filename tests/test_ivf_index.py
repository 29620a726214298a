"""Persistent IVF index (build/query split): agreement with the exact
brute-force path, partition pruning at the probe scan, and the Arrow
brute kernel's equivalence to the Catalyst HOF baseline. The rows of the
IVF registry entries, which no oracle checks, are pinned by the sha256 of
their sorted rows at sf0.001."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mehari_spark.operators.similarity import (
    build_ivf_index,
    cosine_topk,
    cosine_topk_arrow,
    ivf_query_topk,
    ivf_topk,
    synth_clustered,
)

from .conftest import SF_UNIT
from .test_blocking import rows_sha256

PINNED_SHA256 = {
    "emb_ivf_topk": "e571e24aa5b9dfd1300d82941efcf539fc08811922dcd9b18ebc983362b2bd74",
    "emb_ivf_clustered": "c96b15fdf4f0049906864a1c2d0f3333e8574abf07fb7ae934d5589a513dee29",
}


@pytest.mark.parametrize("name", sorted(PINNED_SHA256))
def test_ivf_entry_rows_pinned(spark, name):
    from mehari_spark.plans.queries import QUERIES

    assert rows_sha256(QUERIES[name][0](spark, SF_UNIT)) == PINNED_SHA256[name]


def _clustered(spark):
    emb = spark.read.parquet(f"{SF_UNIT}/embeddings.parquet")
    return synth_clustered(emb, n_clusters=16).localCheckpoint(eager=True)


class TestIvfIndex:
    def test_query_matches_exact_topk(self, spark, tmp_path):
        corpus = _clustered(spark)
        idx = str(tmp_path / "idx")
        build_ivf_index(corpus, idx, n_centroids=16)
        q_ids = [0, 1, 2, 3]
        queries = corpus.filter(F.col("vec_id").isin(q_ids))
        got = sorted(
            (r.query_id, r.neighbor_id, r.rank)
            for r in ivf_query_topk(
                spark, idx, queries, k=5, nprobe=4
            ).collect()
        )
        want = sorted(
            (r.query_id, r.neighbor_id, r.rank)
            for r in cosine_topk(corpus, q_ids, k=5).collect()
        )
        assert got == want  # planted clusters: nprobe=4/16 reaches exact

    def test_probe_scan_is_partition_pruned(self, spark, tmp_path):
        corpus = _clustered(spark)
        idx = str(tmp_path / "idx")
        build_ivf_index(corpus, idx, n_centroids=16)
        cells = spark.read.parquet(os.path.join(idx, "cells")).filter(
            F.col("centroid").isin([0, 3])
        )
        plan = cells._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "centroid" in plan
        # pruned scan reads only the probed cells' rows
        full = spark.read.parquet(os.path.join(idx, "cells")).count()
        assert 0 < cells.count() < full

    def test_one_file_per_cell(self, spark, tmp_path):
        """The index layout must not shatter cells into per-task slivers."""
        corpus = _clustered(spark)
        idx = str(tmp_path / "idx")
        build_ivf_index(corpus, idx, n_centroids=16)
        for d in os.listdir(os.path.join(idx, "cells")):
            if d.startswith("centroid="):
                files = [
                    f
                    for f in os.listdir(os.path.join(idx, "cells", d))
                    if f.endswith(".parquet")
                ]
                assert len(files) == 1

    def test_arrow_brute_equals_hof_brute(self, spark):
        corpus = _clustered(spark)
        q_ids = [5, 6, 7]
        queries = corpus.filter(F.col("vec_id").isin(q_ids))
        got = sorted(
            map(tuple, cosine_topk_arrow(corpus, queries, k=7).collect())
        )
        want = sorted(map(tuple, cosine_topk(corpus, q_ids, k=7).collect()))
        assert got == want


    def test_no_query_vector_gives_no_rows(self, spark):
        emb = spark.read.parquet(f"{SF_UNIT}/embeddings.parquet")
        assert ivf_topk(emb, [-1, -2], k=3).count() == 0
        none = emb.filter(F.col("vec_id") < 0)
        assert cosine_topk_arrow(emb, none, k=3).count() == 0
