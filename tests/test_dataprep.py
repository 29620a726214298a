"""Composed training-data curation pipeline: quality gate -> lang id ->
exact + near-dup dedup -> token accounting -> bucketed committed write.
Every drop must be attributable; exactly one representative per quality-
passing near-dup component; kill/restart resumes by bucket."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from mehari_spark.plans.dataprep import curate_documents, run_dataprep
from mehari_spark.plans.lineage import read_bucketed

from .conftest import SF_UNIT


def _docs(spark):
    return spark.read.parquet(f"{SF_UNIT}/documents.parquet")


class TestCurateDocuments:
    def test_verdict_covers_every_input_doc(self, spark):
        docs = _docs(spark)
        v = curate_documents(docs).localCheckpoint(eager=True)
        assert v.count() == docs.count()
        assert v.select("doc_id").distinct().count() == docs.count()

    def test_one_representative_per_passing_component(self, spark):
        v = curate_documents(_docs(spark)).localCheckpoint(eager=True)
        per_comp = (
            v.groupBy("component_id")
            .agg(
                F.sum(F.col("kept").cast("long")).alias("n_kept"),
                F.sum((F.col("filter_reasons") == 0).cast("long")).alias("n_pass"),
            )
            .collect()
        )
        for r in per_comp:
            want = 1 if r.n_pass > 0 else 0
            assert r.n_kept == want, (r.component_id, r.n_kept, r.n_pass)

    def test_no_quality_failed_doc_is_kept(self, spark):
        v = curate_documents(_docs(spark))
        assert v.filter(F.col("kept") & (F.col("filter_reasons") != 0)).count() == 0

    def test_exact_duplicates_collapse(self, spark):
        # two identical + one distinct doc, all long enough to pass quality
        # pass the gate: >=10 tokens, distinct ratio >=0.2, stopwords present
        base = "the a join table spark stream vector column row key line data"
        text = base + " value part batch merge sort scan"
        other = base + " filter group agg hash dup query"
        docs = spark.createDataFrame(
            [(1, "en", text), (2, "en", text), (3, "en", other)],
            "doc_id long, lang string, text string",
        )
        v = curate_documents(docs).localCheckpoint(eager=True)
        kept = sorted(r.doc_id for r in v.filter("kept").collect())
        assert 1 in kept and 2 not in kept  # min doc_id of the dup pair wins
        rows = {r.doc_id: r for r in v.collect()}
        assert rows[2].exact_rep == 1  # the collapse is attributable
        assert rows[1].component_id == rows[2].component_id

    def test_run_dataprep_counters_and_resume(self, spark, tmp_path):
        out = str(tmp_path / "curated")
        docs = _docs(spark)
        c = run_dataprep(spark, docs, out, n_buckets=4)
        assert c["n_input"] == docs.count()
        assert c["n_input"] == c["n_quality_drop"] + c["n_dup_drop"] + c["n_kept"]
        assert c["n_kept"] > 0
        assert c["n_buckets_written"] == 4
        table = read_bucketed(spark, out)
        assert table.count() == c["n_kept"]
        # written files are internally doc_id-sorted (SST discipline)
        import pandas as pd

        for f in glob.glob(f"{out}/bucket=*/*.parquet"):
            ids = pd.read_parquet(f)["doc_id"].tolist()
            assert ids == sorted(ids)
        # restart: all buckets committed -> nothing recomputed, same table
        c2 = run_dataprep(spark, docs, out, n_buckets=4)
        assert c2["n_buckets_written"] == 0
        assert read_bucketed(spark, out).count() == c["n_kept"]
        # decision counters landed in the metrics log
        assert os.path.exists(os.path.join(out, "_metrics.jsonl"))
        # dataset-assembly columns: every kept doc carries its
        # content-hash split, and the split counter is consistent
        splits = {r.split for r in table.select("split").distinct().collect()}
        assert splits <= {"train", "val", "test"} and "train" in splits
        n_train = table.filter(F.col("split") == "train").count()
        assert n_train == c["n_kept_train"] > 0


    def test_run_dataprep_releases_its_verdict_checkpoint(self, spark, tmp_path, monkeypatch):
        """After one call the verdict checkpoint's blocks are no longer in
        the session's storage info."""
        frame = type(spark.range(1))
        made, real = [], frame.localCheckpoint

        def recording(self, eager=True):
            made.append(real(self, eager))
            return made[-1]

        monkeypatch.setattr(frame, "localCheckpoint", recording)
        run_dataprep(spark, _docs(spark).limit(120), str(tmp_path / "out"), n_buckets=2)
        (verdict,) = [df for df in made if "span_dropped" in df.columns]
        rdd_id = verdict._jdf.queryExecution().logical().rdd().id()
        cached = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
        assert rdd_id not in cached

    def test_run_dataprep_leaves_no_cached_rdd(self, spark, tmp_path):
        """Every checkpoint one call takes is released by its end: the
        verdict and the near-dup labels of connected_components_global.
        With the stage cache cleared, no persistent RDD is left that was
        not there before the call (the context cleaner may drop older ones
        meanwhile, so this is a subset check)."""
        from mehari_spark.plans.stagecache import clear_shared_stages

        def persistent() -> set[int]:
            return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

        clear_shared_stages()
        before = persistent()
        run_dataprep(spark, _docs(spark).limit(120), str(tmp_path / "out"), n_buckets=2)
        clear_shared_stages()
        assert persistent() - before == set()


class TestSpanGate:
    def test_span_gate_drops_shared_passage_doc(self, spark):
        """With the span gate on, a doc that is mostly a passage shared
        with a lower-id doc is dropped and attributed to n_span_drop; with
        the gate off (default) behavior is unchanged."""
        import random as _random

        from mehari_spark.plans.dataprep import curate_documents

        rng = _random.Random(31)

        def _txt(n):
            # quality-passing word salad from the corpus vocabulary
            words = ["data", "query", "table", "merge", "batch", "window",
                     "group", "order", "hash", "scan", "filter", "value"]
            return " ".join(rng.choice(words) for _ in range(n))

        base = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).limit(40)
        passage = _txt(30)
        extra = spark.createDataFrame(
            [
                (9001, passage + " " + _txt(3), "en", "synth", 0),
                (9002, passage + " " + _txt(4), "en", "synth", 0),
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        docs = base.unionByName(extra)
        gated = curate_documents(docs, span_dup_max_permille=500)
        got = {r.doc_id: r for r in gated.collect()}
        assert got[9002].span_dropped and not got[9002].kept
        # the mass gate is symmetric: the other heavy copy drops too
        assert got[9001].span_dropped and not got[9001].kept
        # default: no span gate, column present but all False
        plain = curate_documents(docs)
        assert not any(r.span_dropped for r in plain.collect())
