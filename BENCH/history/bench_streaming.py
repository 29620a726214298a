"""Streaming-operator throughput bench: replay finite inputs through the
three stateful streaming pipelines and report rows/sec each, plus the
scaling sweeps a 100 TB ingest review asks for:

- trigger-size sweep (maxFilesPerTrigger 4 -> 16 -> 64 over a 256-file
  input): where does per-trigger fixed cost (planning + state commit)
  stop dominating? The streaming analog of the N-vs-4N discipline.
- state-store partition sweep (spark.sql.shuffle.partitions 8 vs 32 at
  query start = state store partition count): does state sharding limit
  throughput at this corpus size?
- state-mode comparison for near-dup dedup: tokens (payload-sized state)
  vs signature (constant ~1 KB/doc/band) — rows/sec AND measured on-disk
  state store bytes on the SAME corpus.

Replay protocol: the input is fully written up front; maxFilesPerTrigger
paces micro-batches, so the measurement covers steady-state trigger
processing (state lookups + sink commits), not file arrival. One JSON
line on stdout.

Usage: python BENCH/history/bench_streaming.py
Env:   SPARK_GRAFT_CPUS (32), STREAM_DOC_REPLICATE (8 -> 40k docs),
       MEHARI_SPARK_LOCAL_DIR
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")


def main() -> None:
    from pyspark.sql import functions as F

    from mehari_spark.session import get_spark
    from mehari_spark.operators.textstats import STOPWORDS
    from mehari_spark.streaming.dedup_stream import stream_dedup
    from mehari_spark.streaming.neardup_stream import (
        state_store_bytes,
        stream_neardup_dedup,
    )
    from mehari_spark.streaming.sessions import finalize_stream, stream_sessions

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    rep = int(os.environ.get("STREAM_DOC_REPLICATE", "8"))
    spark = get_spark("mehari-spark-stream-bench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    base_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    tmp = tempfile.mkdtemp(prefix="stream-bench-")
    out: dict = {"metric": "streaming_rows_per_sec", "cores": cores}

    # --- replicated doc corpus (same replica-tagging as the scaling bench:
    # within-replica near-dup structure kept, no cross-replica cliques).
    # 256 files so a maxFilesPerTrigger sweep actually paces triggers.
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    tagged = F.concat_ws(
        " ",
        F.transform(
            F.split("text", " "),
            lambda t: F.when(F.array_contains(stop_arr, t), t).otherwise(
                F.concat(t, F.lit("@"), F.col("_r"))
            ),
        ),
    )
    reps = spark.range(rep).select(F.col("id").alias("_r"))
    big = (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("_r") * 1_000_000).alias("doc_id"),
            "lang",
            tagged.alias("text"),
        )
    )
    doc_dir = os.path.join(tmp, "docs_in")
    big.repartition(256).write.mode("overwrite").parquet(doc_dir)
    n_docs = spark.read.parquet(doc_dir).count()

    run_i = [0]

    def run_config(starter, in_count, keep_ck: bool = False):
        """Run one streaming config to completion on fresh dirs; returns
        {rows, sec, rows_per_sec, [state_bytes]}."""
        run_i[0] += 1
        out_dir = os.path.join(tmp, f"out_{run_i[0]}")
        ck = os.path.join(tmp, f"ck_{run_i[0]}")
        t0 = time.time()
        q = starter(out_dir, ck)
        q.processAllAvailable()
        q.stop()
        dt = time.time() - t0
        rec = {
            "rows": in_count,
            "sec": round(dt, 2),
            "rows_per_sec": round(in_count / dt, 1),
        }
        if keep_ck:
            rec["state_bytes"] = state_store_bytes(ck)
        return rec

    # --- trigger-size sweep (state partitions at the session default) ---
    sweep: dict = {"exact_dedup": {}, "neardup_dedup": {}}
    for mfpt in (4, 16, 64):
        sweep["exact_dedup"][str(mfpt)] = run_config(
            lambda o, c, m=mfpt: stream_dedup(
                spark, doc_dir, o, c, max_files_per_trigger=m
            ),
            n_docs,
        )
    for mfpt in (4, 16, 64):
        sweep["neardup_dedup"][str(mfpt)] = run_config(
            lambda o, c, m=mfpt: stream_neardup_dedup(
                spark, doc_dir, o, c, threshold=0.95, max_files_per_trigger=m
            ),
            n_docs,
        )
    out["trigger_sweep"] = sweep
    # headline keys (back-compat): the widest-trigger configs
    out["exact_dedup"] = sweep["exact_dedup"]["64"]
    out["neardup_dedup"] = sweep["neardup_dedup"]["64"]

    # --- state-store partition sweep (near-dup, mid trigger size) ---
    psweep: dict = {}
    for parts in (8, 32):
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        psweep[str(parts)] = run_config(
            lambda o, c: stream_neardup_dedup(
                spark, doc_dir, o, c, threshold=0.95, max_files_per_trigger=16
            ),
            n_docs,
        )
    spark.conf.set("spark.sql.shuffle.partitions", base_partitions)
    out["state_partition_sweep"] = psweep

    # --- state-mode comparison: throughput + measured state bytes ---
    # On a LONG-DOC corpus (the real-corpus shape): the demo docs hold
    # only ~30 distinct tokens, fewer than the 128-perm signature, so
    # signature mode's adaptive payload stores them EXACTLY and the two
    # modes tie there by construction. The bound only bites where docs
    # exceed num_perm distinct tokens. Expand each doc to ~600 distinct
    # tokens (x20 suffix-tagged copies, near-dup structure preserved)
    # and measure both modes on the same corpus. state_bytes is the LIVE
    # store (latest snapshot + newer deltas), not cumulative history.
    expanded = F.array_join(
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.lit(19)),
                lambda j: F.transform(
                    F.split("text", " "),
                    lambda t: F.concat(t, F.lit("#"), j.cast("string")),
                ),
            )
        ),
        " ",
    )
    long_docs = docs.select("doc_id", "lang", expanded.alias("text"))
    long_dir = os.path.join(tmp, "docs_long_in")
    long_docs.repartition(64).write.mode("overwrite").parquet(long_dir)
    n_long = spark.read.parquet(long_dir).count()
    modes: dict = {}
    for mode in ("tokens", "signature"):
        modes[mode] = run_config(
            lambda o, c, m=mode: stream_neardup_dedup(
                spark,
                long_dir,
                o,
                c,
                threshold=0.95,
                max_files_per_trigger=16,
                state_mode=m,
            ),
            n_long,
            keep_ck=True,
        )
    modes["doc_tokens"] = "~600 distinct (x20-expanded sf0.1 docs)"
    modes["state_bytes_ratio"] = round(
        modes["tokens"]["state_bytes"] / max(modes["signature"]["state_bytes"], 1), 2
    )
    out["state_mode"] = modes

    # --- composed ingest pipeline: quality -> exact dedup -> near-dup ---
    # one end-to-end rows/s over BOTH chained queries (storage-boundary
    # topology) + live state bytes per stage on the same replicated corpus
    from mehari_spark.streaming.ingest_pipeline import (
        process_all,
        read_pipeline_verdicts,
        stream_ingest_pipeline,
    )

    pipe_out = os.path.join(tmp, "pipe_out")
    pipe_ck = os.path.join(tmp, "pipe_ck")
    t0 = time.time()
    q1, q2 = stream_ingest_pipeline(
        spark, doc_dir, pipe_out, pipe_ck, threshold=0.95,
        max_files_per_trigger=64,
    )
    process_all(q1, q2)
    q1.stop(); q2.stop()
    dt = time.time() - t0
    vcounts = {
        r.verdict: r.n
        for r in read_pipeline_verdicts(spark, pipe_out)
        .groupBy("verdict")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    out["ingest_pipeline"] = {
        "rows": n_docs,
        "sec": round(dt, 2),
        "rows_per_sec": round(n_docs / dt, 1),
        "state_bytes_stage1_exact": state_store_bytes(
            os.path.join(pipe_ck, "stage1")
        ),
        "state_bytes_stage2_neardup": state_store_bytes(
            os.path.join(pipe_ck, "stage2")
        ),
        "verdicts": vcounts,
    }

    # --- streaming KG maintenance: extract -> latest-wins MERGE ---
    # replicated transcript corpus (replica-tagged conv_ids so epochs carry
    # distinct conversations); throughput covers fused extraction + the
    # partition-pruned precedence merge + commit-log append per epoch.
    from mehari_spark.dictionary import demo_patterns
    from mehari_spark.sources.transcripts import transcripts as load_transcripts
    from mehari_spark.streaming.kg_stream import (
        applied_epochs,
        read_kg_current,
        stream_kg_maintain,
    )

    turns = load_transcripts(spark, "/root/testdata/sf0.1")
    tbig = (
        turns.crossJoin(reps)
        .select(
            F.concat("conv_id", F.lit("_r"), F.col("_r").cast("string")).alias(
                "conv_id"
            ),
            "turn_idx", "role", "text", "tool", "ts",
        )
    )
    kg_in = os.path.join(tmp, "kg_in")
    tbig.repartition(64).write.mode("overwrite").parquet(kg_in)
    n_turns = spark.read.parquet(kg_in).count()
    kg_table = os.path.join(tmp, "kg_table")
    kg_ck = os.path.join(tmp, "kg_ck")
    t0 = time.time()
    q = stream_kg_maintain(
        spark, kg_in, kg_table, kg_ck, demo_patterns(),
        n_buckets=8, max_files_per_trigger=16,
    )
    q.awaitTermination()
    dt = time.time() - t0
    out["kg_maintain"] = {
        "rows": n_turns,
        "sec": round(dt, 2),
        "rows_per_sec": round(n_turns / dt, 1),
        "epochs": len(applied_epochs(kg_table, os.path.abspath(kg_ck))),
        "current_rows": read_kg_current(spark, kg_table).count(),
    }

    # same leg with incremental degree maintenance ON: per-epoch partial
    # refresh of only the merge-touched buckets (plans/incremental.py) —
    # the delta vs the plain leg is the analytics-maintenance overhead
    from mehari_spark.plans.incremental import read_kg_degree

    kg_table2 = os.path.join(tmp, "kg_table_deg")
    kg_ck2 = os.path.join(tmp, "kg_ck_deg")
    t0 = time.time()
    q = stream_kg_maintain(
        spark, kg_in, kg_table2, kg_ck2, demo_patterns(),
        n_buckets=8, max_files_per_trigger=16, maintain_degree=True,
    )
    q.awaitTermination()
    dt = time.time() - t0
    out["kg_maintain_with_degree"] = {
        "rows": n_turns,
        "sec": round(dt, 2),
        "rows_per_sec": round(n_turns / dt, 1),
        "degree_entities": read_kg_degree(spark, kg_table2).count(),
    }

    # TWO maintained views through the generalized PartialAggSpec
    # machinery (round 7): the delta vs the one-view leg is the marginal
    # cost of each additional view (shares the touched-bucket read)
    from mehari_spark.plans.incremental import (
        DEGREE_VIEW,
        PREDICATE_VIEW,
        read_view,
    )

    kg_table3 = os.path.join(tmp, "kg_table_2v")
    kg_ck3 = os.path.join(tmp, "kg_ck_2v")
    t0 = time.time()
    q = stream_kg_maintain(
        spark, kg_in, kg_table3, kg_ck3, demo_patterns(),
        n_buckets=8, max_files_per_trigger=16,
        maintain_views=[DEGREE_VIEW, PREDICATE_VIEW],
    )
    q.awaitTermination()
    dt = time.time() - t0
    out["kg_maintain_two_views"] = {
        "rows": n_turns,
        "sec": round(dt, 2),
        "rows_per_sec": round(n_turns / dt, 1),
        "degree_entities": read_view(spark, kg_table3, DEGREE_VIEW).count(),
        "predicates": read_view(spark, kg_table3, PREDICATE_VIEW).count(),
    }

    # --- sessionization (unchanged headline) ---
    ev_dir = os.path.join(tmp, "events_in")
    (
        spark.read.parquet("/root/testdata/sf0.1/events.parquet")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(ev_dir)
    )
    n_events = spark.read.parquet(ev_dir).count()
    t0 = time.time()
    q = stream_sessions(
        spark, ev_dir, os.path.join(tmp, "s_out"), os.path.join(tmp, "s_ck")
    )
    q.processAllAvailable()
    finalize_stream(q, spark, ev_dir)
    dt = time.time() - t0
    out["sessions"] = {
        "rows": n_events,
        "sec": round(dt, 2),
        "rows_per_sec": round(n_events / dt, 1),
    }

    print(json.dumps(out))
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
