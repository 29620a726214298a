"""The traced run: per-layer busy time, waits, work counts and failures.

End-to-end metrics come from the untraced run. Here each workload's
operation is re-enacted layer by layer from the benchmark's own files:
every layer's input is materialized first (``localCheckpoint``), then the
layer's public function runs in a span under its own Spark job group, with
a materialization or a write as its sink. Spans are kept in memory and
dumped, with the per-layer table, to ``perfbench/traces/``.

Accounting: the traced wall (``trace.wall_s``) is the summed duration of
the root spans; every child span names a layer, and ``trace.unattributed_s``
is the traced wall minus the layers' summed self times. The root span
named ``operation`` re-enacts the workload's timed operation layer by
layer, so ``trace.overhead_ratio`` is its duration over an untraced
operation in the same process, minus 1. The other roots are legs that
measure layers neither timed workload reaches: the Aho-Corasick
micro-benchmark and the curation layers in the ``kg_build_sparse`` run,
the local[1] scaling reading and the maintenance stream in the
``kg_build_dense`` run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

import refs
from probes import Tracer, group_metrics

HERE = os.path.dirname(os.path.abspath(__file__))
AC_SAMPLE_TOKENS = 200_000  # kernel micro-benchmark sample size
SCALING_FILES = 2  # input files the local[1] / local[4] legs both run on

LAYERS = [
    "sources", "operators.triples", "operators.enrich", "plans.lineage",
    "operators.coref", "plans.merge", "plans.incremental",
    "streaming.kg_stream", "operators.textstats", "operators.bpe",
    "operators.dedup", "plans.dataprep",
]

# (name, unit) of every per-layer metric, in report order
PER_LAYER = [
    ("session.start_s", "s"), ("session.worker_warm_s", "s"),
    ("sources.scan_s", "s"), ("sources.rows_in", "count"), ("sources.bytes_read", "B"),
    ("operators.triples.wall_s", "s"), ("operators.triples.cpu_s", "s"),
    ("operators.triples.py_worker_s", "s"), ("operators.triples.to_python_bytes", "B"),
    ("operators.triples.from_python_bytes", "B"), ("operators.triples.rows_out", "count"),
    ("operators.triples.gc_s", "s"),
    ("kernels.ahocorasick.build_s", "s"), ("kernels.ahocorasick.scan_tok_per_s", "1/s"),
    ("kernels.ahocorasick.hits_per_tok", "ratio"),
    ("operators.enrich.wall_s", "s"), ("operators.enrich.broadcast_bytes", "B"),
    ("plans.lineage.stage_write_s", "s"), ("plans.lineage.commit_s", "s"),
    ("plans.lineage.bytes_written", "B"), ("plans.lineage.files_written", "count"),
    ("operators.coref.wall_s", "s"), ("operators.coref.shuffle_write_bytes", "B"),
    ("operators.coref.fetch_wait_s", "s"), ("operators.coref.rows_out", "count"),
    ("operators.coref.cc_s", "s"), ("operators.coref.cc_edges", "count"),
    ("plans.merge.wall_s", "s"), ("plans.merge.touched_buckets", "count"),
    ("plans.merge.rows_rewritten", "count"), ("plans.merge.write_amplification", "ratio"),
    ("plans.incremental.refresh_s", "s"),
    ("streaming.kg_stream.add_batch_s", "s"), ("streaming.kg_stream.planning_s", "s"),
    ("streaming.kg_stream.wal_commit_s", "s"), ("streaming.kg_stream.offset_commit_s", "s"),
    ("streaming.kg_stream.log_rows", "count"), ("streaming.kg_stream.epoch_p50_s", "s"),
    ("streaming.kg_stream.epochs", "count"),
    ("operators.textstats.wall_s", "s"), ("operators.bpe.wall_s", "s"),
    ("operators.dedup.signature_s", "s"), ("operators.dedup.band_join_s", "s"),
    ("operators.dedup.candidate_pairs", "count"), ("operators.dedup.accepted_pairs", "count"),
    ("operators.dedup.pair_yield", "ratio"),
    ("plans.dataprep.wall_s", "s"),
] + [
    (f"{layer}.{m}", unit)
    for layer in LAYERS
    for m, unit in (
        ("self_s", "s"), ("task_retries", "count"), ("spill_bytes", "B"),
        ("peak_exec_mem_bytes", "B"),
    )
] + [
    ("trace.wall_s", "s"), ("trace.unattributed_s", "s"), ("trace.overhead_ratio", "ratio"),
    ("scaling.eff_1to4", "ratio"),
]


def _files_and_bytes(path: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def _stage_write_s(out_dir: str) -> float:
    """write_bucketed's own stage-write timing, from its _metrics.jsonl."""
    total = 0.0
    with open(os.path.join(out_dir, "_metrics.jsonl")) as f:
        for line in f:
            rec = json.loads(line)
            if rec["metric"] == "stage_write_s":
                total += rec["value"]
    return total


def _spark(sp) -> dict:
    return sp.attrs["spark"]


def _lineage_metrics(m: dict, out_dirs: list[str], write_spans: list) -> None:
    """Stage-write time, commit time (the rest of the write spans), files
    and bytes of the committed outputs."""
    stage = sum(_stage_write_s(d) for d in out_dirs)
    n_files = n_bytes = 0
    for d in out_dirs:
        f, b = _files_and_bytes(d)
        n_files, n_bytes = n_files + f, n_bytes + b
    m["plans.lineage.stage_write_s"] = stage
    m["plans.lineage.commit_s"] = max(0.0, sum(s.wall for s in write_spans) - stage)
    m["plans.lineage.bytes_written"] = n_bytes
    m["plans.lineage.files_written"] = n_files


# --- KG build -------------------------------------------------------------------


def trace_kg_pipeline(wl, tr: Tracer, spark, out: str) -> dict:
    """run_pipeline(mode="fused") one layer at a time, with the KB
    enrichment where the workload has a KB. run_pipeline's inline
    subject-frequency KB write (KB runs only) has no function to call and
    is left out."""
    from pyspark.sql import functions as F

    from mehari_spark.operators.coref import coref_clusters
    from mehari_spark.operators.enrich import enrich_triples
    from mehari_spark.operators.triples import extract_triples_fused
    from mehari_spark.plans.lineage import write_bucketed

    m: dict = {}
    ekb, pkb = wl.kb(spark)
    with tr.span("operation"):
        with tr.span("scan", layer="sources", sql=True) as sp:
            scanned = spark.read.parquet(wl.input_dir).localCheckpoint(eager=True)
        m["sources.scan_s"] = sp.wall
        m["sources.bytes_read"] = _spark(sp)["sql"].get("size of files read", 0.0)

        with tr.span("extract_triples_fused", layer="operators.triples", sql=True) as sp:
            triples = extract_triples_fused(scanned, wl.patterns).localCheckpoint(eager=True)
        g = _spark(sp)
        m.update({
            "operators.triples.wall_s": sp.wall,
            "operators.triples.cpu_s": g["cpu_s"],
            "operators.triples.gc_s": g["gc_s"],
            "operators.triples.py_worker_s": g["sql"].get("time to run Python workers", 0.0),
            "operators.triples.to_python_bytes": g["sql"].get("data sent to Python workers", 0.0),
            "operators.triples.from_python_bytes": g["sql"].get("data returned from Python workers", 0.0),
        })
        extracted = triples

        if ekb is not None:
            with tr.span("enrich_triples", layer="operators.enrich", sql=True) as sp:
                triples = enrich_triples(triples, ekb, pkb, with_freq=False).localCheckpoint(eager=True)
            m["operators.enrich.wall_s"] = sp.wall
            m["operators.enrich.broadcast_bytes"] = _spark(sp)["sql"].get("data size", 0.0)

        run_id = "traced"
        lineage = F.struct(F.lit(run_id).alias("run_id"), F.lit("triples").alias("stage"))
        with tr.span("write_bucketed triples", layer="plans.lineage") as w1:
            write_bucketed(triples.withColumn("lineage", lineage), f"{out}/triples",
                           run_id, key_col="conv_id", n_buckets=8, stage="triples")

        with tr.span("coref_clusters", layer="operators.coref") as sp:
            written = spark.read.parquet(f"{out}/triples/bucket=*")
            clusters = coref_clusters(written).localCheckpoint(eager=True)
        g = _spark(sp)
        m.update({
            "operators.coref.wall_s": sp.wall,
            "operators.coref.shuffle_write_bytes": g["shuffle_write_bytes"],
            "operators.coref.fetch_wait_s": g["fetch_wait_s"],
        })

        with tr.span("write_bucketed entities", layer="plans.lineage") as w2:
            write_bucketed(clusters, f"{out}/entities", run_id, key_col="conv_id",
                           n_buckets=4, stage="entities")
    # counts are taken outside the traced wall
    m["sources.rows_in"] = scanned.count()
    m["operators.triples.rows_out"] = extracted.count()
    m["operators.coref.rows_out"] = clusters.count()
    _lineage_metrics(m, [f"{out}/triples", f"{out}/entities"], [w1, w2])
    return m


def trace_ahocorasick(wl, tr: Tracer) -> dict:
    """Single-thread kernel micro-benchmark on a fixed-size token sample
    (the first AC_SAMPLE_TOKENS tokens of the corpus)."""
    from mehari_spark.kernels.ahocorasick import TokenAhoCorasick

    sample, n = [], 0
    for row in wl.corpus.rows:
        toks = row[3].split(" ")
        sample.append(toks)
        n += len(toks)
        if n >= AC_SAMPLE_TOKENS:
            break
    with tr.span("TokenAhoCorasick build", layer="kernels.ahocorasick") as b:
        ac = TokenAhoCorasick([(p.tokens, p) for p in wl.patterns])
    with tr.span("TokenAhoCorasick scan", layer="kernels.ahocorasick") as s:
        hits = sum(len(ac.scan(toks)) for toks in sample)
    return {
        "kernels.ahocorasick.build_s": b.wall,
        "kernels.ahocorasick.scan_tok_per_s": n / s.wall,
        "kernels.ahocorasick.hits_per_tok": hits / n,
    }


def trace_stream(tr: Tracer, spark, work: str, seed: int) -> tuple[dict, list[str]]:
    """The maintenance stream over replicated transcripts, one file per
    epoch, with the degree view on; then the same epochs driven from here
    (extract_batch_updates -> merge_into_bucketed -> refresh_partials per
    file, as apply_epoch does) to split merge and refresh time."""
    import gen
    from mehari_spark.datagen import Turn, reference_triples
    from mehari_spark.dictionary import demo_patterns
    from mehari_spark.plans.incremental import DEGREE_VIEW, read_kg_degree, refresh_partials
    from mehari_spark.plans.lineage import _ckpt_path
    from mehari_spark.plans.merge import merge_into_bucketed
    from mehari_spark.streaming.kg_stream import (
        MATCH_COLS, PRECEDENCE_COLS, extract_batch_updates, read_kg_current,
        stream_kg_maintain,
    )

    docs = gen.base_documents(600)
    in_dir = os.path.join(work, "stream_in")
    gen.write_replicated_transcripts(docs, 2, seed, in_dir, n_files=4)
    patterns = demo_patterns()
    m: dict = {}
    table, ckpt = os.path.join(work, "kg"), os.path.join(work, "kg_ckpt")
    with tr.span("stream"):
        with tr.span("stream_kg_maintain", layer="streaming.kg_stream") as sp:
            q = stream_kg_maintain(spark, in_dir, table, ckpt, patterns,
                                   max_files_per_trigger=1, maintain_degree=True)
            q.awaitTermination()
        sp.attrs["spark"] = group_metrics(spark, str(q.runId)).as_dict()
        progress = [p for p in q.recentProgress if p.numInputRows > 0]

        def dur(key):
            return sum(p.durationMs.get(key, 0) for p in progress) / 1000.0

        with open(_ckpt_path(table)) as f:
            log_rows = sum(1 for _ in f)
        epochs = [p.durationMs["triggerExecution"] / 1000.0 for p in progress]
        m.update({
            "streaming.kg_stream.add_batch_s": dur("addBatch"),
            "streaming.kg_stream.planning_s": dur("queryPlanning"),
            "streaming.kg_stream.wal_commit_s": dur("walCommit"),
            "streaming.kg_stream.offset_commit_s": dur("commitOffsets"),
            "streaming.kg_stream.log_rows": log_rows,
            "streaming.kg_stream.epoch_p50_s": statistics.median(epochs),
            "streaming.kg_stream.epochs": len(epochs),
        })

        driven = os.path.join(work, "kg_driven")
        merges, refreshes = [], []
        touched = rewritten = updated = 0
        for i, path in enumerate(sorted(glob.glob(os.path.join(in_dir, "*.parquet")))[:2]):
            with tr.span(f"extract_batch_updates {i}", layer="operators.triples"):
                updates = extract_batch_updates(
                    spark.read.parquet(path), patterns
                ).localCheckpoint(eager=True)
                n_up = updates.count()
            with tr.span(f"merge_into_bucketed {i}", layer="plans.merge") as sp:
                res = merge_into_bucketed(
                    spark, driven, updates, match_cols=MATCH_COLS, bucket_col="subj_id",
                    n_buckets=8, run_id=f"epoch-{i}", precedence_cols=PRECEDENCE_COLS,
                )
            merges.append(sp)
            with tr.span(f"refresh_partials {i}", layer="plans.incremental") as sp:
                refresh_partials(spark, driven, res["touched_buckets"], DEGREE_VIEW)
            refreshes.append(sp)
            touched += len(res["touched_buckets"])
            rewritten += sum(res["rows_after"][b] for b in res["touched_buckets"])
            updated += n_up
    m.update({
        "plans.merge.wall_s": sum(s.wall for s in merges),
        "plans.merge.touched_buckets": touched,
        "plans.merge.rows_rewritten": rewritten,
        "plans.merge.write_amplification": rewritten / max(updated, 1),
        "plans.incremental.refresh_s": sum(s.wall for s in refreshes),
    })

    # check: the maintained table and degree view against a full Python scan
    rows = [
        r for path in sorted(glob.glob(os.path.join(in_dir, "*.parquet")))
        for r in pq.read_table(path).to_pylist()
    ]
    ts = {(r["conv_id"], r["turn_idx"]): int(r["ts"].timestamp()) for r in rows}
    turns = [Turn(r["conv_id"], r["turn_idx"], "", r["text"], None, None) for r in rows]
    golden = reference_triples(turns, patterns)
    asserted = [(s, p, o, ts[(c, t)], c, t) for c, t, s, p, o in golden]
    want = refs.current_state(asserted)
    got = {tuple(r) for r in read_kg_current(spark, table).collect()}
    errs = []
    if got != want:
        errs.append(f"stream current state: {len(got ^ want)} rows differ of {len(want)}")
    want_deg = refs.degrees(want)
    got_deg = {r[0]: (r[1], r[2]) for r in read_kg_degree(spark, table).select(
        "entity_id", "n_out", "n_in").collect()}
    if got_deg != want_deg:
        errs.append("stream degree view differs from a full scan")
    return m, errs


def scaling_leg(wl, spark, work: str) -> float:
    """Pipeline turns/s at local[4] (this process) over 4x that at local[1]
    (a fresh JVM), both on the first SCALING_FILES input files: a 1->4
    single-box reading, not comparable with 4->16 readings on larger
    machines."""
    subset = os.path.join(work, "subset")
    os.makedirs(subset, exist_ok=True)
    for f in sorted(glob.glob(os.path.join(wl.input_dir, "*.parquet")))[:SCALING_FILES]:
        os.link(f, os.path.join(subset, os.path.basename(f)))
    cmd = [sys.executable, os.path.join(HERE, "scaling_leg.py"), wl.name, str(wl.seed), work, subset]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=150)
    if out.returncode != 0:
        raise RuntimeError(f"local[1] leg failed: {out.stderr[-2000:]}")
    rate1 = json.loads(out.stdout.strip().splitlines()[-1])["rows_per_s"]
    return subset_rate(wl, spark, work, subset) / (4 * rate1)


def subset_rate(wl, spark, work: str, subset: str) -> float:
    """Rows/s of the workload operation on ``subset``: one warm-up call,
    then one timed call."""
    n = spark.read.parquet(subset).count()
    saved, wl.input_dir = wl.input_dir, subset
    try:
        for i in range(2):
            t0 = time.perf_counter()
            wl.operation(spark, os.path.join(work, "scaling", f"op{i}"), run_id=f"s{i}")
            wall = time.perf_counter() - t0
    finally:
        wl.input_dir = saved
    return n / wall


# --- curation leg ---------------------------------------------------------------


def trace_dataprep(tr: Tracer, spark, work: str, seed: int) -> tuple[dict, list[str]]:
    """The curation layers: one untimed run_dataprep call to warm their
    code paths, then each layer's public function on the materialized
    documents, then the engine's run_dataprep itself in a span of its own.
    That call's counters and kept ids are checked against the pins."""
    from mehari_spark.operators.bpe import bpe_token_counts
    from mehari_spark.operators.coref import connected_components_global
    from mehari_spark.operators.dedup import exact_dedup_groups, minhash_lsh_pairs
    from mehari_spark.operators.textstats import lang_id, quality_filter
    from mehari_spark.plans import stagecache
    from mehari_spark.plans.observe import collect_plan_metrics
    from workloads import DataprepCurate

    wl = DataprepCurate(os.path.join(work, "dataprep"), seed)
    wl.generate()
    wl.operation(spark, os.path.join(work, "dataprep", "warm"), run_id="warm")
    stagecache.clear_shared_stages()
    docs = spark.read.parquet(wl.input_dir).localCheckpoint(eager=True)
    m: dict = {}
    with tr.span("dataprep layers"):
        with tr.span("quality_filter + lang_id", layer="operators.textstats") as sp:
            quality_filter(docs).localCheckpoint(eager=True)
            lang_id(docs).localCheckpoint(eager=True)
        m["operators.textstats.wall_s"] = sp.wall

        with tr.span("bpe_token_counts", layer="operators.bpe") as sp:
            bpe_token_counts(docs).localCheckpoint(eager=True)
        m["operators.bpe.wall_s"] = sp.wall

        with tr.span("exact_dedup_groups", layer="operators.dedup"):
            exact_dedup_groups(docs).localCheckpoint(eager=True)
        # minhash_lsh_pairs registers its band table (the MinHash signature
        # kernel's output) in the stage cache unmaterialized; computing it
        # first splits the kernel from the band self-join and re-rank
        pairs_df = minhash_lsh_pairs(docs, threshold=0.95).select("doc_a", "doc_b")
        bands = [df for key, df in stagecache._CACHE.items() if key[1] == "minhash_bands"]
        with tr.span("minhash signatures", layer="operators.dedup") as sig:
            bands[-1].count()
        with tr.span("band join + re-rank", layer="operators.dedup") as sp:
            pairs = pairs_df.localCheckpoint(eager=True)
        m["operators.dedup.signature_s"] = sig.wall
        m["operators.dedup.band_join_s"] = sp.wall

        with tr.span("connected_components_global", layer="operators.coref") as sp:
            connected_components_global(
                pairs, src="doc_a", dst="doc_b", check_every=2
            ).localCheckpoint(eager=True)
        m["operators.coref.cc_s"] = sp.wall

    out = os.path.join(work, "dataprep", "traced")
    with tr.span("run_dataprep", layer="plans.dataprep") as sp:
        counters = wl.operation(spark, out, run_id="traced")
    m["plans.dataprep.wall_s"] = sp.wall
    # counts are taken outside the traced wall; the candidate count is the
    # output of the band join's distinct (the first aggregate from the root)
    nodes = collect_plan_metrics(pairs_df, execute=False)
    candidates = next(
        n.metrics["number of output rows"] for n in nodes
        if n.name == "HashAggregate" and "number of output rows" in n.metrics
    )
    accepted = pairs.count()
    m.update({
        "operators.dedup.candidate_pairs": candidates,
        "operators.dedup.accepted_pairs": accepted,
        "operators.dedup.pair_yield": accepted / max(candidates, 1),
        "operators.coref.cc_edges": accepted,
    })
    return m, wl.check(spark, out, counters)


# --- traced run -----------------------------------------------------------------


def layer_table(tr: Tracer) -> dict[str, dict]:
    """Per layer: self time, busy task time, shuffle wait, failed tasks,
    spill and peak execution memory, summed over the layer's spans."""
    table: dict[str, dict] = {}
    for i, sp in enumerate(tr.spans):
        if sp.layer is None:
            continue
        row = table.setdefault(sp.layer, {
            "self_s": 0.0, "busy_task_s": 0.0, "wait_s": 0.0, "task_retries": 0,
            "spill_bytes": 0, "peak_exec_mem_bytes": 0, "spans": 0,
        })
        row["self_s"] += tr.self_time(i)
        row["spans"] += 1
        g = sp.attrs.get("spark")
        if g:
            row["busy_task_s"] += g["run_s"]
            row["wait_s"] += g["fetch_wait_s"]
            row["task_retries"] += g["failed_tasks"]
            row["spill_bytes"] += g["spill_bytes"]
            row["peak_exec_mem_bytes"] = max(row["peak_exec_mem_bytes"], g["peak_exec_mem_bytes"])
    return table


def traced_run(wl, work: str, seed: int) -> dict:
    from run import WARM_OPS, stop_jvm
    from workloads import session, warm_workers

    t0 = time.perf_counter()
    spark = session(f"perfbench-{wl.name}-traced", work)
    t1 = time.perf_counter()
    warm_workers(spark)
    t2 = time.perf_counter()
    m: dict = {"session.start_s": t1 - t0, "session.worker_warm_s": t2 - t1}

    # untraced reference: the end-to-end run's warm-up calls, then two
    # calls (the first of them still runs slow); the last is the reference
    untraced = []
    for i in range(WARM_OPS + 2):
        out_i = os.path.join(work, "untraced", f"op{i}")
        t = time.perf_counter()
        result = wl.operation(spark, out_i, run_id=f"u{i}")
        untraced.append(time.perf_counter() - t)
    checks = [wl.check(spark, out_i, result)]  # one error list per checked output

    tr = Tracer(spark, run_id=f"{wl.name}-{seed}")
    out = os.path.join(work, "traced")
    m.update(trace_kg_pipeline(wl, tr, spark, out))
    checks.append(wl.check(spark, out, {}))
    # the legs below need no workload input of their own; they are split
    # between the two traced runs so that each stays within three minutes
    if wl.name == "kg_build_sparse":
        m.update(trace_ahocorasick(wl, tr))
        leg_m, leg_errs = trace_dataprep(tr, spark, work, seed)
    else:
        m["scaling.eff_1to4"] = scaling_leg(wl, spark, work)
        leg_m, leg_errs = trace_stream(tr, spark, work, seed)
    m.update(leg_m)
    checks.append(leg_errs)
    stop_jvm(spark)

    table = layer_table(tr)
    roots = [i for i, sp in enumerate(tr.spans) if sp.parent is None]
    wall = sum(tr.spans[i].wall for i in roots)
    m["trace.wall_s"] = wall
    m["trace.unattributed_s"] = wall - sum(r["self_s"] for r in table.values())
    op = next(i for i in roots if tr.spans[i].name == "operation")
    m["trace.overhead_ratio"] = tr.spans[op].wall / untraced[-1] - 1
    for layer, row in table.items():
        if layer in LAYERS:
            for k in ("self_s", "task_retries", "spill_bytes", "peak_exec_mem_bytes"):
                m[f"{layer}.{k}"] = row[k]
    metrics = {name: (float(m.get(name, 0.0)), unit) for name, unit in PER_LAYER}
    op_layers: dict[str, float] = {}  # self times inside the operation only
    for i, sp in enumerate(tr.spans):
        if sp.parent == op:
            op_layers[sp.layer] = op_layers.get(sp.layer, 0.0) + tr.self_time(i)

    def top4(costs):
        return sorted(costs, key=lambda x: -x[1])[:4]

    tr.dump(
        os.path.join(HERE, "traces", f"{wl.name}-{seed}.json"),
        {"workload": wl.name, "seed": seed, "layers": table,
         "top4_self_s": top4((l, r["self_s"]) for l, r in table.items()),
         "top4_operation_self_s": top4(op_layers.items()),
         "untraced_op_s": untraced, "errors": [e for c in checks for e in c],
         "metrics": {k: v for k, (v, _u) in metrics.items()}},
    )
    return {"attempted": len(checks), "failed": sum(1 for c in checks if c), "metrics": metrics}
