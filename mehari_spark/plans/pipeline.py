"""End-to-end KG-construction pipeline (the `mehari annotate seqvars` analog,
mod.rs:829-1047 -> SURVEY.md §3.1 Spark translation).

A fresh call is ONE Spark query whose only wide shuffle is one exchange of
the triples on ``conv_id`` (broadcast joins aside):

 1. scan transcripts (Iceberg/parquet), prune to (conv_id, turn_idx, text)
 2. fused per-turn kernel inside the scan: mapInArrow dictionary match
    (broadcast compiled match table) + triple assembly + best-per-group
    dedup, with no mention shuffle
 3. optional KB annotator chain (broadcast joins)
 4. lineage stamp, then the triples and entity bucket tags
    (``lineage.bucket_of``, the same expression ``write_bucketed`` uses)
 5. ``repartition("conv_id")``: each task holds whole conversations
 6. one ``mapInArrow`` staging kernel per partition
    (``kernels/stage.py``): streams the triples to one parquet writer per
    uncommitted bucket, clusters the conversations with the numpy
    components kernel and writes the uncommitted entity buckets, counts
    subjects; it returns a manifest of its files, which the driver collects
 7. driver: per-bucket commit of exactly the manifest's files (triples,
    then entities, through ``lineage.commit_buckets``), then ``freq_kb``
    from the summed partial counts in one staged directory swap, then the
    metrics row

Resumable: a restart skips committed buckets. It extracts only the
conversations of uncommitted triples buckets, and reads back (column-
pruned, in the same query) the committed rows that uncommitted entity
buckets or ``freq_kb`` still need.

``partition_for_scan`` is the input side of the windowed reference plan
(``detect_mentions`` -> ``resolve_overlaps`` -> ``assemble_triples``): the
hash(conv_id) repartition with hot-key salting and the (conv_id, turn_idx)
order within partitions that the window-based assembly relies on.
"""

from __future__ import annotations

import functools
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, LongType, StructField, StructType

from ..dictionary import DictPattern
from ..kernels.stage import (
    FREQ_SCHEMA,
    MANIFEST_DDL,
    SPARK_SCHEMA_KEY,
    Staging,
    stage_partition,
)
from ..operators.coref import CLUSTER_DDL
from ..operators.enrich import enrich_triples
from ..operators.mentions import match_table_counters
from ..operators.triples import extract_triples_fused
from . import commit
from .lineage import (
    BucketResult,
    bucket_of,
    commit_buckets,
    load_committed,
    read_bucketed,
    write_metrics,
)

# the frequency KB's schema as Spark's groupBy(subj_id).count() gives it
FREQ_SPARK_SCHEMA = StructType(
    [StructField("subj_id", LongType()), StructField("subj_freq", LongType(), False)]
)


def partition_for_scan(
    transcripts: DataFrame,
    n_partitions: int = 32,
    salt_hot: bool = True,
    hot_threshold: int = 100_000,
) -> DataFrame:
    """Repartition by hash(conv_id) (+salt for hot conversations), restore
    (conv_id, turn_idx) order within partitions.

    Salting (north_rule P15): hot conversations are DETECTED with a cheap
    map-side-combined count over conv_id only (column-pruned scan — no text
    bytes move), broadcast back, and EVERY row of a hot conversation gets a
    per-turn salt so no prefix of it can pin a partition (round 1 salted
    only rows with turn_idx > threshold, which left the first `threshold`
    turns on one partition — ADVICE r01). The mention scan is per-turn so
    salting is transparent to it; downstream per-conv stages re-shuffle on
    conv_id themselves (windows/groupBys do their own partitioning).
    """
    if salt_hot:
        hot = (
            transcripts.groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("_n_turns"))
            .filter(F.col("_n_turns") > hot_threshold)
            .select("conv_id", F.lit(True).alias("_hot"))
        )
        # 64 salt buckets: with B buckets hashed over P partitions the
        # loaded-partition max is ~(B/P + sqrt-collisions) buckets; 16 over
        # 32 measured a 260k-row max (4 colliding buckets) on a 1M-turn hot
        # conv, 64 measures ~2x flatter (bench_skew.py)
        df = transcripts.join(F.broadcast(hot), "conv_id", "left").withColumn(
            "_salt",
            F.when(F.col("_hot"), F.pmod(F.col("turn_idx"), F.lit(64))).otherwise(
                F.lit(0)
            ),
        )
        out = df.repartition(n_partitions, F.col("conv_id"), F.col("_salt")).drop(
            "_salt", "_hot"
        )
    else:
        out = transcripts.repartition(n_partitions, F.col("conv_id"))
    return out.sortWithinPartitions("conv_id", "turn_idx")


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    patterns: list[DictPattern],
    out_dir: str,
    run_id: str | None = None,
    n_buckets: int = 8,
    entity_kb: DataFrame | None = None,
    predicate_kb: DataFrame | None = None,
) -> dict:
    """Full pipeline; returns a metrics dict. Re-running with the same
    out_dir resumes from per-bucket checkpoints.

    The whole per-turn kernel runs inside the scan (zero mention shuffles —
    the mehari execution shape); it is result-identical to the declarative
    window-based plan the oracle-checked queries use.

    When ``entity_kb`` (entity_id, type) and ``predicate_kb`` (pred_id,
    surface, rank) are given, the annotator chain (enrich_triples — the
    setup_seqvars_annotator analog, mod.rs:1162-1312) broadcast-joins them
    onto the triples before the bucketed write, so the materialized table
    carries KB annotations exactly like mehari's annotated VCF output, and
    the subject-frequency KB ``freq_kb`` is published beside the tables."""
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()
    tables_before = match_table_counters()
    with_freq = entity_kb is not None and predicate_kb is not None
    n_entity = max(1, n_buckets // 2)
    t_dir, e_dir = f"{out_dir}/triples", f"{out_dir}/entities"
    for root in (t_dir, e_dir, out_dir):
        commit.repair(root)
    t_done = load_committed(t_dir, n_buckets=n_buckets, key_col="conv_id")
    e_done = load_committed(e_dir, n_buckets=n_entity, key_col="conv_id")
    t_todo = [b for b in range(n_buckets) if b not in t_done]
    e_todo = [b for b in range(n_entity) if b not in e_done]

    if t_done:  # a restart never re-extracts a committed bucket
        transcripts = transcripts.filter(
            bucket_of("conv_id", n_buckets).isin(t_todo)
        )
    triples = extract_triples_fused(transcripts, patterns)
    if with_freq:
        # in-flight annotators: prebuilt KBs only (pure broadcast joins, the
        # fact stream is scanned ONCE); the frequency KB is counted by the
        # staging kernel from the rows it writes, mehari-style (frequency.rs
        # is a prebuilt artifact, never an inline recompute of the input)
        triples = enrich_triples(triples, entity_kb, predicate_kb, with_freq=False)
    # lineage struct rides with every materialized row (report.jsonl analog)
    triples = triples.withColumn(
        "lineage",
        F.struct(F.lit(run_id).alias("run_id"), F.lit("triples").alias("stage")),
    )
    tagged = _tagged(
        spark, triples, t_dir, t_done, e_todo, with_freq, n_buckets, n_entity
    )

    staging = Staging(
        triples=commit.open_staging(t_dir, "write") if t_todo else None,
        entities=commit.open_staging(e_dir, "write") if e_todo else None,
        freq=commit.open_staging(out_dir, "freq") if with_freq else None,
        columns=tuple(triples.columns),
        spark_schemas={
            "triples": triples.schema.json(),
            "entities": DataType.fromDDL(CLUSTER_DDL).json(),
            "freq_kb": FREQ_SPARK_SCHEMA.json(),
        },
    )

    def run(batches):
        ctx = TaskContext.get()
        task = f"{ctx.partitionId():05d}-{ctx.taskAttemptId()}"
        yield stage_partition(batches, staging, task)

    # ONE query, ONE exchange: whole conversations per task, so the kernel
    # writes the triples, clusters them and counts subjects in one pass
    manifest = []
    if tagged is not None:
        manifest = [
            r.asDict()
            for r in tagged.repartition("conv_id")
            .mapInArrow(run, schema=MANIFEST_DDL)
            .collect()
        ]
    results = publish_manifest(
        manifest, "triples", t_dir, staging.triples, run_id, t_todo, n_buckets
    )
    entities = publish_manifest(
        manifest, "entities", e_dir, staging.entities, run_id, e_todo, n_entity
    )
    if with_freq:
        publish_freq(manifest, staging.freq, f"{out_dir}/freq_kb")

    elapsed = time.time() - t0
    seconds = _task_seconds(manifest)
    metrics = {
        "elapsed_s": round(elapsed, 3),
        "triples_written": sum(r.rows_out for r in results),
        "entities_written": sum(r.rows_out for r in entities),
        # the slowest task's clustering plus entity writes: a share of the
        # call, never more than its wall time
        "entities_s": round(
            max((s["coref"] + s["entities"] for s in seconds.values()), default=0.0),
            4,
        ),
        "buckets_skipped": len(t_done),
        "n_buckets": n_buckets,
        "triples_files_written": _count(manifest, "triples"),
        "entities_files_written": _count(manifest, "entities"),
        # summed over the kernel's tasks
        "kernel_write_s": round(
            sum(s["triples"] + s["entities"] + s["freq_kb"] for s in seconds.values()),
            4,
        ),
        "kernel_coref_s": round(sum(s["coref"] for s in seconds.values()), 4),
    }
    # this call's match-table cache traffic (a build compiles + broadcasts)
    for name, n in match_table_counters().items():
        metrics[name] = n - tables_before[name]
    write_metrics(out_dir, run_id, "pipeline", metrics)
    return metrics


def _tagged(
    spark: SparkSession,
    triples: DataFrame,
    t_dir: str,
    t_done: set[int],
    e_todo: list[int],
    with_freq: bool,
    n_buckets: int,
    n_entity: int,
) -> DataFrame | None:
    """The kernel's input: the rows of the uncommitted triples buckets
    (``_tb`` set), plus — on a restart — the committed buckets' rows that
    the entity buckets or the frequency KB still need, read back column-
    pruned with ``_tb`` null. ``_eb`` is the entity bucket where that
    bucket is still to write. None when nothing is left to do."""
    eb = bucket_of("conv_id", n_entity)
    eb_todo = (eb if len(e_todo) == n_entity else F.when(eb.isin(e_todo), eb)).alias(
        "_eb"
    )
    parts = []
    if len(t_done) < n_buckets:
        tb = bucket_of("conv_id", n_buckets).alias("_tb")
        parts.append(triples.select(*triples.columns, tb, eb_todo))
    if t_done and (with_freq or e_todo):
        back = read_bucketed(spark, t_dir, triples.schema).filter(
            bucket_of("conv_id", n_buckets).isin(sorted(t_done))
        )
        if not with_freq:
            back = back.filter(eb.isin(e_todo))
        needed = ("conv_id", "subj_id", "obj_id")
        cols = [
            F.col(f.name) if f.name in needed else F.lit(None).cast(f.dataType)
            for f in triples.schema.fields
        ]
        cols = [c.alias(f.name) for c, f in zip(cols, triples.schema.fields)]
        parts.append(back.select(*cols, F.lit(None).cast("int").alias("_tb"), eb_todo))
    return functools.reduce(DataFrame.union, parts) if parts else None


def _files(manifest: list[dict], table: str) -> dict[int | None, list[str]]:
    out: dict[int | None, list[str]] = {}
    for m in manifest:
        if m["table"] == table:
            out.setdefault(m["bucket"], []).append(m["path"])
    return out


def _count(manifest: list[dict], table: str) -> int:
    return sum(1 for m in manifest if m["table"] == table)


def _task_seconds(manifest: list[dict]) -> dict[str, dict[str, float]]:
    """task -> table -> seconds the kernel spent on it."""
    out: dict[str, dict[str, float]] = {}
    for m in manifest:
        per = out.setdefault(
            m["task"], {"triples": 0.0, "entities": 0.0, "freq_kb": 0.0, "coref": 0.0}
        )
        per[m["table"]] += m["seconds"]
    return out


def publish_manifest(
    manifest: list[dict],
    table: str,
    table_dir: str,
    staging: str | None,
    run_id: str,
    buckets: list[int],
    n_buckets: int,
) -> list[BucketResult]:
    """Commit ``buckets`` of ``table`` from exactly the files ``manifest``
    lists: each bucket's files are gathered into its staged dir, then the
    shared per-bucket commit loop swaps and logs it. Files of attempts the
    manifest does not list stay in staging, which is then dropped."""
    if staging is None:
        return []
    files = _files(manifest, table)
    for b in buckets:
        commit.gather(files.get(b, []), os.path.join(staging, f"_bucket={b}"))
    results = commit_buckets(table_dir, run_id, staging, buckets, table, n_buckets)
    shutil.rmtree(staging, ignore_errors=True)
    return results


def publish_freq(manifest: list[dict], staging: str, dest: str) -> None:
    """Sum the tasks' partial subject counts listed in ``manifest`` and
    publish them as ``dest`` in one staged directory swap."""
    parts = [pq.read_table(p) for p in _files(manifest, "freq_kb").get(None, [])]
    counts = pa.concat_tables(parts) if parts else FREQ_SCHEMA.empty_table()
    total = counts.group_by("subj_id").aggregate([("subj_freq", "sum")])
    out = pa.table(
        [total.column("subj_id"), total.column("subj_freq_sum")], schema=FREQ_SCHEMA
    ).replace_schema_metadata({SPARK_SCHEMA_KEY: FREQ_SPARK_SCHEMA.json()})
    final = os.path.join(staging, "freq_kb")
    os.makedirs(final)
    pq.write_table(out, os.path.join(final, "part-00000.parquet"))
    commit.swap(final, dest)
    shutil.rmtree(staging, ignore_errors=True)
