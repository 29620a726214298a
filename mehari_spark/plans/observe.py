"""Post-execution plan metrics: the EXPLAIN ANALYZE / report.jsonl analog.

Mehari records every build decision and counter into ``<output>.report.jsonl``
(db/transcripts/create/mod.rs:137-241). The Spark-native equivalent of those
counters already exists — every physical operator carries SQLMetrics
(rows output, shuffle bytes written, spill sizes, broadcast sizes) that the
UI displays — but pipelines need them PROGRAMMATICALLY so claims like
"the fused kernel shuffles zero bytes" or "LSH blocking cuts candidates 80x"
are measured inside the engine, not asserted in prose.

``collect_plan_metrics(df)`` executes the DataFrame's OWN query execution
(``df.count()`` would build a separate Aggregate plan whose metrics live on
different operator instances) and then walks the executed (adaptively
finalized) physical plan via py4j, returning one record per operator node
with its metric values. ``summarize_exchange(df)`` reduces that to the
shuffle totals a scale review cares about.

Works on AQE plans: AdaptiveSparkPlanExec is unwrapped to its final plan,
and reused-exchange nodes are reported once.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class NodeMetrics:
    node_id: int
    name: str
    metrics: dict[str, int]


def _final_plan(jdf):
    plan = jdf.queryExecution().executedPlan()
    # unwrap AQE to the final (re-optimized) physical plan
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan


def _walk(node, out: list, seen: set) -> None:
    node_id = node.id()
    if node_id in seen:
        return
    seen.add(node_id)
    name = node.nodeName()
    metrics: dict[str, int] = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metric = kv._2()
        opt = metric.name()
        label = str(opt.get()) if not opt.isEmpty() else str(kv._1())
        metrics[label] = int(metric.value())
    out.append(NodeMetrics(node_id, name, metrics))
    # children
    ch = node.children().iterator()
    while ch.hasNext():
        _walk(ch.next(), out, seen)
    # AQE leaves (QueryStageExec) wrap their materialized stage plan
    cls = node.getClass().getSimpleName()
    if cls.endswith("QueryStageExec"):
        _walk(node.plan(), out, seen)
    if cls == "ReusedExchangeExec":
        _walk(node.child(), out, seen)


def collect_plan_metrics(df: DataFrame, execute: bool = True) -> list[NodeMetrics]:
    """One record per physical operator of ``df``'s execution.

    With ``execute=True`` (default) the DataFrame's own physical plan is
    run once (``queryExecution().toRdd().count()`` — the exact operator
    tree whose accumulators we then read); pass False only if THIS
    DataFrame was already executed through its own queryExecution (e.g.
    via ``collect()`` — NOT via ``count()``, which plans separately).
    """
    if execute:
        df._jdf.queryExecution().toRdd().count()
    out: list[NodeMetrics] = []
    _walk(_final_plan(df._jdf), out, set())
    return out


def summarize_exchange(
    df: DataFrame, nodes: list[NodeMetrics] | None = None
) -> dict[str, int]:
    """Shuffle/broadcast totals of one execution of ``df``.

    Returns {n_exchanges, shuffle_bytes_written, shuffle_records_written,
    n_broadcasts, broadcast_bytes} — the numbers a 100 TB plan review asks
    for first. A scan-local kernel must report 0 exchanges and 0 bytes.
    Pass ``nodes`` from a prior collect_plan_metrics to avoid re-executing.
    """
    if nodes is None:
        nodes = collect_plan_metrics(df)
    out = {
        "n_exchanges": 0,
        "shuffle_bytes_written": 0,
        "shuffle_records_written": 0,
        "n_broadcasts": 0,
        "broadcast_bytes": 0,
    }
    for n in nodes:
        if n.name.startswith("Exchange") or "ShuffleExchange" in n.name:
            out["n_exchanges"] += 1
            out["shuffle_bytes_written"] += n.metrics.get(
                "shuffle bytes written", 0
            )
            out["shuffle_records_written"] += n.metrics.get(
                "shuffle records written", 0
            )
        if "BroadcastExchange" in n.name:
            out["n_broadcasts"] += 1
            out["broadcast_bytes"] += n.metrics.get("data size", 0)
    return out

