"""KB-enrichment annotator chain: broadcast side-table joins onto triples.

Mehari's main annotation loop is an ordered annotator chain that joins
small(ish) knowledge-base side tables onto every record —
``setup_seqvars_annotator`` (reference mehari/src/annotate/seqvars/mod.rs:
1162-1312), with per-KB lookups in frequency.rs:105-123 (population
frequencies), clinvar.rs:79-91 (clinical significance) and cadd.rs:74-88
(scores). The Spark-first translation: each annotator is one broadcast hash
left-join; the chain is a linear plan of BroadcastHashJoins over the (large)
triple stream — zero extra shuffles on the fact side, which is the plan you
want at 100 TB (the KBs are dims; the 100 TB is the facts).

One annotator (``subj_freq``) is a *computed* KB — the frequency.rs analog:
a partial-aggregated rollup of the facts themselves, broadcast-joined back.
At scale this is a map-side-combined groupBy over ids only (narrow columns),
then a broadcast of the small distinct-id result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_triples(
    triples: DataFrame,
    entity_kb: DataFrame,
    predicate_kb: DataFrame,
    with_freq: bool = True,
) -> DataFrame:
    """Annotator chain: triples × entity KB (subj, obj) × predicate KB
    (+ subject-frequency KB).

    ``entity_kb``:   (entity_id, type) — one row per entity.
    ``predicate_kb``: (pred_id, surface, rank) — one row per CANONICAL
                      predicate (post-rewrite ids, matching triples.pred_id).
    ``with_freq``:   join the subject-frequency rollup derived from
                      ``triples`` itself, which RE-EXECUTES the input
                      lineage — only set it on a cached/checkpointed input.
                      Mehari's frequency KB is a PREBUILT artifact
                      (frequency.rs); ``run_pipeline`` builds it from the
                      materialized table's pruned id column instead.
    Left joins preserve every triple even when a KB row is missing (mehari
    annotates absent-frequency variants with nulls, frequency.rs:105-123).
    """
    ent = entity_kb.select("entity_id", "type")
    subj_kb = ent.select(
        F.col("entity_id").alias("subj_id"), F.col("type").alias("subj_type")
    )
    obj_kb = ent.select(
        F.col("entity_id").alias("obj_id"), F.col("type").alias("obj_type")
    )
    pred_kb = predicate_kb.select(
        "pred_id",
        F.col("surface").alias("pred_surface"),
        F.col("rank").alias("pred_rank"),
    )
    out = (
        triples.join(F.broadcast(subj_kb), "subj_id", "left")
        .join(F.broadcast(obj_kb), "obj_id", "left")
        .join(F.broadcast(pred_kb), "pred_id", "left")
    )
    if with_freq:
        freq = triples.groupBy("subj_id").agg(F.count("*").alias("subj_freq"))
        out = out.join(F.broadcast(freq), "subj_id", "left")
    return out
