"""Triple assembly: (subject, predicate, object) from mention positions.

Rule (the reference semantics our goldens encode, mirroring mehari's
per-transcript consequence build, logic.rs:818-1052): entity mentions are
overlap-resolved (longest at each start, contained spans dropped); every
predicate mention p in a turn is a candidate, with subj = nearest entity
mention strictly before p and obj = nearest entity mention strictly after p
(token positions); the triple is emitted iff both exist. Then best-per-group
dedup keeps the lowest-ranked (most severe) predicate per (conv_id,
turn_idx, subj, obj) — mehari's worst-consequence picking
(logic.rs:452-513).

Two implementations, cross-asserted in tests:

- ``extract_triples_fused`` (production): the whole rule inside the
  Arrow-batch matching kernel, ``kernels.dictmatch.triple_batch``.
- ``assemble_triples`` (declarative reference, used after
  ``mentions.resolve_overlaps`` by the windowed plan): pure window
  functions over the mention stream — one shuffle on (conv_id, turn_idx),
  reused by both windows, with `last/first ignorenulls` providing the
  nearest-neighbor lookup. At 100 TB the shuffle key is hash(conv_id,
  turn_idx); skew is bounded because a turn has <= TURN_TOKENS mentions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..kernels.dictmatch import triple_batch
from .mentions import match_turns

TRIPLES_DDL = (
    "conv_id string, turn_idx int, subj_id long, pred_id long, obj_id long, pred_pos int"
)


def assemble_triples(mentions: DataFrame) -> DataFrame:
    """mentions (MENTIONS_SCHEMA) -> triples (conv_id, turn_idx, subj_id,
    pred_id, obj_id, pred_pos), deduped best-per-group."""
    seq = mentions.select(
        "conv_id",
        "turn_idx",
        "pos",
        F.when(F.col("kind") == "E", F.col("ref_id")).alias("entity_id"),
        F.when(F.col("kind") == "P", F.col("canon_id")).alias("p_canon"),
        F.when(F.col("kind") == "P", F.col("rank")).alias("p_rank"),
    )
    # RANGE (not ROWS) frames: an entity mention at the SAME pos as the
    # predicate (ambiguous surfaces acting as both E and P) must count as
    # neither subj ("strictly before") nor obj ("strictly after") — ROWS
    # frames would make the outcome depend on nondeterministic tie order
    # between equal-pos rows (golden rule: datagen.reference_triples).
    w = W.partitionBy("conv_id", "turn_idx").orderBy("pos")
    subj = F.last("entity_id", ignorenulls=True).over(
        w.rangeBetween(W.unboundedPreceding, -1)
    )
    obj = F.first("entity_id", ignorenulls=True).over(
        w.rangeBetween(1, W.unboundedFollowing)
    )
    cand = (
        seq.withColumn("subj_id", subj)
        .withColumn("obj_id", obj)
        .filter(
            F.col("p_canon").isNotNull()
            & F.col("subj_id").isNotNull()
            & F.col("obj_id").isNotNull()
        )
    )
    dedup = W.partitionBy("conv_id", "turn_idx", "subj_id", "obj_id").orderBy(
        F.asc("p_rank"), F.asc("p_canon"), F.asc("pos")
    )
    return (
        cand.withColumn("rn", F.row_number().over(dedup))
        .filter(F.col("rn") == 1)
        .select(
            "conv_id",
            "turn_idx",
            "subj_id",
            F.col("p_canon").alias("pred_id"),
            "obj_id",
            F.col("pos").alias("pred_pos"),
        )
    )


def extract_triples_fused(transcripts: DataFrame, patterns) -> DataFrame:
    """Fused per-batch kernel: match -> entity overlap resolution ->
    nearest-rule assembly -> best-per-group dedup, all inside one
    ``mapInArrow`` pass (``kernels.dictmatch.triple_batch``).

    This is mehari's actual execution shape — the whole per-record kernel
    runs in-process (ConsequencePredictor::predict, logic.rs:164-278) — and
    at 100 TB it is the right plan: the triple rule is TURN-LOCAL, so
    shuffling the ~10x-larger mention stream through window exchanges buys
    nothing. The fused path emits only final triples from the scan (narrow
    map, zero shuffles); the windowed implementation (assemble_triples)
    remains as the declarative reference used by the oracle-checked queries.

    Results are identical to resolve_overlaps + assemble_triples and to
    datagen.reference_triples (asserted in tests)."""
    return match_turns(transcripts, patterns, triple_batch, TRIPLES_DDL)
