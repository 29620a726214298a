"""Cross-turn coreference: edge list -> connected components.

Mehari analogs: compound-variant grouping buffers phase-linked variants per
transcript (compound.rs:96-170) and SV clustering merges records by overlap
into clusters (strucvars/mod.rs:3189-3290). Our version: entities that
co-occur as (subj, obj) of a triple anywhere in a conversation are linked;
clusters are the connected components of that per-conversation graph, with
the min entity_id as the stable cluster label.

Two implementations, both ending in the numpy kernel
``kernels/components.py`` (no per-edge Python):

- ``coref_clusters``: edges never cross conversations, so CC runs per
  conversation (SURVEY.md §7.4: "never global CC — partition by conv_id").
  One shuffle on conv_id collects each conversation's edge list; a
  ``mapInArrow`` batch of thousands of conversations is one kernel call.
- ``connected_components_global``: the GraphFrames-style alternating
  large-star/small-star iteration built from joins + aggregations, for
  graphs whose edges DO cross the partition key (used by the dedup
  clustering path). Converges in O(log n) rounds; each round is one shuffle
  on node id, AQE-coalesced. A graph within the graph tier's
  ``SMALL_GRAPH_EDGES`` skips the rounds and runs the kernel once through
  the tier's single-task runner (``graph._one_task``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.components import cluster_batch, components
from ..plans import commit

CLUSTER_DDL = "conv_id string, entity_id long, cluster_id long"
COMPONENT_SCHEMA = pa.schema([("node", pa.int64()), ("component", pa.int64())])


def coref_clusters(triples: DataFrame) -> DataFrame:
    """-> (conv_id, entity_id, cluster_id) for every entity in a triple.

    One shuffle: groupBy conv_id with two aligned collect_lists of the
    (least, greatest) entity pair of every non-self-loop triple. Duplicate
    edges are kept — they do not change the components, and dropping them
    would cost a second exchange. Each Arrow batch of thousands of
    conversations then goes through the numpy components kernel in one
    call."""
    agg = (
        triples.select(
            "conv_id",
            F.least("subj_id", "obj_id").alias("src"),
            F.greatest("subj_id", "obj_id").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("conv_id")
        .agg(F.collect_list("src").alias("src"), F.collect_list("dst").alias("dst"))
    )
    return agg.mapInArrow(
        lambda batches: map(cluster_batch, batches), schema=CLUSTER_DDL
    )


def _label_fingerprint(labels: DataFrame):
    """Order-independent fingerprint of the (node, label) assignment.

    bit_xor(xxhash64(node, label)): XOR never overflows (sums of longs
    throw under ANSI mode / wrap otherwise) and is commutative, and the
    check is EQUALITY only — an unchanged assignment gives an identical
    fingerprint; any change flips it with probability 1 - 2^-64. This
    replaces the earlier sum(label) monotone argument, which was unsound
    with large-magnitude xxhash-derived node ids."""
    return labels.agg(F.bit_xor(F.xxhash64("node", "label"))).first()[0]


def _cc_round_dir(checkpoint_dir: str, rnd: int) -> str:
    import os

    return os.path.join(checkpoint_dir, f"round_{rnd:04d}")


def load_cc_checkpoint(spark, checkpoint_dir: str, graph_id: dict | None = None):
    """-> (labels_df | None, rounds_done) from a durable CC checkpoint dir.

    ``graph_id`` (edge-set fingerprint + edge count, as written by
    ``connected_components_global``) guards identity: a checkpoint written
    for a DIFFERENT edge set is ignored (fresh start) instead of silently
    returning components of the old graph."""
    import json
    import os

    manifest = os.path.join(checkpoint_dir, "_cc_manifest.json")
    if not os.path.exists(manifest):
        return None, 0
    with open(manifest) as f:
        rec = json.load(f)
    if graph_id is not None:
        stored = {k: rec.get(k) for k in graph_id}
        if stored != graph_id:
            return None, 0
    rnd = int(rec["round"])
    return spark.read.parquet(_cc_round_dir(checkpoint_dir, rnd)), rnd


def connected_components_global(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    with_rounds: bool = False,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 2,
    check_every: int = 1,
):
    """Generic CC over (src, dst) long ids -> (node, component).
    With ``with_rounds=True`` returns (labels, n_rounds) so callers/tests can
    assert the O(log n) convergence bound.

    Min-label propagation with pointer jumping: each round every node takes
    min(own label, neighbors' labels), then follows label->label one hop
    (path halving). Convergence in O(log n) rounds — the Kiveris et al.
    (SoCC'14) large-star/small-star bound — each round two shuffles on node
    id, expressed as joins/aggs so Catalyst/AQE handle skew.

    Graphs of at most ``graph.SMALL_GRAPH_EDGES`` directed edges (and not
    running durably) short-circuit to one call of the numpy components
    kernel in a single task — identical labels, none of the per-round
    latency; tests asserting the round bound set that constant to 0. On
    this path the returned rounds value is the SENTINEL 1 (one kernel
    call), not a distributed round count — don't compare it against the
    O(log n) bound.

    Durability (mehari's spill-to-disk discipline, strucvars/mod.rs:3075-3144):
    by default iteration state is localCheckpoint'ed — executor-local blocks,
    fastest, but an executor loss mid-iteration kills the job. Passing
    ``checkpoint_dir`` makes every ``checkpoint_every``-th round a RELIABLE
    checkpoint: labels are written to the directory (atomic manifest update)
    and read back, so a crashed/killed driver or lost executor resumes from
    the last durable round instead of recomputing — call again with the same
    checkpoint_dir to resume. At 100 TB edge counts this is the safe default;
    the flag keeps tiny interactive graphs on the fast local path.
    """
    import json
    import os

    from ..plans.stagecache import checkpoint, release
    from .graph import _fits_one_task, _one_task

    spark = edges.sparkSession
    # materialize the (possibly expensive) upstream edge pipeline ONCE
    # before mirroring — a union of two selects over the same lineage would
    # execute the whole upstream plan twice in one job
    ed = checkpoint(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    # SMALL-GRAPH FAST PATH: one in-memory pass of the numpy components
    # kernel beats O(log n) synchronous distributed rounds whose per-round
    # driver/stage latency dominates at this size. Labels are identical by
    # construction (min node id per component, the same contract as the
    # iterative path). Durable runs (checkpoint_dir) always take the
    # distributed path: their value IS the resumable iteration.
    if checkpoint_dir is None and _fits_one_task(ed):
        # materialized once (same contract as the distributed path's eager
        # checkpoints): otherwise every downstream action would re-collect
        # the edges into one task and re-run the kernel
        out = checkpoint(
            _one_task(
                ed.select(F.col("u").alias("src"), F.col("v").alias("dst")),
                lambda u, v: components(np.zeros(len(u), np.int64), u, v)[1:],
                COMPONENT_SCHEMA,
            ),
            ed,
        )
        return (out, 1) if with_rounds else out
    sym = checkpoint(
        ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct(),
        ed,
    )
    # right-size the per-round parallelism to the materialized edge count:
    # each round is a handful of joins over `sym`-sized data, and scheduling
    # 64 near-empty tasks x 4 stages x O(log n) rounds dominates small/medium
    # graphs. ~100k edges/partition keeps tasks meaningful; large graphs keep
    # the session's full parallelism.
    n_edges = sym.count()
    cur_par = int(spark.conf.get("spark.sql.shuffle.partitions", "64"))
    parts = max(4, min(cur_par, n_edges // 100_000 + 1))
    if parts < sym.rdd.getNumPartitions():
        sym = checkpoint(sym.repartition(parts, "u"), sym)

    rounds = 0
    labels = None
    graph_id = None
    if checkpoint_dir is not None:
        # identity of THIS graph: order-independent fingerprint + count of
        # the canonical symmetric edge set (stable under input edge order,
        # direction, and duplicates) — a stale checkpoint for a different
        # edge set is detected and ignored, never silently resumed
        fp = sym.agg(F.bit_xor(F.xxhash64("u", "v"))).first()[0]
        graph_id = {"edge_fp": int(fp) if fp is not None else 0, "n_edges": n_edges}
        labels, rounds = load_cc_checkpoint(spark, checkpoint_dir, graph_id)
    if labels is None:
        labels = checkpoint(
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select(F.col("u").alias("node"), F.least("u", "mn").alias("label")),
            None,
        )

    prev_fp = None
    while rounds < max_iter:
        rounds += 1
        # 1) neighbor-min: cand(v) = min label among v and its neighbors
        nbr = (
            sym.join(
                labels.select(F.col("node").alias("u"), F.col("label").alias("lu")),
                "u",
            )
            .groupBy("v")
            .agg(F.min("lu").alias("nbr_min"))
            .select(F.col("v").alias("node"), "nbr_min")
        )
        stepped = labels.join(nbr, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias("label"),
        )
        # 2) pointer jump: label := label(label) (path halving)
        lab2 = labels.select(
            F.col("node").alias("label"), F.col("label").alias("jumped")
        )
        jumped = stepped.join(lab2, "label", "left").select(
            "node", F.least(F.col("label"), F.coalesce("jumped", "label")).alias("label")
        )
        # convergence check without a join: equality of an order-independent
        # hash fingerprint — one cheap agg over the just-materialized data.
        # ``check_every`` > 1 trades (up to check_every-1) extra cheap
        # rounds for one fewer agg job per skipped round: labels only move
        # downward (every update is a least()), so fingerprint equality
        # across ANY gap of rounds implies the assignment was stable for
        # the whole gap.
        check = rounds % check_every == 0 or rounds >= max_iter
        if check and prev_fp is None:
            # the pre-round state, fingerprinted before its blocks go
            prev_fp = _label_fingerprint(labels)
        durable = checkpoint_dir is not None and (
            rounds % checkpoint_every == 0 or rounds >= max_iter
        )
        if durable:
            # reliable checkpoint: write, atomically publish, read back —
            # the read-back df's lineage starts at the durable files
            rd = _cc_round_dir(checkpoint_dir, rounds)
            jumped.write.mode("overwrite").parquet(rd)
            commit.replace_file(
                os.path.join(checkpoint_dir, "_cc_manifest.json"),
                json.dumps({"round": rounds, "path": rd, **(graph_id or {})}),
            )
            # superseded round dirs are dead weight once the manifest moved
            # on — retain the newest TWO (a just-resumed ``labels`` df may
            # still have lineage into the previous round's files)
            import shutil

            kept = sorted(
                d for d in os.listdir(checkpoint_dir) if d.startswith("round_")
            )
            for old in kept[:-2]:
                shutil.rmtree(os.path.join(checkpoint_dir, old), ignore_errors=True)
            durable_labels = spark.read.parquet(rd)
            release(labels)
            labels = durable_labels
        else:
            labels = checkpoint(jumped, labels)
        if check:
            new_fp = _label_fingerprint(labels)
            converged = new_fp == prev_fp
            prev_fp = new_fp
            if converged:
                break
    release(sym)
    out = labels.select(F.col("node"), F.col("label").alias("component"))
    return (out, rounds) if with_rounds else out
