"""Graph analytics over the materialized (subj, pred, obj) triple table.

Once the KG-construction pipeline (mentions -> triples -> canonicalize ->
coref) materializes its triple table, these are the queries a KG consumer
runs against it: degree/hub profiles, 2-hop path rollups, a deterministic
PageRank, and the temporal "current state" snapshot. The reference stops at
emitting records (mehari annotates and writes, verify/seqvars.rs compares);
downstream analytics is the Spark-native extension of that output table —
same discipline as the rest of the repo: pure Catalyst plans, integer-only
outputs, and a DuckDB oracle per operator.

Shared skeleton of the iterative operators:
- Two edge stages, each materialized once per triples frame through the
  bounded stage cache: ``_directed`` (distinct non-self-loop (src, dst,
  outdeg), partitioned on src) feeds PageRank, personalized PageRank and
  hub BFS; ``_symmetric`` (both directions of every undirected edge,
  partitioned on src) feeds k-core, label propagation and the triangle
  count. ``_hub`` is the one hub rule (max out-degree, smallest id).
- ``_fits_one_task`` probes at most ``SMALL_GRAPH_EDGES + 1`` edges; a
  graph that fits runs its kernel once through ``_one_task`` (one
  ``mapInArrow`` task over the int64 src/dst columns) instead of the
  distributed rounds. The kernels mirror the rounds exactly, so the size
  gate changes the plan, never the answer. Global connected components
  (``coref.connected_components_global``) uses the same gate and runner.
- ``_checkpoint`` (``plans/stagecache.checkpoint``) is the round loops'
  lineage cut: eager localCheckpoint, previous round's blocks released.

Scale notes (100 TB triple table):
- ``entity_degree`` is ONE shuffle on entity_id over a union-all incidence
  list (map-side combine applies; no join).
- ``two_hop_paths`` joins the edge list to itself on the bridging entity.
  Hub entities are the classic skew source: AQE skew-join splits the hot
  partitions (enabled session-wide), and the aggregation keyed on
  (pred1, pred2) is tiny. The output is a rollup, never the path set.
- ``pagerank_int`` is the standard iterative join/agg loop; ranks and the
  (src, dst, outdeg) edge relation shuffle-partition on the SAME key
  (src = entity_id) so every iteration's join co-locates, and
  ``checkpoint_every`` truncates lineage for deep iteration counts. All
  arithmetic is 64-bit integer (micro-units, floor division), so Spark and
  DuckDB agree bit-for-bit: no float-summation-order hazard in the value
  hash.
- ``triples_asof`` is one window over (subj_id, pred_id) — the latest
  assertion wins, with a total deterministic tiebreak.
"""

from __future__ import annotations

from typing import Callable, Iterable

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..plans.stagecache import checkpoint as _checkpoint
from ..plans.stagecache import materialize_once

# Graphs with at most this many edges run an iterative operator's kernel
# in ONE task instead of its distributed rounds, whose per-round driver
# and stage latency dominates below it: measured 13-28 s of CC rounds vs a
# few seconds in one task at 3M edges, and 4M int64 edge pairs are ~64 MB
# through one task. Read at call time, so setting it to 0 forces the
# rounds.
SMALL_GRAPH_EDGES = 4_000_000


# --------------------------------------------------------------------------
# shared edge stages and the iterative-operator skeleton
# --------------------------------------------------------------------------


def _directed(triples: DataFrame) -> DataFrame:
    """(src, dst, outdeg): the distinct non-self-loop directed edges with
    their source's out-degree, partitioned on src — the stationary edge
    side of every PageRank round and BFS hop (the GraphX/Pregel
    edge-caching discipline: only the small rank/frontier side shuffles)."""

    def build() -> DataFrame:
        edges = (
            triples.select(
                F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
        return edges.join(outdeg, "src").repartition("src")

    return materialize_once(triples.sparkSession, ("directed_edges", triples), build)


def _symmetric(triples: DataFrame) -> DataFrame:
    """(src, dst): both directions of every distinct undirected
    non-self-loop edge, partitioned on src."""
    return materialize_once(
        triples.sparkSession,
        ("symmetric_edges", triples),
        lambda: (
            triples.select(
                F.least("subj_id", "obj_id").alias("a"),
                F.greatest("subj_id", "obj_id").alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                        F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
            .repartition("src")
        ),
    )


def _hub(directed: DataFrame) -> DataFrame:
    """1-row (entity_id): the hub entity — max out-degree over the distinct
    edge set, smallest id on ties (deterministic on both engines)."""
    return (
        directed.groupBy("src")
        .agg(F.first("outdeg").alias("outdeg"))
        .orderBy(F.desc("outdeg"), F.asc("src"))
        .limit(1)
        .select(F.col("src").alias("entity_id"))
    )


def _fits_one_task(edges: DataFrame) -> bool:
    """True when ``edges`` has at most ``SMALL_GRAPH_EDGES`` rows; the probe
    reads no more than one row past the bound."""
    return edges.limit(SMALL_GRAPH_EDGES + 1).count() <= SMALL_GRAPH_EDGES


def _one_task(
    edges: DataFrame, fn: Callable[[np.ndarray, np.ndarray], tuple], schema: pa.Schema
) -> DataFrame:
    """Run ``fn(src, dst)`` once over the whole edge list in a single task.

    ``fn`` gets the int64 ``src``/``dst`` columns of ``edges`` as two numpy
    arrays and returns one column per ``schema`` field (every field is
    int64); the result is emitted as one Arrow batch."""

    def run(batches):
        src, dst = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
        for rb in batches:
            src.append(rb.column("src").to_numpy())
            dst.append(rb.column("dst").to_numpy())
        cols = fn(np.concatenate(src), np.concatenate(dst))
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, pa.int64()) for c in cols], schema=schema
        )

    ddl = ", ".join(f"{f.name} long" for f in schema)
    return edges.select("src", "dst").coalesce(1).mapInArrow(run, schema=ddl)


def _dict_columns(values: dict[int, int]) -> tuple[list[int], list[int]]:
    """{node: value} -> (nodes, values) columns for ``_one_task``."""
    return list(values), list(values.values())


# --------------------------------------------------------------------------
# degree / hub profile
# --------------------------------------------------------------------------


def entity_degree(triples: DataFrame) -> DataFrame:
    """(entity_id, n_out, n_in, n_preds_out, n_preds_in): triple-incidence
    degree profile.

    The incidence list is built with ``explode(array(...))`` rather than a
    union-all of two selects: a union re-reads (or, over a computed
    upstream like the fused extractor, re-COMPUTES) the triple relation
    twice, while the explode emits both incidence rows in the same single
    pass. One scan + one groupBy shuffle total."""
    inc = triples.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("subj_id").alias("entity_id"),
                    F.lit(1).alias("is_out"),
                    F.col("pred_id"),
                ),
                F.struct(
                    F.col("obj_id").alias("entity_id"),
                    F.lit(0).alias("is_out"),
                    F.col("pred_id"),
                ),
            )
        ).alias("e")
    ).select("e.entity_id", "e.is_out", "e.pred_id")
    return inc.groupBy("entity_id").agg(
        F.sum("is_out").cast("long").alias("n_out"),
        F.sum(1 - F.col("is_out")).cast("long").alias("n_in"),
        F.countDistinct(F.when(F.col("is_out") == 1, F.col("pred_id"))).alias(
            "n_preds_out"
        ),
        F.countDistinct(F.when(F.col("is_out") == 0, F.col("pred_id"))).alias(
            "n_preds_in"
        ),
    )


def entity_degree_oracle(triples_rel: str = "triples") -> str:
    return f"""
inc AS (
  SELECT subj_id AS entity_id, 1 AS is_out, pred_id FROM {triples_rel}
  UNION ALL
  SELECT obj_id AS entity_id, 0 AS is_out, pred_id FROM {triples_rel}
)
SELECT entity_id,
       SUM(is_out)::BIGINT AS n_out,
       SUM(1 - is_out)::BIGINT AS n_in,
       COUNT(DISTINCT CASE WHEN is_out = 1 THEN pred_id END)::BIGINT AS n_preds_out,
       COUNT(DISTINCT CASE WHEN is_out = 0 THEN pred_id END)::BIGINT AS n_preds_in
FROM inc GROUP BY entity_id
"""


# --------------------------------------------------------------------------
# 2-hop path rollup
# --------------------------------------------------------------------------


def two_hop_paths(triples: DataFrame) -> DataFrame:
    """(pred1, pred2, n_paths, n_bridges): rollup of length-2 paths
    a -[pred1]-> b -[pred2]-> c over the DISTINCT edge set.

    The join key is the bridging entity b — hot hubs are split by AQE
    skew-join; the output is the (pred1, pred2) rollup, so result size is
    bounded by |predicates|^2 regardless of corpus size.

    The distinct edge set feeds BOTH sides of the self-join, so it is
    materialized once through the bounded stage cache (the 100 TB analog:
    the KG's edge table is a materialized parquet table, not recomputed
    per consumer) instead of running the upstream extractor twice."""
    edges = materialize_once(
        triples.sparkSession,
        ("twohop_edges", triples),
        lambda: triples.select("subj_id", "pred_id", "obj_id").distinct(),
    )
    a = edges.alias("a")
    b = edges.alias("b")
    return (
        a.join(b, F.col("a.obj_id") == F.col("b.subj_id"))
        .groupBy(
            F.col("a.pred_id").alias("pred1"), F.col("b.pred_id").alias("pred2")
        )
        .agg(
            F.count("*").alias("n_paths"),
            F.countDistinct(F.col("a.obj_id")).alias("n_bridges"),
        )
    )


def two_hop_paths_oracle(triples_rel: str = "triples") -> str:
    return f"""
pedges AS (SELECT DISTINCT subj_id, pred_id, obj_id FROM {triples_rel})
SELECT a.pred_id AS pred1, b.pred_id AS pred2,
       COUNT(*)::BIGINT AS n_paths,
       COUNT(DISTINCT a.obj_id)::BIGINT AS n_bridges
FROM pedges a JOIN pedges b ON a.obj_id = b.subj_id
GROUP BY a.pred_id, b.pred_id
"""


# --------------------------------------------------------------------------
# deterministic integer PageRank
# --------------------------------------------------------------------------

RANK_UNIT = 1_000_000  # micro-units: rank 1.0 == 1_000_000
RANK_SCHEMA = pa.schema([("entity_id", pa.int64()), ("rank_micro", pa.int64())])


def _pagerank_local(src, dst, iters: int, damping_pct: int):
    """Single-task mirror of the distributed integer recurrence.

    Pure int64 arithmetic (floor div, exact sums) — the SAME spec as the
    join/agg loop, so labels are bit-identical by construction (integer
    math has no summation-order hazard, unlike float PageRank)."""
    base = (100 - damping_pct) * 10_000
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    si, di = inv[: src.size], inv[src.size :]
    outdeg = np.bincount(si, minlength=nodes.size).astype(np.int64)
    ranks = np.full(nodes.size, RANK_UNIT, dtype=np.int64)
    for _ in range(iters):
        contrib = ranks[si] // outdeg[si]
        incoming = np.zeros(nodes.size, dtype=np.int64)
        np.add.at(incoming, di, contrib)  # exact int64 accumulation
        ranks = base + (incoming * damping_pct) // 100
    return nodes, ranks


def _rank_rounds(
    ranks: DataFrame,
    esrc: DataFrame,
    nodes: DataFrame,
    restart: Column,
    iters: int,
    damping_pct: int,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """``iters`` rounds of the integer rank recurrence shared by PageRank
    and personalized PageRank:

        rank_{i+1}(n) = restart(n)
            + (d * SUM_{(m,n) in E} (rank_i(m) DIV outdeg(m))) DIV 100

    ``esrc`` is the (src, dst, outdeg) relation, ``nodes`` the node set
    (aliased ``n`` inside the round, so ``restart`` may read its columns)
    and ``restart`` the per-node teleport term. ``checkpoint_every``
    sets how many rounds run between two ``_checkpoint`` lineage cuts."""
    prev: DataFrame | None = None
    for i in range(iters):
        # ranks' lineage contains esrc/nodes after the first iteration:
        # explicit aliases keep every join reference unambiguous
        incoming = (
            ranks.alias("r")
            .join(esrc.alias("e"), F.col("r.entity_id") == F.col("e.src"))
            .select(
                F.col("e.dst").alias("dst"),
                F.expr("r.rank_micro DIV e.outdeg").alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("incoming"))
        )
        ranks = (
            nodes.alias("n")
            .join(
                incoming.alias("i"),
                F.col("n.entity_id") == F.col("i.dst"),
                "left",
            )
            .select(
                F.col("n.entity_id").alias("entity_id"),
                (
                    restart
                    + F.expr(
                        f"(coalesce(i.incoming, 0L) * {damping_pct}) DIV 100"
                    )
                )
                .cast("long")
                .alias("rank_micro"),
            )
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = prev = _checkpoint(ranks, prev)
    return ranks


def pagerank_int(
    triples: DataFrame,
    iters: int = 5,
    damping_pct: int = 85,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """(entity_id, rank_micro): PageRank in 64-bit integer micro-units.

    Spec (identical on both engines, so the oracle is exact by
    construction — no float summation-order hazard):
    - edge set: DISTINCT (subj_id, obj_id), self-loops removed
    - rank_0 = 1_000_000 per node
    - rank_{i+1}(n) = (100-d)*10_000
        + (d * SUM_{(m,n) in E} (rank_i(m) DIV outdeg(m))) DIV 100
      with d = ``damping_pct`` and DIV = integer floor division; dangling
      mass (nodes with no outlinks) is dropped, the standard simplification.

    The join key every iteration is the source entity, so pre-partitioning
    ranks and the (src, dst, outdeg) relation on the same key co-locates
    the loop. ``checkpoint_every`` truncates lineage every that many
    rounds — deep iteration counts stay O(1) in plan size and block
    storage. A graph that fits one task runs the whole recurrence there
    (``_pagerank_local``); the checkpointed mode always takes the rounds,
    whose value IS the bounded-lineage iteration."""
    directed = _directed(triples)
    if checkpoint_every is None and _fits_one_task(directed):
        return _one_task(
            directed,
            lambda src, dst: _pagerank_local(src, dst, iters, damping_pct),
            RANK_SCHEMA,
        )
    nodes = materialize_once(
        triples.sparkSession,
        ("pagerank_nodes", triples),
        lambda: directed.select(
            F.explode(F.array("src", "dst")).alias("entity_id")
        ).distinct(),
    )
    ranks = nodes.select(
        "entity_id", F.lit(RANK_UNIT).cast("long").alias("rank_micro")
    )
    base = (100 - damping_pct) * 10_000
    return _rank_rounds(
        ranks, directed, nodes, F.lit(base), iters, damping_pct, checkpoint_every
    )


def pagerank_int_oracle(
    triples_rel: str = "triples", iters: int = 5, damping_pct: int = 85
) -> str:
    """Unrolled fixed-iteration SQL mirror of :func:`pagerank_int` (the
    iteration count is a parameter of the operator, so the oracle is
    GENERATED for the same count — same discipline as curation.py)."""
    base = (100 - damping_pct) * 10_000
    ctes = [
        f"pedges AS (SELECT DISTINCT subj_id AS src, obj_id AS dst FROM {triples_rel} WHERE subj_id <> obj_id)",
        "poutdeg AS (SELECT src, COUNT(*)::BIGINT AS outdeg FROM pedges GROUP BY src)",
        "pnodes AS (SELECT src AS entity_id FROM pedges UNION SELECT dst FROM pedges)",
        f"pr0 AS (SELECT entity_id, CAST({RANK_UNIT} AS BIGINT) AS rank_micro FROM pnodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""pr{i} AS (
  SELECT n.entity_id,
         CAST({base} + (COALESCE(s.incoming, 0) * {damping_pct}) // 100 AS BIGINT) AS rank_micro
  FROM pnodes n LEFT JOIN (
    SELECT e.dst, SUM(r.rank_micro // d.outdeg) AS incoming
    FROM pr{i - 1} r
    JOIN poutdeg d ON d.src = r.entity_id
    JOIN pedges e ON e.src = r.entity_id
    GROUP BY e.dst
  ) s ON s.dst = n.entity_id
)"""
        )
    return ",\n".join(ctes) + f"\nSELECT entity_id, rank_micro FROM pr{iters}"


# --------------------------------------------------------------------------
# personalized PageRank (random walk with restart) from the hub entity
# --------------------------------------------------------------------------


def personalized_pagerank_int(
    triples: DataFrame, iters: int = 5, damping_pct: int = 85
) -> DataFrame:
    """(entity_id, rank_micro): random-walk-with-restart relevance scores
    seeded at the hub entity (max out-degree, min id tie-break — the same
    deterministic seed rule as :func:`hub_reach`), in 64-bit integer
    micro-units.

    Spec (identical on both engines — exact parity by construction):
    - rank_0(n) = 1_000_000 if n == seed else 0
    - rank_{i+1}(n) = [n == seed] * (100-d)*10_000
        + (d * SUM_{(m,n) in E} (rank_i(m) DIV outdeg(m))) DIV 100
    i.e. the restart mass teleports entirely to the seed instead of
    spreading uniformly — the standard KG "relevance to this entity"
    ranking. Plan shape is the PageRank loop (stationary src-keyed edge
    relation, small ranks side shuffles per round); the seed flag is a
    broadcast 1-row join materialized into the node set once, never a
    driver-side scalar."""
    directed = _directed(triples)
    hub = _hub(directed).select("entity_id", F.lit(1).alias("is_seed"))
    nodes = materialize_once(
        triples.sparkSession,
        ("ppr_nodes", triples),
        lambda: directed.select(F.explode(F.array("src", "dst")).alias("entity_id"))
        .distinct()
        .join(F.broadcast(hub), "entity_id", "left")
        .select(
            "entity_id", F.coalesce(F.col("is_seed"), F.lit(0)).alias("is_seed")
        ),
    )

    ranks = nodes.select(
        "entity_id",
        (F.col("is_seed").cast("long") * F.lit(RANK_UNIT)).alias("rank_micro"),
    )
    base = (100 - damping_pct) * 10_000
    restart = F.col("n.is_seed").cast("long") * F.lit(base)
    return _rank_rounds(ranks, directed, nodes, restart, iters, damping_pct)


def personalized_pagerank_int_oracle(
    triples_rel: str = "triples", iters: int = 5, damping_pct: int = 85
) -> str:
    """Unrolled generated SQL mirror of :func:`personalized_pagerank_int`
    (same discipline as the PageRank and BFS oracles)."""
    base = (100 - damping_pct) * 10_000
    ctes = [
        f"ppedges AS (SELECT DISTINCT subj_id AS src, obj_id AS dst FROM {triples_rel} WHERE subj_id <> obj_id)",
        "ppoutdeg AS (SELECT src, COUNT(*)::BIGINT AS outdeg FROM ppedges GROUP BY src)",
        "pphub AS (SELECT src AS entity_id FROM ppoutdeg ORDER BY outdeg DESC, src ASC LIMIT 1)",
        """ppnodes AS (
  SELECT entity_id,
         CASE WHEN entity_id = (SELECT entity_id FROM pphub) THEN 1 ELSE 0 END AS is_seed
  FROM (SELECT src AS entity_id FROM ppedges UNION SELECT dst FROM ppedges)
)""",
        f"ppr0 AS (SELECT entity_id, CAST(is_seed * {RANK_UNIT} AS BIGINT) AS rank_micro FROM ppnodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""ppr{i} AS (
  SELECT n.entity_id,
         CAST(n.is_seed * {base} + (COALESCE(s.incoming, 0) * {damping_pct}) // 100 AS BIGINT) AS rank_micro
  FROM ppnodes n LEFT JOIN (
    SELECT e.dst, SUM(r.rank_micro // d.outdeg) AS incoming
    FROM ppr{i - 1} r
    JOIN ppoutdeg d ON d.src = r.entity_id
    JOIN ppedges e ON e.src = r.entity_id
    GROUP BY e.dst
  ) s ON s.dst = n.entity_id
)"""
        )
    return ",\n".join(ctes) + f"\nSELECT entity_id, rank_micro FROM ppr{iters}"


# --------------------------------------------------------------------------
# global connected components over the entity graph
# --------------------------------------------------------------------------


def entity_components(triples: DataFrame) -> DataFrame:
    """(entity_id, component_id): connected components of the UNDIRECTED
    entity graph induced by the triple table — component_id is the minimum
    entity id in the component (the same label contract as coref's CC, so
    the DuckDB recursive-CTE oracle is exact).

    The coref operator clusters WITHIN a conversation; this is the global
    KG consumer view (which entities are transitively connected at all —
    the reference's SV cluster-merge discipline, strucvars/mod.rs:3189-3290,
    applied to the whole graph). The distinct (subj, obj) projection is
    materialized ONCE and feeds both the edge set and the node set (self-
    loop-only entities still label themselves); clustering is the shared
    pointer-jumping CC (O(log n) rounds, single-task numpy kernel below
    the measured crossover)."""
    from .coref import connected_components_global

    base = materialize_once(
        triples.sparkSession,
        ("comp_base", triples),
        lambda: triples.select("subj_id", "obj_id").distinct(),
    )
    edges = base.where(F.col("subj_id") != F.col("obj_id"))
    nodes = base.select(
        F.explode(F.array("subj_id", "obj_id")).alias("entity_id")
    ).distinct()
    comps = connected_components_global(
        edges, src="subj_id", dst="obj_id", check_every=2
    )
    return nodes.join(
        comps.withColumnRenamed("node", "entity_id"), "entity_id", "left"
    ).select(
        "entity_id",
        F.coalesce(F.col("component"), F.col("entity_id")).alias("component_id"),
    )


def entity_components_oracle(triples_rel: str = "triples") -> str:
    """Recursive-CTE reachability mirror (requires WITH RECURSIVE at the
    statement head)."""
    return f"""
cbase AS (SELECT DISTINCT subj_id, obj_id FROM {triples_rel}),
cedges AS (SELECT subj_id AS u, obj_id AS v FROM cbase WHERE subj_id <> obj_id),
cbidir AS (SELECT u, v FROM cedges UNION SELECT v, u FROM cedges),
cnodes AS (SELECT subj_id AS node FROM cbase UNION SELECT obj_id FROM cbase),
creach AS (
  SELECT node, node AS root FROM cnodes
  UNION
  SELECT b.v AS node, r.root FROM creach r JOIN cbidir b ON b.u = r.node
)
SELECT node AS entity_id, MIN(root)::BIGINT AS component_id
FROM creach GROUP BY node
"""


# --------------------------------------------------------------------------
# triangle / clustering-coefficient profile
# --------------------------------------------------------------------------


def triangle_stats(triples: DataFrame) -> DataFrame:
    """One row (n_edges, n_wedges, n_triangles, clustering_permille) over
    the undirected simple graph induced by the triple table.

    Triangle counting uses DEGREE ORIENTATION (each undirected edge is
    directed from its lower-(degree, id) endpoint to the higher one), the
    standard trick that bounds every node's out-degree at O(sqrt(m)) — the
    wedge self-join on a 100 TB hub-skewed KG explodes as O(deg^2) under
    naive id-orientation but stays balanced under degree orientation; each
    triangle is counted exactly once from its minimum-(degree, id) corner.
    The DuckDB oracle counts with plain id-canonical u<v<w joins — the
    COUNT is orientation-invariant, so parity is exact while the plans
    differ (the oracle would not survive the skew; the Spark plan does).

    clustering_permille = (3 * triangles * 1000) DIV wedges — the global
    clustering coefficient in exact integer permille (no float hazard);
    n_wedges = sum over nodes of deg*(deg-1)/2 (always even, exact).
    The undirected edges (u < v) are one direction of the shared symmetric
    stage."""
    und = (
        _symmetric(triples)
        .where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    deg = und.select(
        F.explode(F.array("u", "v")).alias("entity_id")
    ).groupBy("entity_id").agg(F.count("*").cast("long").alias("deg"))
    # orient each edge from the lower-(deg, id) endpoint to the higher one;
    # carry the destination's (deg, id) so wedge endpoints order without a
    # third join
    oriented = materialize_once(
        triples.sparkSession,
        ("tri_oriented", triples),
        lambda: und.join(
            deg.select(F.col("entity_id").alias("u"), F.col("deg").alias("du")),
            "u",
        )
        .join(
            deg.select(F.col("entity_id").alias("v"), F.col("deg").alias("dv")),
            "v",
        )
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(
                    F.col("u").alias("src"),
                    F.col("v").alias("dst"),
                    F.col("dv").alias("dst_deg"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("v").alias("src"),
                    F.col("u").alias("dst"),
                    F.col("du").alias("dst_deg"),
                )
            )
            .alias("e")
        )
        .select("e.src", "e.dst", "e.dst_deg"),
    )
    o1, o2, o3 = oriented.alias("o1"), oriented.alias("o2"), oriented.alias("o3")
    tri = (
        o1.join(
            o2,
            (F.col("o1.src") == F.col("o2.src"))
            & (
                (F.col("o1.dst_deg") < F.col("o2.dst_deg"))
                | (
                    (F.col("o1.dst_deg") == F.col("o2.dst_deg"))
                    & (F.col("o1.dst") < F.col("o2.dst"))
                )
            ),
        )
        .join(
            o3,
            (F.col("o3.src") == F.col("o1.dst"))
            & (F.col("o3.dst") == F.col("o2.dst")),
        )
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    wed = deg.agg(
        F.sum(F.expr("deg * (deg - 1) DIV 2")).cast("long").alias("n_wedges")
    )
    cnt = und.agg(F.count("*").cast("long").alias("n_edges"))
    # three 1-row scalars: the crossJoins broadcast single rows (the
    # documented scalar-combine pattern), never data relations
    return (
        cnt.crossJoin(wed)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.expr("(3 * n_triangles * 1000) DIV n_wedges"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("clustering_permille"),
        )
    )


def triangle_stats_oracle(triples_rel: str = "triples") -> str:
    return f"""
tund AS (
  SELECT DISTINCT LEAST(subj_id, obj_id) AS u, GREATEST(subj_id, obj_id) AS v
  FROM {triples_rel} WHERE subj_id <> obj_id
),
tdeg AS (
  SELECT entity_id, COUNT(*)::BIGINT AS deg FROM (
    SELECT u AS entity_id FROM tund UNION ALL SELECT v FROM tund
  ) GROUP BY entity_id
),
ttri AS (
  SELECT COUNT(*)::BIGINT AS n_triangles
  FROM tund e1 JOIN tund e2 ON e2.u = e1.v
  JOIN tund e3 ON e3.u = e1.u AND e3.v = e2.v
),
twed AS (SELECT SUM(deg * (deg - 1) // 2)::BIGINT AS n_wedges FROM tdeg),
tcnt AS (SELECT COUNT(*)::BIGINT AS n_edges FROM tund)
SELECT tcnt.n_edges, twed.n_wedges, ttri.n_triangles,
  (CASE WHEN twed.n_wedges > 0
        THEN (3 * ttri.n_triangles * 1000) // twed.n_wedges
        ELSE 0 END)::BIGINT AS clustering_permille
FROM tcnt, twed, ttri
"""


# --------------------------------------------------------------------------
# bounded-hop BFS reachability from the hub entity
# --------------------------------------------------------------------------


def hub_reach(triples: DataFrame, max_hops: int = 3) -> DataFrame:
    """(entity_id, dist): minimum directed hop distance (0..max_hops) from
    the hub entity — the entity with the highest out-degree over the
    distinct edge set (min id tie-break, deterministic on both engines).

    Level-synchronous BFS with the hop count unrolled (max_hops is an
    operator parameter, so the oracle is GENERATED for the same count —
    the curation.py discipline). The edge relation is materialized once
    and pre-partitioned on src, so every frontier expansion shuffles only
    the (small) frontier to the stationary edge partitioning; level sets
    are distinct-projected per hop and the final min-dist agg collapses
    re-reached nodes. Result size is bounded by the reachable set, never
    the path set."""
    edges = _directed(triples)
    hub = _hub(edges)
    levels = [hub.select("entity_id", F.lit(0).cast("int").alias("dist"))]
    frontier = hub
    for i in range(1, max_hops + 1):
        # explicit aliases: the frontier's lineage contains `edges` after
        # the first hop, so bare column references would be ambiguous
        frontier = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.entity_id") == F.col("e.src"))
            .select(F.col("e.dst").alias("entity_id"))
            .distinct()
        )
        levels.append(
            frontier.select("entity_id", F.lit(i).cast("int").alias("dist"))
        )
    allv = levels[0]
    for lv in levels[1:]:
        allv = allv.unionByName(lv)
    return allv.groupBy("entity_id").agg(F.min("dist").alias("dist"))


def hub_reach_oracle(triples_rel: str = "triples", max_hops: int = 3) -> str:
    ctes = [
        f"""redges AS (
  SELECT DISTINCT subj_id AS src, obj_id AS dst FROM {triples_rel}
  WHERE subj_id <> obj_id
)""",
        "rout AS (SELECT src, COUNT(*) AS outdeg FROM redges GROUP BY src)",
        "rhub AS (SELECT src AS entity_id FROM rout ORDER BY outdeg DESC, src ASC LIMIT 1)",
        "rl0 AS (SELECT entity_id, 0 AS dist FROM rhub)",
    ]
    for i in range(1, max_hops + 1):
        ctes.append(
            f"""rl{i} AS (
  SELECT DISTINCT e.dst AS entity_id, {i} AS dist
  FROM rl{i - 1} p JOIN redges e ON e.src = p.entity_id
)"""
        )
    union = "\n    UNION ALL ".join(
        f"SELECT * FROM rl{i}" for i in range(max_hops + 1)
    )
    return (
        ",\n".join(ctes)
        + f"""
SELECT entity_id, MIN(dist)::INTEGER AS dist FROM (
    {union}
) GROUP BY entity_id"""
    )


CORE_SCHEMA = pa.schema([("entity_id", pa.int64()), ("core_deg", pa.int64())])
LPA_SCHEMA = pa.schema([("entity_id", pa.int64()), ("community", pa.int64())])


def _peel_rounds(
    pairs: Iterable[tuple[int, int]], k: int, rounds: int
) -> dict[int, int]:
    """Single-task mirror of the distributed peel: the SAME ``rounds``
    synchronous filter rounds (not the fixpoint — identical contract),
    returning {survivor: degree within the final survivor set}.

    Survivors with ZERO neighbors in the final alive set are dropped,
    matching the distributed path's final inner join (and the generated
    oracle), which emits no row for such nodes — below the fixpoint the
    two paths previously disagreed on exactly those rows (round-7 ADVICE
    finding; at or past the fixpoint every survivor has deg >= k >= 1,
    so shipped results are unchanged)."""
    und = {(a, b) if a < b else (b, a) for a, b in pairs if a != b}
    adj: dict[int, set[int]] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    for _ in range(rounds):
        alive = {
            n for n in alive if sum(m in alive for m in adj[n]) >= k
        }
    out: dict[int, int] = {}
    for n in alive:
        d = sum(m in alive for m in adj[n])
        if d >= 1:
            out[n] = d
    return out


def kcore(triples: DataFrame, k: int = 3, rounds: int = 6) -> DataFrame:
    """(entity_id, core_deg): the k-core of the undirected entity graph —
    the subgraph left after ``rounds`` synchronous peel rounds (each round
    drops every node whose degree within the current survivor set is
    < k), with each survivor's degree inside the final set.

    Community-structure tier: the k-core is the standard dense-backbone
    extraction (spam/hub analysis, visualization seeds). Peeling is
    data-dependent, so like PageRank the round count is an operator
    parameter and the DuckDB oracle is GENERATED for the same count; a
    pytest gate asserts ``rounds`` reaches the true fixpoint on the
    testdata (one more round changes nothing) and cross-checks a pure-
    python peeler.

    Loop shape (the stationary-edge discipline): the symmetric edge
    relation is materialized once, pre-partitioned on src — each round
    shuffles only the (shrinking) survivor set to the stationary edges,
    aggregates degrees map-side, filters. Per-round cost is O(edges
    incident to survivors); survivor sets only shrink. A graph that fits
    one task runs the SAME synchronous rounds there (``_peel_rounds``):
    per-round stage latency dominates tiny graphs — measured 8 s of
    rounds vs <1 s in one task on a 210-edge graph."""
    sym = _symmetric(triples)
    if _fits_one_task(sym):
        return _one_task(
            sym,
            lambda src, dst: _dict_columns(
                _peel_rounds(zip(src.tolist(), dst.tolist()), k, rounds)
            ),
            CORE_SCHEMA,
        )
    alive = sym.select(F.col("src").alias("id")).distinct()

    def _deg_within(members: DataFrame) -> DataFrame:
        # degree of each member counting only edges whose BOTH endpoints
        # survive; aliases keep the self-referential lineage unambiguous
        return (
            sym.alias("e")
            .join(members.alias("x"), F.col("e.src") == F.col("x.id"))
            .join(members.alias("y"), F.col("e.dst") == F.col("y.id"))
            .groupBy(F.col("e.src").alias("id"))
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    prev: DataFrame | None = None
    for _ in range(rounds):
        # each round references `alive` TWICE (both endpoints), so an
        # unmaterialized lineage doubles per round — 2^rounds plan blowup,
        # measured 14.5 s at sf0.1. The checkpoint every round is
        # mandatory here because of the double reference (the survivor
        # set is tiny: node ids only).
        alive = prev = _checkpoint(
            _deg_within(alive).where(F.col("deg") >= k).select("id"), prev
        )
    return _deg_within(alive).select(
        F.col("id").alias("entity_id"),
        F.col("deg").cast("long").alias("core_deg"),
    )


def kcore_oracle(
    triples_rel: str = "triples", k: int = 3, rounds: int = 6
) -> str:
    # MATERIALIZED is load-bearing: each round references the previous
    # survivor set TWICE (both endpoints), so default CTE inlining would
    # re-expand the whole upstream extraction 2^rounds times — measured
    # as a DuckDB OOM at sf0.01 with 6 rounds
    ctes = [
        f"""kued AS MATERIALIZED (
  SELECT DISTINCT LEAST(subj_id, obj_id) AS a, GREATEST(subj_id, obj_id) AS b
  FROM {triples_rel} WHERE subj_id <> obj_id
)""",
        """ksym AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM kued
  UNION ALL
  SELECT b AS src, a AS dst FROM kued
)""",
        "kv0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM ksym)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""kd{r} AS (
  SELECT e.src AS id, COUNT(*) AS deg
  FROM ksym e
  JOIN kv{r - 1} x ON e.src = x.id
  JOIN kv{r - 1} y ON e.dst = y.id
  GROUP BY e.src
)"""
        )
        ctes.append(
            f"kv{r} AS MATERIALIZED (SELECT id FROM kd{r} WHERE deg >= {k})"
        )
    return (
        ",\n".join(ctes)
        + f"""
SELECT e.src AS entity_id, COUNT(*)::BIGINT AS core_deg
FROM ksym e
JOIN kv{rounds} x ON e.src = x.id
JOIN kv{rounds} y ON e.dst = y.id
GROUP BY e.src"""
    )


def _lpa_rounds(
    pairs: Iterable[tuple[int, int]], rounds: int
) -> dict[int, int]:
    """Single-task mirror of the distributed synchronous label propagation:
    same rounds, same (count DESC, label ASC) tie-break."""
    adj: dict[int, list[int]] = {}
    for a, b in {(x, y) if x < y else (y, x) for x, y in pairs if x != y}:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    labels = {n: n for n in adj}
    for _ in range(rounds):
        new = {}
        for n, nbrs in adj.items():
            counts: dict[int, int] = {}
            for m in nbrs:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            new[n] = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = new
    return labels


def label_propagation(triples: DataFrame, rounds: int = 4) -> DataFrame:
    """(entity_id, community): synchronous label propagation over the
    undirected entity graph — ``rounds`` rounds of "adopt the most
    frequent neighbor label", ties broken by the smaller label, labels
    initialized to node ids. Fully deterministic (the classic LPA
    randomized visit order replaced by synchronous rounds + total
    tie-break), so the DuckDB oracle is GENERATED for the same round
    count — the PageRank discipline.

    Loop shape: stationary src-partitioned symmetric edges (the stage
    k-core shares); per round one join (labels -> edges), one (node,
    label) count agg, one top-1 window — only the label relation
    shuffles, and a checkpoint every round bounds plan depth. A graph
    that fits one task runs the same rounds there (``_lpa_rounds``)."""
    sym = _symmetric(triples)
    if _fits_one_task(sym):
        return _one_task(
            sym,
            lambda src, dst: _dict_columns(
                _lpa_rounds(zip(src.tolist(), dst.tolist()), rounds)
            ),
            LPA_SCHEMA,
        )

    labels = sym.select(
        F.col("src").alias("entity_id"), F.col("src").alias("community")
    ).distinct()
    prev: DataFrame | None = None
    for _ in range(rounds):
        counts = (
            sym.alias("e")
            .join(
                labels.alias("l"), F.col("e.dst") == F.col("l.entity_id")
            )
            .groupBy(
                F.col("e.src").alias("entity_id"),
                F.col("l.community").alias("community"),
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = W.partitionBy("entity_id").orderBy(
            F.desc("cnt"), F.asc("community")
        )
        labels = prev = _checkpoint(
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("entity_id", "community"),
            prev,
        )
    return labels


def label_propagation_oracle(
    triples_rel: str = "triples", rounds: int = 4
) -> str:
    ctes = [
        f"""lued AS MATERIALIZED (
  SELECT DISTINCT LEAST(subj_id, obj_id) AS a, GREATEST(subj_id, obj_id) AS b
  FROM {triples_rel} WHERE subj_id <> obj_id
)""",
        """lsym AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM lued
  UNION ALL
  SELECT b AS src, a AS dst FROM lued
)""",
        "ll0 AS MATERIALIZED (SELECT DISTINCT src AS entity_id, src AS community FROM lsym)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""lc{r} AS (
  SELECT e.src AS entity_id, l.community, COUNT(*) AS cnt
  FROM lsym e JOIN ll{r - 1} l ON e.dst = l.entity_id
  GROUP BY e.src, l.community
)"""
        )
        ctes.append(
            f"""ll{r} AS MATERIALIZED (
  SELECT entity_id, community FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY entity_id ORDER BY cnt DESC, community ASC) AS rn
    FROM lc{r}
  ) WHERE rn = 1
)"""
        )
    return (
        ",\n".join(ctes)
        + f"\nSELECT entity_id, community FROM ll{rounds}"
    )


# --------------------------------------------------------------------------
# temporal "current state" snapshot
# --------------------------------------------------------------------------


def triples_asof(triples_with_ts: DataFrame) -> DataFrame:
    """(subj_id, pred_id, obj_id, ts_epoch): latest assertion per
    (subj, pred) — the KG's current-state snapshot.

    Input must carry ``ts_epoch`` (bigint) plus ``conv_id``/``turn_idx``
    for the total deterministic tiebreak. One window shuffle keyed on
    (subj_id, pred_id)."""
    w = W.partitionBy("subj_id", "pred_id").orderBy(
        F.desc("ts_epoch"),
        F.desc("conv_id"),
        F.desc("turn_idx"),
        F.desc("obj_id"),
    )
    return (
        triples_with_ts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("subj_id", "pred_id", "obj_id", "ts_epoch")
    )
