"""Graph-analytics operators over the triple table (operators/graph.py):
planted-graph semantics for degree / 2-hop / integer PageRank / as-of,
plus the checkpointed-loop equivalence and a numpy cross-check that the
integer PageRank tracks float PageRank ordering."""

from __future__ import annotations

import numpy as np
import pytest

from mehari_spark.operators import graph
from mehari_spark.operators.graph import (
    RANK_UNIT,
    entity_components,
    entity_degree,
    hub_reach,
    pagerank_int,
    personalized_pagerank_int,
    triangle_stats,
    triples_asof,
    two_hop_paths,
)

# planted triple table: star hub 1 -> {2,3,4}, chain 2 -> 5 -> 1, and a
# duplicated edge (1->2 appears twice with different preds)
TRIPLES = [
    # (conv_id, turn_idx, subj_id, pred_id, obj_id)
    ("c1", 0, 1, 10, 2),
    ("c1", 1, 1, 11, 2),
    ("c1", 2, 1, 10, 3),
    ("c2", 0, 1, 10, 4),
    ("c2", 1, 2, 12, 5),
    ("c3", 0, 5, 10, 1),
    ("c3", 1, 5, 10, 1),  # exact duplicate triple
]
COLS = ["conv_id", "turn_idx", "subj_id", "pred_id", "obj_id"]
# (subj, obj) edges with self-loops (3, 4, 6), a duplicate and a reversed
# edge (1-2), a node seen only in a self-loop (4) and danglers (6, 8)
MESSY_EDGES = [
    (1, 2), (1, 2), (2, 1), (2, 3), (3, 1), (3, 3), (4, 4),
    (1, 5), (5, 6), (6, 6), (3, 7), (7, 8),
]


@pytest.fixture(scope="module")
def triples_df(spark):
    return spark.createDataFrame(TRIPLES, COLS)


def test_entity_degree_planted(triples_df):
    rows = {r["entity_id"]: r for r in entity_degree(triples_df).collect()}
    # entity 1: subj in 4 triples (preds 10,11), obj in 2 (pred 10 twice)
    assert rows[1]["n_out"] == 4 and rows[1]["n_in"] == 2
    assert rows[1]["n_preds_out"] == 2 and rows[1]["n_preds_in"] == 1
    # entity 5: subj twice (both pred 10), obj once
    assert rows[5]["n_out"] == 2 and rows[5]["n_in"] == 1
    assert rows[5]["n_preds_out"] == 1
    # leaf entities 3, 4: in only
    assert rows[3]["n_out"] == 0 and rows[3]["n_in"] == 1
    assert rows[4]["n_out"] == 0 and rows[4]["n_in"] == 1


def test_two_hop_planted(triples_df):
    got = {
        (r["pred1"], r["pred2"]): (r["n_paths"], r["n_bridges"])
        for r in two_hop_paths(triples_df).collect()
    }
    # distinct edges: 1-[10]->2, 1-[11]->2, 1-[10]->3, 1-[10]->4,
    #                 2-[12]->5, 5-[10]->1
    # paths via 2: (10,12), (11,12); via 5: (12,10);
    # via 1: (10,10)x3, (10,11)x1  [5->1 then 1's four out-edges]
    assert got[(10, 12)] == (1, 1)
    assert got[(11, 12)] == (1, 1)
    assert got[(12, 10)] == (1, 1)
    assert got[(10, 10)] == (3, 1)
    assert got[(10, 11)] == (1, 1)
    assert len(got) == 5


def _numpy_pagerank_int(edges, iters=5, damping_pct=85):
    """Pure-python mirror of the integer recurrence (independent oracle)."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    outdeg = {}
    for s, _ in set(edges):
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {n: RANK_UNIT for n in nodes}
    base = (100 - damping_pct) * 10_000
    for _ in range(iters):
        incoming = {n: 0 for n in nodes}
        for s, d in set(edges):
            incoming[d] += rank[s] // outdeg[s]
        rank = {n: base + (incoming[n] * damping_pct) // 100 for n in nodes}
    return rank


def test_pagerank_matches_python_mirror(triples_df):
    edges = [(s, o) for _, _, s, _, o in TRIPLES if s != o]
    expect = _numpy_pagerank_int(edges, iters=5)
    got = {
        r["entity_id"]: r["rank_micro"]
        for r in pagerank_int(triples_df, iters=5).collect()
    }
    assert got == expect
    # hub 2 (fed by 1's two distinct in-edges... ) sanity: every rank >= base
    assert all(v >= 150_000 for v in got.values())


def test_pagerank_checkpointed_loop_identical(spark, triples_df):
    plain = {
        r["entity_id"]: r["rank_micro"]
        for r in pagerank_int(triples_df, iters=6).collect()
    }
    ckpt = {
        r["entity_id"]: r["rank_micro"]
        for r in pagerank_int(triples_df, iters=6, checkpoint_every=2).collect()
    }
    assert plain == ckpt


def test_pagerank_fast_path_equals_distributed(spark, triples_df, monkeypatch):
    """The single-task small-graph fast path must return EXACTLY the
    distributed rounds' labels (same int64 recurrence; forced via
    SMALL_GRAPH_EDGES=0), including on a graph with danglers and
    multiple components, and on one with self-loops and duplicate edges."""
    fast = {
        r["entity_id"]: r["rank_micro"]
        for r in pagerank_int(triples_df, iters=5).collect()
    }
    with monkeypatch.context() as m:
        m.setattr(graph, "SMALL_GRAPH_EDGES", 0)
        dist = {
            r["entity_id"]: r["rank_micro"]
            for r in pagerank_int(triples_df, iters=5).collect()
        }
    assert fast == dist
    # planted multi-component graph with dangling nodes
    edges = [(1, 2), (2, 3), (3, 1), (4, 5), (6, 7), (7, 6), (8, 9)]
    rows = [("c", 0, s, 1, d) for s, d in edges]
    df = spark.createDataFrame(rows, COLS)
    fast2 = {
        r["entity_id"]: r["rank_micro"]
        for r in pagerank_int(df, iters=4).collect()
    }
    with monkeypatch.context() as m:
        m.setattr(graph, "SMALL_GRAPH_EDGES", 0)
        dist2 = {
            r["entity_id"]: r["rank_micro"]
            for r in pagerank_int(df, iters=4).collect()
        }
    assert fast2 == dist2
    df3 = spark.createDataFrame(
        [("c", i, s, 1, d) for i, (s, d) in enumerate(MESSY_EDGES)], COLS
    )
    fast3 = {r.entity_id: r.rank_micro for r in pagerank_int(df3, iters=4).collect()}
    monkeypatch.setattr(graph, "SMALL_GRAPH_EDGES", 0)
    dist3 = {r.entity_id: r.rank_micro for r in pagerank_int(df3, iters=4).collect()}
    assert fast3 == dist3 and len(fast3) == 7


def test_pagerank_tracks_float_ordering(spark):
    """On a larger random-ish planted graph, the integer recurrence induces
    the same top/bottom ordering as conventional float PageRank (same
    dangling-mass-dropped spec) — micro-unit flooring is not distorting."""
    rng = np.random.RandomState(7)
    n = 60
    edges = set()
    for _ in range(400):
        s, d = rng.randint(0, n), rng.randint(0, n)
        if s != d:
            edges.add((int(s), int(d)))
    # make node 0 a super-hub
    for d in range(1, 30):
        edges.add((d, 0))
    rows = [("c", 0, s, 1, d) for s, d in sorted(edges)]
    df = spark.createDataFrame(rows, COLS)
    got = {
        r["entity_id"]: r["rank_micro"]
        for r in pagerank_int(df, iters=10).collect()
    }
    # float reference with identical spec
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    fr = {v: 1.0 for v in nodes}
    for _ in range(10):
        inc = {v: 0.0 for v in nodes}
        for s, d in edges:
            inc[d] += fr[s] / outdeg[s]
        fr = {v: 0.15 + 0.85 * inc[v] for v in nodes}
    top_int = sorted(got, key=lambda v: (-got[v], v))[:5]
    top_flt = sorted(fr, key=lambda v: (-fr[v], v))[:5]
    assert top_int == top_flt
    assert top_int[0] == 0  # the planted super-hub wins
    # relative error of the integer approximation stays tiny
    for v in nodes:
        assert abs(got[v] / RANK_UNIT - fr[v]) <= max(1e-3, 1e-3 * fr[v])


def _python_ppr_int(edges, seed, iters=5, damping_pct=85):
    """Pure-python mirror of the personalized (restart-to-seed) integer
    recurrence — independent oracle for the planted graph."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    outdeg = {}
    for s, _ in set(edges):
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {n: (RANK_UNIT if n == seed else 0) for n in nodes}
    base = (100 - damping_pct) * 10_000
    for _ in range(iters):
        incoming = {n: 0 for n in nodes}
        for s, d in set(edges):
            incoming[d] += rank[s] // outdeg[s]
        rank = {
            n: (base if n == seed else 0) + (incoming[n] * damping_pct) // 100
            for n in nodes
        }
    return rank


def test_personalized_pagerank_matches_python_mirror(triples_df):
    from mehari_spark.operators.graph import personalized_pagerank_int

    edges = [(s, o) for _, _, s, _, o in TRIPLES if s != o]
    # seed = hub by (outdeg desc, id asc): 1 has outdeg 3 -> seed 1
    expect = _python_ppr_int(edges, seed=1, iters=5)
    got = {
        r["entity_id"]: r["rank_micro"]
        for r in personalized_pagerank_int(triples_df, iters=5).collect()
    }
    assert got == expect
    # restart mass concentrates at the seed — it dominates every rank
    assert got[1] == max(got.values())
    # 5 outranks the seed's direct successors 2/3/4: node 2's entire mass
    # funnels to 5 (outdeg 1) while the seed splits three ways — the
    # walk-structure sensitivity plain distance-based scores would miss
    assert got[5] > got[2] == got[3] == got[4] > 0


def test_entity_components_planted(spark):
    """Three planted components: the main TRIPLES graph (all entities
    transitively connected -> min label 1), a detached pair, and a
    self-loop-only singleton."""
    rows = TRIPLES + [
        ("c4", 0, 7, 10, 8),  # detached pair -> component 7
        ("c5", 0, 9, 10, 9),  # self-loop only -> singleton component 9
    ]
    df = spark.createDataFrame(rows, COLS)
    got = {
        r["entity_id"]: r["component_id"]
        for r in entity_components(df).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 7: 7, 8: 7, 9: 9}


def test_triangle_stats_planted(triples_df):
    # undirected edges from TRIPLES: 1-2, 1-3, 1-4, 2-5, 1-5  (n=5)
    # degrees: 1:4, 2:2, 3:1, 4:1, 5:2 -> wedges 6+1+0+0+1 = 8
    # one triangle (1,2,5); clustering = 3*1*1000 // 8 = 375
    row = triangle_stats(triples_df).collect()[0]
    assert row["n_edges"] == 5
    assert row["n_wedges"] == 8
    assert row["n_triangles"] == 1
    assert row["clustering_permille"] == 375


def test_triangle_stats_no_wedges(spark):
    # a single edge has no wedges: permille guard returns 0, no div-by-zero
    df = spark.createDataFrame([("c", 0, 1, 10, 2)], COLS)
    row = triangle_stats(df).collect()[0]
    assert (row["n_edges"], row["n_wedges"], row["n_triangles"]) == (1, 0, 0)
    assert row["clustering_permille"] == 0


def test_hub_reach_planted(triples_df):
    # distinct directed edges: 1->{2,3,4}, 2->5, 5->1; hub = 1 (outdeg 3)
    # dist: 1:0, {2,3,4}:1, 5:2 (re-reaching 1 at hop 3 keeps min 0)
    got = {r["entity_id"]: r["dist"] for r in hub_reach(triples_df).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 1, 5: 2}


def test_hub_reach_hop_bound(spark):
    # chain 1->2->3->4->5 with hub out-degree forced to 1 each; hub is the
    # min-id tie-break (all outdegs equal) = 1; max_hops=2 truncates at 3
    rows = [("c", i, i + 1, 10, i + 2) for i in range(4)]
    df = spark.createDataFrame(rows, COLS)
    got = {
        r["entity_id"]: r["dist"] for r in hub_reach(df, max_hops=2).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2}


def test_triples_asof_latest_wins(spark):
    rows = [
        # same (subj, pred): later ts wins
        ("c1", 0, 1, 10, 2, 100),
        ("c1", 1, 1, 10, 3, 200),
        # tie on ts: higher conv_id/turn_idx/obj_id wins deterministically
        ("c2", 0, 4, 11, 5, 300),
        ("c2", 1, 4, 11, 6, 300),
    ]
    df = spark.createDataFrame(rows, COLS + ["ts_epoch"])
    got = {
        (r["subj_id"], r["pred_id"]): (r["obj_id"], r["ts_epoch"])
        for r in triples_asof(df).collect()
    }
    assert got[(1, 10)] == (3, 200)
    assert got[(4, 11)] == (6, 300)
    assert len(got) == 2


# --------------------------------------------------------------------------
# k-core decomposition (round 7)
# --------------------------------------------------------------------------


def _python_kcore(edges, k):
    """True fixpoint k-core by iterative peeling (pure-python oracle).
    Returns {node: degree within the final core}."""
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj: dict = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while True:
        drop = {n for n in alive if sum(m in alive for m in adj[n]) < k}
        if not drop:
            break
        alive -= drop
    return {n: sum(m in alive for m in adj[n]) for n in alive}


def test_kcore_planted(spark):
    """A planted 4-clique survives k=3 peeling; a pendant chain hanging
    off it is peeled away round by round."""
    from mehari_spark.operators.graph import kcore

    rows = []
    clique = [1, 2, 3, 4]
    t = 0
    for i in clique:
        for j in clique:
            if i < j:
                rows.append(("c1", t, i, 10, j)); t += 1
    # chain 4 -> 5 -> 6 -> 7 (each peel round removes one more)
    for a, b in [(4, 5), (5, 6), (6, 7)]:
        rows.append(("c2", t, a, 10, b)); t += 1
    tdf = spark.createDataFrame(rows, COLS)
    got = {r.entity_id: r.core_deg for r in kcore(tdf, k=3, rounds=6).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_fixpoint_on_testdata(spark):
    """The registry's (k=3, rounds=6) parameters reach the TRUE fixpoint on
    the production triples at sf0.001: one more round changes nothing, and
    the result equals the pure-python peeler."""
    from mehari_spark.operators.graph import kcore
    from mehari_spark.plans.queries import QUERIES, _production_triples

    tr = _production_triples(spark, "/root/testdata/sf0.001")
    r6 = {(r.entity_id, r.core_deg) for r in kcore(tr, k=3, rounds=6).collect()}
    r7 = {(r.entity_id, r.core_deg) for r in kcore(tr, k=3, rounds=7).collect()}
    assert r6 == r7
    edges = [
        (r.subj_id, r.obj_id)
        for r in tr.select("subj_id", "obj_id").collect()
    ]
    want = set(_python_kcore(edges, 3).items())
    assert r6 == want
    assert len(r6) > 0


def test_kcore_large_k_empty(spark, triples_df):
    from mehari_spark.operators.graph import kcore

    assert kcore(triples_df, k=10, rounds=4).count() == 0


def test_kcore_distributed_path_equals_fast_path(spark, monkeypatch):
    """Forcing the distributed peel (SMALL_GRAPH_EDGES=0) returns the
    same rows as the single-task fast path — the size gate changes the
    plan, never the answer — on the production triples and on a graph
    with self-loops, duplicate edges and danglers."""
    from mehari_spark.operators.graph import kcore
    from mehari_spark.plans.queries import _production_triples

    tr = _production_triples(spark, "/root/testdata/sf0.001")
    messy = spark.createDataFrame(
        [("c", i, s, 1, d) for i, (s, d) in enumerate(MESSY_EDGES)], COLS
    )
    fast = {(r.entity_id, r.core_deg) for r in kcore(tr, k=3, rounds=6).collect()}
    fast2 = {(r.entity_id, r.core_deg) for r in kcore(messy, k=2, rounds=3).collect()}
    monkeypatch.setattr(graph, "SMALL_GRAPH_EDGES", 0)
    dist = {
        (r.entity_id, r.core_deg)
        for r in kcore(tr, k=3, rounds=6).collect()
    }
    assert fast == dist and fast
    dist2 = {(r.entity_id, r.core_deg) for r in kcore(messy, k=2, rounds=3).collect()}
    assert fast2 == dist2 and fast2


# --------------------------------------------------------------------------
# label propagation (round 7)
# --------------------------------------------------------------------------


def test_lpa_planted_two_communities(spark):
    """Two 4-cliques joined by one bridge edge: after 4 synchronous rounds
    every member carries its clique's min id; the bridge does not merge
    them (each side's internal majority dominates)."""
    from mehari_spark.operators.graph import label_propagation

    rows = []
    t = 0
    for base in (1, 11):
        ids = [base, base + 1, base + 2, base + 3]
        for i in ids:
            for j in ids:
                if i < j:
                    rows.append(("c", t, i, 10, j)); t += 1
    rows.append(("c", t, 4, 10, 11))  # bridge
    tdf = spark.createDataFrame(rows, COLS)
    got = {r.entity_id: r.community
           for r in label_propagation(tdf, rounds=4).collect()}
    assert {got[i] for i in (1, 2, 3, 4)} == {1}
    assert {got[i] for i in (12, 13, 14)} == {11}


def test_lpa_distributed_equals_fast_path(spark, monkeypatch):
    """Forcing the distributed loop returns the same labels as the
    single-task fast path on the production triples and on a graph with
    self-loops, duplicate edges and danglers."""
    from mehari_spark.operators.graph import label_propagation
    from mehari_spark.plans.queries import _production_triples

    tr = _production_triples(spark, "/root/testdata/sf0.001")
    messy = spark.createDataFrame(
        [("c", i, s, 1, d) for i, (s, d) in enumerate(MESSY_EDGES)], COLS
    )
    fast = {(r.entity_id, r.community)
            for r in label_propagation(tr, rounds=4).collect()}
    fast2 = {(r.entity_id, r.community)
             for r in label_propagation(messy, rounds=3).collect()}
    monkeypatch.setattr(graph, "SMALL_GRAPH_EDGES", 0)
    dist = {(r.entity_id, r.community)
            for r in label_propagation(tr, rounds=4).collect()}
    assert fast == dist and fast
    dist2 = {(r.entity_id, r.community)
             for r in label_propagation(messy, rounds=3).collect()}
    assert fast2 == dist2 and fast2


def test_lpa_python_mirror(spark, triples_df):
    from mehari_spark.operators.graph import _lpa_rounds, label_propagation

    edges = [(r.subj_id, r.obj_id)
             for r in triples_df.select("subj_id", "obj_id").collect()]
    want = _lpa_rounds(edges, 4)
    got = {r.entity_id: r.community
           for r in label_propagation(triples_df, rounds=4).collect()}
    assert got == want


# --------------------------------------------------------------------------
# shared edge stages
# --------------------------------------------------------------------------


def test_kcore_and_lpa_share_one_symmetric_stage(spark):
    """k-core then label propagation over one triples frame build the
    symmetric edge stage once: it is the only stage either caches."""
    from mehari_spark.operators.graph import kcore, label_propagation
    from mehari_spark.plans.queries import _production_triples
    from mehari_spark.plans.stagecache import _CACHE, clear_shared_stages

    from .conftest import SF_UNIT

    clear_shared_stages()
    kcore(_production_triples(spark, SF_UNIT)).collect()
    label_propagation(_production_triples(spark, SF_UNIT)).collect()
    assert [k[1] for k in _CACHE] == ["symmetric_edges"]
    clear_shared_stages()


def test_pagerank_and_ppr_share_one_directed_stage(spark, triples_df, monkeypatch):
    """On the distributed rounds, PageRank and personalized PageRank read
    one (src, dst, outdeg) stage; each keeps its own node set."""
    from mehari_spark.plans.stagecache import _CACHE, clear_shared_stages

    monkeypatch.setattr(graph, "SMALL_GRAPH_EDGES", 0)
    clear_shared_stages()
    pagerank_int(triples_df, iters=3).collect()
    personalized_pagerank_int(triples_df, iters=3).collect()
    assert sorted(k[1] for k in _CACHE) == [
        "directed_edges", "pagerank_nodes", "ppr_nodes"
    ]
    clear_shared_stages()


def test_checkpoint_releases_previous_round(spark):
    """A chain of round checkpoints keeps only the newest one's blocks."""
    sc = spark.sparkContext

    def cached():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    before = cached()
    df, prev = spark.range(100), None
    for _ in range(3):
        df = prev = graph._checkpoint(df.selectExpr("id + 1 AS id"), prev)
    assert len(cached() - before) == 1
    assert sorted(r.id for r in df.collect()) == list(range(3, 103))
