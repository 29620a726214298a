"""Connected components of many small graphs at once, in numpy.

The input is an edge list ``(group, u, v)``: edge ``u - v`` belongs to graph
``group``, and no edge crosses two groups. A node is a ``(group, entity)``
pair, so the same entity id in two groups is two nodes. The output has one
row per node, ``(node_group, node, label)``, where ``label`` is the smallest
entity id of the node's component — the same contract as the union-find
reference in ``kernels/unionfind.py``, which stays as the test twin.

The work is whole-array numpy, with no per-edge Python:

1. ``number_nodes``: one ``lexsort`` of both endpoint lists by
   ``(group, entity)`` numbers the distinct nodes ``0..n-1`` in that order.
   Inside a component (which never leaves its group) the lowest node index
   therefore carries the smallest entity id.
2. ``min_label``: min-label hooking with pointer jumping. Every node starts
   as its own root. A round replaces each edge by the roots of its two ends,
   drops edges inside one tree, hooks every root onto the smallest root it
   shares an edge with (``np.minimum.at``, so a root only ever points
   lower and no cycle can form), then jumps pointers until every node
   points at its root. A tree that neither hooks nor is hooked onto in a
   round is a local minimum whose neighbours all hooked onto smaller roots,
   so it hooks in the next round: every tree merges within two rounds, and
   ``2 * ceil(log2 n)`` rounds bound the loop.

``cluster_batch`` applies it to one Arrow batch of conversations, each
row a conversation's aligned ``src``/``dst`` edge lists. Nothing here
touches Spark: ``operators/coref.py`` calls ``cluster_batch`` from
``mapInArrow``, and ``components`` once for a whole small global graph;
``stage.py`` calls ``components`` once per pipeline partition.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# Arrow twin of operators.coref.CLUSTER_DDL
CLUSTER_SCHEMA = pa.schema(
    [("conv_id", pa.string()), ("entity_id", pa.int64()), ("cluster_id", pa.int64())]
)


def number_nodes(
    group: np.ndarray, u: np.ndarray, v: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """-> (node_group, node, a, b): the distinct ``(group, entity)`` nodes in
    sorted order, and each edge's two endpoints as node indices."""
    m = len(u)
    g = np.concatenate([group, group])
    e = np.concatenate([u, v])
    order = np.lexsort((e, g))
    gs, es = g[order], e[order]
    first = np.ones(len(order), dtype=bool)
    first[1:] = (gs[1:] != gs[:-1]) | (es[1:] != es[:-1])
    index = np.empty(len(order), dtype=np.int64)
    index[order] = np.cumsum(first) - 1
    return gs[first], es[first], index[:m], index[m:]


def min_label(n: int, a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, int]:
    """-> (label, rounds): ``label[i]`` is the lowest node index in node
    ``i``'s component of the graph on ``0..n-1`` with edges ``a[k] - b[k]``;
    ``rounds`` counts the hooking rounds that changed a label."""
    label = np.arange(n, dtype=np.int64)
    rounds = 0
    while True:
        a, b = label[a], label[b]
        live = a != b
        a, b = a[live], b[live]
        if not len(a):
            return label, rounds
        rounds += 1
        np.minimum.at(label, a, b)
        np.minimum.at(label, b, a)
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped


def components(
    group: np.ndarray, u: np.ndarray, v: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (node_group, node, label) for the edge list ``(group, u, v)``:
    ``label`` is the smallest entity id in the node's component."""
    node_group, node, a, b = number_nodes(group, u, v)
    label, _ = min_label(len(node), a, b)
    return node_group, node, node[label]


def cluster_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """(conv_id, src list, dst list) rows -> (conv_id, entity_id,
    cluster_id) rows, one per entity of each conversation's edge graph."""
    src, dst = batch.column("src"), batch.column("dst")
    conv, entity, cluster = components(
        pc.list_parent_indices(src).to_numpy(),
        pc.list_flatten(src).to_numpy(),
        pc.list_flatten(dst).to_numpy(),
    )
    return pa.RecordBatch.from_arrays(
        [batch.column("conv_id").take(conv), entity, cluster], schema=CLUSTER_SCHEMA
    )
