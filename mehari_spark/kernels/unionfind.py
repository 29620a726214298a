"""Union-find for connected components: the reference twin.

A dict-based union-find that walks the edges one at a time, so it is the
easy-to-read cross-check for the vectorized kernel in ``components.py``,
which production coref (``operators/coref.py``) runs instead. Both label a
node with the smallest member of its component; the property tests compare
them per group. The mehari analog is SV cluster building
(strucvars/mod.rs:3189-3290).
"""

from __future__ import annotations

from typing import Hashable, Iterable


class UnionFind:
    def __init__(self) -> None:
        self._parent: dict[Hashable, Hashable] = {}

    def find(self, x: Hashable) -> Hashable:
        parent = self._parent
        if x not in parent:
            parent[x] = x
            return x
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    def union(self, a: Hashable, b: Hashable) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # deterministic: smaller value wins as root
            if rb < ra:
                ra, rb = rb, ra
            self._parent[rb] = ra

    def components(self) -> dict[Hashable, Hashable]:
        """node -> min-element-of-component label."""
        # roots are already the minimum of their component because union()
        # always keeps the smaller root
        return {x: self.find(x) for x in list(self._parent)}


def connected_components(edges: Iterable[tuple[Hashable, Hashable]]) -> dict:
    uf = UnionFind()
    for a, b in edges:
        uf.union(a, b)
    return uf.components()
