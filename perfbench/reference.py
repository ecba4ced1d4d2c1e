"""Pure-Python references for the output checks on small graphs.

Each takes a collected (src, dst) edge list and follows the package's
documented semantics: the vertex set is the set of edge endpoints.
"""

from __future__ import annotations

from collections import defaultdict


def components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """vertex -> minimum vertex id of its undirected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        parent.setdefault(s, s)
        parent.setdefault(d, d)
    for s, d in edges:
        a, b = find(s), find(d)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {v: find(v) for v in parent}


def triangles(edges: list[tuple[int, int]]) -> int:
    """Distinct undirected triangles (self-loops and multi-edges ignored)."""
    adj: dict[int, set[int]] = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    n = 0
    for a, na in adj.items():
        for b in na:
            if b > a:
                n += sum(1 for c in na & adj[b] if c > b)
    return n


def pagerank(
    edges: list[tuple[int, int]], iters: int, alpha: float = 0.85
) -> dict[int, float]:
    """``iters`` power iterations from 1/n; multi-edges are multi-links and
    the rank of vertices without out-links is spread over all vertices."""
    verts = sorted({v for e in edges for v in e})
    n = len(verts)
    out_deg: dict[int, int] = defaultdict(int)
    for s, _ in edges:
        out_deg[s] += 1
    dangling = [v for v in verts if v not in out_deg]
    rank = {v: 1.0 / n for v in verts}
    for _ in range(iters):
        contrib: dict[int, float] = defaultdict(float)
        for s, d in edges:
            contrib[d] += rank[s] / out_deg[s]
        dm = sum(rank[v] for v in dangling)
        base = (1.0 - alpha) / n
        rank = {v: base + alpha * (contrib[v] + dm / n) for v in verts}
    return rank
