"""Plain-Python references for the graph layers, and their regime.

``sop_chain`` runs ``kg.graphalgo.pagerank`` (10 rounds),
``kg.graphalgo.label_propagation`` (5 rounds) and
``plans.graph.connected_components`` over the "knows" edges of its input; the
functions here compute the same results without the library, from the
generator's edge list.
"""

from __future__ import annotations

from collections import Counter

LAYERS = {
    "pagerank": "kg.graphalgo.pagerank",
    "lpa": "kg.graphalgo.label_propagation",
    "cc": "plans.graph.connected_components",
}
# after the timed run, a traced run times each graph layer at 1, k and again
# 1 rounds (k = its default rounds; 3 for components, as bench.py): k-round
# wall minus the mean 1-round wall, ÷ (k − 1), is the marginal cost of one
# round, all taken in the same warm JVM with the warming trend bracketed
ROUNDS = {"pagerank": 10, "lpa": 5, "cc": 3}


def union_find(edges) -> dict:
    """node → smallest node of its component."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def pagerank(edges, iters: int = 10, damping: float = 0.85) -> dict:
    """Power iteration over the distinct directed edges: r0 = 1/N, and the
    rank of nodes without out-edges is spread uniformly."""
    import numpy as np

    pairs = sorted(set(edges))
    nodes = sorted({n for e in pairs for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    src = np.array([idx[a] for a, _ in pairs])
    dst = np.array([idx[b] for _, b in pairs])
    n = len(nodes)
    deg = np.bincount(src, minlength=n).astype(float)
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.bincount(dst, weights=rank[src] / deg[src], minlength=n)
        mass = rank[deg == 0].sum()
        rank = (1.0 - damping) / n + damping * (contrib + mass / n)
    return dict(zip(nodes, rank.tolist()))


def label_propagation(edges, iters: int = 5) -> dict:
    """Synchronous rounds over the undirected simple graph: every node takes
    the most frequent label among its neighbours, ties to the smallest."""
    adj: dict = {}
    for a, b in set(edges):
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    label = {v: v for v in adj}
    for _ in range(iters):
        nxt = {}
        for v, nbrs in adj.items():
            counts = Counter(label[u] for u in nbrs)
            nxt[v] = min(counts, key=lambda l: (-counts[l], l))
        label = nxt
    return label


def regime(edges, cc) -> dict:
    """Sizes that decide which path the graph layers take."""
    from sopspark.plans.graph import connected_components

    distinct = set(edges)
    undirected = {(min(a, b), max(a, b)) for a, b in distinct if a != b}
    deg = Counter(n for e in undirected for n in e)
    threshold = connected_components.__defaults__[-1]
    return {
        "knows_edges": len(distinct),
        "knows_nodes": len(cc),
        "max_degree": max(deg.values()),
        "top_hub_edge_share": round(max(deg.values()) / len(undirected), 4),
        "components": len(set(cc.values())),
        "cc_driver_threshold": threshold,
        "cc_path": "driver union-find" if len(distinct) <= threshold else "distributed star",
    }
