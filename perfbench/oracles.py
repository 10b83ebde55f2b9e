"""Reference answers computed outside ``cugraph_spark``.

The oracles run on the canonical directed edge arrays (``inputs.
canonical_edges``), or on the networkx graph ``graph`` builds from them,
and return ``(vertex, value)`` NumPy arrays sorted by vertex, so a Spark
result converted the same way compares element-wise.
Unreached vertices carry the library's sentinel, ``INT_MAX`` hops.
"""

from __future__ import annotations

import networkx as nx
import numpy as np

INT_MAX = 2147483647
PAGERANK_L1_TOL = 1e-6
MODULARITY_TOL = 1e-9
# checksum weights: sum(value * (vertex % CHECK_MOD + 1)) catches a value
# landing on the wrong vertex, which a plain sum would not
CHECK_MOD = 97


def graph(src, dst, weight=None) -> nx.Graph:
    """The undirected networkx graph the bfs, wcc and louvain oracles
    walk, with ``weight`` as the edges' ``weight`` attribute if given."""
    if weight is None:
        return nx.Graph(zip(src.tolist(), dst.tolist()))
    g = nx.Graph()
    g.add_weighted_edges_from(zip(src.tolist(), dst.tolist(), weight.tolist()))
    return g


def _per_vertex(g: nx.Graph, found: dict, missing, dtype):
    vs = np.array(sorted(g.nodes), np.int64)
    return vs, np.array([found.get(v, missing) for v in vs.tolist()], dtype)


def bfs(g: nx.Graph, source: int):
    """Hop distances from ``source``; ``INT_MAX`` where unreached."""
    return _per_vertex(g, nx.single_source_shortest_path_length(g, source), INT_MAX, np.int64)


def wcc(g: nx.Graph):
    """Component label per vertex: the smallest vertex id in its
    component, the library's documented labelling."""
    label = {}
    for comp in nx.connected_components(g):
        low = min(comp)
        label.update(dict.fromkeys(comp, low))
    return _per_vertex(g, label, -1, np.int64)


def pagerank(src, dst, weight, alpha: float, iterations: int):
    """Weighted power iteration from the uniform vector, a fixed number of
    steps, uniform teleport. A vertex with no out-edges spreads its rank
    uniformly (the library's dangling rule), so the ranks keep summing
    to 1."""
    vs = np.unique(np.concatenate([src, dst]))
    s, d = np.searchsorted(vs, src), np.searchsorted(vs, dst)
    n = len(vs)
    out_w = np.bincount(s, weight, n)
    coef = weight / out_w[s]  # every s has an out-edge, so out_w[s] > 0
    dangling = out_w == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        inflow = np.bincount(d, coef * rank[s], n)
        rank = (1.0 - alpha) / n + alpha * (inflow + rank[dangling].sum() / n)
    return vs, rank


def louvain(g: nx.Graph, vertices, partition, modularity: float) -> str | None:
    """Check a louvain result: the partition must give every vertex of
    ``g`` exactly one community, and the weighted modularity networkx
    computes for it must equal the reported ``modularity``. Returns None
    when both hold, else a one-line reason."""
    vertices = np.asarray(vertices, np.int64).tolist()
    if len(vertices) != g.number_of_nodes() or set(vertices) != set(g.nodes):
        return f"louvain: {len(vertices)} rows for {len(set(vertices))} of {g.number_of_nodes()} vertices"
    communities = {}
    for v, c in zip(vertices, np.asarray(partition).tolist()):
        communities.setdefault(c, set()).add(v)
    q = nx.community.modularity(g, communities.values(), weight="weight")
    if abs(q - modularity) > MODULARITY_TOL:
        return f"louvain: modularity {modularity!r}, networkx {q!r}"
    return None


def compare(op: str, vs, expected, got_vs, got) -> str | None:
    """Full-result check of one op. Returns None when the result matches
    the oracle, else a one-line reason."""
    got_vs = np.asarray(got_vs, np.int64)
    order = np.argsort(got_vs)
    got_vs = got_vs[order]
    got = np.asarray(got)[order]
    if not np.array_equal(vs, got_vs):
        return f"{op}: vertex set differs ({len(got_vs)} returned, {len(vs)} expected)"
    if op in ("bfs", "wcc"):
        bad = np.flatnonzero(got.astype(np.int64) != expected)
        return f"{op}: {len(bad)} values differ" if len(bad) else None
    if op == "pagerank":
        l1 = float(np.abs(got - expected).sum())
        return f"pagerank: L1 {l1:.3g}" if l1 > PAGERANK_L1_TOL else None
    raise ValueError(f"no oracle for {op!r}")


def checksum(op: str, vs, values) -> tuple:
    """(rows, reached, sum, weighted sum) over the reached vertices, the
    reduction each timed call is checked with. The Spark side computes the
    same four numbers in one aggregate (``run.checksum_exprs``)."""
    values = np.asarray(values, np.float64)
    reached = values < INT_MAX if op == "bfs" else np.isfinite(values)
    v = values[reached]
    w = (np.asarray(vs)[reached] % CHECK_MOD + 1).astype(np.float64)
    return (len(values), int(reached.sum()), float(v.sum()), float((v * w).sum()))


def checksum_matches(op: str, expected: tuple, got: tuple) -> bool:
    """Row and reached counts must be exact. Sums of integer values (bfs
    hops, wcc labels) are exact in doubles; pagerank sums may differ by
    what the L1 bound allows."""
    if tuple(expected[:2]) != tuple(int(x) for x in got[:2]):
        return False
    for e, g, scale in ((expected[2], got[2], 1), (expected[3], got[3], CHECK_MOD)):
        if op == "pagerank":
            ok = abs(g - e) <= PAGERANK_L1_TOL * scale
        else:
            ok = g == e
        if not ok:
            return False
    return True
