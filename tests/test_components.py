"""WCC / SCC tests (reference: tests/components/test_connectivity.py)."""

import pytest

from cugraph_spark import Graph, connected_components, weakly_connected_components, strongly_connected_components


def test_wcc_two_components_and_isolated(spark):
    # two cliques + isolated vertex (FIXTURES.md two_components)
    clique1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    clique2 = [(a, b) for a in range(10, 13) for b in range(10, 13) if a < b]
    df = spark.createDataFrame(clique1 + clique2, ["src", "dst"])
    verts = spark.createDataFrame([(i,) for i in list(range(4)) + list(range(10, 13)) + [99]], ["v"])
    g = Graph(directed=False)
    g.from_edgelist(df, "src", "dst", vertices=verts)
    got = {r["vertex"]: r["labels"] for r in weakly_connected_components(g).collect()}
    assert {got[i] for i in range(4)} == {0}
    assert {got[i] for i in range(10, 13)} == {10}
    assert got[99] == 99
    assert len(set(got.values())) == 3


def test_wcc_directed_uses_underlying_undirected(spark):
    df = spark.createDataFrame([(0, 1), (2, 1), (3, 4)], ["src", "dst"])
    g = Graph(directed=True)
    g.from_edgelist(df, "src", "dst")
    got = {r["vertex"]: r["labels"] for r in weakly_connected_components(g).collect()}
    assert got[0] == got[1] == got[2] == 0
    assert got[3] == got[4] == 3


def test_wcc_karate_single_component(karate):
    labels = {r["labels"] for r in weakly_connected_components(karate).collect()}
    assert labels == {0}


@pytest.mark.parametrize("directed", [False, True], ids=["undirected", "directed"])
@pytest.mark.parametrize("order", ["ascending", "descending"])
def test_wcc_long_path_converges(spark, order, directed):
    # path of 40 vertices: min-label propagation needs one round per hop.
    # Directed, the min label flows along every edge (ascending) or
    # against every edge (descending).
    pairs = [(i, i + 1) if order == "ascending" else (i + 1, i) for i in range(39)]
    df = spark.createDataFrame(pairs, ["src", "dst"])
    g = Graph(directed=directed)
    g.from_edgelist(df, "src", "dst")
    got = {r["vertex"]: r["labels"] for r in weakly_connected_components(g).collect()}
    assert got == {v: 0 for v in range(40)}


def test_scc(spark):
    # cycle 0->1->2->0 (one SCC), chain to 3->4, cycle 4->5->4
    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 4)], ["src", "dst"]
    )
    g = Graph(directed=True)
    g.from_edgelist(df, "src", "dst")
    got = {r["vertex"]: r["labels"] for r in strongly_connected_components(g).collect()}
    assert got[0] == got[1] == got[2]
    assert got[4] == got[5]
    assert got[3] not in (got[0], got[4])
    assert len({got[0], got[3], got[4]}) == 3


def test_scc_many_scc_chain_logarithmic_rounds(spark):
    # Adversarial case for per-pivot FW-BW: a chain of 200 2-cycles (200
    # nontrivial SCCs, path-shaped condensation). The multi-pivot coloring
    # must complete ALL of them in a handful of outer rounds, not O(#SCCs).
    from cugraph_spark.components import connectivity as conn

    n_scc = 200
    edges = []
    for i in range(n_scc):
        a, b = 2 * i, 2 * i + 1
        edges += [(a, b), (b, a)]
        if i < n_scc - 1:
            edges.append((b, 2 * i + 2))
    df = spark.createDataFrame(edges, ["src", "dst"])
    g = Graph(directed=True)
    g.from_edgelist(df, "src", "dst")
    got = {r["vertex"]: r["labels"] for r in strongly_connected_components(g).collect()}
    assert len(got) == 2 * n_scc
    for i in range(n_scc):
        assert got[2 * i] == got[2 * i + 1] == 2 * i
    assert conn._last_scc_stats["outer_rounds"] <= 10  # O(log), not O(#SCCs)


def test_scc_descending_id_chain(spark):
    # same chain with ids reversed: guards against id-order-dependent
    # degeneracy (priorities are hashed, labels stay min-id)
    from cugraph_spark.components import connectivity as conn

    n_scc = 50
    base = []
    for i in range(n_scc):
        a, b = 2 * i, 2 * i + 1
        base += [(a, b), (b, a)]
        if i < n_scc - 1:
            base.append((b, 2 * i + 2))
    hi = 2 * n_scc - 1
    edges = [(hi - s, hi - d) for s, d in base]
    df = spark.createDataFrame(edges, ["src", "dst"])
    g = Graph(directed=True)
    g.from_edgelist(df, "src", "dst")
    got = {r["vertex"]: r["labels"] for r in strongly_connected_components(g).collect()}
    for i in range(n_scc):
        lo = hi - (2 * i + 1)
        assert got[lo] == got[lo + 1] == lo
    assert conn._last_scc_stats["outer_rounds"] <= 10


def test_connected_components_dispatch(karate):
    df = connected_components(karate, connection="weak")
    assert df.count() == 34
