"""rmat / MST / topological sort / MIS / coloring / matching tests."""

import pytest
from pyspark.sql import functions as F

from cugraph_spark import (
    Graph,
    rmat,
    minimum_spanning_tree,
    maximum_spanning_tree,
    topological_sort,
    maximal_independent_set,
    vertex_coloring,
    approximate_weighted_matching,
)


def test_rmat_shape(spark):
    df = rmat(8, 1000, seed=7, spark=spark, include_edge_weights=True,
              minimum_weight=0.0, maximum_weight=1.0)
    rows = df.collect()
    assert len(rows) == 1000
    assert all(0 <= r["src"] < 256 and 0 <= r["dst"] < 256 for r in rows)
    assert all(0.0 <= r["weight"] <= 1.0 for r in rows)
    # skew: quadrant (0,0) should dominate with a=0.57
    low = sum(1 for r in rows if r["src"] < 128 and r["dst"] < 128)
    assert low > 400
    # determinism
    df2 = rmat(8, 1000, seed=7, spark=spark)
    assert df.select("src", "dst").collect() == df2.select("src", "dst").collect()


def test_rmat_clip_and_flip_scramble(spark):
    df = rmat(6, 200, seed=3, clip_and_flip=True, spark=spark)
    assert all(r["src"] <= r["dst"] for r in df.collect())
    ds = rmat(6, 200, seed=3, scramble_vertex_ids=True, spark=spark)
    assert all(0 <= r["src"] < 64 for r in ds.collect())


def py_mst_weight(edges):
    # Kruskal
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    total, used = 0.0, 0
    for w, a, b in sorted((w, a, b) for (a, b), w in edges.items()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            total += w
            used += 1
    return total, used


def test_mst_line_and_random(spark):
    # weighted_line fixture: MST = whole path
    rows = [(i, i + 1, float(i + 1)) for i in range(9)]
    g = Graph(directed=False)
    g.from_edgelist(spark.createDataFrame(rows, ["src", "dst", "weight"]), "src", "dst", weight="weight")
    t = minimum_spanning_tree(g)
    got = {(r["src"], r["dst"]) for r in t.edges().filter(F.col("src") < F.col("dst")).collect()}
    assert got == {(i, i + 1) for i in range(9)}

    import random

    rng = random.Random(5)
    edges = {}
    for _ in range(60):
        a, b = rng.randrange(15), rng.randrange(15)
        if a != b:
            edges[(min(a, b), max(a, b))] = round(rng.random() * 10, 3)
    g2 = Graph(directed=False)
    g2.from_edgelist(
        spark.createDataFrame([(a, b, w) for (a, b), w in edges.items()], ["src", "dst", "weight"]),
        "src", "dst", weight="weight",
    )
    t2 = minimum_spanning_tree(g2)
    got_edges = t2.edges().filter(F.col("src") < F.col("dst")).collect()
    want_total, want_n = py_mst_weight(edges)
    assert len(got_edges) == want_n
    assert sum(r["weight"] for r in got_edges) == pytest.approx(want_total)


def test_mst_equal_weight_ties_cannot_cycle(spark):
    """Regression (found by the r6 full-contract run at sf0.1): Boruvka's
    tie-break key must identify the UNDIRECTED edge. The old
    (weight, src, dst) key gave each edge two keys (one per orientation),
    and this 6-vertex graph makes round-2 components pick A->B->C->A
    among three equal-weight edges — a cycle in the forest (6 edges for
    6 vertices). The orientation-free (weight, least, greatest) key picks
    {0,9} mutually and yields a true 5-edge MST of weight 2."""
    rows = [
        (0, 7, 0.0), (9, 1, 0.0), (8, 2, 0.0),  # round-1 pair merges
        (0, 9, 1.0), (1, 8, 1.0), (2, 7, 1.0),  # equal-weight triangle of components
    ]
    g = Graph(directed=False)
    g.from_edgelist(
        spark.createDataFrame(rows, ["src", "dst", "weight"]), "src", "dst", weight="weight"
    )
    t = minimum_spanning_tree(g)
    got = t.edges().filter(F.col("src") < F.col("dst")).collect()
    assert len(got) == 5  # 6 vertices, 1 component -> exactly V-1 edges
    assert sum(r["weight"] for r in got) == pytest.approx(2.0)
    # acyclic by union-find
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in got:
        a, b = find(r["src"]), find(r["dst"])
        assert a != b, f"cycle-closing edge {r}"
        parent[a] = b


def test_mst_long_path_merges_through_chain(spark):
    """w(i, i+1) = i + 1: every vertex but 0 picks its lower edge, so the
    first Borůvka round merges all 64 vertices through one 63-long chain
    of merge pairs."""
    import networkx as nx

    rows = [(i, i + 1, float(i + 1)) for i in range(63)]
    g = Graph(directed=False)
    g.from_edgelist(spark.createDataFrame(rows, ["src", "dst", "weight"]), "src", "dst", weight="weight")
    got = minimum_spanning_tree(g).edges().filter(F.col("src") < F.col("dst")).collect()
    nxg = nx.Graph()
    nxg.add_weighted_edges_from(rows)
    want = nx.minimum_spanning_tree(nxg).size(weight="weight")
    assert {(r["src"], r["dst"]) for r in got} == {(i, i + 1) for i in range(63)}
    assert sum(r["weight"] for r in got) == pytest.approx(want)


def test_maximum_spanning_tree(spark):
    rows = [(0, 1, 1.0), (1, 2, 5.0), (0, 2, 2.0)]
    g = Graph(directed=False)
    g.from_edgelist(spark.createDataFrame(rows, ["src", "dst", "weight"]), "src", "dst", weight="weight")
    t = maximum_spanning_tree(g)
    got = {(r["src"], r["dst"], r["weight"]) for r in t.edges().filter(F.col("src") < F.col("dst")).collect()}
    assert got == {(1, 2, 5.0), (0, 2, 2.0)}


def test_topological_sort(spark):
    rows = [(0, 2), (1, 2), (2, 3), (2, 4), (4, 5)]
    g = Graph(directed=True)
    g.from_edgelist(spark.createDataFrame(rows, ["src", "dst"]), "src", "dst")
    got = {r["vertex"]: r["level"] for r in topological_sort(g).collect()}
    for a, b in rows:
        assert got[a] < got[b]
    assert got[0] == got[1] == 0


def test_topological_sort_cycle(spark):
    g = Graph(directed=True)
    g.from_edgelist(spark.createDataFrame([(0, 1), (1, 0)], ["src", "dst"]), "src", "dst")
    with pytest.raises(ValueError):
        topological_sort(g)


def test_mis(karate):
    from tests.conftest import karate_adj

    adj = karate_adj()
    mis = {r["vertex"] for r in maximal_independent_set(karate).collect()}
    # independent
    for v in mis:
        assert not (adj[v] & mis)
    # maximal
    for v in set(adj) - mis:
        assert adj[v] & mis


def test_vertex_coloring(karate):
    from tests.conftest import karate_adj

    adj = karate_adj()
    col = {r["vertex"]: r["color"] for r in vertex_coloring(karate).collect()}
    assert set(col) == set(adj)
    for a in adj:
        for b in adj[a]:
            assert col[a] != col[b]


def test_matching(spark):
    rows = [(0, 1, 10.0), (1, 2, 1.0), (2, 3, 10.0), (3, 0, 1.0)]
    g = Graph(directed=False)
    g.from_edgelist(spark.createDataFrame(rows, ["src", "dst", "weight"]), "src", "dst", weight="weight")
    m = {r["vertex"]: r["match"] for r in approximate_weighted_matching(g).collect()}
    assert m == {0: 1, 1: 0, 2: 3, 3: 2}


def test_small_plan_toggles_and_restores_aqe(spark):
    from cugraph_spark.plans import iterloop

    spark.conf.set("spark.sql.adaptive.enabled", "true")
    with iterloop.small_plan(spark, 100) as small:
        assert small is True
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    # above the broadcast threshold the loop keeps AQE (the scale path)
    with iterloop.small_plan(spark, iterloop.BROADCAST_STATE_MAX_ROWS + 1) as small:
        assert small is False
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    # restored even when the loop body raises
    with pytest.raises(RuntimeError):
        with iterloop.small_plan(spark, 100):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_sample_groups(spark):
    from cugraph_spark.structure.utils_ops import sample_groups

    df = spark.createDataFrame(
        [(g, i) for g in ("a", "b", "c") for i in range(10)], ["grp", "val"]
    )
    out = sample_groups(df, "grp", 3)
    rows = out.collect()
    assert len(rows) == 9
    by_g = {}
    for r in rows:
        by_g.setdefault(r["grp"], set()).add(r["val"])
    assert all(len(v) == 3 for v in by_g.values())
    # deterministic across invocations
    again = {(r["grp"], r["val"]) for r in sample_groups(df, "grp", 3).collect()}
    assert {(r["grp"], r["val"]) for r in rows} == again
    # -1 keeps everything
    assert sample_groups(df, "grp", -1).count() == 30
