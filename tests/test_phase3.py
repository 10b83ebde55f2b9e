"""Betweenness, path retrieval, k-hop, hypergraph, converters, utils,
leiden, ecg, streaming."""

import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from cugraph_spark import Graph, bfs, sssp
from cugraph_spark.centrality.betweenness_centrality import (
    betweenness_centrality,
    edge_betweenness_centrality,
)
from cugraph_spark.traversal.path_retrieval import extract_bfs_paths, get_traversed_path
from cugraph_spark.traversal.k_hop import k_hop_nbrs, od_shortest_distances
from cugraph_spark.structure.hypergraph import hypergraph
from cugraph_spark.structure.convert_matrix import (
    from_pandas_edgelist,
    to_pandas_edgelist,
    from_adjlist,
    from_numpy_array,
    to_numpy_array,
)
from cugraph_spark.structure.utils_ops import (
    remove_self_loops,
    remove_multi_edges,
    count_multi_edges,
    coarsen_graph,
    transpose_graph,
)
from tests.conftest import karate_adj


def py_brandes(adj, normalized=True, endpoints=False):
    # Brandes 2001, unweighted
    import collections

    nodes = sorted(adj)
    bc = dict.fromkeys(nodes, 0.0)
    for s in nodes:
        S, P = [], {v: [] for v in nodes}
        sigma = dict.fromkeys(nodes, 0.0)
        dist = dict.fromkeys(nodes, -1)
        sigma[s], dist[s] = 1.0, 0
        Q = collections.deque([s])
        while Q:
            v = Q.popleft()
            S.append(v)
            for w in adj[v]:
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    Q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    P[w].append(v)
        if endpoints:
            bc[s] += len(S) - 1
        delta = dict.fromkeys(nodes, 0.0)
        while S:
            w = S.pop()
            for v in P[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w] + (1.0 if endpoints else 0.0)
    n = len(nodes)
    if normalized:
        scale = 2.0 / (n * (n - 1)) if endpoints else 2.0 / ((n - 1) * (n - 2))
    else:
        scale = 0.5
    return {v: b * scale for v, b in bc.items()}


def test_betweenness_karate(karate):
    got = {
        r["vertex"]: r["betweenness_centrality"]
        for r in betweenness_centrality(karate).collect()
    }
    want = py_brandes(karate_adj())
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v


def test_betweenness_endpoints_karate(karate):
    got = {
        r["vertex"]: r["betweenness_centrality"]
        for r in betweenness_centrality(karate, endpoints=True).collect()
    }
    want = py_brandes(karate_adj(), endpoints=True)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v


def test_betweenness_endpoints_unnormalized(spark):
    # path 0-1-2: endpoints add (reached pairs x2) to raw counts
    g = Graph(directed=False)
    g.from_edgelist(spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"]), "src", "dst")
    got = {r["vertex"]: r["betweenness_centrality"]
           for r in betweenness_centrality(g, normalized=False, endpoints=True).collect()}
    adj = {0: [1], 1: [0, 2], 2: [1]}
    want = py_brandes(adj, normalized=False, endpoints=True)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v


def test_exact_betweenness_scale_warning(karate, monkeypatch):
    import cugraph_spark.centrality.betweenness_centrality as bcmod

    monkeypatch.setattr(bcmod, "EXACT_BC_WARN_VERTICES", 10)
    with pytest.warns(RuntimeWarning, match="source, vertex"):
        betweenness_centrality(karate, k=None).collect()
    # sampled path must stay silent
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error")
        betweenness_centrality(karate, k=5, seed=1).collect()


def test_betweenness_sampled(karate):
    got = betweenness_centrality(karate, k=10, seed=1).collect()
    assert len(got) == 34
    full = py_brandes(karate_adj())
    top_full = sorted(full, key=full.get, reverse=True)[:3]
    top_got = [r["vertex"] for r in sorted(got, key=lambda r: -r["betweenness_centrality"])[:3]]
    assert set(top_got) & set(top_full)  # sampled estimate finds hubs


def test_edge_betweenness_line(spark):
    # path 0-1-2-3: middle edge carries the most pairs
    g = Graph(directed=False)
    g.from_edgelist(spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"]), "src", "dst")
    got = {(r["src"], r["dst"]): r["betweenness_centrality"]
           for r in edge_betweenness_centrality(g, normalized=False).collect()}
    # unnormalized undirected: edge (1,2) lies on paths 0-2,0-3,1-2,1-3 = 4
    assert got[(1, 2)] == pytest.approx(4.0)
    assert got[(0, 1)] == pytest.approx(3.0)


def test_extract_paths(spark):
    g = Graph(directed=True)
    g.from_edgelist(spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"]), "src", "dst")
    res = bfs(g, 0)
    paths = {r["destination"]: r["path"] for r in extract_bfs_paths(res, [3, 1]).collect()}
    assert paths[3] == [0, 1, 2, 3]
    assert paths[1] == [0, 1]
    assert get_traversed_path(res, 3) == [0, 1, 2, 3]


def test_k_hop_nbrs(karate):
    adj = karate_adj()
    got = {r["vertex"] for r in k_hop_nbrs(karate, 16, 2).collect()}
    want = (adj[16] | {w for u in adj[16] for w in adj[u]}) - {16}
    assert got == want


def test_od_shortest_distances(spark):
    rows = [(0, 1, 1.0), (1, 2, 2.0), (0, 2, 5.0), (3, 0, 1.0)]
    g = Graph(directed=True)
    g.from_edgelist(spark.createDataFrame(rows, ["src", "dst", "weight"]), "src", "dst", weight="weight")
    got = {(r["origin"], r["destination"]): r["distance"]
           for r in od_shortest_distances(g, [0, 3], [2]).collect()}
    assert got == {(0, 2): 3.0, (3, 2): 4.0}


def test_hypergraph(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x")], ["user", "item"]
    )
    out = hypergraph(df)
    g = out["graph"]
    # 3 events + entities: user::a, user::b, item::x, item::y
    assert out["entities"].count() == 4
    assert out["events"].count() == 3
    assert g.number_of_edges() == 6  # 2 cols x 3 rows
    direct = hypergraph(df, direct=True)
    edges = {(r["src"], r["dst"]) for r in direct["edges"].collect()}
    assert ("item::x", "user::a") in edges or ("user::a", "item::x") in edges


def test_converters(spark):
    import pandas as pd

    pdf = pd.DataFrame({"src": [0, 1], "dst": [1, 2], "w": [1.0, 2.0]})
    g = from_pandas_edgelist(pdf, "src", "dst", edge_attr="w", spark=spark)
    assert g.number_of_edges() == 2
    back = to_pandas_edgelist(g)
    assert len(back) == 4  # symmetrized

    g2 = from_adjlist([0, 2, 3, 3], [1, 2, 2], spark=spark)
    assert g2.number_of_edges(directed_edges=True) >= 3

    arr = np.array([[0, 1.0], [1.0, 0]])
    g3 = from_numpy_array(arr, spark=spark)
    assert g3.number_of_edges() == 1
    assert to_numpy_array(g3).shape == (2, 2)


def test_utils_ops(spark):
    df = spark.createDataFrame(
        [(0, 0, 1.0), (0, 1, 2.0), (0, 1, 3.0), (1, 2, 1.0)], ["src", "dst", "weight"]
    )
    assert remove_self_loops(df).count() == 3
    dedup = remove_multi_edges(df)
    w = {(r["src"], r["dst"]): r["weight"] for r in dedup.collect()}
    assert w[(0, 1)] == 2.0
    assert count_multi_edges(df) == 1

    g = Graph(directed=False)
    g.from_edgelist(spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"]), "src", "dst")
    labels = spark.createDataFrame([(0, 0), (1, 0), (2, 1), (3, 1)], ["vertex", "label"])
    c = {(r["src"], r["dst"]): r["weight"] for r in coarsen_graph(g, labels).collect()}
    assert c[(0, 0)] == 2.0  # intra-community symmetrized edges
    assert c[(0, 1)] == 1.0

    gt = transpose_graph(Graph(directed=True).from_edgelist(
        spark.createDataFrame([(5, 6)], ["src", "dst"]), "src", "dst"))
    assert [(r["src"], r["dst"]) for r in gt.edges().collect()] == [(6, 5)]


def test_leiden_and_ecg(spark):
    from cugraph_spark import leiden, ecg

    cl1 = [(a, b, 1.0) for a in range(5) for b in range(5) if a < b]
    cl2 = [(a, b, 1.0) for a in range(10, 15) for b in range(10, 15) if a < b]
    g = Graph(directed=False)
    g.from_edgelist(
        spark.createDataFrame(cl1 + cl2 + [(0, 10, 0.01)], ["src", "dst", "weight"]),
        "src", "dst", weight="weight",
    )
    parts, q = leiden(g)
    rows = {r["vertex"]: r["partition"] for r in parts.collect()}
    assert rows[0] != rows[10] and q > 0.4
    parts2, q2 = ecg(g, ensemble_size=4)
    rows2 = {r["vertex"]: r["partition"] for r in parts2.collect()}
    assert rows2[0] != rows2[10] and q2 > 0.4


def test_leiden_split_distributed_matches_union_find(spark):
    """Leiden's refinement split: the distributed min-label branch (no
    ``n_level_edges``) and the driver union-find branch agree. Community
    100 holds three disconnected pieces, community 200 one path."""
    from cugraph_spark.community.leiden import _split_disconnected

    pairs = [
        (4, 1), (1, 7), (7, 0),  # community 100, piece {0, 1, 4, 7}
        (9, 3),  # community 100, piece {3, 9}
        (2, 5), (5, 6), (6, 8),  # community 200, one path
        (0, 2), (9, 6),  # cross-community edges
    ]
    comm = {v: 100 for v in (0, 1, 3, 4, 7, 9, 10)}
    comm.update({v: 200 for v in (2, 5, 6, 8)})
    g = Graph(directed=False)
    g.from_edgelist(spark.createDataFrame(pairs, ["src", "dst"]), "src", "dst")
    edges = g.edgelist.select("src", "dst")
    assign = spark.createDataFrame(sorted(comm.items()), ["vertex", "community"])
    n = len(comm)
    dist = {r["vertex"]: r["community"] for r in _split_disconnected(edges, assign, n_hint=n).collect()}
    local = {
        r["vertex"]: r["community"]
        for r in _split_disconnected(edges, assign, n_hint=n, n_level_edges=len(pairs)).collect()
    }
    want = {0: 0, 1: 0, 4: 0, 7: 0, 3: 3, 9: 3, 10: 10, 2: 2, 5: 2, 6: 2, 8: 2}
    assert dist == local == want


def test_streaming_edge_ingestion(spark, tmp_path):
    from cugraph_spark.streaming.edge_stream import (
        start_edge_stream,
        incremental_edge_table,
    )

    # the driver's events.parquet carries TIMESTAMP(NANOS), which Spark's
    # parquet reader rejects — re-materialize as microseconds via pyarrow
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table("/root/testdata/sf0.001/events.parquet")
    idx = t.schema.get_field_index("ts")
    t = t.set_column(idx, "ts", t["ts"].cast(pa.timestamp("us"), safe=False))
    in_dir, ckpt, out_dir = str(tmp_path / "in"), str(tmp_path / "ck"), str(tmp_path / "out")
    os.makedirs(in_dir)
    pq.write_table(t, in_dir + "/events.parquet")
    src = spark.read.parquet(in_dir)
    q = start_edge_stream(spark, in_dir, ckpt, out_dir, schema=src.schema,
                          window="1 day", watermark="0 seconds")
    q.awaitTermination(120)
    table = incremental_edge_table(spark, out_dir)
    assert table is not None
    assert table.count() > 0
    assert {"src", "dst", "weight", "n_events", "window_start"} <= set(table.columns)
    # append mode + watermark: every window except the final (still-open)
    # day is emitted — exactly the events before the last day boundary
    total = table.agg(F.sum("n_events")).collect()[0][0]
    last_day = src.agg(F.date_trunc("day", F.max("ts"))).collect()[0][0]
    expected = src.filter(F.col("ts") < last_day).count()
    assert total == expected
    assert total > 0
