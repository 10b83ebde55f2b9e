"""Tests of the benchmark's own helpers; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import numpy as np
import pytest

from perfbench import inputs, oracles, run
from perfbench.status import interval_union
from perfbench.tracer import Recorder, Span, iterloop_metrics, self_time, traced_iterloop

NAME = re.compile(r"[A-Za-z0-9_.-]+")
BENCHMARK = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


# -- interval and self-time arithmetic ---------------------------------------


def test_interval_union_counts_overlap_once():
    assert interval_union([]) == 0.0
    assert interval_union([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == 3.0
    assert interval_union([(0.0, 10.0), (2.0, 3.0)]) == 10.0
    assert interval_union([(5.0, 6.0), (1.0, 2.0), (2.0, 3.0)]) == 3.0


def _span(i, parent, name, start, end):
    return Span(i, parent, name, start, end)


def test_self_time_subtracts_covered_part_of_children():
    parent = _span(0, None, "op", 0.0, 10.0)
    kids = [_span(1, 0, "a", 1.0, 3.0), _span(2, 0, "b", 2.0, 4.0), _span(3, 0, "c", 8.0, 12.0)]
    # children cover [1, 4] and [8, 10] of the parent
    assert self_time(parent, kids) == pytest.approx(5.0)
    assert self_time(parent, []) == 10.0


def test_nested_primitives_counted_once():
    spans = [
        _span(1, 0, "FusedSwap.swap", 0.0, 2.0),
        _span(2, 1, "collect_scalars", 1.0, 2.0),
        _span(3, 0, "truncate_lineage", 3.0, 4.0),
        _span(4, 3, "materialize", 3.0, 4.0),
        _span(5, 0, "collect_scalars", 5.0, 5.5),
        Span(6, 0, "small_plan", 0.0, 6.0, attrs={"engaged": True}),
    ]
    m = iterloop_metrics(spans, jobs=9)
    assert m["rounds"] == 2
    assert m["swaps"] == 2  # the swap and the materialize under truncate_lineage
    assert m["iterloop_s"] == pytest.approx(3.5)  # small_plan is a regime, not iterloop time
    assert m["jobs_per_round"] == 4.5
    assert m["small_plan"] == 1
    assert iterloop_metrics([], jobs=3)["jobs_per_round"] == 3


def test_recorder_nests_and_finds_descendants():
    rec = Recorder("r")
    with rec.span("workload") as w:
        with rec.span("op") as op:
            with rec.span("inner"):
                pass
        with rec.span("other"):
            pass
    assert [s.parent for s in rec.spans] == [None, w.id, op.id, w.id]
    assert [s.name for s in rec.descendants(op)] == ["inner"]
    assert all(s.run == "r" and s.end >= s.start for s in rec.spans)


def test_tracer_wraps_and_restores_iterloop():
    from cugraph_spark.plans import iterloop

    originals = {n: iterloop.__dict__[n] for n in ("collect_scalars", "materialize", "small_plan")}
    swap = iterloop.FusedSwap.__dict__["swap"]

    class Frame:
        def agg(self, *exprs):
            return self

        def collect(self):
            return [(7, 8)]

    rec = Recorder("r")
    with traced_iterloop(rec):
        assert iterloop.FusedSwap.__dict__["swap"] is not swap
        with rec.span("op") as op:
            assert iterloop.collect_scalars(Frame(), []) == (7, 8)
    assert [s.name for s in rec.descendants(op)] == ["collect_scalars"]
    for name, fn in originals.items():
        assert iterloop.__dict__[name] is fn
    assert iterloop.FusedSwap.__dict__["swap"] is swap


# -- metric names ----------------------------------------------------------------


def test_metric_names_match_pattern_and_benchmark_json():
    e2e = [m["name"] for m in BENCHMARK["end_to_end"]]
    layer = [m["name"] for m in BENCHMARK["per_layer"]]
    assert e2e == list(run.END_TO_END)
    assert layer == run.per_layer_names()
    assert len(set(e2e + layer)) == len(e2e + layer)
    for name in e2e + layer:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert {m["unit"] for m in BENCHMARK["end_to_end"]} <= set(run.END_TO_END.values())
    for m in BENCHMARK["per_layer"]:
        assert m["unit"] == run.layer_unit(m["name"].split(".", 1)[1])
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(run.WORKLOADS)


# -- inputs ------------------------------------------------------------------------


def test_generators_are_seeded():
    a, b = inputs.rmat(6, seed=3), inputs.rmat(6, seed=3)
    assert all(np.array_equal(x, y) for x, y in zip(a, b))
    assert not np.array_equal(a[0], inputs.rmat(6, seed=4)[0])
    src, dst, w = inputs.rmat(6, seed=3)
    assert len(src) == 16 << 6 and src.max() < 64 and dst.max() < 64
    assert w.min() >= 0.1 and w.max() < 1.0
    src, dst, w = inputs.lattice(3, 4, seed=1)
    assert len(src) == 3 * 3 + 2 * 4  # row edges + column edges
    assert np.array_equal(inputs.lattice(3, 4, seed=1)[2], w)
    s2, d2, w2 = inputs.reweight(src, dst, w, seed=2)
    assert s2 is src and d2 is dst and not np.array_equal(w2, w)
    assert np.array_equal(inputs.reweight(src, dst, w, seed=2)[2], w2)


def test_drop_self_loops():
    src, dst, w = inputs.drop_self_loops(np.array([0, 1, 2]), np.array([0, 2, 2]), np.array([0.1, 0.2, 0.3]))
    assert (src.tolist(), dst.tolist(), w.tolist()) == ([1], [2], [0.2])


def test_canonical_edges_symmetrize_and_keep_min_weight():
    src = np.array([0, 1, 2, 2])
    dst = np.array([1, 0, 2, 3])
    w = np.array([0.5, 0.3, 0.9, 0.7])
    s, d, cw = inputs.canonical_edges(src, dst, w)
    assert list(zip(s.tolist(), d.tolist(), cw.tolist())) == [
        (0, 1, 0.3), (1, 0, 0.3), (2, 2, 0.9), (2, 3, 0.7), (3, 2, 0.7)
    ]


# -- oracles on a hand-checked graph --------------------------------------------------

# path 0-1-2 with a chord 0-2, and a separate edge 5-6
TINY = inputs.canonical_edges(
    np.array([0, 1, 0, 5]), np.array([1, 2, 2, 6]), np.array([1.5, 0.25, 2.0, 1.0])
)


def test_bfs_and_wcc_oracles():
    g = oracles.graph(*TINY[:2])
    vs, hops = oracles.bfs(g, 0)
    assert vs.tolist() == [0, 1, 2, 5, 6]
    assert hops.tolist() == [0, 1, 1, oracles.INT_MAX, oracles.INT_MAX]
    _, labels = oracles.wcc(g)
    assert labels.tolist() == [0, 0, 0, 5, 5]


def test_pagerank_oracle_one_step_on_a_path():
    s, d, w = inputs.canonical_edges(np.array([0, 1]), np.array([1, 2]), np.ones(2))
    vs, rank = oracles.pagerank(s, d, w, alpha=0.85, iterations=1)
    # out-degrees 1, 2, 1 from rank 1/3 each: inflow 1/6, 2/3, 1/6
    assert vs.tolist() == [0, 1, 2]
    assert rank == pytest.approx([0.05 + 0.85 / 6, 0.05 + 0.85 * 2 / 3, 0.05 + 0.85 / 6])


def test_pagerank_oracle_spreads_dangling_rank():
    # directed 0 -> 1: vertex 1 is dangling, its rank 1/2 spreads over both
    vs, rank = oracles.pagerank(np.array([0]), np.array([1]), np.array([1.0]), 0.85, 1)
    assert vs.tolist() == [0, 1]
    assert rank == pytest.approx([0.075 + 0.85 * 0.25, 0.075 + 0.85 * 0.75])


def test_compare_and_checksum():
    g = oracles.graph(*TINY[:2])
    vs, hops = oracles.bfs(g, 0)
    shuffled = np.array([2, 0, 6, 1, 5])
    by_vertex = dict(zip(vs.tolist(), hops.tolist()))
    got = [by_vertex[v] for v in shuffled.tolist()]
    assert oracles.compare("bfs", vs, hops, shuffled, got) is None
    assert oracles.compare("bfs", vs, hops, vs, hops + 1) == "bfs: 5 values differ"
    assert oracles.compare("bfs", vs, hops, vs[:4], hops[:4]).startswith("bfs: vertex set")
    _, labels = oracles.wcc(g)
    assert oracles.compare("wcc", vs, labels, vs, labels) is None
    # the same partition under other label values is still wrong: the
    # library labels a component with its smallest vertex id
    assert oracles.compare("wcc", vs, labels, vs, labels * 10 + 3) == "wcc: 5 values differ"

    check = oracles.checksum("bfs", vs, hops)
    assert check == (5, 3, 2.0, 0 * 1 + 1 * 2 + 1 * 3)
    assert oracles.checksum_matches("bfs", check, (5, 3, 2.0, 5.0))
    assert not oracles.checksum_matches("bfs", check, (5, 3, 2.0, 6.0))
    pr = oracles.checksum("pagerank", vs, np.full(5, 0.2))
    assert oracles.checksum_matches("pagerank", pr, (5, 5, 1.0 + 1e-9, pr[3]))
    assert not oracles.checksum_matches("pagerank", pr, (5, 5, 1.0 + 1e-5, pr[3]))


def test_louvain_oracle_on_two_triangles():
    # triangles {0, 1, 2} and {3, 4, 5}, unit weights, joined by 2-3;
    # m = 7 and each side has degree sum 7:
    # Q = 2 * (3/7 - (7/14)**2) = 5/14
    src = np.array([0, 1, 0, 3, 4, 3, 2])
    dst = np.array([1, 2, 2, 4, 5, 5, 3])
    g = oracles.graph(*inputs.canonical_edges(src, dst, np.ones(7)))
    vs = np.arange(6)
    split = np.array([0, 0, 0, 3, 3, 3])
    assert oracles.louvain(g, vs, split, 5 / 14) is None
    assert oracles.louvain(g, vs, split, 5 / 14 + 1e-6).startswith("louvain: modularity")
    # one community: Q = 14/14 - 1 = 0
    assert oracles.louvain(g, vs, np.zeros(6), 0.0) is None
    assert oracles.louvain(g, vs[:5], split[:5], 5 / 14).startswith("louvain: 5 rows")
    assert oracles.louvain(g, np.array([0, 1, 2, 3, 4, 4]), split, 5 / 14) is not None
