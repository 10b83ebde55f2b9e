"""Graph-analytics benchmark of ``cugraph_spark``.

    python3 perfbench/run.py --workload grid-deep --seed 1 --seconds 10 --trace 0

One run builds the workload's graphs from seeded inputs, calls the
headline operators through the public API, checks every result against an
oracle computed with NumPy and networkx, and prints one line per metric
(``name value unit``) followed by one JSON object as the last line of
standard output.

``--trace 0`` prints the end-to-end metrics, timed with no tracing
installed. ``--trace 1`` prints the per-layer metrics of traced calls:
Spark runtime figures from the status store per ``<workload>:<op>`` job
group, the iterloop primitives seen through wrappers installed from this
package, and the algorithm call split into its loop and its result action.
``<op>.wall_s`` of a traced run minus ``<op>_s`` of an untraced run of the
same workload is the tracing overhead. Spans go to
``.bench_build/perfbench/``.

Everything the run writes (Spark local dirs, temp files, spans) stays under
``.bench_build/`` of the checkout the command runs from.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

import numpy as np  # noqa: E402

from perfbench import inputs, oracles  # noqa: E402
from perfbench.status import SPARK_METRICS, StatusReader  # noqa: E402
from perfbench.tracer import ITERLOOP_METRICS, Recorder, iterloop_metrics, self_time, traced_iterloop  # noqa: E402

WORK_DIR = ROOT / ".bench_build" / "perfbench"

# pagerank, bfs and wcc run on ``graph``, louvain on ``louvain_graph``.
# Every shape is the same in every run: R-MAT edges are drawn from
# SHAPE_SEED. The run's seed draws the weights of ``graph``, which change
# every value pagerank returns but none of the work. How many rounds bfs
# and wcc take depends on the shape (the hub of an R-MAT scale-14 graph
# reaches its whole component in 3 hops for about one seed in four, in 4
# for the rest), and how many levels and moves louvain makes depends on the
# weights too, so ``louvain_graph`` takes its weights from SHAPE_SEED as
# well. Seeded shapes would move the timings by changing the work rather
# than the speed.
WORKLOADS = {
    "grid-deep": {"graph": ("lattice", 4, 4), "louvain_graph": ("lattice", 3, 3)},
    "rmat-14": {"graph": ("rmat", 14), "louvain_graph": ("rmat", 4)},
}
SHAPE_SEED = 0
OPS = ("pagerank", "bfs", "wcc", "louvain")
LAYER_OPS = ("build",) + OPS
ALPHA = 0.85
PAGERANK_ITERS = 5
BUILDS = 3  # after one cold build
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "cache_mb": "MB",
    "pagerank_s": "s",
    "bfs_s": "s",
    "wcc_s": "s",
    "louvain_s": "s",
}
LAYER_METRICS = SPARK_METRICS + ITERLOOP_METRICS + ("loop_s", "result_s", "wall_s")
_UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "rounds": "count",
          "swaps": "count", "small_plan": "flag", "jobs_per_round": "ratio"}


def layer_unit(metric: str) -> str:
    return _UNITS.get(metric, "MB" if metric.endswith("_mb") else "s")


def per_layer_names() -> list[str]:
    return [f"{op}.{m}" for op in LAYER_OPS for m in LAYER_METRICS]


# -- inputs and oracles -------------------------------------------------------


class GraphInput:
    """Input edges of one graph, its weights drawn from ``seed``, and the
    canonical edge set the library stores for them."""

    def __init__(self, spec: tuple, seed: int, self_loops: bool = True):
        kind, *size = spec
        if kind == "lattice":
            self.raw = inputs.lattice(*size, seed)
        else:
            self.raw = inputs.reweight(*inputs.rmat(*size, SHAPE_SEED), seed)
        if not self_loops:
            self.raw = inputs.drop_self_loops(*self.raw)
        self.edges = inputs.canonical_edges(*self.raw)
        self.n_edges = len(self.edges[0])
        self.n_vertices = len(np.unique(self.edges[0]))


class Inputs:
    """The workload's graphs and the oracle's answers for every op."""

    def __init__(self, workload: str, seed: int):
        spec = WORKLOADS[workload]
        # modularity conventions differ on self-loops (networkx counts a
        # loop twice in a degree, the library once), so the graph louvain
        # is checked on is loop-free
        self.graphs = [
            GraphInput(spec["graph"], seed),
            GraphInput(spec["louvain_graph"], SHAPE_SEED, self_loops=False),
        ]
        s, d, w = self.graphs[0].edges
        # lattice: the corner, one end of the diameter; R-MAT: the hub
        self.source = 0 if spec["graph"][0] == "lattice" else int(np.argmax(np.bincount(s)))
        g = oracles.graph(s, d)
        self.expected = {
            "pagerank": oracles.pagerank(s, d, w, ALPHA, PAGERANK_ITERS),
            "bfs": oracles.bfs(g, self.source),
            "wcc": oracles.wcc(g),
        }
        self.checks = {op: oracles.checksum(op, *ans) for op, ans in self.expected.items()}
        self.louvain_graph = oracles.graph(*self.graphs[1].edges)


# -- Spark lifetime ------------------------------------------------------------


def start_spark():
    """A local session on every core, with all scratch space in WORK_DIR
    and the library's knobs at their defaults."""
    local, tmp = WORK_DIR / "spark-local", WORK_DIR / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp}"),
            "pyspark-shell",
        ]
    )
    from cugraph_spark.session import get_spark

    return get_spark("perfbench")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the session launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- the benchmark ---------------------------------------------------------------


def checksum_exprs(op: str, col: str):
    """The Spark side of ``oracles.checksum``: one aggregate over the
    result, computed on the executors."""
    from pyspark.sql import functions as F

    v = F.col(col).cast("double")
    reached = F.col(col) < F.lit(oracles.INT_MAX if op == "bfs" else float("inf"))
    weight = (F.col("vertex") % oracles.CHECK_MOD + 1).cast("double")
    return [
        F.count(F.lit(1)),
        F.count(F.when(reached, 1)),
        F.sum(F.when(reached, v)),
        F.sum(F.when(reached, v * weight)),
    ]


VALUE_COL = {"pagerank": "pagerank", "bfs": "distance", "wcc": "labels"}


class Bench:
    def __init__(self, spark, workload: str, seed: int, data: Inputs, trace: bool):
        import cugraph_spark

        self.api = cugraph_spark
        self.spark = spark
        self.workload = workload
        self.data = data
        self.trace = trace
        self.status = StatusReader(spark)
        self.rec = Recorder(f"{workload}:seed{seed}:trace{int(trace)}")
        self.attempted = 0
        self.failures: list[str] = []
        self.walls = defaultdict(list)  # op -> s
        self.layers = defaultdict(lambda: defaultdict(list))  # op -> metric -> values
        self.cache_mb = 0.0

    def _call(self, op: str, fn, check, traced: bool = False, sample: bool = True):
        """One op call. ``fn`` runs the op; ``check`` is a pair of
        functions: the first runs the result action on ``fn``'s output and
        returns a local value, both timed; the second compares that value
        with the oracle, untimed, and returns None or the reason it is
        wrong. Returns ``fn``'s output, or None if the call raised."""
        result, verify = check
        group = f"{self.workload}:{op}"
        self.status.set_group(group)
        if traced:
            self.status.mark(group)
        self.attempted += 1
        try:
            with self.rec.span(op, traced=traced) as op_span:
                with self.rec.span(f"{op}.call"), traced_iterloop(self.rec) if traced else nullcontext():
                    t0 = time.perf_counter()
                    out = fn()
                    t1 = time.perf_counter()
                with self.rec.span(f"{op}.result"):
                    local = result(out)
                    t2 = time.perf_counter()
            problem = verify(local)
        except Exception:  # a failing op counts as failed; the run goes on
            self.failures.append(f"{op}: raised")
            traceback.print_exc()
            return None
        if problem:
            self.failures.append(problem)
            return out
        print(f"{self.workload} {op}{' traced' if traced else ''} {t2 - t0:.3f} s", file=sys.stderr)
        if sample:
            self.walls[op].append(t2 - t0)
        if traced:
            st = self.status.read(group, t2 - t0)
            found = {**st, **iterloop_metrics(self.rec.descendants(op_span), st["jobs"])}
            found.update(loop_s=t1 - t0, result_s=t2 - t1, wall_s=t2 - t0)
            for key, val in found.items():
                self.layers[op][key].append(val)
        return out

    def _inputs(self):
        """The seeded edges of every graph as materialized leaves, so that
        builds time the library and not the conversion from pandas."""
        import pandas as pd

        self.status.set_group(f"{self.workload}:input")
        leaves = []
        for gi in self.data.graphs:
            src, dst, w = gi.raw
            edges = self.spark.createDataFrame(pd.DataFrame({"src": src, "dst": dst, "weight": w}))
            leaves.append(edges.localCheckpoint(eager=True))
        return leaves

    def _build(self, leaves, traced: bool = False, sample: bool = True):
        """Build every graph of the workload: one call, one set-up."""

        def build():
            return [
                self.api.Graph(directed=False).from_edgelist(e, "src", "dst", weight="weight")
                for e in leaves
            ]

        def counts(gs):
            return [(g.number_of_vertices(), g.number_of_edges(directed_edges=True)) for g in gs]

        def verify(got):
            want = [(gi.n_vertices, gi.n_edges) for gi in self.data.graphs]
            return None if got == want else f"build: (vertices, edges) {got} != {want}"

        return self._call("build", build, (counts, verify), traced, sample)

    def _op_fn(self, op: str, gs):
        api, source, g = self.api, self.data.source, gs[0]
        return {
            "pagerank": lambda: api.pagerank(
                g, alpha=ALPHA, max_iter=PAGERANK_ITERS, tol=0.0, fail_on_nonconvergence=False
            ),
            "bfs": lambda: api.bfs(g, source),
            "wcc": lambda: api.weakly_connected_components(g),
            "louvain": lambda: api.louvain(gs[1]),
        }[op]

    def _louvain_check(self):
        """Louvain's result is small in every workload, so every call is
        checked in full: the partition must cover every vertex and its
        networkx modularity must equal the reported one."""

        def result(out):
            parts, q = out
            return parts.select("vertex", "partition").toPandas(), q

        def verify(got):
            pdf, q = got
            return oracles.louvain(
                self.data.louvain_graph, pdf["vertex"].to_numpy(), pdf["partition"].to_numpy(), q
            )

        return result, verify

    def _full_check(self, op: str):
        if op == "louvain":
            return self._louvain_check()
        col = VALUE_COL[op]

        def result(df):
            return df.select("vertex", col).toPandas()

        def verify(pdf):
            vs, expected = self.data.expected[op]
            return oracles.compare(op, vs, expected, pdf["vertex"].to_numpy(), pdf[col].to_numpy())

        return result, verify

    def _checksum(self, op: str):
        if op == "louvain":
            return self._louvain_check()

        def result(df):
            row = df.agg(*checksum_exprs(op, VALUE_COL[op])).collect()[0]
            return tuple(0.0 if x is None else x for x in row)

        def verify(got):
            if oracles.checksum_matches(op, self.data.checks[op], got):
                return None
            return f"{op}: checksum {got} != oracle {self.data.checks[op]}"

        return result, verify

    def _pass(self, gs, check, traced: bool = False, sample: bool = True):
        for op in OPS:
            self._call(op, self._op_fn(op, gs), check(op), traced, sample)

    def _unpersist(self, gs) -> None:
        for g in gs:
            g.unpersist()

    def run(self, seconds: float) -> None:
        """Build the graphs cold and warm every op on them, checked in
        full. Build BUILDS more times, keeping the last graphs; these builds
        give ``setup_s``. Then time passes over OPS for at most ``seconds``,
        at least one. A traced run traces every build and pass after the
        warm-up."""
        with self.rec.span(self.workload):
            leaves = self._inputs()
            input_mb = self.status.storage_mb()
            gs = self._build(leaves, sample=False)
            if gs is None:
                return
            # storage held by the graphs alone, measured before any op
            # leaves checkpoint blocks behind: the inputs' blocks are not
            # counted
            self.cache_mb = self.status.storage_mb() - input_mb
            self._pass(gs, self._full_check, sample=False)
            for _ in range(BUILDS):
                self._unpersist(gs)
                gs = self._build(leaves, traced=self.trace)
                if gs is None:
                    return
            t_start = time.perf_counter()
            passes = 0
            # another pass starts only if a pass of the mean length so far
            # still ends within ``seconds``: a slow machine gets fewer
            # samples, not a longer run
            while passes == 0 or (time.perf_counter() - t_start) * (passes + 1) / passes <= seconds:
                self._pass(gs, self._checksum, traced=self.trace)
                passes += 1
            self._unpersist(gs)

    def metrics(self) -> dict:
        """End-to-end metrics of a plain run, per-layer ones of a traced run."""
        if not self.trace:
            out = {"setup_s": _median(self.walls["build"]), "cache_mb": self.cache_mb}
            out.update({f"{op}_s": _median(self.walls[op]) for op in OPS})
            return {k: (v, END_TO_END[k]) for k, v in out.items()}
        out = {}
        for op in LAYER_OPS:
            found = {m: _median(v) for m, v in self.layers[op].items()}
            out.update({f"{op}.{m}": (found.get(m, float("nan")), layer_unit(m)) for m in LAYER_METRICS})
        return out

    def self_times(self) -> dict:
        """Total self time per span name, over the traced calls."""
        totals = defaultdict(float)
        for root in [s for s in self.rec.spans if s.attrs.get("traced")]:
            inside = [root] + self.rec.descendants(root)
            kids = defaultdict(list)
            for sp in inside[1:]:
                kids[sp.parent].append(sp)
            for sp in inside:
                totals[sp.name] += self_time(sp, kids[sp.id])
        return dict(totals)


def _median(values) -> float:
    return statistics.median(values) if values else float("nan")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import cugraph_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import cugraph_spark from {ROOT}: {exc}", file=sys.stderr)
        return 2

    t0 = time.perf_counter()
    # the oracle runs while the JVM starts; neither is timed
    with ThreadPoolExecutor(max_workers=1) as pool:
        pending = pool.submit(Inputs, args.workload, args.seed)
        spark = start_spark()
        try:
            data = pending.result()
        except BaseException:
            stop_spark(spark)
            raise
    t1 = time.perf_counter()
    try:
        bench = Bench(spark, args.workload, args.seed, data, bool(args.trace))
        bench.run(args.seconds)
        metrics = bench.metrics()
    finally:
        t2 = time.perf_counter()
        stop_spark(spark)
    print(f"start {t1 - t0:.1f} s, run {t2 - t1:.1f} s, stop {time.perf_counter() - t2:.1f} s", file=sys.stderr)

    if args.trace:
        WORK_DIR.mkdir(parents=True, exist_ok=True)
        bench.rec.write(WORK_DIR / f"spans-{args.workload}-seed{args.seed}.json")
        for name, secs in sorted(bench.self_times().items(), key=lambda kv: -kv[1]):
            print(f"self_time {name} {secs:.4f} s", file=sys.stderr)
    failed = len(bench.failures)
    for msg in bench.failures:
        print(f"FAILED {msg}", file=sys.stderr)
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"failed_ops_frac {failed / max(bench.attempted, 1):.6g} ratio")
    # a metric with no successful sample is reported as null, never NaN
    values = {k: (v if np.isfinite(v) else None, u) for k, (v, u) in metrics.items()}
    print(
        json.dumps(
            {
                "correct": failed == 0 and None not in (v for v, _ in values.values()),
                "attempted": bench.attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
