"""Span recorder and the ``plans.iterloop`` wrappers of the traced run.

Spans nest through a stack: workload -> op call -> the algorithm call and
its result action -> iterloop primitives. ``FusedSwap.swap`` calls
``collect_scalars``, and ``truncate_lineage`` calls ``materialize``; the
stack makes the inner call a child of the outer one, so time inside the
primitives is the union of their intervals, never the sum. Spans stay in
memory and are written once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from .status import interval_union

# The module-level iterloop primitives and the FusedSwap methods the
# tracer wraps. ``small_plan`` is wrapped too, but as a regime marker: it
# encloses a whole loop, so its span is not counted as iterloop time.
ITERLOOP_FUNCS = ("materialize", "freeze", "truncate_lineage", "collect_scalars")
FUSED_SWAP_METHODS = ("swap", "defer")
SWAP_SPANS = ("materialize", "FusedSwap.swap", "FusedSwap.defer")
ITERLOOP_SPANS = ITERLOOP_FUNCS + ("FusedSwap.swap", "FusedSwap.defer")
ITERLOOP_METRICS = ("rounds", "swaps", "iterloop_s", "jobs_per_round", "small_plan")


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    run: str = ""
    attrs: dict = field(default_factory=dict)


class Recorder:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), parent, name, time.perf_counter(), run=self.run_id, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def descendants(self, root: Span) -> list[Span]:
        """Every span recorded under ``root`` (spans are appended in start
        order, so descendants follow their ancestor)."""
        inside = {root.id}
        out = []
        for sp in self.spans[root.id + 1:]:
            if sp.parent in inside:
                inside.add(sp.id)
                out.append(sp)
        return out

    def write(self, path) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def self_time(span: Span, children) -> float:
    """Duration of ``span`` minus the part of it its children cover."""
    covered = interval_union(
        (max(c.start, span.start), min(c.end, span.end)) for c in children if c.end > span.start
    )
    return (span.end - span.start) - covered


def iterloop_metrics(spans, jobs: int) -> dict:
    """Per-call iterloop metrics from the spans recorded under one call."""
    rounds = sum(1 for s in spans if s.name == "collect_scalars")
    swap_ids = {s.id for s in spans if s.name in SWAP_SPANS}
    swaps = sum(1 for s in spans if s.id in swap_ids and s.parent not in swap_ids)
    return {
        "rounds": rounds,
        "swaps": swaps,
        "iterloop_s": interval_union((s.start, s.end) for s in spans if s.name in ITERLOOP_SPANS),
        # a call with no scalar sync counts as one
        "jobs_per_round": jobs / max(rounds, 1),
        "small_plan": int(any(s.attrs.get("engaged") for s in spans if s.name == "small_plan")),
    }


@contextmanager
def traced_iterloop(rec: Recorder):
    """Wrap the iterloop primitives with spans for the duration of the
    block, then put the originals back."""
    from cugraph_spark.plans import iterloop

    saved = []

    def patch(owner, attr, label, wrapper_of):
        orig = owner.__dict__[attr]
        saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper_of(orig, label))

    def timed(orig, label):
        def wrapper(*args, **kwargs):
            with rec.span(label):
                return orig(*args, **kwargs)

        return wrapper

    def regime(orig, label):
        @contextmanager
        def wrapper(*args, **kwargs):
            with rec.span(label) as sp, orig(*args, **kwargs) as engaged:
                sp.attrs["engaged"] = bool(engaged)
                yield engaged

        return wrapper

    try:
        for name in ITERLOOP_FUNCS:
            patch(iterloop, name, name, timed)
        for name in FUSED_SWAP_METHODS:
            patch(iterloop.FusedSwap, name, f"FusedSwap.{name}", timed)
        patch(iterloop, "small_plan", "small_plan", regime)
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
