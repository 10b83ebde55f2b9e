"""Connected components.

Reference: /root/reference/python/cugraph/cugraph/components/connectivity.py:86
(``weakly_connected_components`` → (vertex, labels)), :185 (scc), :283
(dispatcher). C++: components/weakly_connected_components_impl.cuh.

Spark mapping (SURVEY §2.E):

- WCC: hash-min label propagation (``min_label_components``, shared with
  Leiden's refinement split and Borůvka's component merge): each round
  every vertex adopts the min label in its closed neighborhood, so the
  loop takes O(diameter) rounds. Labels are the MIN vertex id in the
  component — deterministic, unlike the reference's arbitrary
  representative, and SQL-checkable.

- SCC: multi-pivot forward-backward *coloring* (Orzan 2004 / Slota et
  al. "BFS and Coloring-Based Parallel Algorithms for Strongly
  Connected Components", IPDPS 2014 — public algorithms), with
  pointer-doubled propagation. Per outer round: (1) forward coloring
  cf(v) = max-priority vertex that reaches v — propagated along edges
  AND via label→label pointer jumps, which squares the radius per pass
  so the inner loop is O(log longest-path); (2) cut every edge whose
  endpoints disagree on cf (an SCC never spans cf classes — any v→root
  path stays inside the class); (3) backward coloring d on the
  restricted edges; v belongs to its class root's SCC iff d(v) is the
  root; (4) emit those SCCs (relabelled min-vertex-id for determinism),
  drop their vertices, and cut edges whose endpoints disagree on d
  (sound for the same reason). EVERY class root's SCC completes each
  round — no driver-side per-pivot sequencing — and the d-based edge
  cut shatters path-shaped condensations so adversarial many-SCC chains
  finish in a handful of rounds (see tests/test_components.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..constants import SRC, DST
from ..plans import iterloop
from ..structure.graph import Graph
from ..structure.symmetrize import add_reverse_edges


def _min_label_round(
    edges: DataFrame, cur: DataFrame, n_hint: int | None, jk: str, gk: str
) -> DataFrame:
    """One hash-min pass: every vertex adopts the min label of its closed
    neighborhood. Returns (vertex, label, _old)."""
    nbr_min = (
        edges.join(
            iterloop.hint_state_join(cur.select(F.col("vertex").alias(jk), "label"), n_hint),
            jk,
        )
        .groupBy(F.col(gk).alias("vertex"))
        .agg(F.min("label").alias("_nbr"))
    )
    # nbr_min is V-bounded: broadcast it so the labels leaf is not
    # re-shuffled+sorted for a sort-merge join every round
    return cur.join(iterloop.hint_state_join(nbr_min, n_hint), "vertex", "left").select(
        "vertex",
        F.least(F.col("label"), F.coalesce("_nbr", F.col("label"))).alias("label"),
        F.col("label").alias("_old"),
    )


def min_label_components(
    edges: DataFrame, labels: DataFrame, n_hint: int | None, jk: str = SRC, gk: str = DST
) -> DataFrame:
    """Fixpoint of min-label propagation over a symmetric ``(src, dst)``
    edge set, starting from ``(vertex, label)``; returns ``(vertex,
    label)``. Starting from label = vertex id this labels every vertex
    with the min id of its connected component. Takes O(diameter) rounds.

    ``jk``/``gk`` pick the endpoint the state joins on and the one the
    message aggregates by; on a symmetric edge set either orientation
    gives the same fixpoint (see iterloop.sym_aligned_agg). ``n_hint``
    bounds the vertex count for the broadcast-hint decision. Callers own
    the loop regime (iterloop.small_plan)."""
    labels = iterloop.materialize(labels)
    # Per-round state swap + convergence scalar fused into ONE job
    # (iterloop.FusedSwap): the new label table is local-checkpointed
    # lazily (plan becomes a leaf immediately) and the changed-labels agg
    # is the action that materializes the blocks. Reliable-checkpoint
    # mode keeps the eager two-job cadence inside swap().
    fs = iterloop.FusedSwap()
    while True:
        new, (changes,) = fs.swap(
            _min_label_round(edges, labels, n_hint, jk, gk),
            [F.sum((F.col("label") != F.col("_old")).cast("long"))],
        )
        labels = new.select("vertex", "label")
        if not changes:
            return labels


def _ensure_legacy_args(api_name: str, directed, connection, return_labels) -> None:
    """Reference parity (connectivity.py:18 _ensure_args): the cupy/scipy
    compat kwargs are rejected for Graph-type inputs, and ``connection``
    must name the API being called."""
    exc_value = "'%s' cannot be specified for a Graph-type input"
    if directed is not None:
        raise TypeError(exc_value % "directed")
    if return_labels is not None:
        raise TypeError(exc_value % "return_labels")
    want = api_name.split("_", 1)[0].replace("weakly", "weak").replace("strongly", "strong")
    if (connection is not None) and (connection != want):
        raise TypeError(f"'connection' must be '{want}' for {api_name}()")


def weakly_connected_components(
    G: Graph, directed=None, connection=None, return_labels=None
) -> DataFrame:
    """Returns (vertex, labels); label = min vertex id in the component."""
    _ensure_legacy_args("weakly_connected_components", directed, connection, return_labels)
    edges = G.edgelist.select(SRC, DST)
    if G.is_directed():
        edges = add_reverse_edges(edges)

    labels = G.vertices_internal.select("vertex", F.col("vertex").alias("label"))
    # Aligned-aggregation flip (iterloop.sym_aligned_agg): labels join on
    # DST, min-label aggregates by SRC inside the cached edge
    # partitioning — no per-round Exchange. Only fires for graphs whose
    # stored edge list is symmetric (directed inputs go through the
    # add_reverse_edges union above, which loses the partitioning anyway).
    jk, gk = (
        (DST, SRC)
        if iterloop.sym_aligned_agg(G, G.number_of_vertices())
        else (SRC, DST)
    )
    with iterloop.small_plan(edges.sparkSession, G.number_of_vertices()):
        labels = min_label_components(edges, labels, G.number_of_vertices(), jk, gk)

    out = labels.withColumnRenamed("label", "labels")
    out = G.unrenumber(out, "vertex")
    if G.is_renumbered():
        # labels are internal ids of representatives; map them back too
        out = G.unrenumber(out, "labels")
    return out


# Filled in by strongly_connected_components for test introspection:
# {"outer_rounds": int, "inner_rounds": int}
_last_scc_stats: dict = {}


def _max_coloring(
    verts: DataFrame, edges: DataFrame, from_col: str, to_col: str,
    n_hint: int, seed: int,
) -> tuple[DataFrame, int]:
    """Fixpoint of c(v) = max over (priority, id) of {c(v)} ∪
    {c(u) : (u→v) ∈ edges} ∪ {c(c(v).id)} — i.e. the max-priority vertex
    with a ``from_col``→``to_col`` path to v, computed with pointer
    doubling so rounds are O(log longest-path), not O(longest-path).

    Priorities are xxhash64(vertex, seed): deterministic, but decoupled
    from id order so adversarially-ordered inputs can't force the
    one-class-per-round degeneracy of id-max coloring. Returns
    ((vertex, cp, cid), rounds)."""
    c = iterloop.materialize(
        verts.select(
            "vertex",
            F.xxhash64("vertex", F.lit(seed)).alias("cp"),
            F.col("vertex").alias("cid"),
        )
    )
    rounds = 0
    fs = iterloop.FusedSwap()  # swap + changed-count fused into one job
    while True:
        rounds += 1
        nbr = (
            edges.join(
                iterloop.hint_state_join(
                    c.select(F.col("vertex").alias(from_col), "cp", "cid"), n_hint
                ),
                from_col,
            )
            .groupBy(F.col(to_col).alias("vertex"))
            .agg(F.max(F.struct("cp", "cid")).alias("_nb"))
        )
        jump = c.select(
            F.col("vertex").alias("_jv"), F.struct("cp", "cid").alias("_jc")
        )
        own = F.struct("cp", "cid")
        new = (
            c.join(iterloop.hint_state_join(nbr, n_hint), "vertex", "left")
            .join(
                # cid-keyed: color classes consolidate toward a few giant
                # values, so a shuffle join would funnel most rows into
                # one task; the broadcast hash join is skew-immune
                iterloop.hint_state_join(jump, n_hint),
                F.col("cid") == F.col("_jv"),
                "left",
            )
            .select(
                "vertex",
                F.greatest(own, F.coalesce("_nb", own), F.coalesce("_jc", own)).alias("_c"),
                F.col("cid").alias("_old"),
            )
            .select(
                "vertex", F.col("_c.cp").alias("cp"), F.col("_c.cid").alias("cid"), "_old"
            )
        )
        new, (changes,) = fs.swap(
            new, [F.sum((F.col("cid") != F.col("_old")).cast("long"))]
        )
        c = new.select("vertex", "cp", "cid")
        if not changes:
            return c, rounds


def strongly_connected_components(
    G: Graph, directed=None, connection=None, return_labels=None
) -> DataFrame:
    """Multi-pivot coloring SCC (SURVEY §2.E). Returns (vertex, labels),
    label = min vertex id in the SCC — same deterministic labelling the
    SQL oracle checks, independent of the internal hash priorities.

    Replaces the round-1 per-pivot FW-BW loop (one SCC per driver round,
    O(#SCCs) rounds on many-SCC digraphs — the reference handles these in
    cpp/src/components/strongly_connected_components_impl.cuh). Here ALL
    color-class roots complete per round and the cf/d edge cuts shatter
    the condensation, so a 1,000-SCC chain finishes in a few rounds; see
    the module docstring for the scheme and soundness argument.
    """
    _ensure_legacy_args(
        "strongly_connected_components", directed, connection, return_labels
    )
    if not G.is_directed():
        return weakly_connected_components(G)

    n_v = G.number_of_vertices()
    n_e = G.number_of_edges(directed_edges=True) or 0
    edges = iterloop.materialize(
        G.edgelist.select(SRC, DST).filter(F.col(SRC) != F.col(DST)).distinct()
    )
    verts = iterloop.materialize(G.vertices_internal.select("vertex"))
    pieces: list[DataFrame] = []  # one (vertex, labels) piece per outer round
    outer = 0
    inner = 0
    # Outer-round intermediates (e_cls, found, shrunken edges) are lazy
    # leaf-swaps (defer): the coloring loops / the verts swap materialize
    # their blocks as part of their own jobs. The remaining-vertices count
    # is fused with the verts swap.
    fs = iterloop.FusedSwap()
    n_rem = verts.count()
    with iterloop.small_plan(edges.sparkSession, n_v, shuffled_rows=max(n_v, n_e)):
        while True:
            if n_rem == 0:
                break
            outer += 1
            # (1) forward coloring: cf(v) = max-priority vertex reaching v
            cf, r1 = _max_coloring(verts, edges, SRC, DST, n_v, seed=42)
            inner += r1
            # (2) an SCC never spans cf classes — cut cross-class edges
            cf_s = cf.select(F.col("vertex").alias(SRC), F.col("cid").alias("_cs"))
            cf_d = cf.select(F.col("vertex").alias(DST), F.col("cid").alias("_cd"))
            e_cls = (
                edges.join(iterloop.hint_state_join(cf_s, n_v), SRC)
                .join(iterloop.hint_state_join(cf_d, n_v), DST)
                .filter(F.col("_cs") == F.col("_cd"))
                .select(SRC, DST)
            )
            e_cls = fs.defer(e_cls)
            # (3) backward coloring within classes: d(v) = max-priority
            # same-class vertex reachable FROM v. The class root is the
            # max-priority member, so v ∈ SCC(root) iff d(v) == cf(v).
            d, r2 = _max_coloring(verts, e_cls, DST, SRC, n_v, seed=42)
            inner += r2
            state = cf.select("vertex", F.col("cid").alias("_root")).join(
                iterloop.hint_state_join(
                    d.select("vertex", F.col("cid").alias("_d")), n_v
                ),
                "vertex",
            )
            member = state.filter(F.col("_root") == F.col("_d")).select("vertex", "_root")
            # (4) deterministic labels: min vertex id per found SCC
            lab = member.groupBy("_root").agg(F.min("vertex").alias("labels"))
            found = fs.defer(
                member.join(iterloop.hint_state_join(lab, n_v), "_root")
                .select("vertex", "labels")
            )
            pieces.append(found)
            # shrink: drop found vertices; keep only edges whose endpoints
            # agree on d (intra-SCC paths never leave a d class) and
            # whose endpoints both survive
            d_s = d.select(F.col("vertex").alias(SRC), F.col("cid").alias("_ds"))
            d_d = d.select(F.col("vertex").alias(DST), F.col("cid").alias("_dd"))
            edges = fs.defer(
                e_cls.join(iterloop.hint_state_join(d_s, n_v), SRC)
                .join(iterloop.hint_state_join(d_d, n_v), DST)
                .filter(F.col("_ds") == F.col("_dd"))
                .select(SRC, DST)
                .join(
                    iterloop.hint_state_join(
                        found.select(F.col("vertex").alias(SRC)), n_v
                    ),
                    SRC,
                    "left_anti",
                )
                .join(
                    iterloop.hint_state_join(
                        found.select(F.col("vertex").alias(DST)), n_v
                    ),
                    DST,
                    "left_anti",
                )
            )
            verts, (n_rem,) = fs.swap(
                verts.join(iterloop.hint_state_join(found, n_v), "vertex", "left_anti"),
                [F.count(F.lit(1))],
            )

    global _last_scc_stats
    _last_scc_stats = {"outer_rounds": outer, "inner_rounds": inner}
    out = pieces[0]
    for r in pieces[1:]:
        out = out.unionByName(r)
    out = G.unrenumber(out, "vertex")
    if G.is_renumbered():
        out = G.unrenumber(out, "labels")
    return out


def connected_components(
    G: Graph, directed=None, connection: str = "weak", return_labels=None
) -> DataFrame:
    """Dispatcher (connectivity.py:283)."""
    if connection == "weak":
        return weakly_connected_components(G, directed, None, return_labels)
    if connection == "strong":
        return strongly_connected_components(G, directed, None, return_labels)
    raise ValueError(f"unknown connection type {connection!r}")
