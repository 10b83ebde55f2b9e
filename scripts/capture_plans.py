"""Capture .explain("formatted") for the headline bench queries into
plans/r06/<query>_<tag>.txt (judge evidence, guide §1.2/§7.2).

For the iterative operators the meaningful plan is the PER-ITERATION
body (the returned DataFrame is a checkpointed leaf + unrenumber), so in
addition to the output plan this reconstructs one loop-body iteration
exactly as the implementation builds it and explains that.

Usage: python scripts/capture_plans.py <tag>   # tag = before | after
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SUPP_OFFSET = 20_000_000
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def save(name: str, tag: str, *sections: tuple[str, str]) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
    with open(path, "w") as f:
        for title, body in sections:
            f.write(f"=== {title} ===\n{body}\n")
    print(f"wrote {path}", flush=True)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    from cugraph_spark.session import get_spark
    from cugraph_spark import Graph, pagerank, bfs, sssp, weakly_connected_components
    from cugraph_spark.constants import SRC, DST
    from cugraph_spark.plans import iterloop

    spark = get_spark("capture_plans")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")

    # mirrors bench _build_cs: no .distinct() (r6 — from_edgelist dedups
    # after its one build shuffle; the pre-distinct was a redundant
    # second E-sized Exchange)
    cs = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(SUPP_OFFSET)).alias("dst"),
        )
    )
    save("graph_build_input", tag, ("bench _build_cs input (join+distinct) plan", explain_str(cs)))

    g = Graph(directed=False)
    g.from_edgelist(cs, "src", "dst")
    g.number_of_edges(directed_edges=True)
    n = g.number_of_vertices()
    save(
        "graph_build",
        tag,
        ("canonical cached edgelist (scan plan algorithms consume)", explain_str(g.edgelist)),
        ("internal vertices", explain_str(g.vertices_internal)),
    )

    # pagerank fast-path loop body: one message-join+agg iteration as the
    # implementation builds it (uniform p, all-have-in branch)
    edges = g.edgelist
    out_w = edges.groupBy(SRC).agg(F.sum(F.lit(1.0)).alias("_ow"))
    # jk/gk mirror the implementation's aligned-aggregation flip
    # (iterloop.sym_aligned_agg): on symmetrized graphs in the broadcast
    # regime the state joins on DST and the message agg keys on SRC so it
    # runs inside the cached edge partitioning (no Exchange)
    jk, gk = (DST, SRC) if iterloop.sym_aligned_agg(g, n) else (SRC, DST)
    if jk == DST:
        norm_edges = edges.join(
            iterloop.hint_state_join(out_w.select(F.col(SRC).alias(DST), "_ow"), n), DST
        ).select(SRC, DST, (F.lit(1.0) / F.col("_ow")).alias("_coef"))
    else:
        norm_edges = edges.join(out_w, SRC).select(SRC, DST, (F.lit(1.0) / F.col("_ow")).alias("_coef"))
    ranks0 = g.vertices_internal.select("vertex", F.lit(1.0 / n).alias("_rank"))
    ranks0 = iterloop.materialize(ranks0)
    alpha = 0.85
    with iterloop.small_plan(spark, n):
        body = (
            norm_edges.join(
                iterloop.hint_state_join(ranks0.select(F.col("vertex").alias(jk), "_rank"), n),
                jk,
            )
            .groupBy(F.col(gk).alias("vertex"))
            .agg((F.lit((1.0 - alpha) / n) + alpha * F.sum(F.col("_coef") * F.col("_rank"))).alias("_rank"))
        )
        save("pagerank_loop_body", tag, ("fast-path per-iteration join+agg (inside small_plan)", explain_str(body)))
    pr = pagerank(g, max_iter=3, tol=0.0, fail_on_nonconvergence=False)
    save("pagerank_output", tag, ("returned DataFrame (leaf + unrenumber)", explain_str(pr)))

    # bfs level body
    visited = spark.createDataFrame([(1, 0, -1)], "vertex long, distance int, predecessor long")
    frontier = visited.select("vertex")
    with iterloop.small_plan(spark, n):
        nxt = (
            edges.select(SRC, DST)
            .join(iterloop.hint_state_join(frontier.withColumnRenamed("vertex", jk), n), jk)
            .groupBy(F.col(gk).alias("vertex"))
            .agg(F.min(jk).alias("predecessor"))
            .join(iterloop.hint_state_join(visited.select("vertex"), n), "vertex", "left_anti")
        )
        save("bfs_level_body", tag, ("per-level expand+dedup+anti-join (inside small_plan)", explain_str(nxt)))
    bf = bfs(g, 1)
    save("bfs_output", tag, ("returned DataFrame", explain_str(bf)))

    # wcc round body
    from cugraph_spark.components.connectivity import _min_label_round

    labels = iterloop.materialize(g.vertices_internal.select("vertex", F.col("vertex").alias("label")))
    with iterloop.small_plan(spark, n):
        new_labels = _min_label_round(edges.select(SRC, DST), labels, n, jk, gk)
        save("wcc_round_body", tag, ("per-round min-label propagation (inside small_plan)", explain_str(new_labels)))
    wc = weakly_connected_components(g)
    save("wcc_output", tag, ("returned DataFrame", explain_str(wc)))

    # sssp on the weighted ps graph
    ps = lineitem.groupBy(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + F.lit(SUPP_OFFSET)).alias("dst"),
    ).agg(F.sum("l_quantity").alias("weight"))
    g2 = Graph(directed=False)
    g2.from_edgelist(ps, "src", "dst", weight="weight")
    n2 = g2.number_of_vertices()
    e2 = g2.edgelist.select(SRC, DST, F.col("weight").cast("double").alias("_w"))
    dist0 = spark.createDataFrame(
        [(1, 0.0, -1, True)], "vertex long, distance double, predecessor long, _impr boolean"
    )
    dist0 = iterloop.materialize(dist0)
    jk2, gk2 = (DST, SRC) if iterloop.sym_aligned_agg(g2, n2) else (SRC, DST)
    with iterloop.small_plan(spark, n2):
        cand = (
            e2.join(
                iterloop.hint_state_join(
                    dist0.filter(F.col("_impr")).select(F.col("vertex").alias(jk2), F.col("distance").alias("_d")),
                    n2,
                ),
                jk2,
            )
            .select(F.col(gk2).alias("vertex"), (F.col("_d") + F.col("_w")).alias("_nd"), F.col(jk2).alias("_np"))
            .groupBy("vertex")
            .agg(F.min(F.struct(F.col("_nd"), F.col("_np"))).alias("_best"))
            .select("vertex", F.col("_best._nd").alias("_nd"), F.col("_best._np").alias("_np"))
        )
        better = F.col("_nd").isNotNull() & (F.col("distance").isNull() | (F.col("_nd") < F.col("distance")))
        body = dist0.join(cand, "vertex", "full_outer").select(
            "vertex",
            F.when(better, F.col("_nd")).otherwise(F.col("distance")).alias("distance"),
            F.when(better, F.col("_np")).otherwise(F.col("predecessor")).alias("predecessor"),
            better.alias("_impr"),
        )
        save("sssp_round_body", tag, ("per-round relax+update (inside small_plan)", explain_str(body)))
    ss = sssp(g2, 1)
    save("sssp_output", tag, ("returned DataFrame", explain_str(ss)))

    spark.stop()


if __name__ == "__main__":
    main()
