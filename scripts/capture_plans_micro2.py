"""Capture .explain("formatted") for the remaining r6 session-3 touches:
SCC coloring-round body, louvain modularity_of / contraction bodies, and
the extract_bfs_paths step join. Companion to capture_plans_micro.py
(same tag convention: `before` reconstructs the pre-sweep shape inline,
`after` mirrors HEAD).

Usage: python scripts/capture_plans_micro2.py <tag>   # tag = before | after
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06"
)


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
    from cugraph_spark.constants import SRC, DST
    from cugraph_spark.plans import iterloop
    import queries_registry as reg

    spark = get_spark("capture_plans_micro2", shuffle_partitions=8)
    after = tag != "before"

    # ---- SCC coloring-round body (components/connectivity.py) -------
    gd = reg.nation_flow_graph(spark, SF_DIR, directed=True)
    n_hint = gd.number_of_vertices()
    swept = (
        (lambda df, n=n_hint: iterloop.hint_state_join(df, n))
        if after
        else (lambda df, n=n_hint: df)
    )
    with iterloop.small_plan(spark, n_hint):
        edges = gd.edgelist.select(SRC, DST)
        verts = gd.vertices_internal.select("vertex")
        c = iterloop.materialize(
            verts.select(
                "vertex",
                F.xxhash64("vertex", F.lit(42)).alias("cp"),
                F.col("vertex").alias("cid"),
            )
        )
        nbr = (
            edges.join(
                iterloop.hint_state_join(
                    c.select(F.col("vertex").alias(SRC), "cp", "cid"), n_hint
                ),
                SRC,
            )
            .groupBy(F.col(DST).alias("vertex"))
            .agg(F.max(F.struct("cp", "cid")).alias("_nb"))
        )
        jump = c.select(F.col("vertex").alias("_jv"), F.struct("cp", "cid").alias("_jc"))
        own = F.struct("cp", "cid")
        new = (
            c.join(swept(nbr), "vertex", "left")
            .join(iterloop.hint_state_join(jump, n_hint), F.col("cid") == F.col("_jv"), "left")
            .select(
                "vertex",
                F.greatest(own, F.coalesce("_nb", own), F.coalesce("_jc", own)).alias("_c"),
                F.col("cid").alias("_old"),
            )
        )
        save(
            "scc_coloring_round_body",
            tag,
            ("scc max-coloring round-1 state update", explain_str(new)),
        )

        # ---- louvain modularity_of body (community/louvain.py) ------
        w_edges = iterloop.materialize(
            gd.edgelist.select(SRC, DST, F.col("weight").alias("_w"))
        )
        assign = iterloop.materialize(
            verts.select("vertex", F.col("vertex").alias("community"))
        )
        a_src = assign.select(F.col("vertex").alias(SRC), F.col("community").alias("_cs"))
        a_dst = assign.select(F.col("vertex").alias(DST), F.col("community").alias("_cd"))
        e = w_edges.join(swept(a_src), SRC).join(swept(a_dst), DST)
        internal = (
            e.filter(F.col("_cs") == F.col("_cd")).groupBy("_cs").agg(F.sum("_w").alias("_in"))
        )
        sigma = (
            e.groupBy(F.col(SRC).alias("_v"), F.col("_cs").alias("_c"))
            .agg(F.sum("_w").alias("_k"))
            .groupBy("_c")
            .agg(F.sum("_k").alias("_sig"))
        )
        q_rows = sigma.join(internal, sigma["_c"] == internal["_cs"], "left")
        save(
            "louvain_modularity_body",
            tag,
            ("modularity_of sigma-internal combine over hinted assign joins",
             explain_str(q_rows)),
        )

        # ---- louvain contraction body -------------------------------
        contracted = (
            w_edges.join(swept(a_src), SRC)
            .join(swept(a_dst), DST)
            .groupBy(F.col("_cs").alias(SRC), F.col("_cd").alias(DST))
            .agg(F.sum("_w").alias("_w"))
        )
        save(
            "louvain_contraction_body",
            tag,
            ("per-level contraction (assign joins + community groupBy)",
             explain_str(contracted)),
        )

    # ---- extract_bfs_paths step join (traversal/path_retrieval.py) --
    from cugraph_spark import bfs

    gu = reg.cust_supp_graph(spark, SF_DIR)
    bfs_df = bfs(gu, 1)
    if after:
        preds = iterloop.persist(
            bfs_df.select(F.col("vertex").alias("_cur"), "predecessor")
            .repartition("_cur")
            .sortWithinPartitions("_cur")
        )
        preds.count()
    else:
        preds = bfs_df.select("vertex", "predecessor").withColumnRenamed(
            "vertex", "_cur"
        )
    dests = spark.createDataFrame([(5,)], ["destination"]).select(
        F.col("destination").cast(dict(bfs_df.dtypes)["vertex"])
    )
    state = iterloop.materialize(
        dests.select(
            "destination",
            F.array(F.col("destination")).alias("path"),
            F.col("destination").alias("_cur"),
            F.lit(False).alias("_done"),
        )
    )
    step = state.join(preds, "_cur", "left")
    save(
        "bfs_paths_step_body",
        tag,
        ("per-hop state-predecessor join", explain_str(step)),
    )

    spark.stop()


if __name__ == "__main__":
    main()
