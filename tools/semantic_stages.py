"""Per-stage profile for llm_semantic_dedup (VERDICT r11 order #2):
which stage carries the 100x cost — the IVF graph build or the star-CC
closure (rounds x edges)?

History: the first r12 run of this tool located the original 79x cell
in the centroid-RANKING leg (273 of 300 s at sf10) — not the N*n_cells
cosine FLOPs (measured alone: 65 s for 178.8M folds) but the
declarative shape: crossJoin + row_number window materializing 178.8M
rows through an interpreted lambda fold (zero whole-stage-codegen
spans) and a sort. Both graph legs are now Arrow kernels inside
operators/similarity.knn_graph_ivf (assignment: mapInPandas against
the broadcast centroid panel; candidate scoring: cogrouped
applyInPandas per cell with exact per-cell top-k pre-pruning), so this
tool times the operator stages as they ship:

1. t_graph    — full knn_graph_ivf(min_cos=0.35) edge build, and the
   analytic cand_volume (sum over cells of probes_in_cell *
   assigns_in_cell — the exact pair count the cell cogroup scores),
   derived from the operator's checkpointed `ranked` equivalent.
2. t_cc       — connected_components_star with per-round edge counts
   (stats["round_edges"]: post-contraction then per round).

Usage: python tools/semantic_stages.py [sf_dir]
Prints one JSON line.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "benchdata/sf1.0"

    from pyspark.sql import functions as F

    from randas_spark.operators.dedup import connected_components_star
    from randas_spark.operators.similarity import knn_graph_ivf
    from randas_spark.queries import t
    from randas_spark.session import get_spark

    spark = get_spark("semantic-stages")
    emb = t(spark, sf_dir, "embeddings")
    n = emb.count()
    n_cells = max(64, int(math.floor(math.sqrt(4 * n))))
    out = {"sf_dir": sf_dir, "n_emb": n, "n_cells": n_cells}

    # --- stage 1: full graph build (kernel-backed operator) -----------
    t0 = time.perf_counter()
    graph = knn_graph_ivf(
        emb, "vec_id", "embedding", n_cells=n_cells, n_probe=4, top_k=5,
        min_cos=0.35,
    )
    edges = graph.select(
        F.col("qid").alias("id_a"), F.col("cid").alias("id_b")
    ).localCheckpoint()
    out["n_edges"] = edges.count()
    out["t_graph"] = round(time.perf_counter() - t0, 2)

    # analytic candidate volume of the per-cell cogroup: the histogram
    # needs (rn==1, rn<=4) per cell, which the operator does not expose;
    # the audit re-derives it with the NARROW declarative twin of the
    # assignment kernel (value-identical ranking, counts only)
    from pyspark.sql import Window

    from randas_spark.functions.vectors import dot, norm
    from randas_spark.operators.sampling import _md5_hex

    cent = (
        emb.orderBy(_md5_hex(F.col("vec_id")), F.col("vec_id"))
        .limit(n_cells)
        .select(
            F.col("vec_id").alias("cell"),
            F.col("embedding").alias("center"),
            norm(F.col("embedding")).alias("center_nrm"),
        )
    )
    wr = Window.partitionBy("vid").orderBy(F.col("ccos").desc(), F.col("cell"))
    vn = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("vv"),
        norm(F.col("embedding")).alias("vn"),
    )
    rk = (
        vn.crossJoin(F.broadcast(cent))
        .withColumn(
            "ccos",
            dot(F.col("vv"), F.col("center")) / (F.col("vn") * F.col("center_nrm")),
        )
        .select("vid", "cell", "ccos")
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 4)
        .select("vid", "cell", "rn")
        .localCheckpoint()
    )
    a_sz = rk.filter(F.col("rn") == 1).groupBy("cell").agg(
        F.count(F.lit(1)).alias("na")
    )
    p_sz = rk.groupBy("cell").agg(F.count(F.lit(1)).alias("np"))
    row = (
        a_sz.join(p_sz, "cell")
        .agg(
            F.sum(F.col("na") * F.col("np")).alias("vol"),
            F.max("na").alias("max_cell"),
        )
        .collect()[0]
    )
    out["cand_volume"] = int(row["vol"])
    out["max_cell"] = row["max_cell"]

    # --- stage 2: star CC with per-round edge counts --------------------
    t0 = time.perf_counter()
    stats: dict = {}
    comp = connected_components_star(edges, stats=stats)
    # star CC labels only nodes with at least one non-self-loop edge:
    # the vectors that share a cluster with another vector
    out["n_clustered_nodes"] = comp.count()
    out["t_cc"] = round(time.perf_counter() - t0, 2)
    out["cc_rounds"] = stats.get("rounds")
    out["cc_round_edges"] = stats.get("round_edges")
    out["cc_converged"] = stats.get("converged")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
