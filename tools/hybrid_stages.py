"""Per-stage candidate-pair audit for llm_dedup_hybrid (VERDICT r11
order #1): where do the pairs — and therefore the superlinear cost —
come from at scale?

The hybrid dedup has three pair-bearing stages:

1. TEXT leg (minhash_lsh_pairs_portable): band-bucket equi-join. The
   candidate volume is sum over band buckets of C(n_b, 2); hot buckets
   (boilerplate docs sharing a band signature) grow quadratically.
2. EMBEDDING leg (embedding_near_pairs): hyperplane-bucket equi-join.
   The scored-pair volume is sum over buckets of C(n_b, 2) — with a
   FIXED plane count the bucket population is N/2^P, so this stage is
   quadratic in N by construction (the r11 100x diagnosis).
3. CC over the edge union: rounds x edge volume.

This tool computes the COUNTS analytically (groupBy-size then
sum(n*(n-1)/2)) so the audit itself never materializes the quadratic
pair set, then times each stage once (single-pass wall time at sf10 is
indicative; the counts, not the times, are the deliverable).

Usage: python tools/hybrid_stages.py [sf_dir]
Prints one JSON line per stage plus a final summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def bucket_audit(df, cols):
    """(n_buckets, top10 sizes, sum C(n,2)) for a bucket grouping."""
    from pyspark.sql import functions as F

    sizes = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))
    row = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pair_volume"),
        F.max("n").alias("max_bucket"),
    ).collect()[0]
    top = [r["n"] for r in sizes.orderBy(F.col("n").desc()).limit(10).collect()]
    return {
        "n_buckets": row["n_buckets"],
        "pair_volume": int(row["pair_volume"] or 0),
        "max_bucket": row["max_bucket"],
        "top10": top,
    }


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "benchdata/sf1.0"
    )

    from pyspark.sql import functions as F

    from randas_spark.operators.dedup import (
        connected_components_star,
        embedding_near_pairs,
        minhash_lsh_pairs_portable,
        portable_banded_signatures,
    )
    from randas_spark.queries import t
    from randas_spark.session import get_spark

    spark = get_spark("hybrid-stages")
    d = t(spark, sf_dir, "documents")
    e = t(spark, sf_dir, "embeddings")
    n_docs, n_emb = d.count(), e.count()
    out = {"sf_dir": sf_dir, "n_docs": n_docs, "n_emb": n_emb}

    # --- text leg: band buckets -------------------------------------
    t0 = time.perf_counter()
    banded = portable_banded_signatures(
        d, "doc_id", "text", 32, 8, 5
    ).localCheckpoint()
    out["text_band_buckets"] = bucket_audit(banded, ["band_id", "bk"])
    out["t_text_banding"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    text_pairs = minhash_lsh_pairs_portable(
        d, "doc_id", "text", num_perm=32, bands=8, k=5, threshold=0.6
    ).select("id_a", "id_b").localCheckpoint()
    out["n_text_pairs"] = text_pairs.count()
    out["t_text_leg"] = round(time.perf_counter() - t0, 2)
    print(json.dumps({k: out[k] for k in (
        "text_band_buckets", "t_text_banding", "n_text_pairs", "t_text_leg")}))

    # --- embedding leg: adaptive hyperplane buckets + cap ------------
    # mirrors llm_dedup_hybrid exactly: P = adaptive_plane_count(N),
    # bucket_cap=4096, drop accounting via the operator's stats dict
    from randas_spark.operators.similarity import (
        adaptive_plane_count,
        project_buckets,
    )

    n_planes = adaptive_plane_count(n_emb)
    cap_stats: dict = {}
    t0 = time.perf_counter()
    ep = embedding_near_pairs(
        e, "vec_id", "embedding", threshold=0.35, n_planes=n_planes,
        dim=64, bucket_cap=4096, stats=cap_stats,
    )
    eb = e.select(
        project_buckets(F.col("embedding"), 64, n_planes).alias("bucket")
    )
    out["emb_buckets"] = bucket_audit(eb, ["bucket"])
    out["emb_n_planes"] = n_planes
    emb_pairs = ep.select("id_a", "id_b").localCheckpoint()
    out["n_emb_pairs"] = emb_pairs.count()
    out["t_emb_leg"] = round(time.perf_counter() - t0, 2)
    out["emb_cap_audit"] = cap_stats
    print(json.dumps({k: out[k] for k in (
        "emb_buckets", "emb_n_planes", "n_emb_pairs", "t_emb_leg",
        "emb_cap_audit")}))

    # --- union + CC ---------------------------------------------------
    t0 = time.perf_counter()
    pairs = text_pairs.union(emb_pairs).distinct().localCheckpoint()
    out["n_edges"] = pairs.count()
    stats: dict = {}
    comp = connected_components_star(pairs, stats=stats)
    # star CC labels only nodes with at least one non-self-loop edge:
    # the docs that share a cluster with another doc
    out["n_clustered_nodes"] = comp.count()
    out["cc_rounds"] = stats.get("rounds")
    out["t_cc"] = round(time.perf_counter() - t0, 2)
    print(json.dumps({k: out[k] for k in (
        "n_edges", "n_clustered_nodes", "cc_rounds", "t_cc")}))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
