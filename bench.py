"""Benchmark harness: prints ONE JSON line with per-query wall-clock.

Usage: python bench.py

Runs the HEADLINE queries at $SPARK_GRAFT_SF_DIR (default: the sf0.1
test data) on the ``get_spark`` session. Each query runs once
to warm (JVM, codegen, file cache), then three interleaved rounds are
timed, each collecting its result fully (the driver-visible cost); a
slot's number is the median of its three kept walls. Cached tables and
checkpointed RDDs are unpersisted after every run.

Contention is judged from each timed run's own host window
(``tools/query_profile.py``'s ``host_window``, sampled just outside the
timed interval): the shares of the host's CPU ticks stolen by the
hypervisor and spent by processes outside this one's tree. After the
three rounds, every run that lost at least one core to them is re-taken
once, and of the two the run from the calmer window (lower
``steal_frac + other_frac``) is kept. The window sees CPU only: a run
slowed by another process's disk or memory-bandwidth use is not caught.

The last stdout line (< 2000 B, so a capture of stdout's tail holds it) has
``metric``, ``value`` (sum of medians), ``unit``, ``queries`` (medians,
2 decimals, HEADLINE order), ``sf`` and ``contended_n`` (slots whose
median run still lost a core after the retake). ``BENCH_DETAIL.json``
holds the full-precision medians and, per slot, the three kept runs:
wall, host shares, and whether the run was re-taken (then ``first`` is
the first take).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from perfbench.procfs import host_cpu_ticks
from perfbench.run import drop_persisted
from tools.query_profile import host_window, lost_a_core, own_ticks

ROUNDS = 3  # odd, so the median is one kept run

# One slot per operator family, plus slots that refresh driver-side
# evidence for aging registry rows; the line budget caps it near 62.
HEADLINE = [
    "q01_pricing_summary",
    "q05_local_supplier_volume",
    "q09_product_profit",
    "q18_large_orders",
    "q21_waiting_supplier",
    "rel_join_orders_customer",
    "rel_window_topk_per_group",
    "rel_cube_agg",
    "llm_dedup_exact",
    "llm_dedup_minhash_det",  # the one MinHash-LSH, fully oracle-backed
    "llm_text_quality",
    "llm_knn_bruteforce",
    "stream_tumbling_window",
    "stream_stream_join_conversions",
    "rel_gap_fill_ffill",
    "llm_bm25_topk",
    "llm_chunk_documents",
    "llm_knn_quantized",
    "rel_countmin_sketch",
    "llm_substring_dedup",
    "llm_quality_classifier",
    "llm_text_normalize",  # the Arrow pandas_udf path
    "rel_ts_similarity_paa",
    "llm_knn_graph",  # all-points ANN: adaptive-cell IVF self-join
    "rel_interval_join_binned",
    "rel_quantile_sketch_mergeable",
    "llm_dedup_containment",
    "llm_semantic_dedup",  # the costliest dedup composition
    "llm_bpe_learn",
    "llm_bpe_apply",
    "llm_url_dedup",
    "llm_kmeans_det",  # the iterative numeric fixpoint with an oracle
    "llm_dedup_hybrid",
    "rel_market_basket_lift",
    "rel_triangle_count",
    "rel_ols_grouped",  # closed-form Gram-sum model fitting
    "llm_pmi_collocations",
    "rel_logreg_newton",
    "llm_nb_lang_confusion",
    "stream_pattern_funnel",
    "stream_hll_cells",
    "llm_unigram_lm",
    "stream_session_window",
    "llm_pca_topk",  # one Gram scan, then driver iteration
    "stream_stream_full_outer_capped",
    "llm_knn_pq_persisted",  # the fit/query split of product quantization
    "stream_capped_drop_audit",
    "llm_sequence_pack",
    "rel_pagerank",
    "llm_knn_ivf_persisted",
    "llm_ngram_novelty",
    # rotation: the registry rows with the oldest bench evidence
    "ref_describe",
    "rel_asof_join",
    "rel_sessionize",
    "rel_merge_upsert",
    "rel_window_range_frame",
    "llm_knn_ivf_append",
    "llm_pca_power",
    "stream_rollup_states",
    "llm_zipf_fit",
    "llm_ann_recall_audit",
    "llm_dedup_ppjoin",
]


def timed(spark, fn, sf_dir: str) -> dict:
    """Wall of one full collect, and the host shares over its window."""
    before = (host_cpu_ticks(), own_ticks())
    t0 = time.perf_counter()
    fn(spark, sf_dir).collect()
    wall = time.perf_counter() - t0
    host = host_window(before, (host_cpu_ticks(), own_ticks()))
    drop_persisted(spark)
    return {"wall_s": wall, **host}


def calmer(first: dict, retake: dict) -> dict:
    """Of a run and its retake, the run from the calmer host window
    (the first on a tie), marked as re-taken."""
    kept = min(first, retake, key=lambda r: r["steal_frac"] + r["other_frac"])
    return {**kept, "retaken": True, "first": first}


def settle(runs: dict[str, list[dict]], retake) -> dict[str, list[dict]]:
    """Re-take once, with ``retake(name)``, every run that lost a core,
    and keep the calmer of the two."""
    return {
        name: [calmer(r, retake(name)) if lost_a_core(r) else {**r, "retaken": False} for r in rs]
        for name, rs in runs.items()
    }


def lines(kept: dict[str, list[dict]], sf_dir: str) -> tuple[dict, dict]:
    """(compact stdout line, BENCH_DETAIL.json document) of the kept runs."""
    median_runs = {n: sorted(rs, key=lambda r: r["wall_s"])[len(rs) // 2] for n, rs in kept.items()}
    medians = {n: round(r["wall_s"], 4) for n, r in median_runs.items()}
    contended = [n for n, r in median_runs.items() if lost_a_core(r)]
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    compact = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(medians.values()), 4),
        "unit": "sec",
        "queries": {n: round(v, 2) for n, v in medians.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "contended_n": len(contended),
    }
    detail = {**compact, "queries": medians, "cpus": os.cpu_count(), "contended": contended, "runs": kept}
    return compact, json.loads(json.dumps(detail), parse_float=lambda f: round(float(f), 4))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entry
    from randas_spark.session import get_spark

    qs = entry.queries()
    unknown = [n for n in HEADLINE if n not in qs]
    repeated = sorted({n for n in HEADLINE if HEADLINE.count(n) > 1})
    if unknown or repeated:
        raise SystemExit(f"HEADLINE: unknown {unknown}, repeated {repeated}")

    spark = get_spark("bench")
    for name in HEADLINE:
        qs[name](spark, sf_dir).collect()
        drop_persisted(spark)
    # interleaved rounds: a burst of contention lands in one round of a
    # slot, not in all three
    runs: dict[str, list[dict]] = {n: [] for n in HEADLINE}
    for _ in range(ROUNDS):
        for name in HEADLINE:
            runs[name].append(timed(spark, qs[name], sf_dir))
    kept = settle(runs, lambda name: timed(spark, qs[name], sf_dir))

    compact, detail = lines(kept, sf_dir)
    try:
        with open(os.path.join(ROOT, "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    print(json.dumps(detail), file=sys.stderr, flush=True)
    line = json.dumps(compact)
    assert len(line) < 2000, f"compact bench line grew to {len(line)}B; trim HEADLINE"
    # the compact line is the last thing on stdout: readers parse its tail
    print(line, flush=True)


if __name__ == "__main__":
    main()
