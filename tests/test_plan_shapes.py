"""Pin the INTENDED physical plan shape of headline queries (VERDICT r8
order #7).

tools/plan_lint.py catches categorical anti-patterns (CartesianProduct,
row-UDFs) across all registry plans; this file pins the load-bearing
POSITIVE features of ~12 headline plans — which join strategy each join
compiles to, and the exchange (shuffle) count — so a Spark upgrade, a
stats change, or an innocent-looking refactor can't silently swap a
broadcast join for a full shuffle (or grow a plan an extra Exchange)
without failing the suite.

Counts are transcribed from the executed-plan strings at sf0.001 (the
suite's fixture scale; broadcast decisions are hint-driven in these
queries, not size-estimated, so the shape is the intended one at every
sf — the dims ARE broadcast-hinted in the repo, which is what this
pins). Planning only: no query result is collected (index-building
queries may run their build-time jobs once).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR

#: query -> expected (BroadcastHashJoin, SortMergeJoin, Exchange) counts
#: in the initial physical plan. SMJ is 0 EVERYWHERE today: every
#: headline join either broadcasts a small side or reduces before
#: joining; a nonzero SMJ count appearing here is exactly the silent
#: plan regression this file exists to catch.
PINNED = {
    "q01_pricing_summary": (0, 0, 2),
    "q03_shipping_priority": (2, 0, 3),
    "q05_local_supplier_volume": (5, 0, 7),
    "q09_product_profit": (4, 0, 5),
    "q18_large_orders": (3, 0, 5),
    "q21_waiting_supplier": (4, 0, 5),
    "rel_join_orders_customer": (1, 0, 2),
    "llm_dedup_exact": (0, 0, 1),
    # re-transcribed (4,0,7)->(3,0,5): the candidate-only re-shingle and
    # its exploded sizes/inter joins are gone; lazy band candidates are
    # verified by two broadcast joins onto the one shingle-array
    # checkpoint. BENCH re-measurement (perfbench llm_curation, seed 1,
    # traced): this op's exec.jobs 15 -> 6, construction jobs 9 -> 2,
    # exec.cpu_s 1.61 -> 1.29 s; ten untraced pairs on a 4-core host:
    # workload cpu_s median 6.16 -> 4.98 s, lower in 10 of 10
    "llm_dedup_minhash_det": (3, 0, 5),
    # m=4 broadcast LUT joins + the codes-table scan: the persisted-ANN
    # steady-state plan — a 5th join or an SMJ here means the fit leaked
    # back into the query path
    "llm_knn_pq_persisted": (4, 0, 5),
    "stream_stream_join_conversions": (1, 0, 1),
    # persisted IVF: ONE broadcast hash join (probes onto the
    # cell-partitioned assignments scan — the pruned-scan join) plus
    # broadcast nested loops only against the 16-row centroid table
    "llm_knn_ivf_persisted": (1, 0, 6),
    # incremental append: same served-plan shape, one more scan root
    "llm_knn_ivf_append": (1, 0, 6),
    # streaming ingest twin: base + 2 committed batch dirs = 3 pruned
    # scan roots under the same single probe BHJ
    "stream_ivf_ingest": (1, 0, 10),
    # bitext mining: r13 re-transcription (2,1,8)->(2,0,8) — the
    # candidate SMJ (the repo's one intended SortMergeJoin, r11-r12)
    # is REPLACED by the cell-keyed cogroup union-prune kernel (exactly
    # one FlatMapCoGroupsInPandas, asserted separately below): the two
    # corpus-sized sides still meet only on the cell key (cogroup IS a
    # co-partitioned shuffle on cell, same exchange count), but only
    # the rank-preserving (per-lid top-2) UNION (per-rid top-1) rows —
    # ~3N, not ~N^2/cells — reach the two mutual-rank windows (BENCH
    # justification: BASELINE.md r13, the windows' candidate sort was
    # the dominant sf10 cost). The 2 BHJ stay the kernel's narrow
    # vector re-joins (size-estimated broadcast at pin scale, naturally
    # SMJ at corpus scale).
    "llm_bitext_mine": (2, 0, 8),
    # two-stage rerank: 4 LUT joins + 2 shortlist-side broadcasts (the
    # bounded candidate set onto the corpus raw-vector scan)
    "llm_knn_pq_rerank": (6, 0, 8),
    # --- r11 pins (VERDICT r10 order #7): the r10 additions reviewed in
    # PLANS_r10.md prose, now transcribed. BNLJ counts where nonzero are
    # asserted separately below (scalar/centroid broadcasts only).
    # filtered IVF search: the one probe BHJ on the pruned scan
    "llm_knn_filtered": (1, 0, 6),
    # index balance report: pure metadata aggregate — NO joins at all
    "llm_ann_index_stats": (0, 0, 2),
    # corpus scorecard: combinable aggregates + 2 scalar-totals BNLJ
    "llm_corpus_scorecard": (0, 0, 8),
    # skew report: per-key counts + 3 scalar-totals BNLJ, no data join
    "rel_join_skew_report": (0, 0, 15),
    # cross-source overlap: banded equi-joins only
    "llm_cross_source_overlap": (5, 0, 7),
    # survivorship matrix: one winner-id equi-join over the window min
    "llm_dedup_survivorship": (1, 0, 3),
    # IVFPQ composite (r11 centerpiece): 4 broadcast LUT joins + the ONE
    # probe BHJ that partition-prunes the cell-partitioned codes scan
    # (the DPP expression itself is asserted separately below); SMJ=0 —
    # the corpus-sized artifact is scanned pruned, never shuffled
    "llm_knn_ivfpq": (5, 0, 10),
    # recall panel (2 methods): brute-force truth ONCE (r14: checkpointed
    # — the r13 plan inlined the whole truth subtree per method leg),
    # IVF det leg = the shared IVF search over an in-memory index (corpus
    # assignment through the assign_topk_cells kernel + its narrow
    # re-attach BHJ; query probes through the _ivf_probes window: -1 BHJ
    # for the retired probe re-attach, +1 Exchange for the probe window;
    # re-transcribed (10,0,19)->(9,0,20)), IVFPQ leg, two broadcast
    # stitch joins — panel-bounded sides all hinted, so SMJ stays 0 at
    # the 50-query panel width. BENCH re-measurement
    # (tools/bench_isolated.py, sf0.1, 6 alternating parent/change runs,
    # 4 cores): median 4.32 s (quartiles 4.04-4.62) -> 4.05 s
    # (3.70-4.40); llm_knn_ivf_det 1.53 s (1.46-1.67) -> 1.47 s (1.33-1.73)
    "llm_ann_recall_audit": (9, 0, 20),
    # IVFPQ + exact rerank (IndexIVFPQR shape): stage-1 composite (5 BHJ)
    # + bounded shortlist/query-vector broadcasts; the shortlist subplan
    # appears ONCE (a second occurrence means the stage-1 codes scan got
    # duplicated — the regression this pin exists to catch)
    "llm_knn_ivfpq_rerank": (7, 0, 13),
}


@pytest.fixture(scope="module")
def registry():
    import __spark_entry__ as e

    return e.queries()


@pytest.mark.parametrize("name", sorted(PINNED))
def test_headline_plan_shape_pinned(spark, registry, name):
    bhj, smj, exch = PINNED[name]
    df = registry[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    got = (
        plan.count("BroadcastHashJoin"),
        plan.count("SortMergeJoin"),
        plan.count("Exchange"),
    )
    assert got == (bhj, smj, exch), (
        f"{name}: plan shape drifted — (BroadcastHashJoin, SortMergeJoin, "
        f"Exchange) = {got}, pinned {(bhj, smj, exch)}. If the change is "
        f"intentional (new operator stage, Spark upgrade), re-transcribe "
        f"the pin WITH a BENCH re-measurement justifying it."
    )


def test_bm25_single_broadcast_nested_loop_is_the_stats_join(spark, registry):
    """llm_bm25_topk carries exactly ONE BroadcastNestedLoopJoin — the
    scalar corpus-stats (N, avgdl) broadcast onto the term table, the
    accepted tiny-side shape — plus two broadcast hash joins. A second
    BNLJ (or a CartesianProduct, which plan-lint also forbids) means a
    real join degraded."""
    df = registry["llm_bm25_topk"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("SortMergeJoin") == 0


def test_ivfpq_codes_scan_is_dynamically_partition_pruned(spark, registry):
    """The IVFPQ query's ONLY corpus-sized scan (the cell-partitioned
    codes table) must carry a DynamicPruningExpression on `cell` fed by
    the broadcast probe join — that expression IS the n_probe/n_cells
    cost model; without it the composite silently degrades to the flat
    persisted-PQ full-codes scan it exists to retire. Centroid-table
    BNLJs stay bounded at 2 (query x coarse-centroids, probe legs)."""
    df = registry["llm_knn_ivfpq"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("dynamicpruningexpression") == 1
    assert "code_0" in plan  # the pruned scan is the codes table
    assert plan.count("BroadcastNestedLoopJoin") == 2
    assert plan.count("CartesianProduct") == 0


def test_knn_graph_candidate_scoring_is_cogrouped_kernel(spark, registry):
    """r12 pin: knn_graph_ivf's candidate scoring must stay the
    cell-keyed COGROUP kernel — exactly one FlatMapCoGroupsInPandas in
    the served plan, zero BroadcastNestedLoopJoin/CartesianProduct (the
    assignment kernel runs behind the ranked localCheckpoint at build
    time, so it does not appear here). A BNLJ reappearing means the
    declarative crossJoin + window shape — the 273-of-300 s sf10
    bottleneck the r12 profile retired — leaked back."""
    df = registry["llm_knn_graph"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapCoGroupsInPandas") == 1
    assert plan.count("BroadcastNestedLoopJoin") == 0
    assert plan.count("CartesianProduct") == 0


def test_bitext_candidate_stage_is_cogrouped_union_prune(spark, registry):
    """r13 pin (VERDICT r12 order #1): llm_bitext_mine's candidate
    scoring must stay the cell-keyed COGROUP union-prune kernel —
    exactly one FlatMapCoGroupsInPandas, zero SortMergeJoin (the old
    candidate SMJ fed the full ~N^2/cells set to the mutual-rank
    windows), zero BroadcastNestedLoopJoin/CartesianProduct."""
    df = registry["llm_bitext_mine"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapCoGroupsInPandas") == 1
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("BroadcastNestedLoopJoin") == 0
    assert plan.count("CartesianProduct") == 0


def test_embedding_lsh_cap_windows_and_no_cartesian(spark, registry):
    """r12 pin: the adaptive-plane embedding LSH carries the
    deterministic hot-bucket cap as a row_number window OVER THE BUCKET
    on each join side (2 windowspecdefinitions keyed on bucket), and
    the pair join stays a bucket equi-join — no CartesianProduct ever
    (a cartesian here is the quadratic all-pairs regression)."""
    df = registry["llm_dedup_embedding_lsh"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("windowspecdefinition(bucket") == 2
    assert plan.count("CartesianProduct") == 0


def test_bpe_learn_is_one_lazy_kernel_job(spark, registry):
    """r13 optimization pin: bpe_learn's greedy merge loop runs as ONE
    Arrow kernel over the Heaps-bounded word table INSIDE the query plan
    (scan -> word agg -> SinglePartition exchange -> MapInPandas), not
    as n_merges build-time Spark jobs whose result lands in a
    LocalTableScan/ExistingRDD. An ExistingRDD reappearing here means
    the learn collected at plan-construction time again — 13 jobs where
    one suffices (OPTIMIZATION_r13.md, guide §1.2/§4.2)."""
    df = registry["llm_bpe_learn"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "Scan parquet" in plan  # the corpus scan is in THIS plan
    assert "ExistingRDD" not in plan
