"""Similarity search over embedding columns: brute-force cosine top-k
(exact baseline) and random-hyperplane LSH bucketing (the scale path).

Embeddings are plain array<float> columns; all scoring is the codegen'd
cosine from functions/vectors.py (no UDF). The LSH variant trades recall
for turning the n×m score matrix into same-bucket pairs only.
"""

from __future__ import annotations

import hashlib
import math
import struct

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from randas_spark.functions.vectors import cosine, dot, norm


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    top_k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, score every pair, keep k per query.

    Scale: queries are broadcast (no corpus shuffle, single scan);
    the rank window partitions by query id so the top-k shuffle carries
    only |queries|·|corpus| scored rows — at real scale, pre-reduce with
    a per-partition top-k (`rank <= k` after mapPartitions) or use the
    LSH route below. Deterministic: (score desc, corpus id) ordering.
    """
    from randas_spark.operators.dedup import fan_out

    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    # fan_out: a single-split corpus otherwise scores every
    # |corpus| x |queries| pair in ONE task (interpreted HOF folds, no
    # codegen — measured 1.0-1.8 s single-task jobs at sf0.1 inside the
    # recall audit); a no-op whenever the corpus already arrives in
    # >= defaultParallelism splits (cluster scale). Row order feeding
    # the rank window is irrelevant: (cos DESC, cid) is a total order.
    c = fan_out(
        corpus.select(
            F.col(corpus_id).alias("cid"),
            F.col(vec_col).alias("cv"),
            norm(F.col(vec_col)).alias("cn"),
        )
    )
    # norms staged per side (one fold per vector); the pair stage pays a
    # single dot fold — the inline cosine form re-evaluated both norm
    # folds per scored pair (no CSE inside lambda folds). Bit-identical.
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("qid") != F.col("cid"))
        .withColumn(
            "cos", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= top_k)
        .select("qid", "cid", "cos", "rk")
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane: md5-counter-derived
    doubles in [-1,1) (no RNG state, identical on every executor/session)."""
    vals = []
    for j in range(dim):
        h = hashlib.md5(f"plane:{plane_idx}:dim:{j}".encode()).digest()[:8]
        (u,) = struct.unpack("<Q", h)
        vals.append((u / 2**64) * 2.0 - 1.0)
    n = math.sqrt(sum(v * v for v in vals))
    return [v / n for v in vals]


def adaptive_plane_count(
    n: int, target: int = 256, lo: int = 4, hi: int = 16
) -> int:
    """Hyperplane count whose 2^P buckets hold ~``target`` vectors each:
    P = clamp(ceil(log2(n / target)), lo, hi).

    The r11 100x audit (tools/hybrid_stages.py) showed WHY this must be
    adaptive: a FIXED plane count makes the bucket population N/2^P, so
    the in-bucket candidate volume sum C(n_b, 2) is quadratic in N by
    construction — 12.8M scored pairs at 20k vectors, 1.25e9 at 200k.
    With P tracking log2(N/target) the expected bucket stays ~target and
    the candidate volume is ~N*target/2 — linear. Same discipline as the
    isqrt(N) IVF cell count (operators/similarity.ivf_build_index).

    Recall trade (documented, inherent to LSH): the per-pair collision
    probability is (1-theta/pi)^P, so P growing with N lowers borderline
    recall — production systems recover it with multiprobe or bands; the
    ``hi`` clamp (65536 buckets) bounds the loss. The formula is
    engine-portable: CEIL(LOG2()) matches Python's math.ceil(math.log2())
    for every feasible N (exact at powers of two, >1 ulp from integers
    elsewhere — parity-tested in tests/test_llm.py)."""
    return max(lo, min(hi, math.ceil(math.log2(max(n, 1) / target))))


def project_buckets(vec_col: str, dim: int, n_planes: int = 8) -> Column:
    """Random-hyperplane LSH bucket id: n_planes sign bits packed into a
    long. Same-bucket probability for angle θ is (1-θ/π)^n_planes.
    Pure expression: dot products against literal plane arrays, built
    as ONE SQL string (one py4j round trip) — the Column-DSL form paid
    n_planes x dim F.lit calls (1024 for a P=16 panel) of pure driver
    time per invocation (the _pq_sub_dist_sql lesson). The dot fold is
    the exact functions.vectors.dot sequence (zip_with double-cast
    multiply, left fold from 0.0D); the bit arithmetic is integer, so
    the bucket values are identical to the retired Column form (pinned
    by the modulo-nesting and sign-replay tests in tests/test_llm.py)."""
    terms = []
    for p in range(n_planes):
        arr = ",".join(_sql_double(v) for v in _hyperplane(dim, p))
        d = (
            f"aggregate(zip_with(`{vec_col}`,array({arr}),"
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            "0.0D,(acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {d} >= 0 THEN {1 << p}L ELSE 0L END)")
    return F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))


def knn_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    dim: int,
    top_k: int = 10,
    n_planes: int = 8,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH
    bucket. Recall is tuned by n_planes (fewer planes → bigger buckets →
    higher recall, more compute) — multiprobe (flipping low-confidence
    bits) is the standard next step; pytest bounds recall vs brute force.

    Scale: bucketing is a pure map; the join is an equi-join on bucket id
    → shuffle partitioned by bucket, never all-pairs.
    """
    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
        project_buckets(vec_col, dim, n_planes).alias("bucket"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
        project_buckets(vec_col, dim, n_planes).alias("bucket"),
    )
    # staged norms — see knn_bruteforce; bit-identical scores
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn(
            "cos", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= top_k)
        .select("qid", "cid", "cos", "rk")
    )


def quantize_int8(vec: Column) -> tuple[Column, Column]:
    """(q, scale): symmetric int8 quantization of a float vector —
    scale = max|x|/127, elements round-half-up into [-127, 127] with the
    engine-portable floor(x+0.5). Same formula as the
    llm_embedding_quantize query; factored here for the ANN path."""
    scale = (
        F.greatest(F.array_max(F.transform(vec, lambda v: F.abs(v.cast("double")))), F.lit(1e-30))
        / 127.0
    )
    q = F.transform(
        vec,
        lambda v: F.greatest(
            F.lit(-127).cast("double"),
            F.least(F.lit(127).cast("double"), F.floor(v.cast("double") / scale + 0.5)),
        ).cast("long"),
    )
    return q, scale


def knn_quantized(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    top_k: int = 10,
) -> DataFrame:
    """Top-k over int8-quantized vectors: per-vector scales CANCEL in
    cosine — cos(deq(a), deq(b)) = Σaᵢbᵢ / (√Σaᵢ²·√Σbᵢ²) on the raw
    int8 values — so scoring is an integer dot product against
    precomputed integer norms²: ~4× less scan/shuffle width than
    float32, zero float accumulation in the hot loop, and bit-identical
    results on any engine (int64 sums are exact; IEEE sqrt/divide are
    correctly rounded everywhere). The memory-bound layer under an IVF
    or LSH shortlist at billion-vector scale.

    Same plan shape as knn_bruteforce: broadcast query set, single
    corpus scan, per-query rank window.
    """

    def prep(df: DataFrame, id_col: str, out_id: str) -> DataFrame:
        q, _ = quantize_int8(F.col(vec_col))
        d = df.select(F.col(id_col).alias(out_id), q.alias("q"))
        n2 = F.aggregate(
            F.col("q"), F.lit(0).cast("long"), lambda acc, x: acc + x * x
        )
        return d.withColumn("n2", n2)

    qs = prep(queries, query_id, "qid").withColumnsRenamed({"q": "qq", "n2": "qn2"})
    cs = prep(corpus, corpus_id, "cid")
    dot_int = F.aggregate(
        F.zip_with(F.col("qq"), F.col("q"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qcos = dot_int.cast("double") / (
        F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("n2").cast("double"))
    )
    scored = (
        cs.crossJoin(F.broadcast(qs))
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("qcos", qcos)
    )
    w = Window.partitionBy("qid").orderBy(F.col("qcos").desc(), F.col("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= top_k)
        .select("qid", "cid", "qcos", "rk")
    )


def knn_ivf_det(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    n_cells: int = 16,
    n_probe: int = 4,
    top_k: int = 10,
) -> DataFrame:
    """IVF top-k with DETERMINISTIC seeding: centroids are real corpus
    vectors chosen by md5(id) order (a reproducible uniform sample —
    k-means seeding without the Lloyd iterations), so the whole index —
    cells, assignments, probes, ranking — is a pure function of the
    data and carries a cross-engine oracle (a k-means fit's centroids
    would depend on the fit).

    Three stages: seed centroids (TakeOrdered on the md5 order — no
    global sort), assign every corpus vector to its max-cosine cell,
    probe the n_probe nearest cells per query, score candidates only.
    n_probe == n_cells degrades to exact search. Lloyd refinement
    improves cell balance, never correctness — the deterministic index
    is what a resumable/auditable 100 TB build ships, re-clustering
    offline when drift warrants.

    EAGER: building the plan runs one job — the n_cells centroid rows
    are collect()ed to the driver (one TakeOrdered job, shared by the
    assignment and probe kernel calls), so the centroid panel must fit
    in driver memory (n_cells × dim doubles) and the call costs that
    job even if the returned frame is never executed.

    Since r14 both rankings run through the shared assign_topk_cells
    Arrow kernel (bit-exact with the crossJoin + row_number form they
    replace — see its docstring; the persisted twin ivf_build_index has
    assigned through the kernel since r12, and knn_ivf_query is pinned
    bit-identical to this fused form, so the two paths now share one
    ranking implementation instead of two equal-by-proof ones). The
    retired declarative shape materialized |corpus| x n_cells
    interpreted-fold rows in ONE task just to keep the top cell per
    vector — with the recall audit's adaptive n_cells = N/32 panel that
    stage was a single 3.2 s job at sf0.1 and quadratic in N; the
    kernel scores each Arrow batch against the collected centroid panel
    with numpy and emits only the survivors (vectors/norms re-attached
    by one narrow equi-join, the knn_graph_ivf-measured trade).
    """
    from randas_spark.operators.sampling import _md5_hex

    # norms staged everywhere (vectors once, centers once): the inline
    # cosine re-evaluated both norm folds per candidate pair in the
    # final scoring. Bit-identical (see knn_graph_ivf).
    cent = (
        corpus.orderBy(_md5_hex(F.col(corpus_id)), F.col(corpus_id))
        .limit(n_cells)
        .select(
            F.col(corpus_id).alias("cell"),
            F.col(vec_col).alias("center"),
            norm(F.col(vec_col)).alias("center_nrm"),
        )
    )
    # ONE TakeOrdered job serves both kernel calls (assignment + probes)
    cent_rows = cent.collect()
    c = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    assign = (
        assign_topk_cells(
            corpus, corpus_id, vec_col, cent, n_probe=1, cent_rows=cent_rows
        )
        .select(F.col("vid").alias("cid"), "cell")
        .join(c, "cid")
        .select("cid", "cv", "cn", "cell")
    )
    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    probes = (
        assign_topk_cells(
            queries,
            query_id,
            vec_col,
            cent,
            n_probe=n_probe,
            cent_rows=cent_rows,
            # panel-bounded input: don't pay a 33-task fan-out job to
            # rank ~50 query vectors (see assign_topk_cells)
            fan=False,
        )
        .select(F.col("vid").alias("qid"), "cell")
        .join(q, "qid")
        .select("qid", "qv", "qn", "cell")
    )
    wk = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        # probes is panel-bounded (|queries| x n_probe rows) at ANY
        # corpus size — broadcast explicitly (as knn_ivf_query does)
        # so a wider panel can't flip the stats-driven plan to an SMJ
        # that shuffles the corpus-sized assignment table (seen r11:
        # the 50-query recall panel crossed the threshold)
        F.broadcast(probes)
        .join(assign, "cell")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn(
            "cos", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
        .withColumn("rk", F.row_number().over(wk).cast("long"))
        .filter(F.col("rk") <= top_k)
        .select("qid", "cid", "cos", "rk")
    )


def knn_graph_ivf(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 64,
    n_probe: int = 4,
    top_k: int = 5,
    min_cos: float | None = None,
) -> DataFrame:
    """Approximate k-NN GRAPH: every corpus vector gets its top-k
    neighbors over the deterministic IVF index (md5-order centroid
    seeding, as knn_ivf_det) — the all-points primitive under semantic
    dedup and diversity sampling.

    Self-join shape, tuned where queries-vs-corpus knn can be lazy:

    - ONE ranked centroid crossJoin serves both cell ASSIGNMENT (rn=1)
      and PROBES (rn<=n_probe) — when queries == corpus the two rankings
      are the same window, so computing them separately doubles the
      centroid scoring for nothing.
    - Per-vector norms are STAGED AS COLUMNS below the join boundaries.
      Catalyst does no CSE inside lambda folds, so the inline
      cosine(a,b) form re-evaluates both norm folds per CANDIDATE PAIR;
      staged, each norm is one fold per VECTOR and the pair cost is a
      single dot fold (3x fewer fold ops at the widest stage; measured
      17.3 s -> ~2 s at sf0.1 together with the cell sizing below).
    - ``n_cells`` defaults to ~sqrt(N) territory (64): candidate volume
      is N * n_probe * N/n_cells, so cells must GROW with the corpus —
      16 cells that are fine for a broadcast-query knn make every cell
      a quarter of the corpus in a self-join.
    - The probes->assignments join is an EQUI-join on the cell id (no
      broadcast of either N-row side needed; per-cell fan-out bounded
      by cell size).

    Values are bit-identical to the naive composition: staging reorders
    no arithmetic (same left folds, same sqrt/multiply/divide sequence),
    so the DuckDB oracle stays the declarative sql_cosine form.

    ``min_cos`` pre-filters candidate pairs BELOW the rank window. The
    threshold is on the window's own ordering key, so it commutes with
    top-k exactly (if rank-r survives the filter, ranks 1..r-1 do too):
    callers that only consume edges with cos >= t — semantic dedup's
    SemDeDup composition — get the identical edge set while the rank
    shuffle carries only the near-dup band instead of every probed
    candidate (~n_probe·cell_size rows per vector → a handful).

    Zero-norm vectors carry no cosine direction, so they are EXCLUDED
    from the graph at the boundary (as nodes, candidates, and centroid
    seeds). Without the filter their NaN cosines diverge between the
    Arrow kernel (numpy comparisons are False for NaN → dropped;
    lexsort ranks NaN last) and the declarative twin (Spark treats NaN
    as greater than any double → survives ``cos >= min_cos`` and sorts
    FIRST under cos DESC) — pinned by a zero-vector fixture in
    tests/test_similarity.py.
    """
    from randas_spark.functions.vectors import norm
    from randas_spark.operators.sampling import _md5_hex

    corpus = corpus.filter(norm(F.col(vec_col)) > F.lit(0.0))
    cent = (
        corpus.orderBy(_md5_hex(F.col(id_col)), F.col(id_col))
        .limit(n_cells)
        .select(
            F.col(id_col).alias("cell"),
            F.col(vec_col).alias("center"),
            norm(F.col(vec_col)).alias("center_nrm"),
        )
    )
    vecs = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vv"),
        norm(F.col(vec_col)).alias("vn"),
    )
    # Coarse assignment via the shared assign_topk_cells Arrow kernel
    # (r12, VERDICT r11 order #2 — see its docstring for the profile
    # that retired the crossJoin + row_number shape and the
    # bit-exactness contract); vectors/norms re-attached to the
    # N*n_probe survivors by one narrow equi-join.
    ranked_n = assign_topk_cells(corpus, id_col, vec_col, cent, n_probe)
    ranked = (
        ranked_n.join(vecs, "vid")
        .select("vid", "vv", "vn", "cell", "rn")
        # MATERIALIZED: probes and assign both consume ranked, and Spark
        # does not reuse the subplan (0 ReusedExchange measured — the
        # N x n_cells centroid scoring ran TWICE, once per join side).
        # Checkpointing the N*n_probe-row ranking pays one tiny write to
        # halve the widest compute stage. (Makes the builder eager —
        # fine for an index-construction primitive.)
        .localCheckpoint()
    )
    assign = ranked.filter(F.col("rn") == 1).select(
        F.col("vid").alias("cid"), F.col("vv").alias("cv"), F.col("vn").alias("cn"), "cell"
    )
    probes = ranked.select(
        F.col("vid").alias("qid"), F.col("vv").alias("qv"), F.col("vn").alias("qn"), "cell"
    )
    wk = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    # Candidate scoring is the second Arrow kernel (same r12 profile:
    # the n_probe*N*cell_size pair folds — 185M at sf10 — were the other
    # interpreted-lambda stage). A COGROUP on the cell id keeps the plan
    # a cell-keyed shuffle (never all-pairs, same as the equi-join it
    # replaces); inside a cell the probes x assignments panel is scored
    # vectorized with the identical fold, and only each probe's PER-CELL
    # top_k survivors cross the Arrow boundary back — exact for the
    # global window below, because a qid's global (cos DESC, cid ASC)
    # top-k restricted to one cell IS that cell's top-k under the same
    # total order; every dropped row is beaten by top_k kept rows of
    # its own cell, so ranks 1..top_k are unchanged. min_cos commutes
    # into the kernel as before (filter on the ordering key).
    _min_cos, _top_k = min_cos, top_k

    def _score_cells(key, pr, asg):
        import numpy as np
        import pandas as pd

        if not len(pr) or not len(asg):
            return pd.DataFrame({"qid": [], "cid": [], "cos": []}).astype(
                {"qid": "int64", "cid": "int64", "cos": "float64"}
            )
        q = np.stack([np.asarray(v, dtype=np.float64) for v in pr["qv"]])
        c = np.stack([np.asarray(v, dtype=np.float64) for v in asg["cv"]])
        qn = pr["qn"].to_numpy()
        cn = asg["cn"].to_numpy()
        cids = asg["cid"].to_numpy()
        qids = pr["qid"].to_numpy()
        # strict left fold, dim by dim (the zip_with/list_reduce order)
        dots = np.zeros((len(q), len(c)))
        tmp = np.empty_like(dots)
        for j in range(q.shape[1]):
            np.multiply(q[:, j : j + 1], c[:, j], out=tmp)
            dots += tmp
        cos = dots / (qn[:, None] * cn[None, :])
        oq, oc, ov = [], [], []
        for i in range(len(q)):
            row = cos[i]
            mask = cids != qids[i]
            if _min_cos is not None:
                mask = mask & (row >= _min_cos)
            idx = np.nonzero(mask)[0]
            if not len(idx):
                continue
            order = idx[np.lexsort((cids[idx], -row[idx]))][:_top_k]
            oq.extend([qids[i]] * len(order))
            oc.extend(cids[order])
            ov.extend(row[order])
        return pd.DataFrame({"qid": oq, "cid": oc, "cos": ov}).astype(
            {"qid": "int64", "cid": "int64", "cos": "float64"}
        )

    scored = probes.groupBy("cell").cogroup(assign.groupBy("cell")).applyInPandas(
        _score_cells, schema="qid long, cid long, cos double"
    )
    return (
        scored.withColumn("rk", F.row_number().over(wk).cast("long"))
        .filter(F.col("rk") <= top_k)
        .select("qid", "cid", "cos", "rk")
    )


def _pq_quantize(emb: DataFrame, id_col: str, vec_col: str, scale: float) -> DataFrame:
    """(vid, qx) projection with the shared integer quantization atom —
    ONE expression used by fit, encode, and query paths so the engines
    (and the persisted index vs a fresh fit) can never drift."""
    return emb.select(
        F.col(id_col).alias("vid"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long"),
        ).alias("qx"),
    )


def _sql_double(x: float) -> str:
    """A SQL literal reconstructing exactly the double ``F.lit(x)`` would:
    repr() is the shortest round-trip decimal and Spark's parser is
    correctly rounded, so `<repr>D` yields the same IEEE-754 bits."""
    if not math.isfinite(x):
        raise ValueError(f"non-finite PQ centroid coordinate: {x!r}")
    return f"{x!r}D"


def _sql_int(c: int) -> str:
    """A SQL literal with the same type ``F.lit(c)`` would get via py4j:
    IntegerType inside int32 range, LongType beyond it."""
    return str(c) if -(2**31) <= c < 2**31 else f"{c}L"


def _pq_sub_dist_sql(j: int, sub: int, carr: list[float]) -> str:
    """SQL text for the squared L2 between the j-th subvector of column
    `qx` and a literal sub-centroid, folded in fixed order from 0.0
    (bit-deterministic). Emitted as ONE parseable string so callers pay
    a single py4j round trip per expression instead of ~45 Column-DSL
    calls (the m x k_sub fan-out of those dominated PQ query-plan
    construction time, not execution)."""
    arr = ",".join(_sql_double(x) for x in carr)
    return (
        f"aggregate(zip_with(slice(qx,{j * sub + 1},{sub}),array({arr}),"
        "(x, mu) -> (CAST(x AS DOUBLE) - mu) * (CAST(x AS DOUBLE) - mu)),"
        "0.0D,(acc, z) -> acc + z)"
    )


def _pq_sub_dist(j: int, sub: int, carr: list[float]) -> Column:
    """Squared L2 between the j-th subvector of F.col('qx') and a literal
    sub-centroid, folded in fixed order from 0.0 (bit-deterministic)."""
    return F.expr(_pq_sub_dist_sql(j, sub, carr))


def _pq_code_col(j: int, sub: int, cents_j: list) -> Column:
    """argmin sub-centroid for subspace j as a codegen'd least() over
    (dist, cluster) structs — ties break to the lower cluster id because
    the struct comparison is lexicographic. Built as one SQL string
    (see _pq_sub_dist_sql) parsing to the identical Catalyst tree."""
    structs = [
        f"named_struct('d',{_pq_sub_dist_sql(j, sub, carr)},'c',{_sql_int(c)})"
        for c, carr in cents_j
    ]
    best = structs[0] if len(structs) == 1 else f"least({','.join(structs)})"
    return F.expr(f"({best}).c").alias(f"code_{j}")


def _pq_train(
    v: DataFrame, m: int, sub: int, k_sub: int, n_iter: int
) -> list[list]:
    """Blocked joint Lloyd over all m subspaces (see knn_pq_adc's
    docstring for the scan/shuffle accounting): returns
    ``cents[j] = sorted [(cluster_id, [sub centroid coords as double])]``.
    Driver state is m × k_sub × sub floats — bounded model state, the
    only .collect() in the fit."""
    from randas_spark.operators.sampling import _md5_hex

    seed_rows = (
        v.orderBy(_md5_hex(F.col("vid")), F.col("vid"))
        .limit(k_sub)
        .select(F.col("vid").alias("cluster"), "qx")
        .collect()
    )
    if not seed_rows:
        raise ValueError("pq fit: input DataFrame is empty")
    cents: list[list] = [
        sorted(
            (r["cluster"], [float(x) for x in r["qx"][j * sub : (j + 1) * sub]])
            for r in seed_rows
        )
        for j in range(m)
    ]
    for _ in range(n_iter - 1):
        assigned = v.select(
            "qx", *[_pq_code_col(j, sub, cents[j]) for j in range(m)]
        )
        sums = (
            assigned.select(
                F.posexplode("qx").alias("pos0", "x"),
                *[F.col(f"code_{j}") for j in range(m)],
            )
            .select(
                "pos0",
                "x",
                F.element_at(
                    F.array(*[F.col(f"code_{j}") for j in range(m)]),
                    (F.col("pos0") / sub).cast("int") + 1,
                ).alias("cluster"),
            )
            .groupBy("pos0", "cluster")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        acc: dict = {}
        for r in sums:
            acc.setdefault(r["pos0"] // sub, {}).setdefault(r["cluster"], {})[
                r["pos0"] % sub
            ] = (r["s"], r["cnt"])
        cents = [
            [
                (
                    c,
                    [acc[j][c][p][0] / acc[j][c][p][1] for p in range(sub)]
                    if c in acc.get(j, {})
                    else prev,
                )
                for c, prev in cents[j]
            ]
            for j in range(m)
        ]
    return cents


def knn_pq_adc(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = 64,
    m: int = 4,
    k_sub: int = 8,
    n_iter: int = 2,
    top_k: int = 10,
    n_queries: int = 5,
    scale: float = 512.0,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., PAMI'11) with asymmetric
    distance computation, end-to-end deterministic: split each vector
    into ``m`` subspaces of dim/m, train a deterministic Lloyd codebook
    per subspace (operators/cluster.kmeans_lloyd_det — md5 seeding,
    integer-quantized exact sums), encode every vector as its m nearest
    sub-centroids, then score queries against CODES ONLY: the
    query-to-centroid lookup table (n_queries × m × k_sub distances)
    replaces any query-to-vector math. approx top-k per query with
    (dist, id) tiebreak; queries are the ids < ``n_queries`` (the
    knn_bruteforce convention) and never match themselves.

    Scale (the reason PQ is THE 100 TB ANN layout): the encoded corpus
    is m small ints per vector — at m=4 here, a 64-float embedding
    becomes 4 codes (64x memory compression at 8-bit codebooks), so a
    1000-executor scan of 100 TB of raw vectors becomes a scan of
    ~1.6 TB of codes. The per-query LUT is tiny and broadcast; ADC is m
    broadcast hash-joins + a fixed-order m-term sum (deterministic —
    a groupBy-sum over doubles would be shuffle-order-dependent).
    Training is a BLOCKED joint Lloyd: all m sub-fits advance in the
    same pass — one checkpointed quantized corpus, one seed scan, and
    per iteration ONE assignment projection computing every subspace's
    argmin plus ONE (position, cluster) update shuffle, instead of m
    independent kmeans_lloyd_det runs (m corpus scans + m shuffles + m
    driver round-trips per iteration). Output is bit-identical — the
    oracle replays m INDEPENDENT fits and still hash-matches, which is
    the equivalence proof. Local wall time barely moves (5.39 → 5.23 s
    at sf0.1: whole-stage codegen compilation of the m×k_sub distance
    folds dominates, and that constant is per-plan, not per-row — hence
    the flat 1.1x slope at 10x data); the 4x fewer scans/shuffles are
    the cluster-scale win where a corpus pass costs real I/O.
    Residual/IVF
    composition (coarse-cell prefilter before PQ within the cell) is
    knn_ivf_det's cell assignment feeding this encoder; kept separate so
    each stage carries its own oracle.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m

    v = _pq_quantize(emb, id_col, vec_col, scale).localCheckpoint()
    cents = _pq_train(v, m, sub, k_sub, n_iter)
    enc = v.select(
        F.col("vid").alias("cid"),
        *[_pq_code_col(j, sub, cents[j]) for j in range(m)],
    )

    # queries come from the SAME checkpointed quantized corpus (no
    # second scan, no second copy of the quantize expression to drift)
    q = v.filter(F.col("vid") < n_queries).select(F.col("vid").alias("qid"), "qx")
    return _pq_score(enc, q, cents, m, sub, top_k)


def _pq_score(
    enc: DataFrame, q: DataFrame, cents: list[list], m: int, sub: int, top_k: int
) -> DataFrame:
    """Query-time half of PQ-ADC: broadcast per-query lookup tables
    (each LUT is one explode over a literal (code, dist) struct array —
    not k_sub unionAll legs each re-deriving the query plan), m
    broadcast hash-joins onto the code columns, a fixed-order m-term
    sum (bit-deterministic regardless of partitioning), row_number
    top-k. ``enc`` may be a freshly encoded frame (knn_pq_adc), a
    persisted codes table scan (knn_pq_query), or a coarse-pruned
    candidate frame that ALREADY carries ``qid`` (knn_ivfpq_query's
    probe join) — the plan is identical either way: codes scan +
    broadcast joins + one window, and sharing this one scorer keeps the
    flat and cell-pruned ADC paths incapable of drifting apart."""
    has_qid = "qid" in enc.columns
    luts = []
    for j in range(m):
        # one SQL string per LUT leg (k_sub struct entries inline) — the
        # identical array(named_struct(...)) tree the Column DSL built,
        # at one py4j round trip instead of ~45 per entry
        entries = F.expr(
            "array("
            + ",".join(
                f"named_struct('code',{_sql_int(c)},'d',{_pq_sub_dist_sql(j, sub, carr)})"
                for c, carr in cents[j]
            )
            + ")"
        )
        lut = q.select("qid", F.explode(entries).alias("__e__")).select(
            "qid",
            F.col("__e__.code").alias(f"code_{j}"),
            F.col("__e__.d").alias(f"d_{j}"),
        )
        luts.append(lut)

    scored = enc
    for j, lut in enumerate(luts):
        # leg 0 introduces qid (fanning each code row out to all
        # queries) UNLESS the candidate frame already carries it (the
        # cell-pruned path: each candidate belongs to specific probed
        # queries); later legs must key on (qid, code_j) or they would
        # cross-pair query LUTs
        on = [f"code_{j}"] if j == 0 and not has_qid else ["qid", f"code_{j}"]
        scored = scored.join(F.broadcast(lut), on)
    # fixed-order sum => bit-deterministic regardless of partitioning
    adc = scored.select(
        "qid",
        "cid",
        sum((F.col(f"d_{j}") for j in range(1, m)), F.col("d_0")).alias("adc_dist"),
    ).filter(F.col("qid") != F.col("cid"))
    w = Window.partitionBy("qid").orderBy(F.col("adc_dist").asc(), F.col("cid").asc())
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select("qid", "cid", "adc_dist", "rk")
    )


def parquet_fingerprint(path: str) -> str:
    """Metadata-only corpus fingerprint: sha256 over every data file's
    (relative path, size, mtime_ns) under ``path`` (or the single file's,
    when ``path`` is a plain file), sorted — so the digest is listing-
    order-free and costs one directory walk, never a data scan. This is
    the 100 TB-honest choice for "has the corpus under this sf_dir been
    regenerated since the index was built": content checksums
    (io/audit.table_checksum) would re-scan the corpus at every query,
    which is exactly the cost a persisted index exists to avoid; file
    metadata changes whenever a writer rewrites the parquet, which is
    the event that staleness detection must catch."""
    import os

    h = hashlib.sha256()
    if os.path.isfile(path):
        st = os.stat(path)
        h.update(f"{os.path.basename(path)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    else:
        for root, dirs, files in sorted(os.walk(path)):
            dirs.sort()
            for fn in sorted(files):
                if fn.startswith((".", "_")):
                    continue  # markers/CRCs aren't corpus content
                fp = os.path.join(root, fn)
                st = os.stat(fp)
                rel = os.path.relpath(fp, path)
                h.update(f"{rel}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _write_index_marker(
    out_dir: str,
    kind: str,
    params: dict,
    fingerprint: str | None,
    extra: dict | None = None,
) -> None:
    """Commit an index dir by writing the ``_INDEX_OK`` marker LAST, as
    JSON recording what was built (kind + build params) and from what
    (corpus fingerprint) — write-to-temp + rename so a crash mid-write
    never leaves a parseable-but-partial marker. ``extra`` carries
    layout state beyond build provenance (the compaction generation
    pointer + consumed stream batches); the atomic replace is what makes
    the marker the index's single commit point."""
    import json
    import os

    marker = os.path.join(out_dir, "_INDEX_OK")
    tmp = marker + ".tmp"
    payload = {"kind": kind, "params": params, "fingerprint": fingerprint}
    if extra:
        payload.update(extra)
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
        fh.write("\n")
    os.replace(tmp, marker)


def _marker_extra(marker: dict) -> dict:
    """The layout fields of a marker (everything beyond build
    provenance) — every marker REWRITE must carry these forward or a
    fingerprint stamp would silently undo a compaction's generation
    flip."""
    return {
        k: v
        for k, v in marker.items()
        if k not in ("kind", "params", "fingerprint")
    }


def read_index_marker(out_dir: str) -> dict | None:
    """The committed marker as a dict, or None when the dir is absent,
    uncommitted (no marker), or carries a pre-integrity legacy marker
    (the r9 plain-text ``ok`` — unparseable means unknown provenance,
    and unknown provenance means rebuild)."""
    import json
    import os

    try:
        with open(os.path.join(out_dir, "_INDEX_OK")) as fh:
            m = json.load(fh)
    except (OSError, ValueError):
        return None
    return m if isinstance(m, dict) else None


def index_ready(
    out_dir: str,
    kind: str | None = None,
    params: dict | None = None,
    fingerprint: str | None = None,
) -> bool:
    """Build-if-absent predicate with integrity: True only when a
    committed marker exists AND (when given) the kind, every build
    param, and the corpus fingerprint all match — so a regenerated
    corpus or changed build params read as "no index here", triggering
    a rebuild instead of silently serving stale codes (VERDICT r9 #2)."""
    m = read_index_marker(out_dir)
    if m is None:
        return False
    if kind is not None and m.get("kind") != kind:
        return False
    if params:
        have = m.get("params") or {}
        for k, v in params.items():
            if have.get(k) != v:
                return False
    if fingerprint is not None and m.get("fingerprint") != fingerprint:
        return False
    return True


def pq_build_index(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    out_dir: str,
    dim: int = 64,
    m: int = 4,
    k_sub: int = 8,
    n_iter: int = 2,
    scale: float = 512.0,
    fingerprint: str | None = None,
) -> None:
    """BUILD half of the persisted PQ index: train the deterministic
    joint Lloyd codebooks, encode the corpus, and persist both as plain
    parquet tables under ``out_dir``:

    - ``codes.parquet``   — (cid long, code_0..code_{m-1} long): the
      64x-compressed corpus representation; the ONLY per-row artifact.
    - ``codebooks.parquet`` — (j int, cluster long, carr array<double>):
      m × k_sub rows of model state.

    This is the shape a 100 TB vector corpus actually needs: the fit
    (corpus scans + Lloyd shuffles) runs ONCE at ingest, and every
    query after that is knn_pq_query's scan-plus-broadcast plan against
    the codes table. Determinism makes the split lossless: the
    persisted constants are exactly what a fresh fit would produce, so
    query results are bit-identical to knn_pq_adc's fused fit+query
    (and the same DuckDB oracle that replays the fit still hash-matches
    the persisted path — parquet round-trips doubles and longs exactly).
    The ``_INDEX_OK`` marker (JSON: kind + build params + the caller's
    corpus ``fingerprint``) commits the pair for the build-if-absent
    pattern: readers treat a dir without a valid marker as absent and
    rebuild, and knn_pq_query validates its own dim/m/scale arguments
    against the recorded params so a mismatched query fails loudly
    instead of returning silently wrong distances."""
    import os

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    v = _pq_quantize(emb, id_col, vec_col, scale).localCheckpoint()
    cents = _pq_train(v, m, sub, k_sub, n_iter)
    enc = v.select(
        F.col("vid").alias("cid"),
        *[_pq_code_col(j, sub, cents[j]) for j in range(m)],
    )
    enc.write.mode("overwrite").parquet(os.path.join(out_dir, "codes.parquet"))
    spark = emb.sparkSession
    cb_rows = [
        (j, int(c), [float(x) for x in carr])
        for j in range(m)
        for c, carr in cents[j]
    ]
    spark.createDataFrame(
        cb_rows, "j int, cluster long, carr array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "codebooks.parquet")
    )
    _write_index_marker(
        out_dir,
        "pq",
        {"dim": dim, "m": m, "k_sub": k_sub, "n_iter": n_iter, "scale": scale},
        fingerprint,
    )


def pq_index_ready(out_dir: str) -> bool:
    """True when ``out_dir`` holds a committed index (valid JSON marker;
    r9-era plain-text markers read as NOT ready — unknown provenance)."""
    return read_index_marker(out_dir) is not None


def _pq_load_codebooks(spark, index_dir: str, m: int) -> list[list]:
    """The persisted codebooks as ``cents[j] = [(cluster, [coords])]``
    (m × k_sub rows — bounded model state, the only .collect() on the
    query/append paths)."""
    import os

    import pyarrow.parquet as papq

    # m x k_sub rows of driver model state: read with pyarrow instead of
    # a spark.read+collect so loading the codebooks costs no Spark job
    # (values identical — same parquet bytes, same long/double types)
    cb = papq.read_table(os.path.join(index_dir, "codebooks.parquet")).to_pylist()
    cents: list[list] = [[] for _ in range(m)]
    for r in sorted(cb, key=lambda r: (r["j"], r["cluster"])):
        cents[r["j"]].append((r["cluster"], [float(x) for x in r["carr"]]))
    if any(not cj for cj in cents):
        raise ValueError(f"codebooks at {index_dir} missing a subspace")
    return cents


def knn_pq_query(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    dim: int = 64,
    m: int = 4,
    top_k: int = 10,
    scale: float = 512.0,
    fingerprint: str | None = None,
) -> DataFrame:
    """QUERY half of the persisted PQ index: load the m × k_sub codebook
    rows (bounded model state — the only .collect()), quantize the query
    vectors with the shared atom, and score against the persisted codes
    table. The plan is exactly the 100 TB steady-state shape: ONE scan
    of the (64x-compressed) codes parquet + m broadcast LUT joins + one
    top-k window — no corpus scan of raw vectors, no Lloyd iteration,
    no checkpoint.

    Integrity (VERDICT r9 #2): fails fast on an uncommitted dir, raises
    when the caller's dim/m/scale disagree with the marker's build
    params (a scale mismatch would return silently wrong distances —
    codebook-length mismatches raise on their own, scale never would),
    and — when the caller passes the current corpus ``fingerprint`` —
    raises when the index was built from a different corpus so the
    caller rebuilds instead of serving stale codes."""
    import os

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    marker = read_index_marker(index_dir)
    if marker is None:
        raise ValueError(f"knn_pq_query: no committed index at {index_dir}")
    built = marker.get("params") or {}
    for name, want in (("dim", dim), ("m", m), ("scale", scale)):
        if name in built and built[name] != want:
            raise ValueError(
                f"knn_pq_query: param mismatch at {index_dir} — index built "
                f"with {name}={built[name]}, query passed {name}={want}"
            )
    if fingerprint is not None and marker.get("fingerprint") != fingerprint:
        raise ValueError(
            f"knn_pq_query: stale index at {index_dir} — built from corpus "
            f"{marker.get('fingerprint')}, current corpus is {fingerprint}; "
            "rebuild with pq_build_index"
        )
    sub = dim // m
    spark = queries.sparkSession
    cents = _pq_load_codebooks(spark, index_dir, m)
    # generation pointer (pq_compact_codes flips it atomically); a
    # pre-compaction index reads the original codes.parquet
    enc = spark.read.parquet(
        os.path.join(index_dir, marker.get("codes_dir", "codes.parquet"))
    )
    q = _pq_quantize(queries, id_col, vec_col, scale).select(
        F.col("vid").alias("qid"), "qx"
    )
    return _pq_score(enc, q, cents, m, sub, top_k)


def assign_topk_cells(
    rows: DataFrame,
    id_col: str,
    vec_col: str,
    cent: DataFrame,
    n_probe: int = 1,
    cent_rows: list | None = None,
    fan: bool = True,
) -> DataFrame:
    """Top-``n_probe`` max-cosine cell assignment against a centroid
    frame, as a VECTORIZED Arrow kernel — THE shared assignment of the
    IVF family (graph build, index build, batch append, stream ingest,
    bitext quantizer) since r12. Returns (vid, cell, rn), rn = 1-based
    rank under (ccos DESC, cell ASC).

    Why a kernel and not crossJoin + row_number (the pre-r12 shape):
    the declarative form materializes |rows| x |cent| rows just to keep
    n_probe per vector, and the zip_with/aggregate cosine folds break
    whole-stage codegen (0 spans measured) so every row is interpreted
    — profiled at 273 of 300 s on semantic dedup's sf10 cell against
    ~65 s for the folds alone (SCALE.md r12). The kernel ships the
    n_cells x dim centroid panel into the closure (bounded model state
    — the BPE merge-table pattern) and scores each Arrow batch with
    numpy, emitting only the top-n_probe rows: no wide intermediate,
    no sort, no window exchange. FAISS IndexIVF does coarse assignment
    exactly this way (a BLAS pass over the centroid panel).

    BIT-EXACT with the declarative form and the DuckDB oracles:
    elements upcast float32->float64 (exact), then acc = acc + (x_j *
    c_j) dim-by-dim — the same two IEEE roundings per step as
    F.aggregate(zip_with(...)) and list_reduce; norms are sqrt of the
    same self-fold (np.sqrt correctly rounded, as are JVM/DuckDB
    sqrt); selection replays (ccos DESC, cell ASC) with a full per-row
    lexsort — NO argpartition shortcut, because twin centroids
    (exactly equal ccos for every query) make boundary ties routine
    and the tie-break must match the window ordering.

    ``cent_rows`` (optional) is the already-collected centroid panel —
    callers that run the kernel twice against the SAME panel (e.g.
    knn_ivf_det: corpus assignment + query probes) pass it so the
    TakeOrdered centroid job runs once, not once per kernel call."""
    if cent_rows is None:
        cent_rows = cent.collect()  # n_cells rows: bounded model state
    if not cent_rows:
        # Empty centroid panel (empty corpus): degrade to an empty
        # typed frame — as the retired crossJoin form did — instead of
        # np.stack dying on "need at least one array" inside the kernel.
        return rows.sparkSession.createDataFrame(
            [], "vid long, cell long, rn int"
        )
    np_probe = max(n_probe, 1)

    def _assign_batches(pdfs):
        import numpy as np
        import pandas as pd

        cells_arr = np.array([r["cell"] for r in cent_rows], dtype=np.int64)
        cmat = np.stack(
            [np.asarray(r["center"], dtype=np.float64) for r in cent_rows]
        )
        cnrm = np.array([r["center_nrm"] for r in cent_rows])
        k = min(np_probe, len(cells_arr))
        for pdf in pdfs:
            if not len(pdf):
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["vv"]]
            )
            # strict left folds, dim by dim: acc = acc + (x_j * c_j) —
            # one multiply rounding + one add rounding per step, the
            # exact zip_with/list_reduce sequence; tmp preallocated so
            # the fold loop does zero per-step allocation
            dots = np.zeros((len(x), len(cells_arr)))
            tmp = np.empty_like(dots)
            sq = np.zeros(len(x))
            for j in range(x.shape[1]):
                np.multiply(x[:, j : j + 1], cmat[:, j], out=tmp)
                dots += tmp
                sq += x[:, j] * x[:, j]
            ccos = dots / (np.sqrt(sq)[:, None] * cnrm)
            vids, ocells, orns = [], [], []
            for i in range(len(x)):
                order = np.lexsort((cells_arr, -ccos[i]))[:k]
                vids.extend([pdf["vid"].iat[i]] * k)
                ocells.extend(cells_arr[order])
                orns.extend(range(1, k + 1))
            yield pd.DataFrame(
                {"vid": vids, "cell": ocells, "rn": orns}
            ).astype({"vid": "int64", "cell": "int64", "rn": "int32"})

    # round-robin repartition so the kernel saturates the cores even
    # when the input arrives in a handful of parquet splits — one
    # narrow shuffle of (vid, vv), ~0.1% of the exchange the retired
    # window shape paid. ``fan=False`` skips it for PANEL-BOUNDED
    # inputs (e.g. knn_ivf_det's 50-query probe ranking): fanning ~50
    # rows into defaultParallelism kernel tasks costs a full
    # 33-task job (~0.5 s at sf0.1) to parallelize microseconds of
    # numpy — the kmeans fan-out lesson (OPTIMIZATION_r13).
    narrow = rows.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vv"))
    if fan:
        narrow = narrow.repartition(
            rows.sparkSession.sparkContext.defaultParallelism
        )
    return narrow.mapInPandas(_assign_batches, schema="vid long, cell long, rn int")


def _ivf_assign(
    rows: DataFrame, id_col: str, vec_col: str, cent: DataFrame
) -> DataFrame:
    """Max-cosine cell assignment — THE shared expression of the IVF
    family (build, batch append, stream ingest), factored so an
    appended or streamed row lands in exactly the cell a full rebuild
    would put it in: one shared definition, zero drift. Since r12 the
    ranking runs in the assign_topk_cells Arrow kernel (bit-exact with
    the crossJoin + row_number form it replaced — see its docstring);
    the vectors and norms are re-attached by one narrow equi-join."""
    r = rows.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    top1 = assign_topk_cells(rows, id_col, vec_col, cent, n_probe=1).select(
        F.col("vid").alias("cid"), "cell"
    )
    return top1.join(r, "cid").select("cid", "cv", "cn", "cell")


def ivf_build_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    out_dir: str,
    n_cells: int = 16,
    fingerprint: str | None = None,
) -> None:
    """BUILD half of the persisted IVF index (the knn_pq_* pattern on
    the inverted-file layout): deterministic md5-order centroid seeding,
    broadcast max-cosine cell assignment, then persist

    - ``centroids.parquet``   — (cell, center array<float>, center_nrm)
      — n_cells rows of model state;
    - ``assignments.parquet`` — (cid, cv, cn) PARTITIONED BY cell — the
      corpus physically CO-LOCATED by cell, which is the real point: a
      query probing n_probe of n_cells touches only those partitions'
      files (static pruning for literal cells, Spark dynamic partition
      pruning for the broadcast probe join), so query cost scales with
      the probed fraction, not the corpus.

    Same determinism argument as pq_build_index: the persisted frames
    are exactly what knn_ivf_det computes inline (norms included, so
    query-time math is bit-identical), committed under _INDEX_OK."""
    import os

    from randas_spark.operators.sampling import _md5_hex

    cent = (
        corpus.orderBy(_md5_hex(F.col(id_col)), F.col(id_col))
        .limit(n_cells)
        .select(
            F.col(id_col).alias("cell"),
            F.col(vec_col).alias("center"),
            norm(F.col(vec_col)).alias("center_nrm"),
        )
    )
    assign = _ivf_assign(corpus, id_col, vec_col, cent)
    cent.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "centroids.parquet")
    )
    # one file per cell (see ivfpq_build_index): an unrepartitioned
    # partitioned write fans every task into every cell dir, and the
    # serve scan pays for tasks x cells tiny files forever after
    assign.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(out_dir, "assignments.parquet")
    )
    _write_index_marker(out_dir, "ivf", {"n_cells": n_cells}, fingerprint)


def knn_ivf_query(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    n_probe: int = 4,
    top_k: int = 10,
    fingerprint: str | None = None,
    candidate_filter: Column | None = None,
) -> DataFrame:
    """QUERY half of the persisted IVF index: probe the n_probe
    max-cosine cells per query against the (tiny, broadcast) persisted
    centroid table, then score ONLY the probed cells' assignment
    partitions. No seeding scan, no corpus-wide assignment at query
    time; the assignment scan is bounded by the probed partitions
    (partition-pruned layout from ivf_build_index). Bit-identical to
    knn_ivf_det at the same params — the persisted norms guarantee the
    same fold inputs.

    Integrity: fails fast on an uncommitted/legacy dir and, when the
    caller passes the current corpus ``fingerprint``, raises on a stale
    index (n_probe/top_k are query-time knobs, valid against any build,
    so there are no build params to cross-check here)."""
    import os

    spark = queries.sparkSession
    marker = read_index_marker(index_dir)
    if marker is None:
        raise ValueError(f"knn_ivf_query: no committed index at {index_dir}")
    if fingerprint is not None and marker.get("fingerprint") != fingerprint:
        raise ValueError(
            f"knn_ivf_query: stale index at {index_dir} — built from corpus "
            f"{marker.get('fingerprint')}, current corpus is {fingerprint}; "
            "rebuild with ivf_build_index"
        )
    cent = spark.read.parquet(os.path.join(index_dir, "centroids.parquet"))
    # the served corpus = the current assignments GENERATION (marker
    # pointer — compaction flips it atomically) + every rename-COMMITTED,
    # unconsumed stream batch; all roots share the cell-partition layout,
    # so the probe join prunes each root to the probed cells
    roots = [
        os.path.join(index_dir, marker.get("assignments_dir", "assignments.parquet"))
    ]
    roots += ivf_committed_stream_dirs(index_dir)
    parts = [
        spark.read.parquet(r).select(
            "cid", "cv", "cn", F.col("cell").cast("long").alias("cell")
        )
        for r in roots
    ]
    assign = parts[0]
    for p in parts[1:]:
        # each root is separately cell-partitioned (Spark refuses one
        # multi-root partition discovery); the union preserves per-root
        # partition pruning because the probe-cell filter pushes into
        # every union branch
        assign = assign.unionByName(p)
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    wp = Window.partitionBy("qid").orderBy(F.col("ccos").desc(), F.col("cell"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn(
            "ccos",
            dot(F.col("qv"), F.col("center")) / (F.col("qn") * F.col("center_nrm")),
        )
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= n_probe)
        .select("qid", "qv", "qn", "cell")
    )
    if candidate_filter is not None:
        # FILTERED search (metadata predicate): applied to the candidate
        # rows BEFORE ranking, so it lands on the partition-pruned
        # assignments scan (column-pruned, pushed down) — top-k among
        # survivors. A highly selective filter can return < k rows from
        # the probed cells; callers widen n_probe or brute-force the
        # filtered subset (the recall-audit trade).
        assign = assign.filter(candidate_filter)
    wk = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        F.broadcast(probes)
        .join(assign, "cell")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn(
            "cos", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
        .withColumn("rk", F.row_number().over(wk).cast("long"))
        .filter(F.col("rk") <= top_k)
        .select("qid", "cid", "cos", "rk")
    )


def ivf_assignment_counts(spark, index_dir: str) -> DataFrame:
    """Per-cell row counts of a committed IVF index (base generation ∪
    unconsumed stream batches) — the raw table behind the balance
    report. Pure metadata-scale aggregate: reads only the cell
    partition column, one map-combinable count."""
    import os

    marker = read_index_marker(index_dir)
    if marker is None or marker.get("kind") != "ivf":
        raise ValueError(f"ivf_assignment_counts: no committed IVF index at {index_dir}")
    roots = [
        os.path.join(index_dir, marker.get("assignments_dir", "assignments.parquet"))
    ] + ivf_committed_stream_dirs(index_dir)
    parts = [
        spark.read.parquet(r).select(F.col("cell").cast("long").alias("cell"))
        for r in roots
    ]
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    return allc.groupBy("cell").agg(F.count(F.lit(1)).alias("c"))


def ivf_append_batch(
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    fingerprint: str | None = None,
) -> None:
    """Append a NEW ingestion batch to a committed IVF index WITHOUT
    re-fitting (VERDICT r9 #4 — the missing member of the incremental-
    ingestion family next to the exact-dedup, near-dup, and packing
    ledgers): assign the batch against the PERSISTED centroids (the
    same broadcast max-cosine expression ivf_build_index uses, so an
    appended row lands in exactly the cell a full rebuild would put it
    in) and append its rows to the cell-partitioned assignments table.

    Lifetime-linear: each batch costs one batch-scan × broadcast
    centroids + one partitioned append — re-fitting per batch would be
    lifetime-quadratic in corpus size, and at 100 TB you never re-fit
    per ingestion. The marker is re-committed LAST with the caller's
    post-append corpus ``fingerprint``: a crash after the data append
    but before the marker rewrite leaves the OLD fingerprint in place,
    so the next index_ready(fingerprint=new) reads stale and triggers a
    clean rebuild instead of serving a half-appended index."""
    import os

    marker = read_index_marker(index_dir)
    if marker is None or marker.get("kind") != "ivf":
        raise ValueError(f"ivf_append_batch: no committed IVF index at {index_dir}")
    spark = batch.sparkSession
    cent = spark.read.parquet(os.path.join(index_dir, "centroids.parquet"))
    assign = _ivf_assign(batch, id_col, vec_col, cent)
    assign.write.mode("append").partitionBy("cell").parquet(
        os.path.join(index_dir, marker.get("assignments_dir", "assignments.parquet"))
    )
    _write_index_marker(
        index_dir,
        "ivf",
        marker.get("params") or {},
        fingerprint,
        extra=_marker_extra(marker),
    )


def ivf_commit_stream_batch(
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    batch_id: int,
) -> bool:
    """IDEMPOTENT per-micro-batch IVF append — the foreachBatch sink of
    streaming ANN ingestion (streaming/engine.ivf_ingest_stream). The
    checkpoint makes a restarted stream resume at the right offset, but
    foreachBatch delivery is at-least-once: after a crash between the
    data write and the offset commit the SAME batch_id is redelivered,
    and ivf_append_batch's plain ``mode("append")`` would duplicate its
    rows. Here each micro-batch is assigned against the persisted
    centroids (``_ivf_assign`` — identical cell placement to a rebuild),
    written to a private ``stream_appends/b{batch_id}.__tmp__`` dir
    (cell-partitioned like the base table), then RENAME-committed to
    ``stream_appends/b{batch_id}``; a redelivered batch sees the
    committed dir and returns without writing, so replaying any batch
    any number of times converges to exactly one copy. Returns True when
    this call committed, False when the batch was already there.

    Scale notes: the rename is the local-FS commit primitive — on an
    object store the same protocol is a manifest write (temp prefix +
    manifest pointing at it), which is what table formats (Iceberg/Delta)
    do under Spark; the per-batch dirs keep ingest O(batch) and are
    compacted into assignments.parquet offline when small-file count
    matters (the classic streaming-ingest compaction trade).

    Id-recycling guard (ADVICE r10 #1): the dir name IS the idempotence
    key, so a NEW stream epoch (fresh checkpoint restarting batch_id at
    0) that reuses an id already folded into a compacted generation and
    GC'd would rename-commit a dir ivf_committed_stream_dirs excludes
    FOREVER — rows silently never served. A commit whose name is still
    listed in the marker's ``consumed`` field therefore returns False
    when the dir still exists (redelivery of a consumed-awaiting-GC
    batch — already served via the compacted generation) and RAISES when
    the dir is gone (a recycled id cannot be told apart from such a
    redelivery by name, and writing would be silent data loss): new
    epochs must offset their ids by :func:`ivf_stream_epoch_base`, the
    monotone watermark compaction persists in the marker."""
    import os
    import shutil

    marker = read_index_marker(index_dir)
    if marker is None or marker.get("kind") != "ivf":
        raise ValueError(
            f"ivf_commit_stream_batch: no committed IVF index at {index_dir}"
        )
    name = f"b{int(batch_id):06d}"
    target = os.path.join(index_dir, "stream_appends", name)
    if os.path.exists(target):
        return False  # redelivered batch — already committed
    if name in set(marker.get("consumed") or []):
        raise ValueError(
            f"ivf_commit_stream_batch: batch id {int(batch_id)} at {index_dir} "
            "was already folded into a compacted generation and its dir GC'd; "
            "a new stream epoch must not recycle consumed ids — start its "
            f"batch ids at ivf_stream_epoch_base() = "
            f"{int(marker.get('next_batch_id', 0))}"
        )
    spark = batch.sparkSession
    cent = spark.read.parquet(os.path.join(index_dir, "centroids.parquet"))
    assign = _ivf_assign(batch, id_col, vec_col, cent)
    tmp = target + ".__tmp__"
    shutil.rmtree(tmp, ignore_errors=True)
    assign.write.mode("overwrite").partitionBy("cell").parquet(tmp)
    os.rename(tmp, target)
    return True


def ivf_stream_epoch_base(index_dir: str) -> int:
    """The first batch id a NEW stream epoch (fresh checkpoint, ids
    restarting at 0) may use against this index: the marker's
    ``next_batch_id`` watermark, advanced by every compaction past the
    highest id it folded. A new epoch's foreachBatch sink commits with
    ``epoch_base + batch_id`` so recycled checkpoint ids can never
    collide with names already consumed by a compacted generation
    (ivf_commit_stream_batch refuses such collisions loudly)."""
    marker = read_index_marker(index_dir)
    if marker is None:
        raise ValueError(f"ivf_stream_epoch_base: no committed index at {index_dir}")
    return int(marker.get("next_batch_id", 0))


def ivf_stamp_fingerprint(index_dir: str, fingerprint: str | None) -> None:
    """Seal a build+ingest sequence by rewriting the marker with the
    served-corpus fingerprint LAST (kind and params preserved). Same
    crash discipline as ivf_append_batch: until the stamp lands, readers
    validating against the new corpus fingerprint see the index as stale
    and rebuild — a torn build/ingest sequence is never served."""
    marker = read_index_marker(index_dir)
    if marker is None:
        raise ValueError(f"ivf_stamp_fingerprint: no committed index at {index_dir}")
    _write_index_marker(
        index_dir,
        marker.get("kind", "ivf"),
        marker.get("params") or {},
        fingerprint,
        extra=_marker_extra(marker),
    )


def ivf_committed_stream_dirs(index_dir: str) -> list[str]:
    """Committed, UNCONSUMED stream-append batch dirs under an IVF
    index, sorted by batch id — ``.__tmp__`` staging dirs (torn writes)
    are invisible by construction, and dirs listed in the marker's
    ``consumed`` field (already folded into the compacted assignments
    generation, awaiting GC) are excluded so a crash between a
    compaction's marker flip and its directory cleanup can never serve
    a row twice."""
    import os

    root = os.path.join(index_dir, "stream_appends")
    if not os.path.isdir(root):
        return []
    marker = read_index_marker(index_dir) or {}
    consumed = set(marker.get("consumed") or [])
    return [
        os.path.join(root, d)
        for d in sorted(os.listdir(root))
        if d.startswith("b") and not d.endswith(".__tmp__") and d not in consumed
    ]


def ivf_compact_stream_appends(spark, index_dir: str) -> dict:
    """Fold every committed stream-append batch dir into ONE new
    cell-partitioned assignments GENERATION — the compaction half of
    streaming ingest (each micro-batch dir is small; a year of
    continuous ingest is thousands of small files, and small-file count
    is what kills scan throughput at scale).

    Commit protocol (single atomic decision point, same discipline as
    the rename-commit on the write path): the compacted table (current
    generation ∪ stream batches) is first written to a NEW generation
    dir ``assignments_g{K}.parquet`` — invisible to readers, who follow
    the marker's ``assignments_dir`` pointer; then one atomic marker
    replace flips ``assignments_dir`` to the new generation AND records
    the folded batch dirs as ``consumed``; only then are the old
    generation and consumed dirs deleted. A crash before the flip
    serves the old layout (orphan generation dir, harmless); a crash
    after the flip but before cleanup serves the new generation with
    consumed dirs excluded by ivf_committed_stream_dirs — NEVER a
    double-served row. Object-store note: the marker replace plays the
    role a table format's manifest swap plays; the post-flip deletes
    would become TTL'd garbage collection to respect in-flight readers
    (single-writer, snapshot-per-query assumed here).

    Returns a summary dict (generation, n_consumed). No-op when there
    is nothing to fold."""
    import os
    import shutil

    marker = read_index_marker(index_dir)
    if marker is None or marker.get("kind") != "ivf":
        raise ValueError(
            f"ivf_compact_stream_appends: no committed IVF index at {index_dir}"
        )
    stream_dirs = ivf_committed_stream_dirs(index_dir)
    if not stream_dirs:
        return {"generation": marker.get("assignments_dir", "assignments.parquet"),
                "n_consumed": 0}
    cur = marker.get("assignments_dir", "assignments.parquet")
    gen = int(marker.get("generation", 0)) + 1
    new_dir = f"assignments_g{gen}.parquet"
    roots = [os.path.join(index_dir, cur)] + stream_dirs
    parts = [
        spark.read.parquet(r).select(
            "cid", "cv", "cn", F.col("cell").cast("long").alias("cell")
        )
        for r in roots
    ]
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    merged.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(index_dir, new_dir)
    )
    # Prune consumed entries whose dirs an EARLIER compaction already
    # GC'd (ADVICE r10 #2: without this the list grows for the index's
    # lifetime, bloating the single commit-point file every query reads
    # and widening the id-recycling trap). An entry still on disk stays
    # listed — it is in the flip-to-GC crash window and must remain
    # excluded from serving. The watermark below keeps the recycling
    # guard sound after pruning: a pruned name can only be recommitted
    # by an epoch that ignored ivf_stream_epoch_base, and
    # ivf_commit_stream_batch's consumed check catches the un-pruned
    # window while next_batch_id documents the safe floor forever.
    folded = {os.path.basename(d) for d in stream_dirs}
    root = os.path.join(index_dir, "stream_appends")
    consumed = sorted(
        {
            n
            for n in set(marker.get("consumed") or [])
            if os.path.exists(os.path.join(root, n))
        }
        | folded
    )
    next_id = max(
        int(marker.get("next_batch_id", 0)),
        max(int(n.lstrip("b")) for n in folded) + 1,
    )
    extra = _marker_extra(marker)
    extra.update(
        {
            "assignments_dir": new_dir,
            "generation": gen,
            "consumed": consumed,
            "next_batch_id": next_id,
        }
    )
    _write_index_marker(
        index_dir,
        "ivf",
        marker.get("params") or {},
        marker.get("fingerprint"),
        extra=extra,
    )
    # post-flip GC: anything below is redundant with the new generation
    # (consumed entries carried over from a crashed earlier GC included —
    # their rows live in `cur`, which was folded into the new generation)
    for n in consumed:
        shutil.rmtree(os.path.join(root, n), ignore_errors=True)
    shutil.rmtree(os.path.join(index_dir, cur), ignore_errors=True)
    return {"generation": new_dir, "n_consumed": len(stream_dirs)}


def pq_encode_batch(
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    fingerprint: str | None = None,
) -> None:
    """PQ twin of :func:`ivf_append_batch`: encode a new batch against
    the PERSISTED codebooks (no Lloyd re-fit — the build params come
    from the marker, so the quantization atom and sub-centroids are
    exactly the build's) and append the code rows to codes.parquet.
    Same crash discipline: marker re-committed last with the
    post-append fingerprint, so a torn append reads stale and rebuilds."""
    import os

    marker = read_index_marker(index_dir)
    if marker is None or marker.get("kind") != "pq":
        raise ValueError(f"pq_encode_batch: no committed PQ index at {index_dir}")
    params = marker.get("params") or {}
    dim = int(params.get("dim", 64))
    m = int(params.get("m", 4))
    scale = float(params.get("scale", 512.0))
    sub = dim // m
    spark = batch.sparkSession
    cents = _pq_load_codebooks(spark, index_dir, m)
    v = _pq_quantize(batch, id_col, vec_col, scale)
    enc = v.select(
        F.col("vid").alias("cid"),
        *[_pq_code_col(j, sub, cents[j]) for j in range(m)],
    )
    enc.write.mode("append").parquet(
        os.path.join(index_dir, marker.get("codes_dir", "codes.parquet"))
    )
    _write_index_marker(
        index_dir, "pq", params, fingerprint, extra=_marker_extra(marker)
    )


# Per-file row target for compacted PQ codes (~100 MB at production m);
# module-level so tests can exercise the file-count sizing without 4M rows.
PQ_CODES_ROWS_PER_FILE = 4_000_000


def pq_compact_codes(spark, index_dir: str) -> dict:
    """PQ twin of :func:`ivf_compact_stream_appends` for the small-file
    decay of repeated ``pq_encode_batch`` appends (every append lands
    new files in the codes table; a year of batches is thousands of
    tiny parquet files on the index's ONLY per-row artifact): rewrite
    the current codes generation into ``codes_g{K}.parquet``, coalesced
    to a file count sized by rows, then flip the marker's ``codes_dir``
    pointer in one atomic replace and GC the old generation. A crash
    before the flip leaves an orphan dir (harmless); after the flip the
    old dir is unreferenced — no crash window double-serves a code
    row."""
    import os
    import shutil

    marker = read_index_marker(index_dir)
    if marker is None or marker.get("kind") != "pq":
        raise ValueError(f"pq_compact_codes: no committed PQ index at {index_dir}")
    cur = marker.get("codes_dir", "codes.parquet")
    gen = int(marker.get("generation", 0)) + 1
    new_dir = f"codes_g{gen}.parquet"
    enc = spark.read.parquet(os.path.join(index_dir, cur))
    n = enc.count()
    # ~4M code rows per output file: each row is m longs + id, so this
    # keeps files in the 100 MB class at production m without ever
    # writing the thousands-of-KB-files shape compaction exists to fix.
    # CEILING division (ADVICE r10 #3): floor would pack e.g. 7.9M rows
    # into one ~2x-oversized file instead of two at-target files.
    # coalesce can only REDUCE partition count (the common many-small-
    # appends case, shuffle-free); when the target exceeds the current
    # partitioning — few but oversized files — a repartition shuffle is
    # the correct price for the at-target layout.
    n_files = max(1, -(-n // PQ_CODES_ROWS_PER_FILE))
    sized = (
        enc.coalesce(n_files)
        if n_files <= enc.rdd.getNumPartitions()
        else enc.repartition(n_files)
    )
    sized.write.mode("overwrite").parquet(os.path.join(index_dir, new_dir))
    extra = _marker_extra(marker)
    extra.update({"codes_dir": new_dir, "generation": gen})
    _write_index_marker(
        index_dir, "pq", marker.get("params") or {}, marker.get("fingerprint"),
        extra=extra,
    )
    shutil.rmtree(os.path.join(index_dir, cur), ignore_errors=True)
    return {"generation": new_dir, "n_rows": int(n)}


def ivfpq_build_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    out_dir: str,
    n_cells: int = 16,
    dim: int = 64,
    m: int = 4,
    k_sub: int = 8,
    n_iter: int = 2,
    scale: float = 512.0,
    fingerprint: str | None = None,
) -> None:
    """BUILD half of the composite IVF+PQ index (VERDICT r10 order #1) —
    the standard IVFADC layout (Jégou et al., PAMI'11 §V; FAISS
    IndexIVFPQ): a coarse inverted file prunes WHICH vectors a query
    scores, product quantization compresses HOW each survivor is
    scored. This closes the one remaining gap in the ANN ladder: the
    flat persisted PQ (knn_pq_query) scans the whole 64x-compressed
    codes table per query panel — linear, but still corpus-sized —
    while here the codes live PARTITIONED BY coarse cell, so a query
    probing n_probe of n_cells touches n_probe·N/n_cells code rows.

    Variant note: codebooks quantize the RAW vectors, not per-cell
    residuals (FAISS's ``by_residual=false`` mode — a supported
    production variant). Chosen deliberately: shared codebooks make the
    fit a pure function of the corpus alone, so the composite is
    exactly {coarse assignment} x {the already-oracled PQ fit} and the
    DuckDB replay composes the two proven chains; residual encoding
    would couple the Lloyd fit to the cell layout for a modest recall
    gain that the two-stage exact rerank (knn_pq_rerank's pattern)
    recovers anyway.

    Persisted artifacts:
    - ``centroids.parquet`` — coarse cells (cell, center, center_nrm),
      n_cells rows of model state (broadcast at query time);
    - ``codebooks.parquet`` — (j, cluster, carr): m x k_sub PQ rows;
    - ``codes.parquet``     — (cid, code_0..code_{m-1}) PARTITIONED BY
      cell: the corpus as m small ints per row, physically co-located
      by coarse cell — the layout that turns probing into partition
      pruning on the ONLY corpus-sized artifact.

    Determinism: md5-seeded coarse centroids (ivf_build_index's
    seeding), the shared ``_ivf_assign`` cell expression, and the
    blocked deterministic Lloyd PQ fit — every stage replayable
    cross-engine, so the composite carries a full value-hash oracle."""
    import os

    from randas_spark.operators.sampling import _md5_hex

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    cent = (
        corpus.orderBy(_md5_hex(F.col(id_col)), F.col(id_col))
        .limit(n_cells)
        .select(
            F.col(id_col).alias("cell"),
            F.col(vec_col).alias("center"),
            norm(F.col(vec_col)).alias("center_nrm"),
        )
    )
    assign = _ivf_assign(corpus, id_col, vec_col, cent).select("cid", "cell")
    v = _pq_quantize(corpus, id_col, vec_col, scale).localCheckpoint()
    cents = _pq_train(v, m, sub, k_sub, n_iter)
    enc = v.select(
        F.col("vid").alias("cid"),
        *[_pq_code_col(j, sub, cents[j]) for j in range(m)],
    )
    # one equi-join stitches code row to coarse cell; at build time both
    # sides are corpus-sized and co-keyed on the id — a single shuffle,
    # paid once per build, to buy partition pruning on every query after.
    # repartition("cell") before the partitioned write: without it every
    # write task emits a file into every cell dir (tasks x cells tiny
    # files — measured 2x+ serve-scan inflation at sf1.0); with it each
    # cell is ONE file, and the caller sizes n_cells so that file is
    # file-system-sized (the sqrt(N) coarse granularity, see
    # queries/llm._ivfpq_index)
    codes = enc.join(assign, "cid")
    cent.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "centroids.parquet")
    )
    codes.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(out_dir, "codes.parquet")
    )
    spark = corpus.sparkSession
    cb_rows = [
        (j, int(c), [float(x) for x in carr])
        for j in range(m)
        for c, carr in cents[j]
    ]
    spark.createDataFrame(
        cb_rows, "j int, cluster long, carr array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "codebooks.parquet")
    )
    _write_index_marker(
        out_dir,
        "ivfpq",
        {
            "n_cells": n_cells,
            "dim": dim,
            "m": m,
            "k_sub": k_sub,
            "n_iter": n_iter,
            "scale": scale,
        },
        fingerprint,
    )


def knn_ivfpq_query(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    n_probe: int = 4,
    top_k: int = 10,
    dim: int = 64,
    m: int = 4,
    scale: float = 512.0,
    fingerprint: str | None = None,
) -> DataFrame:
    """QUERY half of the composite IVF+PQ index: probe the n_probe
    max-cosine coarse cells per query against the broadcast centroid
    table, then ADC-score ONLY the probed cells' code partitions. The
    plan is the 100 TB ANN steady state this repo was missing: the one
    corpus-sized scan (codes, already 64x-compressed) is partition-
    pruned to n_probe·N/n_cells rows by the broadcast probe join, the
    LUTs are per-query literals, and the fixed-order ADC sum keeps the
    result bit-deterministic. Against the flat persisted PQ this
    removes the full-codes scan; against the persisted IVF it removes
    the raw-vector math on the survivors.

    Integrity (same discipline as knn_pq_query/knn_ivf_query): raises
    on an uncommitted dir, on caller params that contradict the
    marker's build params, and on a corpus-fingerprint mismatch."""
    import os

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    marker = read_index_marker(index_dir)
    if marker is None or marker.get("kind") != "ivfpq":
        raise ValueError(f"knn_ivfpq_query: no committed IVFPQ index at {index_dir}")
    built = marker.get("params") or {}
    for name, want in (("dim", dim), ("m", m), ("scale", scale)):
        if name in built and built[name] != want:
            raise ValueError(
                f"knn_ivfpq_query: param mismatch at {index_dir} — index built "
                f"with {name}={built[name]}, query passed {name}={want}"
            )
    if fingerprint is not None and marker.get("fingerprint") != fingerprint:
        raise ValueError(
            f"knn_ivfpq_query: stale index at {index_dir} — built from corpus "
            f"{marker.get('fingerprint')}, current corpus is {fingerprint}; "
            "rebuild with ivfpq_build_index"
        )
    sub = dim // m
    spark = queries.sparkSession
    cent = spark.read.parquet(os.path.join(index_dir, "centroids.parquet"))
    cents = _pq_load_codebooks(spark, index_dir, m)
    enc = spark.read.parquet(os.path.join(index_dir, "codes.parquet")).select(
        "cid",
        *[f"code_{j}" for j in range(m)],
        F.col("cell").cast("long").alias("cell"),
    )
    # probe expression shared with knn_ivf_query's (same max-cosine
    # fold, same (ccos desc, cell) tiebreak) — raw-vector math happens
    # on queries x n_cells only, never on the corpus
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    wp = Window.partitionBy("qid").orderBy(F.col("ccos").desc(), F.col("cell"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn(
            "ccos",
            dot(F.col("qv"), F.col("center")) / (F.col("qn") * F.col("center_nrm")),
        )
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= n_probe)
        .select("qid", "cell")
    )
    # broadcast probe join prunes the codes scan to the probed cells
    # (static file pruning per union-free single root); candidates then
    # carry qid, so the shared ADC scorer keys every LUT leg on it
    cand = F.broadcast(probes).join(enc, "cell").drop("cell")
    ql = _pq_quantize(queries, id_col, vec_col, scale).select(
        F.col("vid").alias("qid"), "qx"
    )
    return _pq_score(cand, ql, cents, m, sub, top_k)
