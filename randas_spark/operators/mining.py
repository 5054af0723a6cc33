"""Pattern-mining and graph operators: market-basket association,
triangle enumeration, k-core peeling, Pareto skylines, multi-source BFS
and PageRank (one round core for the exact int64 and the float
arithmetic, with its DuckDB round unroll beside it).

The reference (randas, dataframe.rs) has no co-occurrence or graph
analytics at all — these are engine-scale additions in the spirit of
SURVEY.md §2.12's relational layer. All are pure DataFrame
compositions: Catalyst picks the join strategies, AQE handles skew and
exchange reuse; nothing is all-pairs.

Scale rationale per operator sits on its docstring; the public algorithms
are Agrawal-Srikant support/lift for baskets, Cohen's MapReduce triangle
enumeration (degree-ordered orientation, also Suri-Vassilvitskii WWW'11),
iterative-peeling k-core decomposition, and the sort-based 2-D skyline
(Börzsönyi et al., ICDE'01) collapsed onto distinct-value groups so it
runs as windows over a bounded table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _baskets(items: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """(basket, sorted distinct item array) — ONE shuffle on the basket
    key; collect_set dedups duplicate item rows in place of a separate
    distinct (which would shuffle on (basket, item) and then shuffle
    AGAIN for the pair self-join — measured 2.1x slower at sf1.0)."""
    return items.groupBy(F.col(basket_col).alias("__bk__")).agg(
        F.array_sort(F.collect_set(item_col)).alias("__ps__")
    )


def _pairs_from_baskets(baskets: DataFrame) -> DataFrame:
    """Explode each basket's item array into ordered pairs (a < b) with
    a codegen array comprehension — no join, fan-out Σ_b k_b(k_b-1)/2."""
    return baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(__ps__, (x, i) -> "
                "transform(slice(__ps__, i + 2, size(__ps__) - i - 1), "
                "y -> struct(x AS a, y AS b))))"
            )
        ).alias("__p__")
    ).select(F.col("__p__.a").alias("item_a"), F.col("__p__.b").alias("item_b"))


def basket_pair_counts(items: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """Co-occurrence counts: (item_a, item_b, pair_count) for item_a <
    item_b over (basket, item) rows (duplicates tolerated).

    Scale: one shuffle groups items per basket (collect_set array),
    pairs expand scan-side from each array (fan-out Σ_b k_b(k_b-1)/2 —
    linear when baskets are bounded; TPC-H caps lines/order at 7), one
    more map-side-combinable shuffle counts pairs. Never all-pairs
    across the item universe, and no self-join (the join formulation
    costs a third shuffle — measured 2.1x at sf1.0). A pathological
    mega-basket needs a per-basket cap before this operator — same
    discipline as the dedup layer's hot-shingle caps
    (operators/dedup.py)."""
    return (
        _pairs_from_baskets(_baskets(items, basket_col, item_col))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )


def market_basket_pairs(items: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """Pair co-occurrence with support and lift over (basket, item) rows.

    Output: (item_a, item_b, pair_count, support, lift) for item_a <
    item_b, un-rounded and un-truncated — callers order/limit/round.

    Scale: pair counts via basket_pair_counts (basket-keyed, linear);
    per-item basket counts and the basket total derive from the same
    grouped basket arrays (no second pass over the input). The
    item-count joins are unhinted — auto-broadcast when the item
    universe fits, shuffle join when it doesn't; only the one-row
    basket total is hint-broadcast.
    """
    bk = _baskets(items, basket_col, item_col)
    pairs = (
        _pairs_from_baskets(bk)
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    n_baskets = bk.select(F.count(F.lit(1)).alias("__nb__"))
    cnt = (
        bk.select(F.explode("__ps__").alias("__it__"))
        .groupBy("__it__")
        .agg(F.count(F.lit(1)).alias("__c__"))
    )
    ca = cnt.select(F.col("__it__").alias("item_a"), F.col("__c__").alias("__ca__"))
    cb = cnt.select(F.col("__it__").alias("item_b"), F.col("__c__").alias("__cb__"))
    return (
        pairs.join(ca, "item_a")
        .join(cb, "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "pair_count",
            (F.col("pair_count") / F.col("__nb__")).alias("support"),
            # multiply in DOUBLE: long*long would silently wrap past 2^63
            # with ANSI off (count*count crosses that around 1e10-basket
            # corpora), and the oracle's `* 1.0 *` path is double too —
            # products below 2^53 stay exact, so small-SF hashes agree
            (
                (F.col("pair_count").cast("double") * F.col("__nb__").cast("double"))
                / (F.col("__ca__").cast("double") * F.col("__cb__").cast("double"))
            ).alias("lift"),
        )
    )


def triangle_enumerate(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Enumerate every triangle of an undirected simple graph exactly
    once. Input: one row per undirected edge (either endpoint order, no
    duplicates, no self-loops). Output: (node_a, node_b, node_c) sorted
    ascending within each triple.

    Degree-ordered orientation (Cohen / Suri-Vassilvitskii): orient each
    edge from its lower-(degree, id) endpoint to the higher, build wedges
    only among out-neighbors, close them against the oriented edge set.
    Out-degree is bounded by O(√m) even on power-law graphs, so wedge
    fan-out is worst-case O(m^1.5) instead of the hub-node Σ d² blowup.

    The (deduplicated) edge list is localCheckpoint-ed, and so is the
    ORIENTED edge list with the destination's degree carried on the row:
    the wedge self-join and the closing join both reuse that one
    materialized table instead of re-deriving the e0⋈deg⋈deg orientation
    chain per reference (the un-carried form planned it three times and
    re-joined degrees a fourth/fifth time inside the wedge stage — 36
    Exchanges on the co-purchase query vs 13 with the carried degree;
    AQE's ReusedExchange only recovered a fraction). The degree joins
    carry NO broadcast hint: Catalyst/AQE auto-broadcasts the node table
    when it fits (as here) and falls back to a shuffle join on
    billion-node graphs, where a forced hint would collect a multi-GB
    table to the driver.
    """
    e0 = edges.select(
        F.least(F.col(src), F.col(dst)).alias("pa"),
        F.greatest(F.col(src), F.col(dst)).alias("pb"),
    ).filter(F.col("pa") != F.col("pb")).distinct().localCheckpoint()
    deg = (
        e0.select(F.col("pa").alias("node"))
        .unionAll(e0.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("pa"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("pb"), F.col("deg").alias("degb"))
    ranked = e0.join(da, "pa").join(db, "pb")
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("pa") < F.col("pb"))
    )
    # (osrc, odst, ddeg): ddeg is odst's degree — the wedge stage orders
    # out-neighbors by (degree, id), and both wedge legs are odst rows,
    # so carrying the one degree here makes the downstream joins
    # degree-free. Materialized once: edges + one long per row.
    oriented = ranked.select(
        F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("osrc"),
        F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("odst"),
        F.when(a_first, F.col("degb")).otherwise(F.col("dega")).alias("ddeg"),
    ).localCheckpoint()
    e1 = oriented.select(
        "osrc", F.col("odst").alias("v"), F.col("ddeg").alias("degv")
    )
    e2 = oriented.select(
        "osrc", F.col("odst").alias("w"), F.col("ddeg").alias("degw")
    )
    wedges = (
        e1.join(e2, "osrc")
        .filter(
            (F.col("degv") < F.col("degw"))
            | ((F.col("degv") == F.col("degw")) & (F.col("v") < F.col("w")))
        )
        .select("osrc", "v", "w")
    )
    closing = oriented.select(F.col("osrc").alias("v"), F.col("odst").alias("w"))
    tri = wedges.join(closing, ["v", "w"])
    srt = F.array_sort(F.array(F.col("osrc"), F.col("v"), F.col("w")))
    return tri.select(
        srt.getItem(0).alias("node_a"),
        srt.getItem(1).alias("node_b"),
        srt.getItem(2).alias("node_c"),
    )


def skyline_2d(
    df: DataFrame,
    min_col: str,
    max_col: str,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Pareto skyline: rows not strictly dominated within their
    partition — no other row is ≤ on ``min_col`` AND ≥ on ``max_col``
    with at least one strict. Rows tying on both dimensions all survive
    (neither strictly dominates the other). Returns the input rows
    (all columns) that are on the skyline.

    Scale: the naive skyline is an all-pairs dominance anti-join
    (O(n²)); this plan is linear — collapse to per-(partition, min_col)
    max groups (map-side-combinable groupBy onto a table bounded by the
    distinct value grid, ≪ rows), run the running-max window over THAT
    collapsed table, and join survivors back. With ``partition_cols``
    the window is partitioned (never global); without, it still runs
    over only the collapsed distinct-value table — document the distinct
    cardinality when calling it unpartitioned.
    """
    parts = list(partition_cols or [])
    g = df.groupBy(*parts, F.col(min_col).alias("__mn__")).agg(
        F.max(max_col).alias("__mx__")
    )
    w = (
        Window.partitionBy(*parts) if parts else Window.partitionBy(F.lit(1))
    ).orderBy("__mn__").rowsBetween(Window.unboundedPreceding, -1)
    gw = g.select(*parts, "__mn__", "__mx__", F.max("__mx__").over(w).alias("__cmb__"))
    surv = gw.filter(
        F.col("__cmb__").isNull() | (F.col("__mx__") > F.col("__cmb__"))
    ).select(
        # fresh names so the join-back against the frame the survivors
        # were derived FROM is not an ambiguous self-join
        *[F.col(c).alias(f"__p{i}__") for i, c in enumerate(parts)],
        "__mn__",
        "__mx__",
    )
    joined = df.join(
        F.broadcast(surv),
        [df[c].eqNullSafe(F.col(f"__p{i}__")) for i, c in enumerate(parts)]
        + [df[min_col] == F.col("__mn__"), df[max_col] == F.col("__mx__")],
    )
    return joined.select(*[df[c] for c in df.columns])


def k_core(
    edges: DataFrame,
    k: int,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly drop nodes
    whose degree in the surviving subgraph is < k, up to ``rounds``
    passes with an early exit at the fixpoint. Output: (node, deg) for
    every node still carrying an edge, with its degree in the final
    induced subgraph.

    The round budget exists for cross-engine parity: the SQL oracle
    unrolls exactly ``rounds`` peeling passes, and the early exit here
    preserves equality by construction (a pass that removes no edge
    removes no node, so further passes are no-ops on both engines).
    Size the budget from the peel-cascade depth of the graph class —
    co-purchase graphs converge in ≤5 (measured sf0.001-0.1); for
    production-fixpoint semantics pass rounds≥diameter or check the
    returned subgraph's min degree.

    Scale: each pass is one map-side-combinable degree count plus two
    semi-joins on the shrinking edge list, checkpointed per round so the
    plan never re-expands prior rounds (SCALE.md round-6 lessons — the
    star-CC discipline). Peeling touches only the contracted graph; the
    corpus-sized upstream runs once, before the loop.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("pa"),
            F.greatest(F.col(src), F.col(dst)).alias("pb"),
        )
        .filter(F.col("pa") != F.col("pb"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = e.count()
    for _ in range(rounds):
        deg = (
            e.select(F.col("pa").alias("node"))
            .unionAll(e.select(F.col("pb").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        e2 = (
            e.join(keep.select(F.col("node").alias("pa")), "pa", "left_semi")
            .join(keep.select(F.col("node").alias("pb")), "pb", "left_semi")
            .localCheckpoint()
        )
        n2 = e2.count()
        e = e2
        if n2 == n_edges:
            break
        n_edges = n2
    return (
        e.select(F.col("pa").alias("node"))
        .unionAll(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    source_col: str = "node",
) -> DataFrame:
    """Multi-source BFS on an undirected graph: (node, hops) where hops
    is the length of the shortest path from the NEAREST source, for
    every node within ``rounds`` hops (sources themselves at hops=0).
    The reachability/radius primitive next to connected components
    (operators/dedup.py), PageRank (llm_graph_rank), triangles, and
    k-core — e.g. "how close is every product to a promoted product in
    the co-purchase network".

    Level-synchronous frontier expansion (Pregel's BFS shape): each
    round joins the CURRENT FRONTIER ONLY (not the visited set) against
    the adjacency list, anti-joins out already-visited nodes, and tags
    survivors with the round number — each node is settled exactly once,
    at its minimum hop count, so no min-aggregation pass is needed.
    Early exit when a frontier empties preserves equality with the
    ``rounds``-unrolled SQL oracle by construction (an empty frontier
    expands to an empty frontier on both engines).

    Scale: per round, one join frontier⋈adjacency (frontier is the small
    side — broadcast when it fits, shuffle on node id otherwise; the
    adjacency list is partitioned once and reused) plus one anti-join
    against visited; both shuffles are on the shrinking frontier, never
    the full graph. Each round's FRONTIER is localCheckpoint-ed (it has
    three consumers: the empty check, the next expansion, and the
    visited set), but ``visited`` itself stays a LAZY unionAll of those
    checkpointed frontiers — every leg is already a materialized RDD
    scan, so lineage is flat without re-materializing the ever-growing
    settled set each round (the retired per-round visited checkpoint
    copied O(rounds × V) rows — corpus-scale waste at 100 TB; at the
    sf0.1 bench scale visited is ~2.4k rows and the interleaved A/B is
    noise-flat, median 3.96 → 3.80 s, values row-identical). Frontier
    size is bounded by the graph's
    expansion, not by rounds², and rounds is a small constant (graph
    diameter budget)."""
    adj = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionAll(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    nodes = adj.select(F.col("a").alias("node")).distinct()
    visited = (
        sources.select(F.col(source_col).alias("node"))
        .distinct()
        .join(nodes, "node", "left_semi")
        .select("node", F.lit(0).cast("long").alias("hops"))
        .localCheckpoint()
    )
    frontier = visited.select("node")
    for i in range(1, rounds + 1):
        nxt = (
            frontier.join(adj, frontier["node"] == adj["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(i).cast("long").alias("hops"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.unionAll(nxt)
        frontier = nxt.select("node")
    return visited


def _pagerank_rounds(
    ej: DataFrame,
    r: DataFrame,
    rounds: int,
    contrib: Column,
    finish: Column,
    ckpt_every: int = 3,
) -> DataFrame:
    """The one power-iteration round core of both PageRank arithmetics.

    ``ej`` is the edge list carrying out-degree ``(node, d, od)``; ``r``
    holds ``(node, r)`` for every node of the universe, plus any carried
    column (the float form's lazily counted ``n``), which rides along
    as a group key for ``finish`` to read. Each round is ONE join of the
    rank table onto ``ej`` + ONE map-side-combinable groupBy on the
    node, with no per-round degree or node-table join: zero rows from
    ``r`` union INTO the contribution aggregate, so a node with no
    in-edges survives with ``tot`` = 0. ``contrib`` (over ``r``, ``od``)
    and ``finish`` (over ``tot``) are the only arithmetic-specific parts.

    The rank table is localCheckpoint-ed every ``ckpt_every`` rounds
    (never after the last — the caller's action consumes it), bounding
    lineage without an eager job per round. Cadence caveat: each
    un-checkpointed round references r TWICE (edge join + zero rows),
    so a segment's plan embeds ~2^ckpt_every copies of its head — keep
    the cadence small (3 is fine; past ~6-8 Catalyst analysis time and
    driver memory blow up)."""
    carry = [c for c in r.columns if c not in ("node", "r")]
    for i in range(rounds):
        tot = (
            r.join(ej, "node")
            .select(F.col("d").alias("node"), *carry, contrib.alias("c"))
            .unionAll(r.select("node", *carry, F.lit(0).alias("c")))
            .groupBy("node", *carry)
            .agg(F.sum("c").alias("tot"))
        )
        r = tot.select("node", *carry, finish.alias("r"))
        if (i + 1) % ckpt_every == 0 and (i + 1) < rounds:
            r = r.localCheckpoint()
    return r


def pagerank_int(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 3,
    scale: int = 10**12,
    damp_num: int = 85,
    damp_den: int = 100,
    ckpt_every: int = 3,
) -> DataFrame:
    """Fixed-round PageRank (Brin & Page '98) in EXACT int64 fixed-point:
    ranks carry ``scale`` units of probability mass, and both the
    per-edge contribution ``(r * damp_num) div (damp_den * outdeg)`` and
    the teleport base ``(scale * (damp_den - damp_num)) div
    (damp_den * N)`` are integer divisions — order-free, overflow-safe
    (max intermediate = scale * damp_num ≈ 8.5e13 « 2^63), and
    bit-identical in any engine with integral division (Spark ``div``,
    DuckDB ``//``), which is what makes a value-hash oracle possible for
    an iterative graph algorithm. Callers pass a DIRECTED edge list with
    no dangling sources (symmetrize an undirected graph first — then
    every node has outdeg >= 1 and the damping-mass argument is exact).

    Scale: the rounds run on :func:`_pagerank_rounds` (one edge join +
    one combinable groupBy per round, checkpointed every ``ckpt_every``
    rounds); at rounds=3 the default cadence runs the whole tail as ONE
    lazy plan — measured 3.03 -> 2.90 s median (every interleaved pass
    faster, values bit-identical) on the co-purchase query. Driver state
    is a single scalar (N)."""
    if rounds < 1:
        raise ValueError(f"pagerank_int: rounds must be >= 1, got {rounds}")
    # validate BEFORE any Spark action: a bad cadence must not first pay
    # the (possibly expensive, e.g. co-purchase contraction) edge-list
    # materialization below (r13 ADVICE item)
    if ckpt_every < 1:
        raise ValueError(f"pagerank_int: ckpt_every must be >= 1, got {ckpt_every}")
    # out-degree attached to the edge list via a WINDOW over the source
    # (ONE shuffle on s, shared with nothing downstream) and checkpointed
    # ONCE — od is round-invariant. This replaces the r12 three-step
    # opening (checkpoint e, groupBy deg + checkpoint nodes, join e ⋈ deg
    # + checkpoint ej): one materialization job instead of three, and the
    # possibly-expensive upstream edge derivation (e.g. the co-purchase
    # basket pairs) executes exactly once, inside it. Same od integers,
    # so the oracle replay is unchanged.
    w = Window.partitionBy("node")
    ej = (
        edges.select(F.col(src).alias("node"), F.col(dst).alias("d"))
        .withColumn("od", F.count(F.lit(1)).over(w))
        .localCheckpoint()
    )
    nodes = ej.select("node").distinct()
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank_int: empty edge list")
    base = (scale * (damp_den - damp_num)) // (damp_den * n)
    return _pagerank_rounds(
        ej,
        nodes.select("node", F.lit(scale // n).cast("long").alias("r")),
        rounds,
        F.expr(f"(r * {damp_num}) div ({damp_den} * od)"),
        (F.lit(base) + F.col("tot")).cast("long"),
        ckpt_every,
    )


def graph_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration float PageRank over an undirected pair graph
    (id_a, id_b) — authority on the near-dup or link graph (canonical
    doc by authority rather than min-id; graph quality propagation à la
    Harmonic/TrustRank). Every row of ``nodes`` is a node; one with no
    edge keeps the (1−d)/N floor.

    Runs on :func:`_pagerank_rounds` with contribution ``r / od`` and
    finish ``(1−d)/N + d·tot``. The edge list is checkpointed once (the
    rounds all read it, and re-running the near-dup pair join per round
    measured 2.79 s vs 1.81 s at sf0.1); out-degree is a lazy window on
    it whose exchange every round reuses, and N is a broadcast count
    carried in the rank table, so neither adds an eager job."""
    edges = edges.localCheckpoint()
    und = edges.select(F.col("id_a").alias("node"), F.col("id_b").alias("d")).unionAll(
        edges.select(F.col("id_b").alias("node"), F.col("id_a").alias("d"))
    )
    ej = und.withColumn("od", F.count(F.lit(1)).over(Window.partitionBy("node")))
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    r = (
        nodes.select(F.col(node_col).alias("node"))
        .crossJoin(F.broadcast(n_df))
        .select("node", "n", (F.lit(1.0) / F.col("n")).alias("r"))
    )
    return _pagerank_rounds(
        ej,
        r,
        iters,
        F.col("r") / F.col("od"),
        (1 - damping) / F.col("n") + damping * F.col("tot"),
    ).select("node", "r")


def sql_pagerank(
    graph: str,
    nodes: str,
    rounds: int,
    r0: str,
    contrib: str,
    finish: str,
) -> str:
    """DuckDB twin of :func:`_pagerank_rounds`: each round is one CTE of
    the same shape, AS MATERIALIZED (a round reads its predecessor
    twice; an inlined chain re-evaluates exponentially). ``graph`` is a
    CTE list defining directed edges ``ed(s, d)``; ``nodes`` selects the
    universe as ``node`` (it may read ``deg``); ``r0``, ``contrib`` and
    ``finish`` are the arithmetic over ``n``, ``p.r``/``deg.od`` and
    ``tot``/``n``. Returns CTEs ending in ``ranks(node, r)``."""
    ctes = [
        graph,
        "deg AS MATERIALIZED (SELECT s AS node, CAST(count(*) AS BIGINT) AS od"
        " FROM ed GROUP BY s)",
        f"universe AS MATERIALIZED ({nodes})",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM universe)",
        f"r0 AS MATERIALIZED (SELECT node, {r0} AS r FROM universe CROSS JOIN nn)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""r{i} AS MATERIALIZED (
                SELECT node, {finish} AS r FROM (
                    SELECT node, sum(c) AS tot FROM (
                        SELECT ed.d AS node, {contrib} AS c
                        FROM r{i - 1} p
                        JOIN ed ON ed.s = p.node
                        JOIN deg ON deg.node = p.node
                        UNION ALL SELECT node, 0 FROM r{i - 1}
                    ) GROUP BY node
                ) CROSS JOIN nn
            )"""
        )
    ctes.append(f"ranks AS (SELECT node, r FROM r{rounds})")
    return ",\n".join(ctes)
