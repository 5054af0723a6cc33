"""Full relational layer — absent from the reference (SURVEY.md §2.12),
required by the north star: joins of every type, grouped aggregation with
rollup/cube/grouping sets, window functions, sorts/top-k, set ops,
distinct, exact+approximate aggregates, pivot, as-of/range joins, and
sessionization.

All pure DataFrame-API compositions — Catalyst chooses broadcast vs
sort-merge vs shuffled-hash; AQE re-plans at runtime. Scale notes sit on
each query. Rounding uses the engine-portable fround/sql_fround pair.

Determinism discipline for the oracle hash: every top-k / limit query
carries a full tiebreak ordering; window orderings include a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from randas_spark.queries import fround, register, sql_fround, t
from randas_spark.io.audit import sql_table_checksum
from randas_spark.operators.sketches import (
    sql_countmin_estimate as _sql_countmin_estimate,
)

# --------------------------------------------------------------------------
# TPC-H-style multi-join analytics (adapted to the testdata schema)
# --------------------------------------------------------------------------


@register(
    "q03_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_fround('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join → group → top-10.

    Scale: customer(filtered) is tiny relative to lineitem → Catalyst/AQE
    broadcast it into the orders join; only the orders⋈lineitem join
    shuffles, on the join key. Top-10 is TakeOrderedAndProject (no global
    sort materialization).
    """
    cutoff = F.lit("1998-03-15").cast("timestamp")
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q05_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           {sql_fround('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with a region→nation dimension chain.

    Scale: region/nation/supplier are classic broadcast dimensions —
    explicitly hinted so no shuffle happens for them even before AQE kicks
    in; the only repartition-shuffles are on o_custkey and l_orderkey.
    """
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "q06_forecast_revenue",
    oracle=f"""
    SELECT {sql_fround("coalesce(sum(l_extendedprice * l_discount), 0.0)", 2)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate.

    Scale: all four predicates push into the parquet scan (PushedFilters) —
    with min/max row-group stats this reads a fraction of the file; no
    shuffle at all beyond the single-row final aggregate.
    """
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            fround(
                F.coalesce(F.sum(F.col("l_extendedprice") * F.col("l_discount")), F.lit(0.0)),
                2,
            ).alias("revenue")
        )
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {sql_fround('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top customers by returned-item revenue."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Join types (SURVEY.md §2.12 row 1)
# --------------------------------------------------------------------------


@register(
    "rel_join_orders_customer",
    oracle=f"""
    SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
           {sql_fround("coalesce(sum(o_totalprice), 0.0)", 2)} AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def rel_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + grouped agg: per-customer order rollup, keeping
    order-less customers. Shuffles both sides on the key once; the agg
    reuses that partitioning (no second shuffle)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            fround(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
    )


@register(
    "rel_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
)
def rel_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers with at least one big order.
    Semi-join never duplicates left rows — cheaper than join+distinct."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "rel_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def rel_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no orders at all."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "rel_join_full_outer",
    oracle="""
    SELECT coalesce(a.k, b.k) AS k, a.n_cust, b.n_supp
    FROM (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1) a
    FULL OUTER JOIN (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1) b
    ON a.k = b.k
    """,
)
def rel_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two pre-aggregated sides (customer vs supplier
    counts per nation) — nulls mark nation keys present on one side only."""
    c = t(spark, sf_dir, "customer").groupBy(F.col("c_nationkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    s = t(spark, sf_dir, "supplier").groupBy(F.col("s_nationkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return (
        c.join(s, "k", "full_outer")
        .select(F.col("k"), "n_cust", "n_supp")
    )


@register(
    "rel_join_broadcast_chain",
    oracle="""
    SELECT r_name, count(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def rel_join_broadcast_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast hint on the dimension side: zero shuffle for the
    join itself (BroadcastHashJoin) — the pattern every dim join at 100 TB
    should compile to."""
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


@register(
    "rel_join_cross",
    oracle="""
    SELECT r.r_name, s.s_suppkey
    FROM region r CROSS JOIN supplier s
    """,
)
def rel_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS join (small×small only — |region|×|supplier|). Guarded use:
    cross joins of big tables are a scale bug, not an operator."""
    r = t(spark, sf_dir, "region").select("r_name")
    s = t(spark, sf_dir, "supplier").select("s_suppkey")
    return r.crossJoin(s)


# --------------------------------------------------------------------------
# Grouped aggregation: rollup / cube / grouping sets / pivot
# --------------------------------------------------------------------------


@register(
    "rel_rollup_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_fround('sum(l_quantity)', 2)} AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rel_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: hierarchical subtotals (flag, flag+status, grand total).
    Spark expands grouping sets inside a single hash aggregate — one pass,
    one shuffle."""
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(fround(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "rel_cube_agg",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           {sql_fround('sum(o_totalprice)', 2)} AS sum_price, count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def rel_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping-set combinations in one aggregate."""
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(fround(F.sum("o_totalprice"), 2).alias("sum_price"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "rel_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_fround('sum(l_extendedprice)', 2)} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def rel_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — via Spark SQL (the DF API has no direct
    grouping-sets method; SQL and DF compile to the same plan)."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               {sql_fround('sum(l_extendedprice)', 2)} AS sum_price
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@register(
    "rel_pivot",
    oracle=f"""
    SELECT l_returnflag,
           {sql_fround("coalesce(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 0.0)", 2)} AS qty_O,
           {sql_fround("coalesce(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 0.0)", 2)} AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def rel_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: linestatus → columns. Explicit value list so Spark skips the
    extra distinct-values job (important at scale)."""
    pv = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
    )
    return pv.select(
        "l_returnflag",
        fround(F.coalesce(F.col("O"), F.lit(0.0)), 2).alias("qty_O"),
        fround(F.coalesce(F.col("F"), F.lit(0.0)), 2).alias("qty_F"),
    )


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------


@register(
    "rel_window_topk_per_group",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal, rk FROM (
        SELECT c_nationkey, c_custkey, c_acctbal,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal DESC, c_custkey) AS rk
        FROM customer
    ) WHERE rk <= 3
    """,
)
def rel_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group: row_number over (partition, order) — the canonical
    scalable top-k (partial top-k pushed below the shuffle by Spark's
    WindowGroupLimit). Unique-key tiebreak keeps it deterministic."""
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return (
        t(spark, sf_dir, "customer")
        .select("c_nationkey", "c_custkey", "c_acctbal")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
    )


@register(
    "rel_window_rank_dense",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice,
           rank()       OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rnk,
           dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS drnk
    FROM part
    """,
)
def rel_window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank in one window (single sort per partition)."""
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), "p_partkey")
    return (
        t(spark, sf_dir, "part")
        .select("p_brand", "p_partkey", "p_retailprice")
        .withColumn("rnk", F.rank().over(w).cast("long"))
        .withColumn("drnk", F.dense_rank().over(w).cast("long"))
    )


@register(
    "rel_window_running_sum",
    oracle=f"""
    SELECT o_custkey, o_orderkey, o_orderdate,
           {sql_fround('''sum(o_totalprice) OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''', 2)} AS running_spend
    FROM orders
    """,
)
def rel_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer — frame ROWS UNBOUNDED PRECEDING..CURRENT.
    One shuffle on the partition key, sort within partitions."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .withColumn("running_spend", fround(F.sum("o_totalprice").over(w), 2))
        .drop("o_totalprice")
    )


@register(
    "rel_window_lag_lead",
    oracle=f"""
    SELECT user_id, event_id, ts,
           {sql_fround('value - lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id)', 2)} AS delta_prev,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
    FROM (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value, event_type FROM events)
    """,
)
def rel_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics over per-user event streams."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = t(spark, sf_dir, "events")
    return e.select(
        "user_id",
        "event_id",
        "ts",
        fround(F.col("value") - F.lag("value").over(w), 2).alias("delta_prev"),
        F.lead("event_type").over(w).alias("next_type"),
    )


# --------------------------------------------------------------------------
# Set ops / distinct / exact + approx aggregates
# --------------------------------------------------------------------------


@register(
    "rel_union_distinct",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
    UNION
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
    """,
)
def rel_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct): big spenders ∪ high balances."""
    a = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    b = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_custkey").alias("custkey"))
    )
    return a.union(b).distinct()


@register(
    "rel_intersect",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def rel_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct): customers with both finished and open orders."""
    o = t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


@register(
    "rel_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    """,
)
def rel_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customer keys never appearing in orders."""
    a = t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    b = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    # subtract() IS SQL EXCEPT: a key present anywhere in b is removed.
    # exceptAll().distinct() differs when the left has duplicates (it
    # keeps a key whose left multiplicity exceeds the right's).
    return a.subtract(b)


@register(
    "rel_distinct_multi",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def rel_distinct_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT over a composite key — partial-aggregate dedup before the
    shuffle, so only unique pairs travel."""
    return t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@register(
    "rel_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def rel_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT DISTINCT per group (expand+two-phase agg in Spark)."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "rel_approx_count_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS exact_orders,
           abs(approx_count_distinct(l_orderkey) - count(DISTINCT l_orderkey))
               <= 0.05 * count(DISTINCT l_orderkey) AS within_tol
    FROM lineitem GROUP BY l_returnflag
    """,
)
def rel_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB path for distinct
    cardinality: constant memory per group vs exact's expand. The sketch
    estimate is engine-specific, so the oracle compares a deterministic
    TOLERANCE VERDICT instead of the estimate: each engine checks its own
    HLL against its own exact distinct count (relative error <= 5%), and
    the hash compares (group, exact, verdict) — all deterministic."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.approx_count_distinct("l_orderkey", 0.02).alias("__approx__"),
        )
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("__approx__") - F.col("exact_orders"))
                <= 0.05 * F.col("exact_orders")
            ).alias("within_tol"),
        )
    )


@register(
    "rel_quantile_sketch_mergeable",
    oracle=f"""
    WITH c AS (
        SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem WHERE floor(l_extendedprice * 100) >= 1
    ), b AS (
        SELECT msb, greatest(msb - 5, 0) AS k,
               CAST(floor(cents / pow(2, greatest(msb - 5, 0))) AS BIGINT) AS shifted
        FROM (SELECT cents, length(bin(cents)) AS msb FROM c)
    ), bins AS (
        SELECT CAST(msb * 32 + shifted AS BIGINT) AS bin_key, k, shifted,
               count(*) AS cnt
        FROM b GROUP BY 1, 2, 3
    ), cum AS (
        SELECT bin_key,
               (shifted + 0.5) * pow(2, k) / 100.0 AS mid,
               CAST(sum(cnt) OVER (ORDER BY bin_key) AS BIGINT) AS cum,
               CAST(sum(cnt) OVER () AS BIGINT) AS n_total
        FROM bins
    ), qs AS (
        SELECT q_label, CAST(q AS DOUBLE) AS q
        FROM (VALUES ('p50', 0.5), ('p90', 0.9), ('p99', 0.99)) AS t(q_label, q)
    )
    SELECT q_label, max(n_total) AS n_total,
           {sql_fround('arg_min(mid, bin_key)', 6)} AS est
    FROM qs JOIN cum ON cum >= CAST(ceil(q * n_total - 1e-9) AS BIGINT)
    GROUP BY q_label
    """,
)
def rel_quantile_sketch_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (operators/sketches.quantile_sketch_*):
    binary-mantissa histogram bins (integer msb + 4 mantissa bits, <=
    ~3.2% relative error) built PER RETURNFLAG, merged by cell-wise
    addition, then p50/p90/p99 of l_extendedprice read off the merged
    CDF. The oracle builds the global sketch DIRECTLY, so the value-hash
    equality is a cross-engine proof of the merge law (merge-of-shards
    == direct build) — the property that lets per-day/per-shard sketches
    roll up into corpus quantiles without rescanning 100 TB of facts.
    Unlike approx_percentile (engine-specific digest), every bin index
    and midpoint here is integer math + exact powers of two: bit-
    identical on both engines, no tolerance verdict needed. Build is one
    map-side-combinable groupBy; shuffle volume O(bins), not O(rows);
    the quantile walk runs over ~hundreds of cells."""
    from randas_spark.operators.sketches import (
        quantile_sketch_bins,
        quantile_sketch_estimate,
        quantile_sketch_merge,
    )

    li = t(spark, sf_dir, "lineitem")
    per_flag = quantile_sketch_bins(li, "l_extendedprice", ["l_returnflag"])
    merged = quantile_sketch_merge(per_flag)
    return quantile_sketch_estimate(merged, {"p50": 0.5, "p90": 0.9, "p99": 0.99})


_HLL_C = repr(0.7213 / (1 + 1.079 / 256) * 256 * 256)  # alpha * m^2, m=256

_HLL_REGS_CTE = """
    regs AS (
        SELECT grp, bucket, max(rho) AS rho FROM (
            SELECT o_orderpriority AS grp,
                   CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 2)) AS BIGINT) AS bucket,
                   CASE WHEN CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 3, 8)) AS BIGINT) = 0
                        THEN 33
                        ELSE 33 - length(bin(CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 3, 8)) AS BIGINT)))
                   END AS rho
            FROM orders
        ) GROUP BY 1, 2
    )
"""


def _sql_hll_est(src: str) -> str:
    # mirrors operators/sketches.hll_estimate: linear counting below
    # 2.5m, large-range 32-bit collision correction above 2^32/30
    raw = f"({_HLL_C}) / (s + (256 - present))"
    lin = "256.0 * ln(256.0 / (256 - present))"
    large = f"-4294967296.0 * ln(1.0 - ({raw}) / 4294967296.0)"
    return f"""
        SELECT grp,
               CASE WHEN {raw} <= 640.0 AND present < 256 THEN {lin}
                    WHEN {raw} > 143165576.53333333 THEN {large}
                    ELSE {raw} END AS est0
        FROM (SELECT grp, sum(pow(2.0, -rho)) AS s, count(*) AS present
              FROM {src} GROUP BY grp)
    """


@register(
    "rel_hll_portable",
    oracle=f"""
    WITH {_HLL_REGS_CTE},
    merged AS (
        SELECT '<all>' AS grp, bucket, max(rho) AS rho FROM regs GROUP BY 2
    ),
    est_g AS ({_sql_hll_est('regs')}),
    est_m AS ({_sql_hll_est('merged')})
    SELECT grp, {sql_fround('est0', 6)} AS est FROM est_g
    UNION ALL
    SELECT grp, {sql_fround('est0', 6)} AS est FROM est_m
    """,
)
def rel_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE HyperLogLog (operators/sketches.hll_registers/merge/
    estimate): distinct customers per order priority plus the '<all>'
    row from max-merging the per-group registers — the HLL merge law,
    cross-engine. Unlike approx_count_distinct (engine-private sketch,
    tolerance-verdict oracle rel_approx_count_distinct), every register
    AND estimate here is bit-identical on both engines: md5-derived
    buckets/ranks, and the harmonic sum adds exact powers of two
    spanning ≤41 bits so it is order-independent — the only libm call
    (ln in the small-range correction) sits under fround(6). Build is
    one map-side-combinable groupBy; shuffle O(groups × 256)."""
    from randas_spark.operators.sketches import hll_estimate, hll_merge, hll_registers

    o = t(spark, sf_dir, "orders")
    regs = hll_registers(o, "o_custkey", ["o_orderpriority"])
    per = hll_estimate(regs, ["o_orderpriority"]).select(
        F.col("o_orderpriority").alias("grp"), fround(F.col("est"), 6).alias("est")
    )
    merged = hll_estimate(hll_merge(regs)).select(
        F.lit("<all>").alias("grp"), fround(F.col("est"), 6).alias("est")
    )
    return per.unionByName(merged)


@register(
    "rel_hll_sketch_mergeable",
    oracle="""
    WITH per_group AS (
        SELECT o_orderpriority, count(DISTINCT o_custkey) AS exact_custs,
               approx_count_distinct(o_custkey) AS approx_custs
        FROM orders GROUP BY o_orderpriority
    ), global AS (
        SELECT count(DISTINCT o_custkey) AS exact_g,
               approx_count_distinct(o_custkey) AS approx_g
        FROM orders
    )
    SELECT o_orderpriority, exact_custs,
           abs(approx_custs - exact_custs) <= 0.05 * exact_custs AS grp_within_tol,
           exact_g AS exact_global,
           abs(approx_g - exact_g) <= 0.05 * exact_g AS global_within_tol
    FROM per_group CROSS JOIN global
    """,
)
def rel_hll_sketch_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches — the pattern 100 TB rollups
    live on: build an HLL sketch per group once (hll_sketch_agg), then
    answer the GLOBAL question by unioning the per-group sketches
    (hll_union_agg) WITHOUT rescanning the fact table. Estimates are
    engine-specific, so the oracle uses the tolerance-verdict scheme
    (each engine bounds its own group and merged-global estimates
    against its own exact counts; DuckDB's twin recomputes globally —
    merge-vs-rescan equivalence is exactly what the sketch guarantees)."""
    o = t(spark, sf_dir, "orders")
    sketches = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_custs"),
        F.hll_sketch_agg("o_custkey").alias("__sk__"),
    )
    merged = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("__sk__")).alias("approx_g")
    )
    exact_g = o.agg(F.countDistinct("o_custkey").alias("exact_global"))
    return (
        sketches.withColumn(
            "__approx__", F.hll_sketch_estimate(F.col("__sk__"))
        )
        .crossJoin(F.broadcast(merged))
        .crossJoin(F.broadcast(exact_g))
        .select(
            "o_orderpriority",
            "exact_custs",
            (
                F.abs(F.col("__approx__") - F.col("exact_custs"))
                <= 0.05 * F.col("exact_custs")
            ).alias("grp_within_tol"),
            "exact_global",
            (
                F.abs(F.col("approx_g") - F.col("exact_global"))
                <= 0.05 * F.col("exact_global")
            ).alias("global_within_tol"),
        )
    )


@register(
    "rel_percentiles_exact",
    oracle=f"""
    SELECT o_orderstatus,
           {sql_fround('quantile_cont(o_totalprice, 0.25)', 4)} AS p25,
           {sql_fround('quantile_cont(o_totalprice, 0.50)', 4)} AS p50,
           {sql_fround('quantile_cont(o_totalprice, 0.75)', 4)} AS p75
    FROM orders GROUP BY o_orderstatus
    """,
)
def rel_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`, both linear interpolation)."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        fround(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
        fround(F.expr("percentile(o_totalprice, 0.50)"), 4).alias("p50"),
        fround(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("p75"),
    )


@register(
    "rel_percentile_approx",
    oracle=f"""
    SELECT l_returnflag,
           {sql_fround('quantile_cont(l_extendedprice, 0.5)', 4)} AS exact_median,
           abs(approx_quantile(l_extendedprice, 0.5)
               - quantile_cont(l_extendedprice, 0.5))
               <= 0.05 * quantile_cont(l_extendedprice, 0.5) AS within_tol
    FROM lineitem GROUP BY l_returnflag
    """,
)
def rel_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL-style sketch) — mergeable, single-pass,
    bounded memory: the scale path for quantiles. Same tolerance-verdict
    oracle scheme as rel_approx_count_distinct: each engine bounds its own
    sketch against its own exact quantile (relative error <= 5%) and the
    hash compares (group, rounded exact, verdict)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("__exact__"),
            F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("__approx__"),
        )
        .select(
            "l_returnflag",
            fround(F.col("__exact__"), 4).alias("exact_median"),
            (
                F.abs(F.col("__approx__") - F.col("__exact__"))
                <= 0.05 * F.col("__exact__")
            ).alias("within_tol"),
        )
    )


# --------------------------------------------------------------------------
# Scalar function coverage (SURVEY.md §2.10 — the reference has none;
# our engine exposes pyspark.sql.functions; oracle checks a representative set)
# --------------------------------------------------------------------------


@register(
    "rel_scalar_functions",
    oracle=f"""
    SELECT o_orderkey,
           lower(o_orderpriority)                          AS pri_lower,
           substring(o_orderpriority, 1, 1)                AS pri_code,
           length(o_orderpriority)                         AS pri_len,
           concat_ws('-', o_orderstatus, o_orderpriority)  AS status_pri,
           year(o_orderdate)                               AS order_year,
           month(o_orderdate)                              AS order_month,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month_start,
           datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since_epoch_start,
           abs(o_totalprice - 100000.0)                    AS price_dist,
           {sql_fround('sqrt(o_totalprice)', 6)}           AS price_sqrt,
           {sql_fround('ln(o_totalprice)', 6)}             AS price_ln
    FROM orders
    """,
)
def rel_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative scalar-function sweep: string / date / math — all
    JVM-side built-ins inside one whole-stage-codegen projection."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.lower("o_orderpriority").alias("pri_lower"),
        F.substring("o_orderpriority", 1, 1).alias("pri_code"),
        # DuckDB's length/year/month/datediff yield BIGINT; cast Spark's
        # int results to long so the oracle schema compare can't trip.
        F.length("o_orderpriority").cast("long").alias("pri_len"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_pri"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.date_trunc("month", "o_orderdate").alias("order_month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch_start"),
        F.abs(F.col("o_totalprice") - 100000.0).alias("price_dist"),
        fround(F.sqrt("o_totalprice"), 6).alias("price_sqrt"),
        fround(F.log("o_totalprice"), 6).alias("price_ln"),
    )


# --------------------------------------------------------------------------
# As-of join / range join / sessionization (operators Spark lacks natively)
# --------------------------------------------------------------------------


@register(
    "rel_asof_join",
    oracle="""
    SELECT l.event_id, l.user_id, l.ts, r.value AS last_view_value
    FROM (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN
         (SELECT user_id, ts::TIMESTAMP AS ts, value FROM events WHERE event_type = 'view') r
    ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def rel_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via randas_spark.operators.joins.asof_join — union+window,
    one shuffle on the key, no pair explosion (see that module for the
    scale analysis). Oracle: DuckDB's native ASOF JOIN."""
    from randas_spark.operators.joins import asof_join

    e = t(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    right = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("last_view_value")
    )
    return asof_join(left, right, on="user_id", ts="ts").select(
        "event_id", "user_id", "ts", "last_view_value"
    )


@register(
    "rel_asof_join_forward_tol",
    oracle="""
    SELECT l.event_id, l.user_id, l.ts,
           CASE WHEN r.ts - l.ts <= INTERVAL 2 HOUR THEN r.value END AS next_purchase_value
    FROM (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events WHERE event_type = 'signup') l
    ASOF LEFT JOIN
         (SELECT user_id, ts::TIMESTAMP AS ts, value FROM events WHERE event_type = 'purchase') r
    ON l.user_id = r.user_id AND l.ts <= r.ts
    """,
)
def rel_asof_join_forward_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with a tolerance: each signup attaches the
    user's NEXT purchase value, nulled when it is more than 2 hours out
    (pandas merge_asof direction='forward', tolerance semantics — the
    nearest candidate is the only one that could qualify, so
    match-then-null is exact). Same union+window shape as rel_asof_join
    — one shuffle on the key, no pair explosion — with one extra carried
    column (the matched ts) paying for the tolerance gate. Oracle:
    DuckDB's native forward ASOF + interval CASE."""
    from randas_spark.operators.joins import asof_join

    e = t(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") == "signup").select("event_id", "user_id", "ts")
    right = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("next_purchase_value")
    )
    return asof_join(
        left, right, on="user_id", ts="ts", direction="forward", tolerance="2 HOURS"
    ).select("event_id", "user_id", "ts", "next_purchase_value")


@register(
    "rel_range_join",
    oracle="""
    SELECT a.event_id AS signup_event, count(b.event_id) AS n_follow_5min
    FROM (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events WHERE event_type = 'signup') a
    LEFT JOIN (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events) b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
    GROUP BY a.event_id
    """,
)
def rel_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: follow-up events within 5 minutes of each signup.

    Scale: the equi-key (user_id) carries the shuffle; the range predicate
    is evaluated post-join inside the hash join — NOT a cartesian. Without
    an equi-key one would bucketize time (randas_spark.operators.joins
    range-bucket helper)."""
    e = t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_event"), F.col("user_id"), F.col("ts").alias("a_ts")
    )
    b = e.select(F.col("event_id").alias("b_event"), F.col("user_id"), F.col("ts").alias("b_ts"))
    return (
        a.join(
            b,
            (a.user_id == b.user_id)
            & (F.col("b_ts") > F.col("a_ts"))
            & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 5 MINUTES")),
            "left",
        )
        .groupBy("signup_event")
        .agg(F.count("b_event").alias("n_follow_5min"))
    )


@register(
    "rel_sessionize",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, event_id, ts::TIMESTAMP AS ts, value,
               CASE WHEN epoch_us(ts::TIMESTAMP) - lag(epoch_us(ts::TIMESTAMP)) OVER w > 1800000000
                    OR lag(ts::TIMESTAMP) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, value,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS sess_id
        FROM flagged
    )
    SELECT user_id, sess_id, count(*) AS n_events,
           min(ts) AS sess_start, max(ts) AS sess_end,
           {sql_fround('sum(value)', 2)} AS sess_value
    FROM sess GROUP BY user_id, sess_id
    """,
)
def rel_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min inactivity gap): lag → gap flag →
    running sum = session id → per-session aggregate. Two windows + one agg
    over the same (user_id) partitioning — Spark reuses the exchange.
    (Streaming twin: session_window in streaming_q.py.)"""
    from randas_spark.operators.timeseries import sessionize

    e = t(spark, sf_dir, "events")
    sess = sessionize(e)
    return sess.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("sess_start"),
        F.max("ts").alias("sess_end"),
        fround(F.sum("value"), 2).alias("sess_value"),
    )


@register(
    "rel_array_map_json_functions",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT)      AS k_json,
           CAST(json_extract_string(props, '$.k') AS BIGINT)      AS k_map,
           CAST(to_json(json_keys(props)) AS VARCHAR)              AS prop_keys,
           CAST(to_json(list_transform(string_split(event_type, 'i'),
                                       t -> upper(t))) AS VARCHAR) AS toks_upper,
           CAST(len(string_split(event_type, 'i')) AS BIGINT)      AS n_toks,
           list_contains(string_split(event_type, 'i'), 'cl')      AS has_cl,
           to_json({'event_id': event_id})                         AS as_json
    FROM events
    """,
)
def rel_array_map_json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array / map / JSON scalar-function sweep (SURVEY.md §2.10): JSON
    path extraction two ways (get_json_object and from_json→map element),
    key listing, array split/transform/size/contains, struct→JSON. All
    codegen built-ins — one projection, zero shuffles."""
    e = t(spark, sf_dir, "events")
    toks = F.split("event_type", "i")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_json"),
        F.from_json("props", "map<string,long>")["k"].alias("k_map"),
        # arrays ship as JSON strings — identical rendering on both
        # engines, and the driver's pandas canon can't hash list cells
        F.to_json(F.json_object_keys("props")).alias("prop_keys"),
        F.to_json(F.transform(toks, lambda c: F.upper(c))).alias("toks_upper"),
        F.size(toks).cast("long").alias("n_toks"),
        F.array_contains(toks, "cl").alias("has_cl"),
        F.to_json(F.struct("event_id")).alias("as_json"),
    )


@register(
    "rel_explode_tokens",
    oracle="""
    SELECT o_orderkey, unnest(string_split(o_orderpriority, '-')) AS tok
    FROM orders
    """,
)
def rel_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode of a split array — one output row per token.

    Scale: explode is pipelined inside the scan stage (no shuffle); row
    expansion factor is the token count, bounded here at 2."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", F.explode(F.split("o_orderpriority", "-")).alias("tok")
    )


@register(
    "rel_window_range_frame",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           {sql_fround('''sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)''', 2)} AS spend_30d
    FROM orders
    """,
)
def rel_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE interval frame: per-customer trailing-30-day spend. Unlike a
    ROWS frame, ties on the order key share one frame, so the result is
    deterministic without a unique tiebreak. One shuffle on the partition
    key + in-partition sort (same cost as any window)."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        fround(
            F.expr(
                "sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate "
                "RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)"
            ),
            2,
        ).alias("spend_30d"),
    )


@register(
    "rel_window_distribution",
    oracle=f"""
    SELECT p_partkey,
           CAST(ntile(4) OVER w AS BIGINT)                    AS quartile,
           {sql_fround('percent_rank() OVER w', 6)}           AS pr,
           {sql_fround('cume_dist() OVER w', 6)}              AS cd,
           first_value(p_partkey) OVER w                      AS cheapest,
           last_value(p_partkey) OVER (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS priciest
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey)
    """,
)
def rel_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist /
    first_value / last_value-over-full-frame) sharing one sort per brand
    partition — Spark evaluates all five in a single Window exec."""
    w = Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        fround(F.percent_rank().over(w), 6).alias("pr"),
        fround(F.cume_dist().over(w), 6).alias("cd"),
        F.first("p_partkey").over(w).alias("cheapest"),
        F.last("p_partkey").over(w_full).alias("priciest"),
    )


@register(
    "rel_join_right_outer",
    oracle="""
    SELECT p_partkey, p_name, l_orderkey, l_quantity
    FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey AND l_quantity > 49
    """,
)
def rel_join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join with a non-key predicate inside the join
    condition: parts keep a row even when no high-quantity lineitem
    matches (completes the join-type matrix next to left/full/semi/anti/
    cross)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    return li.join(
        p, (li.l_partkey == p.p_partkey) & (li.l_quantity > 49), "right"
    ).select("p_partkey", "p_name", "l_orderkey", "l_quantity")


@register(
    "rel_sql_dialect",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_fround('sum(l_quantity)', 2)} AS sum_qty,
           {sql_fround('avg(l_discount)', 6)} AS avg_disc,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def rel_sql_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql lifecycle (SURVEY.md §3.4): register the table as a
    temp view and run the textual SQL through Spark's own parser/analyzer/
    Catalyst — same physical plan as the DataFrame DSL twin (q01), proving
    both entry points hit one engine. The full ANSI dialect comes free."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    # sql_fround is valid Spark SQL as well as DuckDB SQL — reusing it
    # keeps the portable-rounding formula defined in exactly one place
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               {sql_fround('sum(l_quantity)', 2)}  AS sum_qty,
               {sql_fround('avg(l_discount)', 6)} AS avg_disc,
               count(*) AS n
        FROM lineitem_v
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    )


@register(
    "rel_rollup_grouping_id",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS BIGINT)    AS g_status,
           CAST(grouping(o_orderpriority) AS BIGINT)  AS g_pri,
           count(*) AS n
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rel_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping() markers — the aggregation-level indicator
    that disambiguates real NULL group values from subtotal rows (the
    companion to rel_rollup_agg / rel_cube_agg)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_pri"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "rel_event_funnel",
    oracle="""
    WITH v AS (SELECT user_id, min(ts::TIMESTAMP) AS t_view
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(ts::TIMESTAMP) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE event_type = 'click' AND ts::TIMESTAMP > t_view GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(ts::TIMESTAMP) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE event_type = 'purchase' AND ts::TIMESTAMP > t_click GROUP BY e.user_id)
    SELECT v.user_id, t_view, t_click, t_purchase
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def rel_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel per user: first view → first click after
    that view → first purchase after that click (strict event-time
    ordering, nullable tail stages).

    Scale: three aggregates + two left joins all partitioned on user_id —
    one logical shuffle key end-to-end, so AQE reuses the exchange; the
    event_type filters prune at the scan.
    """
    e = t(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return v.join(c, "user_id", "left").join(p, "user_id", "left").select(
        "user_id", "t_view", "t_click", "t_purchase"
    )


@register(
    "rel_unpivot_measures",
    oracle="""
    SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice AS value
    FROM part
    """,
)
def rel_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide → long): part's numeric measures rotated into
    (measure, value) rows via DataFrame.unpivot — the inverse of
    rel_pivot. The reference has no reshaping at all (SURVEY.md §2.12).

    Scale: unpivot is a narrow per-row expansion (Expand node, no
    shuffle) — output is k× rows but the plan stays scan-side; the oracle
    is the equivalent UNION ALL of per-measure projections.
    """
    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    )
    return p.unpivot("p_partkey", ["p_size", "p_retailprice"], "measure", "value")


@register(
    "rel_stats_moments",
    oracle=f"""
    WITH g AS (
        SELECT l_returnflag, count(*) AS n,
               corr(l_quantity, l_extendedprice) AS c,
               covar_samp(l_quantity, l_extendedprice) AS cv,
               covar_pop(l_quantity, l_extendedprice) AS cvp,
               regr_slope(l_extendedprice, l_quantity) AS sl,
               skewness(l_quantity) AS sk_samp,
               kurtosis(l_quantity) AS ku_samp
        FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag,
           {sql_fround('c', 6)} AS corr_qty_price,
           {sql_fround('cv', 3)} AS covar_samp_qp,
           {sql_fround('cvp', 3)} AS covar_pop_qp,
           {sql_fround('sl', 6)} AS slope_price_per_qty,
           {sql_fround('sk_samp * (n - 2) / sqrt(n * (n - 1.0))', 6)} AS skew_qty,
           {sql_fround('(ku_samp * (n - 2.0) * (n - 3.0) / (n - 1.0) - 6.0) / (n + 1.0)', 6)} AS kurt_qty
    FROM g
    """,
)
def rel_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate + higher-moment aggregates per group: correlation,
    sample/population covariance, regression slope, skewness, kurtosis —
    extending the reference's variance/std_dev surface (dataframe.rs:276,
    :316) to the full moment family.

    Semantics note (and why the oracle has arithmetic): Spark's
    skewness/kurtosis are POPULATION moments (g1, excess g2); DuckDB's
    are sample-corrected (G1, G2). The oracle converts DuckDB's to
    population via the exact inverse correction, so the check asserts
    the relationship rather than rounding the difference away.

    Scale: all six are single-pass partial-aggregatable (sum of co-moment
    tuples) — one shuffle of 3 groups × constant state, nothing held
    per-row.
    """
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        fround(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        fround(F.covar_samp("l_quantity", "l_extendedprice"), 3).alias("covar_samp_qp"),
        fround(F.covar_pop("l_quantity", "l_extendedprice"), 3).alias("covar_pop_qp"),
        fround(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("slope_price_per_qty"),
        fround(F.skewness("l_quantity"), 6).alias("skew_qty"),
        fround(F.kurtosis("l_quantity"), 6).alias("kurt_qty"),
    )


@register(
    "rel_resample_daily",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts::TIMESTAMP) AS TIMESTAMP) AS bucket_start,
           event_type,
           count(*) AS n_events,
           {sql_fround('avg(value)', 2)} AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def rel_resample_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily downsample of the event stream per type
    (operators/timeseries.resample — date_trunc bucketing + partial-agg
    groupBy; one shuffle keyed on (day, type))."""
    from randas_spark.operators.timeseries import resample

    e = t(spark, sf_dir, "events")
    return resample(
        e,
        "ts",
        ["event_type"],
        "day",
        [
            F.count(F.lit(1)).alias("n_events"),
            fround(F.avg("value"), 2).alias("avg_value"),
        ],
    )


@register(
    "rel_gap_fill_ffill",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, ts::TIMESTAMP AS ts, value FROM events WHERE user_id < 10
    ), b AS (
        SELECT date_trunc('hour', ts) AS h, user_id,
               count(*) AS n_events, {sql_fround('sum(value)', 2)} AS v
        FROM ev GROUP BY 1, 2
    ), spine AS (
        SELECT u.user_id, g.h
        FROM (SELECT DISTINCT user_id FROM ev) u
        CROSS JOIN (
            SELECT unnest(generate_series(
                (SELECT date_trunc('hour', min(ts)) FROM ev),
                (SELECT date_trunc('hour', max(ts)) FROM ev),
                INTERVAL 1 HOUR)) AS h
        ) g
    )
    SELECT s.user_id, CAST(s.h AS TIMESTAMP) AS bucket_start,
           coalesce(b.n_events, 0) AS n_events,
           last_value(b.v IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM spine s
    LEFT JOIN b ON b.user_id = s.user_id AND b.h = s.h
    """,
)
def rel_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly spine per user (sequence+explode — no driver loop)
    with empty buckets materialized at n_events=0 and the hourly value
    sum forward-filled via last(ignorenulls) over the per-user window
    (operators/timeseries.gap_fill_ffill). Null until a user's first
    observation — fill never invents data.

    Scale: spine size is |keys|×|buckets| (bounded by the time range);
    the left join and the ffill window share the user partitioning.
    """
    from randas_spark.operators.timeseries import gap_fill_ffill

    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    return gap_fill_ffill(e, "ts", "user_id", "hour", fround(F.sum("value"), 2))


@register(
    "rel_ewma_user_value",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, ts::TIMESTAMP AS ts, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id) AS rn
        FROM events WHERE user_id < 10
    )
    SELECT user_id, ts, value,
           {sql_fround(
               "list_reduce(list(value) OVER ("
               "PARTITION BY user_id ORDER BY rn "
               "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
               "(acc, x) -> 0.2 * x + 0.8 * acc)", 6)} AS ewma
    FROM ordered
    """,
)
def rel_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (α=0.2) of event values in event-time order
    (operators/timeseries.ewma_by_key — grouped-map Pandas recurrence).
    The oracle folds the same recurrence with DuckDB's list_reduce over
    a windowed prefix list: y_1 = x_1, y_t = α·x_t + (1-α)·y_{t-1} —
    float-add commutativity makes the per-step IEEE ops identical to
    pandas.ewm(adjust=False), and fround(6) absorbs any residual ulp.
    (O(n²) prefix lists are oracle-only gymnastics — fine at sf0.01;
    the Spark side stays the linear grouped-map.) pytest also checks
    against pandas.ewm on the driver."""
    from randas_spark.operators.timeseries import ewma_by_key

    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    out = ewma_by_key(e, "user_id", "ts", "value", alpha=0.2, id_col="event_id")
    return out.select("user_id", "ts", "value", fround(F.col("ewma"), 6).alias("ewma"))


@register(
    "rel_time_rollup_multigrain",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts::TIMESTAMP) AS TIMESTAMP) AS day_start,
           CAST(date_trunc('hour', ts::TIMESTAMP) AS TIMESTAMP) AS hour_start,
           count(*) AS n_events,
           {sql_fround('sum(value)', 2)} AS sum_value
    FROM events
    GROUP BY GROUPING SETS ((day_start, hour_start), (day_start), ())
    """,
)
def rel_time_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: one pass over the
    events table emits hourly, daily, and grand-total aggregates via
    GROUPING SETS on nested date_trunc buckets (hour ⊂ day, so this is
    ROLLUP(day, hour) — the continuous-aggregate shape a time-series
    store maintains incrementally).

    Scale: Spark's Expand produces the 3 grouping combinations BEFORE the
    exchange and partial-aggregates each, so the shuffle carries one row
    per (grain, bucket), not 3× the input; at 100 TB the same query
    maintained incrementally = the streaming tumbling aggregate feeding
    a downstream daily re-rollup.
    """
    e = t(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day_start"),
        F.date_trunc("hour", "ts").alias("hour_start"),
        "value",
    )
    return e.rollup("day_start", "hour_start").agg(
        F.count(F.lit(1)).alias("n_events"),
        fround(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "rel_scd2_customer_dim",
    oracle=f"""
    WITH upd AS (
        SELECT o_custkey AS c_custkey,
               {sql_fround('sum(o_totalprice)', 2)} AS bal,
               max(o_orderdate) AS ts
        FROM orders GROUP BY 1
    ), cur AS (
        SELECT c_custkey, c_acctbal AS bal,
               TIMESTAMP '1970-01-01 00:00:00' AS valid_from,
               CAST(NULL AS TIMESTAMP) AS valid_to
        FROM customer
    )
    SELECT cur.c_custkey, cur.bal, cur.valid_from, upd.ts AS valid_to
    FROM cur JOIN upd USING (c_custkey)
    WHERE cur.bal IS DISTINCT FROM upd.bal
    UNION ALL
    SELECT upd.c_custkey, upd.bal, upd.ts AS valid_from, CAST(NULL AS TIMESTAMP)
    FROM upd LEFT JOIN cur USING (c_custkey)
    WHERE cur.c_custkey IS NULL OR cur.bal IS DISTINCT FROM upd.bal
    UNION ALL
    SELECT cur.c_custkey, cur.bal, cur.valid_from, cur.valid_to
    FROM cur LEFT JOIN upd USING (c_custkey)
    WHERE upd.c_custkey IS NULL OR NOT (cur.bal IS DISTINCT FROM upd.bal)
    """,
)
def rel_scd2_customer_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance (operators/merge.scd2_apply):
    the customer dimension (balance tracked, open-ended versions) takes
    an update batch derived from orders (lifetime order value per
    customer, stamped at their latest order date). Changed keys get
    their current version closed at the update timestamp and a new open
    version appended; unchanged/un-updated keys stay open — the MERGE
    WHEN MATCHED/NOT MATCHED shape as one full-outer join + unions.

    Scale: history rows never join (filtered out pre-shuffle); cost is
    |current dim| + |batch| on one key shuffle — the Delta-MERGE plan
    shape without a table format.
    """
    from randas_spark.operators.merge import scd2_apply

    c = t(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey",
        F.col("c_acctbal").alias("bal"),
        F.lit("1970-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    upd = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            fround(F.sum("o_totalprice"), 2).alias("bal"),
            F.max("o_orderdate").alias("ts"),
        )
    )
    return scd2_apply(dim, upd, "c_custkey", ["bal"], "ts")


@register(
    "rel_global_percentile",
    oracle=f"""
    WITH r AS (
        SELECT o_orderkey, o_totalprice,
               row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
               count(*) OVER () AS n
        FROM orders
    )
    SELECT o_orderkey, o_totalprice,
           {sql_fround('CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)', 6)} AS pct_rank,
           CAST(least(floor(10 * (CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE))), 9) AS BIGINT) AS decile
    FROM r
    """,
)
def rel_global_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global percentile assignment
    (operators/rank.distributed_global_rank): every order gets its
    percent_rank over ALL orders by total price (ties broken by order
    key, so the rank — and hence the percentile — is deterministic) and
    its decile bucket. The oracle's window formulation is the SPEC; the
    Spark plan replaces the single-task unpartitioned window with
    range-repartition + parallel local ranks + 32 broadcast offsets —
    identical numbers, no scale cliff. (Approximate quantiles for when
    exactness isn't required: rel_percentile_approx /
    rel_quantile_sketch_mergeable.)"""
    from randas_spark.operators.rank import distributed_global_rank

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = distributed_global_rank(
        o, [F.col("o_totalprice"), F.col("o_orderkey")]
    )
    nrow = o.agg(F.count(F.lit(1)).alias("__n__"))
    pct = F.col("rn").cast("double") / (F.col("__n__") - 1).cast("double")
    return ranked.crossJoin(F.broadcast(nrow)).select(
        "o_orderkey",
        "o_totalprice",
        fround(pct, 6).alias("pct_rank"),
        F.least(F.floor(10 * pct), F.lit(9)).cast("long").alias("decile"),
    )


@register(
    "rel_temporal_join_scd2",
    oracle=f"""
    WITH upd AS (
        SELECT o_custkey AS c_custkey,
               {sql_fround('sum(o_totalprice)', 2)} AS bal,
               max(o_orderdate) AS ts
        FROM orders GROUP BY 1
    ), cur AS (
        SELECT c_custkey, c_acctbal AS bal,
               TIMESTAMP '1970-01-01 00:00:00' AS valid_from,
               CAST(NULL AS TIMESTAMP) AS valid_to
        FROM customer
    ), dim AS (
        SELECT cur.c_custkey, cur.bal, cur.valid_from,
               CAST(upd.ts AS TIMESTAMP) AS valid_to
        FROM cur JOIN upd USING (c_custkey)
        WHERE cur.bal IS DISTINCT FROM upd.bal
        UNION ALL
        SELECT upd.c_custkey, upd.bal, CAST(upd.ts AS TIMESTAMP),
               CAST(NULL AS TIMESTAMP)
        FROM upd LEFT JOIN cur USING (c_custkey)
        WHERE cur.c_custkey IS NULL OR cur.bal IS DISTINCT FROM upd.bal
        UNION ALL
        SELECT cur.c_custkey, cur.bal, cur.valid_from, cur.valid_to
        FROM cur LEFT JOIN upd USING (c_custkey)
        WHERE upd.c_custkey IS NULL OR NOT (cur.bal IS DISTINCT FROM upd.bal)
    ), f AS (
        SELECT o_orderkey, o_custkey AS c_custkey,
               CAST(o_orderdate AS TIMESTAMP) AS o_ts
        FROM orders
    )
    SELECT f.o_orderkey, f.c_custkey,
           d.bal AS bal_at_order,
           d.valid_to IS NULL AS from_current_version
    FROM f LEFT JOIN dim d
      ON d.c_custkey = f.c_custkey
     AND d.valid_from <= f.o_ts
     AND (d.valid_to IS NULL OR f.o_ts < d.valid_to)
    """,
)
def rel_temporal_join_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join (operators/merge.point_in_time_join): every
    order fetches the customer-dimension VERSION valid at its own order
    date from the SCD2 dim rel_scd2_customer_dim maintains — the
    feature-store leakage guard (a training example must see attributes
    as of its event time, never the future). Orders before a customer's
    balance change see the pre-change balance; the order that closed the
    version sees the new one. Runs as one key equi-join with the
    interval bounds as join filters — never a range-join blowup; exactly
    |orders| output rows (each order covered by exactly one version)."""
    from randas_spark.operators.merge import point_in_time_join, scd2_apply

    c = t(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey",
        F.col("c_acctbal").alias("bal"),
        F.lit("1970-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    upd = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            fround(F.sum("o_totalprice"), 2).alias("bal"),
            F.max("o_orderdate").alias("ts"),
        )
    )
    versioned = scd2_apply(dim, upd, "c_custkey", ["bal"], "ts")
    facts = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderdate").cast("timestamp").alias("o_ts"),
    )
    out = point_in_time_join(facts, versioned, "c_custkey", "o_ts")
    return out.select(
        "o_orderkey",
        "c_custkey",
        F.col("bal").alias("bal_at_order"),
        F.col("valid_to").isNull().alias("from_current_version"),
    )


@register(
    "rel_histogram_prices",
    oracle=f"""
    SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
           count(*) AS n,
           {sql_fround('avg(l_discount)', 4)} AS avg_discount
    FROM lineitem
    GROUP BY 1
    """,
)
def rel_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram binning (width_bucket shape): price bucketed
    by a fixed 5000-wide bin via floor division — the scalable histogram
    (single partial-agg pass; bins are derived per-row, no global min/max
    pre-pass, no sort).
    """
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.floor(F.col("l_extendedprice") / 5000).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        fround(F.avg("l_discount"), 4).alias("avg_discount"),
    )


@register(
    "rel_ordered_array_agg",
    oracle="""
    SELECT user_id,
           CAST(to_json((list(event_type ORDER BY ts, event_id))[1:5]) AS VARCHAR)
               AS first_events
    FROM events
    WHERE user_id < 20
    GROUP BY user_id
    """,
)
def rel_ordered_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ordered array aggregation: each user's first five
    event types in event-time order. Spark's collect_list is
    order-nondeterministic by design (depends on partition arrival), so
    the portable construction collects (ts, event_id, type) structs,
    sort_array's them (struct comparison = lexicographic on fields —
    event_id breaks ts ties), then projects the type — all codegen'd.
    The array ships as its JSON rendering (driver-canon discipline).

    Scale: one shuffle on user_id; the slice caps payload at 5 elements
    but collect_list holds each user's full set first — for huge keys,
    pre-filter with a row_number window instead (rel_window_topk_per_group
    is that operator).
    """
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    return e.groupBy("user_id").agg(
        F.to_json(
            F.slice(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                    lambda s: s.event_type,
                ),
                1,
                5,
            )
        ).alias("first_events")
    )


@register(
    "rel_window_share_of_total",
    oracle=f"""
    WITH n AS (
        SELECT n_name, {sql_fround('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        GROUP BY 1
    )
    SELECT n_name, revenue,
           {sql_fround('revenue / sum(revenue) OVER ()', 6)} AS share
    FROM n
    """,
)
def rel_window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total (ratio_to_report): each nation's revenue as a
    fraction of the grand total via an unpartitioned window over the
    ALREADY-AGGREGATED 25-row result — the window never sees raw
    lineitem, so the 'global' window is a 25-row single-partition step,
    not a full-data sort."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )
    w = Window.partitionBy()
    return rev.select(
        "n_name",
        "revenue",
        fround(F.col("revenue") / F.sum("revenue").over(w), 6).alias("share"),
    )


@register(
    "rel_profile_orders",
    oracle="""
    SELECT 'o_orderkey' AS "column", count(*) AS n_rows, count(o_orderkey) AS n_nonnull,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_value, CAST(max(o_orderkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(o_orderstatus), count(DISTINCT o_orderstatus),
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*), count(o_orderpriority), count(DISTINCT o_orderpriority),
           CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
    FROM orders
    """,
)
def rel_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-column data profile of orders (key, status,
    priority): row/non-null/distinct counts + min/max
    (operators/profiling.profile — ONE scan; the oracle's UNION ALL
    re-reads per column, which is exactly the N-pass shape the operator
    avoids)."""
    from randas_spark.operators.profiling import profile

    o = t(spark, sf_dir, "orders")
    return profile(o, ["o_orderkey", "o_orderstatus", "o_orderpriority"])


@register(
    "rel_data_quality_audit",
    oracle="""
    SELECT 'customer_key_unique' AS "check",
           CAST(count(*) AS BIGINT) AS n_violations
    FROM (SELECT c_custkey FROM customer GROUP BY c_custkey HAVING count(*) > 1)
    UNION ALL
    SELECT 'lineitem_orderkey_fk', CAST(count(*) AS BIGINT)
    FROM lineitem l
    WHERE l_orderkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem_partkey_fk', CAST(count(*) AS BIGINT)
    FROM lineitem l
    WHERE l_partkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'lineitem_suppkey_fk', CAST(count(*) AS BIGINT)
    FROM lineitem l
    WHERE l_suppkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
    UNION ALL
    SELECT 'orders_custkey_fk', CAST(count(*) AS BIGINT)
    FROM orders o
    WHERE o_custkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'orders_key_unique', CAST(count(*) AS BIGINT)
    FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
    UNION ALL
    SELECT 'documents_text_not_null', CAST(count(*) AS BIGINT)
    FROM documents WHERE text IS NULL
    ORDER BY "check"
    """,
)
def rel_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-wide data-quality audit (operators/quality.py — the
    dbt-test/Deequ shape): referential integrity of every TPC-H foreign
    key (left-anti joins; AQE broadcasts small parents), primary-key
    uniqueness (groupBy-count-filter), and a not-null gate — unioned
    into one tiny (check, n_violations) table a pipeline gates a
    snapshot publish on. Each check is at most one shuffle; nothing
    collects driver-side."""
    from randas_spark.operators.quality import (
        audit,
        not_null_check,
        orphan_check,
        unique_check,
    )

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    p = t(spark, sf_dir, "part")
    s = t(spark, sf_dir, "supplier")
    d = t(spark, sf_dir, "documents")
    return audit(
        [
            orphan_check(li, "l_orderkey", o, "o_orderkey", "lineitem_orderkey_fk"),
            orphan_check(li, "l_partkey", p, "p_partkey", "lineitem_partkey_fk"),
            orphan_check(li, "l_suppkey", s, "s_suppkey", "lineitem_suppkey_fk"),
            orphan_check(o, "o_custkey", c, "c_custkey", "orders_custkey_fk"),
            unique_check(o, "o_orderkey", "orders_key_unique"),
            unique_check(c, "c_custkey", "customer_key_unique"),
            not_null_check(d, "text", "documents_text_not_null"),
        ]
    )


@register(
    "rel_table_checksum",
    oracle=sql_table_checksum(
        "lineitem", ["l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate"]
    ),
)
def rel_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table content checksum of lineitem's stable
    columns (io/audit.table_checksum): Σ md5-derived 32-bit row hashes +
    row count — the one-scan migration-validation primitive (the same
    result from ANY engine or partitioning; this oracle check IS the
    use case)."""
    from randas_spark.io.audit import table_checksum

    li = t(spark, sf_dir, "lineitem")
    return table_checksum(li, ["l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate"])


@register(
    "rel_join_null_safe",
    oracle="""
    WITH n AS (
        SELECT n_nationkey, nullif(n_regionkey, 0) AS rk FROM nation
    ), r AS (
        SELECT r_regionkey, nullif(r_regionkey, 0) AS rk, r_name FROM region
    )
    SELECT n.n_nationkey, r.r_name
    FROM n JOIN r ON n.rk IS NOT DISTINCT FROM r.rk
    """,
)
def rel_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys match
    each other instead of vanishing — the join variant plain equality
    can't express (region 0 nulled on both sides to manufacture NULL
    keys; they pair up). Spark plans <=> as a HASH join key (EqualNullSafe
    is an equi-condition), so this broadcasts/shuffles like any equi-join
    rather than degrading to a nested loop — but note NULL behaves as ONE
    key value: heavy null populations are a skew hotspot (salt or filter
    nulls first at scale)."""
    n = t(spark, sf_dir, "nation").select(
        "n_nationkey", F.nullif(F.col("n_regionkey"), F.lit(0)).alias("rk")
    )
    r = t(spark, sf_dir, "region").select(
        F.nullif(F.col("r_regionkey"), F.lit(0)).alias("rk"), "r_name"
    )
    return n.join(F.broadcast(r), n.rk.eqNullSafe(r.rk)).select("n_nationkey", "r_name")


@register(
    "rel_anomaly_zscore",
    oracle=f"""
    WITH w AS (
        SELECT user_id, event_id, value,
               avg(value) OVER win AS mu,
               stddev_pop(value) OVER win AS sd,
               count(*) OVER win AS n_trail
        FROM events
        WINDOW win AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id
                       ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id, value,
           CASE WHEN n_trail >= 5
                THEN {sql_fround('(value - mu)/greatest(sd, 1e-9)', 6)} END AS zscore,
           (n_trail >= 5 AND abs((value - mu)/greatest(sd, 1e-9)) > 3.0) AS anomaly
    FROM w
    """,
)
def rel_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly flagging in batch form: each event scored
    against the TRAILING 20-event window of its own user (avg +
    population stddev, rows-frame excludes the current row so the event
    never masks itself); |z| > 3 with at least 5 trailing events flags
    the anomaly. Pure window frames — one shuffle on user_id, constant
    per-row state, no self-join; at 100 TB this is the cheapest online
    outlier gate and the batch twin of a per-key streaming detector.
    Population stddev + identical guard arithmetic keep both engines
    bit-comparable (closest |z| to the threshold is 1.4e-3 at sf0.01 —
    orders of magnitude above any float divergence)."""
    win = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-20, -1)
    )
    e = t(spark, sf_dir, "events")
    mu = F.avg("value").over(win)
    sd = F.stddev_pop("value").over(win)
    n_trail = F.count(F.lit(1)).over(win)
    staged = e.select(
        "user_id",
        "event_id",
        "value",
        mu.alias("mu"),
        sd.alias("sd"),
        n_trail.alias("n_trail"),
    )
    z = (F.col("value") - F.col("mu")) / F.greatest(F.col("sd"), F.lit(1e-9))
    return staged.select(
        "user_id",
        "event_id",
        "value",
        F.when(F.col("n_trail") >= 5, fround(z, 6)).alias("zscore"),
        ((F.col("n_trail") >= 5) & (F.abs(z) > 3.0)).alias("anomaly"),
    )


_TS_SIM_CASES = ", ".join(
    f"CAST(sum(CASE WHEN hour(ts::TIMESTAMP)={h} THEN 1 ELSE 0 END) AS DOUBLE)"
    for h in range(24)
)


@register(
    "rel_ts_similarity_paa",
    oracle=f"""
    WITH prof AS (
        SELECT user_id, [{_TS_SIM_CASES}] AS series FROM events GROUP BY user_id
    ),
    m AS (SELECT user_id, series, list_sum(series)/24.0 AS mu FROM prof),
    s AS (
        SELECT user_id, series, mu,
               greatest(sqrt(list_sum(list_transform(series,
                   v -> (v-mu)*(v-mu)))/24.0), 1e-9) AS sd
        FROM m
    ),
    zn AS (SELECT user_id, list_transform(series, v -> (v-mu)/sd) AS z FROM s),
    q AS (SELECT z AS qz FROM zn WHERE user_id = 0)
    SELECT zn.user_id,
           {sql_fround("sqrt(list_sum(list_transform(generate_series(1,24), i -> (z[i]-qz[i])*(z[i]-qz[i]))))", 6)} AS dist
    FROM zn, q
    WHERE zn.user_id <> 0
      AND sqrt(list_sum(list_transform(generate_series(1,24),
              i -> (z[i]-qz[i])*(z[i]-qz[i])))) <= 6.0
    """,
)
def rel_ts_similarity_paa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed series-similarity range search (REPOSE ICDE'21 /
    Odyssey VLDB'23 family, GEMINI lower-bound framework): each user's
    hour-of-day activity profile (operators/timeseries.hourly_profile —
    24 conditional sums, one shuffle) is z-normalized; candidates are
    pruned by the PAA lower bound sqrt(w)·dist(paa, paa_q) <= r BEFORE
    the exact distance is computed, which is lossless (LB never exceeds
    the true distance) — the oracle computes exact distances with NO
    pruning and must agree row-for-row, proving the prune drops nothing.
    All array arithmetic is built-in HOFs (codegen, no UDF); the query
    series is a broadcast single row."""
    from randas_spark.operators.timeseries import hourly_profile, ts_range_search

    e = t(spark, sf_dir, "events")
    prof = hourly_profile(e, "user_id", "ts")
    out = ts_range_search(prof, "user_id", 0, radius=6.0, n=24, segments=6)
    return out.select("user_id", fround(F.col("dist"), 6).alias("dist"))


@register(
    "rel_join_salted",
    oracle="""
    SELECT s_nationkey,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def rel_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact⋈dim join (operators/skew.salted_join): each
    lineitem row draws one of 16 salts, the supplier side is exploded 16
    ways, and the join runs on (suppkey, salt) — spreading any
    pathological hot key over 16 shuffle partitions. The oracle is the
    PLAIN join: salting must be row-identical, and this query proves it
    value-exactly on every (nation, count, sum) aggregate. Use when one
    key dominates (null-heavy or celebrity keys) and AQE's skew split
    can't help — e.g. a broadcast-ineligible dim or an aggregation-side
    hotspot."""
    from randas_spark.operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_quantity"
    )
    su = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    return (
        salted_join(li, su, "suppkey", num_salts=16)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
    )


@register(
    "rel_countmin_sketch",
    oracle="SELECT key AS user_id, exact_cnt, est_cnt, no_undercount FROM ("
    + _sql_countmin_estimate("events", "user_id", "event_type", depth=4)
    + ")",
)
def rel_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Count-Min frequency sketch (operators/sketches.py):
    per-event-type shard sketches (depth 4 × width 256, md5-derived
    buckets) merged cell-wise, then every user's event count estimated
    as min-over-rows — with the exact count and the CMS one-sided
    guarantee (est >= exact, always) alongside. Bucket hashing is
    engine-portable, so unlike the HLL twin (tolerance verdict) this
    carries an EXACT value-hash oracle: sketch cells, merge, and every
    estimate are bit-identical in DuckDB."""
    from randas_spark.operators.sketches import countmin_estimate

    e = t(spark, sf_dir, "events")
    out = countmin_estimate(e, "user_id", "event_type", depth=4)
    return out.withColumnRenamed("key", "user_id")


def _bloom_oracle() -> str:
    from randas_spark.operators.sketches import _bloom_pos_sql

    pos = [_bloom_pos_sql("c_custkey", h, False) for h in range(3)]
    opos = [_bloom_pos_sql("o_custkey", h, False) for h in range(3)]
    pos_union = "\n            UNION ALL ".join(
        f"SELECT {p} AS pos FROM dimkeys" for p in pos
    )
    membership = " AND ".join(f"({p}) IN (SELECT pos FROM bits)" for p in opos)
    return f"""
    WITH dimkeys AS (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    bits AS (
        SELECT DISTINCT pos FROM (
            {pos_union}
        )
    ),
    passed AS (
        SELECT o_orderpriority, o_custkey FROM orders WHERE {membership}
    )
    SELECT p.o_orderpriority,
           count(*) AS n_bloom_passed,
           count(d.c_custkey) AS n_joined
    FROM passed p LEFT JOIN dimkeys d ON d.c_custkey = p.o_custkey
    GROUP BY p.o_orderpriority
    """


@register("rel_bloom_join_reduction", oracle=_bloom_oracle())
def rel_bloom_join_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction (operators/sketches.bloom_bits /
    bloom_prefilter): the BUILDING-segment customer keys compress into a
    <=4096-position portable bloom that prefilters orders BEFORE any
    join — at 100 TB this ships ~32 KB to every scan task instead of
    shuffling the probe side, and the join afterwards discards the
    bloom's false positives. Output per priority: rows passing the
    bloom vs rows actually joining — the oracle replays the identical
    md5-derived bloom in DuckDB, so the value hash proves both engines
    agree on every membership verdict (and a false NEGATIVE anywhere
    would break the n_joined equality)."""
    from randas_spark.operators.sketches import bloom_bits, bloom_prefilter

    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders")
    bloom = bloom_bits(c.select("c_custkey"), "c_custkey")
    passed = bloom_prefilter(o.select("o_orderpriority", "o_custkey"), "o_custkey", bloom)
    dim = c.select("c_custkey")
    return (
        passed.join(
            F.broadcast(dim), passed.o_custkey == dim.c_custkey, "left"
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_bloom_passed"),
            F.count("c_custkey").alias("n_joined"),
        )
    )


@register(
    "rel_heavy_hitters",
    oracle="SELECT key AS user_id, exact_cnt, est_cnt FROM ("
    + _sql_countmin_estimate("events", "user_id", "event_type", depth=4)
    + ") CROSS JOIN (SELECT count(*) AS n FROM events) WHERE est_cnt >= 0.01 * n",
)
def rel_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """φ-heavy hitters from the Count-Min sketch (φ=1%): keys whose
    ESTIMATE clears φ·N. CMS's one-sided error makes this recall-perfect
    (a true heavy hitter can never estimate low), so the sketch answers
    the top-talkers question without a per-key exact count at scale —
    the exact counts here ride along only for the oracle's audit. Same
    deterministic buckets as rel_countmin_sketch → exact value-hash
    oracle."""
    from randas_spark.operators.sketches import countmin_estimate

    e = t(spark, sf_dir, "events")
    est = countmin_estimate(e, "user_id", "event_type", depth=4)
    total = e.agg(F.count(F.lit(1)).alias("n"))
    return (
        est.crossJoin(F.broadcast(total))
        .filter(F.col("est_cnt") >= 0.01 * F.col("n"))
        .select(F.col("key").alias("user_id"), "exact_cnt", "est_cnt")
    )


@register(
    "rel_retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               CAST(date_trunc('day', min(ts::TIMESTAMP)) AS TIMESTAMP) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               datediff('day', f.cohort_day,
                        CAST(date_trunc('day', e.ts::TIMESTAMP) AS TIMESTAMP)) AS day_offset
        FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_day, day_offset, count(*) AS n_active
    FROM activity GROUP BY cohort_day, day_offset
    """,
)
def rel_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucket into their first-seen day,
    and each (cohort, day-offset) cell counts distinct users active that
    many days later — the product-analytics staple. One shuffle keyed on
    user_id computes first-seen (map-side partial min); the offset agg
    groups on the (small) cohort×offset grid. The cohort join is a
    fact⋈aggregate self-join on user_id — at scale the same
    partitioning as the min-agg, so AQE reuses the exchange."""
    e = t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .distinct()
    )
    return activity.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )


@register(
    "rel_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id
               ) AS next_type
        FROM events
    )
    SELECT event_type, next_type, count(*) AS n_transitions
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def rel_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition matrix (Markov counts): per user,
    each event pairs with its successor in event-time order (lead window
    PARTITIONED by user — never global), then transitions aggregate on
    the tiny type×type grid with map-side combine. The sequence-mining
    primitive under funnels, next-action models, and session-path
    reports."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    return seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )


#: The part co-purchase graph as CTEs for a caller's ``WITH``: ``items``
#: the distinct (order, part) rows, ``pc`` every co-ordered part pair
#: (pa < pb) with its basket count ``c``, and ``e`` the graph's edges —
#: pairs co-ordered in >= 2 baskets. :func:`_copurchase_edges` is the
#: Spark twin of ``e``. AS MATERIALIZED: several oracles read ``e`` more
#: than once (SCALE.md, the lazy-CTE-chain lesson).
_SQL_COPURCHASE = """items AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), pc AS MATERIALIZED (
        SELECT a.pk AS pa, b.pk AS pb, count(*) AS c
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk
    ), e AS MATERIALIZED (SELECT pa, pb FROM pc WHERE c >= 2)"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-purchase graph: one (pa, pb) row with pa < pb for
    each pair of parts co-ordered in >= 2 baskets (the ``e`` of
    :data:`_SQL_COPURCHASE`), via operators/mining.basket_pair_counts —
    basket-keyed, never all-pairs across parts."""
    from randas_spark.operators.mining import basket_pair_counts

    return (
        basket_pair_counts(t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .filter(F.col("pair_count") >= 2)
        .select(F.col("item_a").alias("pa"), F.col("item_b").alias("pb"))
    )


@register(
    "rel_market_basket_lift",
    oracle=f"""
    WITH {_SQL_COPURCHASE},
    n AS (SELECT count(DISTINCT ok) AS n_baskets FROM items),
    cnt AS (SELECT pk, count(*) AS c FROM items GROUP BY pk),
    pairs AS (SELECT pa AS part_a, pb AS part_b, c AS pair_count FROM pc)
    SELECT part_a, part_b, pair_count,
           {sql_fround('pair_count * 1.0 / n_baskets', 6)} AS support,
           {sql_fround('(pair_count * 1.0 * n_baskets) / (ca.c * 1.0 * cb.c)', 4)} AS lift
    FROM pairs
    JOIN cnt ca ON ca.pk = part_a
    JOIN cnt cb ON cb.pk = part_b
    CROSS JOIN n
    ORDER BY pair_count DESC, part_a, part_b
    LIMIT 50
    """,
)
def rel_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with support and lift: items = distinct
    (order, part); pair counts from a basket self-join; lift against the
    independence assumption from per-item basket counts. Top-50 pairs by
    co-count with a full (part_a, part_b) tiebreak.

    Scale: the self-join is keyed on l_orderkey, and baskets are small
    (TPC-H caps lines/order at 7), so pair fan-out is Σ_b k_b(k_b-1)/2 —
    linear in baskets, never all-pairs across items. Item counts and the
    basket total are broadcast into the pair stream (both ≪ pairs); the
    top-50 is TakeOrderedAndProject (per-partition heaps, no global
    sort). At 100 TB the only big shuffle is the distinct+self-join on
    order key — the natural data key — and AQE reuses that exchange for
    the pair groupBy."""
    from randas_spark.operators.mining import market_basket_pairs

    li = t(spark, sf_dir, "lineitem")
    pairs = market_basket_pairs(li, "l_orderkey", "l_partkey")
    return (
        pairs.select(
            F.col("item_a").alias("part_a"),
            F.col("item_b").alias("part_b"),
            "pair_count",
            fround(F.col("support"), 6).alias("support"),
            fround(F.col("lift"), 4).alias("lift"),
        )
        .orderBy(F.desc("pair_count"), "part_a", "part_b")
        .limit(50)
    )


@register(
    "rel_triangle_count",
    oracle=f"""
    WITH {_SQL_COPURCHASE}
    SELECT e1.pa AS node_a, e1.pb AS node_b, e2.pb AS node_c
    FROM e e1
    JOIN e e2 ON e2.pa = e1.pb
    JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    """,
)
def rel_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration on the part co-purchase graph (edge = two
    parts co-ordered in ≥2 baskets), via degree-ordered edge orientation
    (Cohen's MapReduce triangle algorithm / Suri-Vassilvitskii): orient
    every undirected edge from its lower-(degree, id) endpoint to the
    higher, build wedges only from each node's out-neighbors, then
    semi-join wedges against the oriented edge set. Each triangle is
    found exactly once; output triples are re-sorted numerically so the
    orientation choice is invisible to the oracle.

    Scale: orientation bounds every node's out-degree by O(√m) even on
    power-law graphs — the wedge fan-out is Σ d_out², worst-case O(m^1.5)
    instead of the Σ d² blowup a hub node causes on unoriented wedges.
    Degrees are a groupBy on edges; the (degree, id) order is attached by
    two broadcast-sized joins when the node table fits (here) or plain
    shuffle joins at cluster scale. No stage is all-pairs. The edge list
    (the contracted co-purchase graph, ≪ input) is localCheckpoint-ed
    once: degrees, orientation, wedges, and the closing join all reuse it
    instead of re-deriving the basket self-join per reference — without
    it the logical plan re-scans lineitem 8× and AQE's ReusedExchange
    only recovers a fraction (measured 38 planned scans → 5)."""
    from randas_spark.operators.mining import triangle_enumerate

    return triangle_enumerate(_copurchase_edges(spark, sf_dir), "pa", "pb")


@register(
    "rel_skyline_per_brand",
    oracle="""
    WITH g AS (
        SELECT p_brand, p_retailprice AS price, max(p_size) AS msize
        FROM part GROUP BY p_brand, p_retailprice
    ),
    w AS (
        SELECT p_brand, price, msize,
               max(msize) OVER (
                   PARTITION BY p_brand ORDER BY price
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS cmb
        FROM g
    )
    SELECT p.p_partkey, p.p_brand, p.p_retailprice AS price,
           CAST(p.p_size AS BIGINT) AS size
    FROM part p
    JOIN w ON p.p_brand = w.p_brand AND p.p_retailprice = w.price
    WHERE p.p_size = w.msize AND (w.cmb IS NULL OR w.msize > w.cmb)
    """,
)
def rel_skyline_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline per brand (minimize price, maximize size): the
    undominated parts — no same-brand part is both ≤ on price and ≥ on
    size with at least one strict. Rows tying on both dimensions all
    survive (neither strictly dominates).

    Scale: the naive skyline is an all-pairs dominance anti-join (the
    oracle's NOT-EXISTS shape, O(n²)); this plan is linear — collapse to
    per-(brand, price) max-size groups (map-side-combinable groupBy onto
    a table bounded by |brands|×|distinct prices| ≪ rows), run the
    running-max window over THAT collapsed table (partitioned by brand,
    never a global single-partition window), and join survivors back on
    (brand, price). A point survives iff it carries its price-group's max
    size and strictly exceeds the running max of every cheaper group."""
    from randas_spark.operators.mining import skyline_2d

    p = t(spark, sf_dir, "part")
    sky = skyline_2d(p, "p_retailprice", "p_size", ["p_brand"])
    return sky.select(
        "p_partkey",
        "p_brand",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").cast("long").alias("size"),
    )


def _sql_kcore_copurchase(k: int, rounds: int) -> str:
    """Unrolled k-core peeling oracle: ``rounds`` fixed passes over the
    co-purchase graph. AS MATERIALIZED per round — DuckDB inlines
    single-reference CTEs and a lazy chain re-evaluates exponentially
    (SCALE.md, BPE-oracle lesson)."""
    ctes = [_SQL_COPURCHASE, "e0 AS (SELECT pa, pb FROM e)"]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""n{i} AS MATERIALIZED (
                SELECT node FROM (
                    SELECT pa AS node FROM e{i - 1}
                    UNION ALL SELECT pb FROM e{i - 1}
                ) GROUP BY node HAVING count(*) >= {k}
            )"""
        )
        ctes.append(
            f"""e{i} AS MATERIALIZED (
                SELECT pa, pb FROM e{i - 1}
                WHERE pa IN (SELECT node FROM n{i})
                  AND pb IN (SELECT node FROM n{i})
            )"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT pa AS node FROM e{rounds} UNION ALL SELECT pb FROM e{rounds}
        ) GROUP BY node
        """
    )


def _sql_pagerank_copurchase(rounds: int = 3, scale: int = 10**12) -> str:
    """Unrolled fixed-point PageRank oracle: ``rounds`` exact int64
    power-iteration passes over the symmetrized co-purchase graph
    (operators/mining.sql_pagerank with pagerank_int's integer
    recurrence; DuckDB ``//`` == Spark ``div`` on non-negative int64).
    The node universe is every node with an out-edge, as in
    pagerank_int."""
    from randas_spark.operators.mining import sql_pagerank

    graph = (
        f"{_SQL_COPURCHASE},\n    ed AS MATERIALIZED "
        "(SELECT pa AS s, pb AS d FROM e UNION ALL SELECT pb, pa FROM e)"
    )
    ranks = sql_pagerank(
        graph,
        "SELECT node FROM deg",
        rounds,
        r0=f"CAST({scale} // n AS BIGINT)",
        contrib="(p.r * 85) // (100 * deg.od)",
        finish=f"CAST(({scale} * 15) // (100 * n) + tot AS BIGINT)",
    )
    return f"WITH {ranks}\nSELECT node, r AS pagerank FROM ranks"


@register("rel_pagerank", oracle=_sql_pagerank_copurchase(rounds=3))
def rel_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank on the symmetrized part co-purchase graph
    (operators/mining.pagerank_int): 3 exact int64 power-iteration
    rounds, ranks in 1e12 fixed-point units. Completes the graph-
    analytics family (triangles, k-core, BFS, star-CC) with the
    canonical iterative-importance algorithm — and shows the repo's
    integer-atom discipline extends to iterative graph math: integral
    division (Spark ``div`` / DuckDB ``//``) makes every round
    bit-identical across engines, so an iterative PageRank carries a
    full value-hash oracle. Each round is one edge join + one
    map-side-combinable groupBy; at 3 rounds the whole tail is one lazy
    plan (pagerank_int's ckpt_every cadence truncates lineage only on
    longer runs), so no per-round barrier job serializes the rounds."""
    from randas_spark.operators.mining import pagerank_int

    und = _copurchase_edges(spark, sf_dir)
    edges = und.select(F.col("pa").alias("s"), F.col("pb").alias("d")).unionAll(
        und.select(F.col("pb").alias("s"), F.col("pa").alias("d"))
    )
    return pagerank_int(edges, "s", "d", rounds=3).select(
        "node", F.col("r").alias("pagerank")
    )


def _sql_bfs_promo(rounds: int) -> str:
    """Unrolled multi-source BFS oracle: ``rounds`` frontier expansions
    over the co-purchase graph from the PROMO-part sources. AS
    MATERIALIZED per round (the k-core/BPE lazy-CTE-chain lesson)."""
    ctes = [
        _SQL_COPURCHASE,
        "adj AS MATERIALIZED (SELECT pa AS a, pb AS b FROM e UNION SELECT pb, pa FROM e)",
        """v0 AS MATERIALIZED (
            SELECT DISTINCT p_partkey AS node, CAST(0 AS BIGINT) AS hops
            FROM part
            WHERE p_type LIKE 'PROMO%' AND p_partkey IN (SELECT a FROM adj)
        )""",
        "f0 AS MATERIALIZED (SELECT node FROM v0)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""f{i} AS MATERIALIZED (
                SELECT DISTINCT adj.b AS node
                FROM f{i - 1} JOIN adj ON adj.a = f{i - 1}.node
                WHERE adj.b NOT IN (SELECT node FROM v{i - 1})
            )"""
        )
        ctes.append(
            f"""v{i} AS MATERIALIZED (
                SELECT node, hops FROM v{i - 1}
                UNION ALL SELECT node, CAST({i} AS BIGINT) FROM f{i}
            )"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node, hops FROM v{rounds}"


@register("rel_graph_bfs_hops", oracle=_sql_bfs_promo(rounds=4))
def rel_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance: for every part in the co-purchase
    graph (edges = parts co-ordered in ≥2 baskets), the shortest hop
    count to the NEAREST promoted part (p_type LIKE 'PROMO%'), within a
    4-hop budget — the influence-radius / reachability primitive
    completing the graph family (components, PageRank, triangles,
    k-core). Level-synchronous frontier expansion; each node settles
    exactly once at its minimum hop, so the plan never carries a
    min-aggregation over paths.

    Cross-engine parity: operators/mining.bfs_hops runs ≤4 frontier
    expansions with an early empty-frontier exit; the oracle unrolls
    exactly 4 — equal by construction (an empty frontier stays empty on
    both engines). Scale: the corpus-sized basket contraction runs once
    before the loop; each round shuffles only the shrinking frontier
    against the checkpointed adjacency list."""
    from randas_spark.operators.mining import bfs_hops

    p = t(spark, sf_dir, "part")
    edges = _copurchase_edges(spark, sf_dir)
    sources = p.filter(F.col("p_type").like("PROMO%")).select(
        F.col("p_partkey").alias("node")
    )
    return bfs_hops(edges, sources, rounds=4, src="pa", dst="pb")


@register("rel_kcore_copurchase", oracle=_sql_kcore_copurchase(k=2, rounds=6))
def rel_kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the part co-purchase graph (edges = parts co-ordered in
    ≥2 baskets): iteratively peel nodes with degree < 2 until the
    fixpoint, then report each surviving node with its degree in the
    induced core. The cohesive-subgraph primitive under community
    pruning, spam-cluster isolation, and graph sparsification —
    completing the graph family next to connected components
    (operators/dedup.py), PageRank (llm_graph_rank), and triangles
    (rel_triangle_count).

    Cross-engine parity: operators/mining.k_core peels with a 6-round
    budget and an early fixpoint exit; the oracle unrolls exactly 6
    passes — equal by construction since a no-op pass is a no-op on both
    engines. Measured peel depth ≤5 at sf0.001-0.1; test pins that the
    budgeted result IS the fixpoint."""
    from randas_spark.operators.mining import k_core

    return k_core(_copurchase_edges(spark, sf_dir), k=2, rounds=6, src="pa", dst="pb")


@register(
    "rel_acf_hourly",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type,
               epoch_us(date_trunc('hour', ts::TIMESTAMP)) / 3600000000 AS hi,
               sum(value) AS y
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               sum(y) AS sy, sum(y * y) AS syy
        FROM hourly GROUP BY 1
    ),
    lags AS (SELECT unnest(generate_series(1, 6)) AS lag),
    pairs AS (
        SELECT a.event_type, lag, a.y AS ya, b.y AS yb
        FROM hourly a
        JOIN lags ON true
        JOIN hourly b ON b.event_type = a.event_type AND b.hi + lag = a.hi
    )
    SELECT p.event_type, CAST(lag AS BIGINT) AS lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           {sql_fround('sum((ya - sy / n) * (yb - sy / n)) / (syy - sy * sy / n)', 6)} AS acf
    FROM pairs p JOIN stats s ON s.event_type = p.event_type
    GROUP BY p.event_type, lag, s.n, s.sy, s.syy
    """,
)
def rel_acf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly per-type event-value
    series at lags 1-6 hours — the periodicity detector that feeds
    seasonal modeling (rel_seasonal_decompose picks its period from
    exactly this curve). r_k = Σ(y_t−ȳ)(y_{t−k}−ȳ) / Σ(y−ȳ)² with the
    mean and denominator over the full series (the standard estimator)
    and the numerator over hours where both endpoints exist, so series
    gaps drop pairs instead of fabricating zeros.

    Scale: events compact to the (type, hour) series first — the only
    data-sized shuffle, map-side combined. All six lags come from ONE
    self-join of the compacted series against an exploded 6-row lag
    table (hour indices are integers, so the lag match is an equi-join
    on (type, hi−lag) — no range scan), and per-type stats broadcast.
    Work is 6×|series|, independent of the fact-table size."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        (F.unix_micros(F.date_trunc("hour", F.col("ts"))) / 3_600_000_000)
        .cast("long")
        .alias("hi"),
    ).agg(F.sum("value").alias("y"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    a = hourly.alias("a")
    b = hourly.select(
        F.col("event_type").alias("bt"), F.col("hi").alias("bhi"), F.col("y").alias("yb")
    )
    lags = F.explode(F.sequence(F.lit(1), F.lit(6))).alias("lag")
    expanded = a.select("a.event_type", "a.hi", F.col("a.y").alias("ya"), lags)
    pairs = expanded.join(
        b,
        (F.col("bt") == F.col("event_type"))
        & (F.col("bhi") + F.col("lag") == F.col("hi")),
    )
    ybar = F.col("sy") / F.col("n")
    return (
        pairs.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "lag", "n", "sy", "syy")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum((F.col("ya") - ybar) * (F.col("yb") - ybar)).alias("num"),
        )
        .select(
            "event_type",
            F.col("lag").cast("long").alias("lag"),
            "n_pairs",
            fround(
                F.col("num")
                / (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")),
                6,
            ).alias("acf"),
        )
    )


@register(
    "rel_ks_two_sample",
    oracle=f"""
    WITH labeled AS (
        SELECT o_totalprice AS x,
               CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    counts AS (
        SELECT x,
               CAST(sum(g) AS BIGINT) AS c1,
               CAST(sum(1 - g) AS BIGINT) AS c2
        FROM labeled GROUP BY x
    ),
    tot AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        FROM counts
    ),
    cum AS (
        SELECT x,
               sum(c1) OVER (ORDER BY x) AS f1,
               sum(c2) OVER (ORDER BY x) AS f2,
               n1, n2
        FROM counts CROSS JOIN tot
    ),
    gaps AS (
        SELECT x, abs(f1 * n2 - f2 * n1) AS gap_num, n1, n2 FROM cum
    ),
    best AS (
        SELECT n1, n2, max(gap_num) AS mg FROM gaps GROUP BY n1, n2
    )
    SELECT best.n1, best.n2,
           {sql_fround('CAST(mg AS DOUBLE) / (best.n1 * best.n2)', 6)} AS ks_stat,
           min(gaps.x) AS at_value
    FROM best JOIN gaps ON gaps.gap_num = best.mg
    GROUP BY best.n1, best.n2, mg
    """,
)
def rel_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic: the max ECDF gap between
    the order-price distributions of BUILDING vs MACHINERY customers —
    the standard nonparametric drift test next to the KL divergence
    monitor (llm_source_drift_kl): KL needs binning, KS does not.
    Output: sample sizes, D = sup|F1−F2|, and the price where the max
    gap occurs (min such price on ties).

    Determinism: the gap is kept as the INTEGER cross-product
    |f1·n2 − f2·n1| through the max (exact int64 arithmetic — no float
    ECDFs to drift), divided out once at the end. Int64 budget:
    f·n ≤ n1·n2 ≈ 2e10 at sf1 — headroom to ~3e9 rows per side.

    Scale: one join + one map-side-combinable groupBy collapse the fact
    table to |distinct prices| cells; the ECDF cumsum windows run over
    that compacted table (the documented global-sort concession); the
    argmax is a two-row broadcast join. At 100 TB, pre-bin prices to
    10^-2 (they already are) and the cell table stays ≪ facts."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    labeled = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("o_totalprice").alias("x"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("g"),
    )
    counts = labeled.groupBy("x").agg(
        F.sum("g").cast("long").alias("c1"),
        F.sum(1 - F.col("g")).cast("long").alias("c2"),
    )
    tot = counts.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.crossJoin(F.broadcast(tot)).select(
        "x",
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
        "n1",
        "n2",
    )
    gaps = cum.select(
        "x",
        F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")).alias(
            "gap_num"
        ),
        "n1",
        "n2",
    )
    best = gaps.agg(F.max("gap_num").alias("mg"))
    return (
        gaps.join(F.broadcast(best), F.col("gap_num") == F.col("mg"))
        .groupBy("n1", "n2", "gap_num")
        .agg(F.min("x").alias("at_value"))
        .select(
            "n1",
            "n2",
            fround(
                F.col("gap_num").cast("double") / (F.col("n1") * F.col("n2")), 6
            ).alias("ks_stat"),
            "at_value",
        )
    )


@register(
    "rel_survival_km",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey, min(o_orderdate::TIMESTAMP) AS f,
               max(o_orderdate::TIMESTAMP) AS l
        FROM orders GROUP BY o_custkey
    ),
    mx AS (SELECT max(l) AS cm, count(*) AS n_cust FROM per_cust),
    life AS (
        SELECT CAST(date_diff('day', f, l) AS BIGINT) AS t,
               CASE WHEN l < cm - INTERVAL 90 DAY THEN 1 ELSE 0 END AS ev,
               n_cust
        FROM per_cust CROSS JOIN mx
    ),
    agg AS (
        SELECT t, CAST(count(*) AS BIGINT) AS leave_n,
               CAST(sum(ev) AS BIGINT) AS d, max(n_cust) AS n_cust
        FROM life GROUP BY t
    ),
    cum AS (
        SELECT t, d,
               CAST(n_cust AS BIGINT)
                 - CAST(coalesce(sum(leave_n) OVER (
                       ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS n_risk
        FROM agg
    ),
    km AS (
        SELECT t, d, n_risk,
               sum(CASE WHEN d = n_risk THEN 0.0
                        ELSE ln(1 - d / CAST(n_risk AS DOUBLE)) END)
                   OVER (ORDER BY t) AS cum_ln
        FROM cum
    )
    SELECT t, n_risk, d AS n_events,
           CASE WHEN d = n_risk THEN 0.0
                ELSE {sql_fround('exp(cum_ln)', 6)} END AS survival
    FROM km WHERE d > 0
    """,
)
def rel_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for customer lifetime: per customer,
    lifetime = days between first and last order; churned (event) if the
    last order precedes corpus-max by >90 days, else right-censored (the
    standard last-seen censoring rule). Output: each event time with its
    risk-set size, event count, and the product-limit survival estimate
    S(t) = Π (1 − d_i/n_i) (Kaplan & Meier, JASA 1958) — the
    churn-analytics primitive next to retention cohorts
    (rel_retention_cohorts) and RFM (rel_rfm_segments).

    Determinism: the product is exp(Σ ln(1 − d/n)) over the
    duration-ordered window; d=0 rows contribute ln(1)=0 so censored-only
    times never perturb the product, and the d=n_risk terminal case
    (everyone remaining churns) is pinned to exactly 0.0 on both engines
    instead of exp(ln(0)). fround(6) absorbs libm ulp drift.

    Scale: orders compact to per-customer min/max first (map-side
    combined — the only data-sized stage); the risk-set and product
    windows run over the distinct-duration table (≤ |days| rows, the
    documented global-sort concession exact quantile curves make)."""
    o = t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("f"), F.max("o_orderdate").alias("l")
    )
    mx = per_cust.agg(
        F.max("l").alias("cm"), F.count(F.lit(1)).cast("long").alias("n_cust")
    )
    life = per_cust.crossJoin(F.broadcast(mx)).select(
        F.datediff(F.col("l"), F.col("f")).cast("long").alias("t"),
        F.when(F.col("l") < F.col("cm") - F.expr("INTERVAL 90 DAYS"), 1)
        .otherwise(0)
        .alias("ev"),
        "n_cust",
    )
    agg = life.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("leave_n"),
        F.sum("ev").cast("long").alias("d"),
        F.max("n_cust").alias("n_cust"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    cum = agg.select(
        "t",
        "d",
        (
            F.col("n_cust")
            - F.coalesce(F.sum("leave_n").over(w_prev), F.lit(0)).cast("long")
        ).alias("n_risk"),
    )
    term = F.when(F.col("d") == F.col("n_risk"), F.lit(0.0)).otherwise(
        F.log(F.lit(1.0) - F.col("d") / F.col("n_risk").cast("double"))
    )
    km = cum.withColumn("cum_ln", F.sum(term).over(w_run))
    return km.filter(F.col("d") > 0).select(
        "t",
        "n_risk",
        F.col("d").alias("n_events"),
        F.when(F.col("d") == F.col("n_risk"), F.lit(0.0))
        .otherwise(fround(F.exp(F.col("cum_ln")), 6))
        .alias("survival"),
    )


@register(
    "rel_seasonal_naive_backtest",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts::TIMESTAMP) AS TIMESTAMP) AS h,
               sum(value) AS y
        FROM events GROUP BY 1, 2
    )
    SELECT a.event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           {sql_fround('avg(abs(a.y - f.y))', 4)} AS mae,
           {sql_fround('avg(a.y - f.y)', 4)} AS bias
    FROM hourly a
    JOIN hourly f ON f.event_type = a.event_type
                 AND f.h + INTERVAL 168 HOUR = a.h
    GROUP BY a.event_type
    """,
)
def rel_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each hour's per-type
    volume with the value one week earlier (the standard strongest-cheap
    baseline every forecasting pipeline must beat), scored as MAE and
    signed bias per event type over every hour where both sides exist.

    Scale: one (hour, type) aggregation — map-side combined, the only
    data-sized shuffle — then a self-join of the compacted hourly series
    on (type, h−168h): both sides share the (type, h) partitioning so
    AQE reuses the exchange, and the series is |hours|×|types| ≪ events.
    The error rollup lands on |types| rows."""
    e = t(spark, sf_dir, "events")
    hourly = (
        e.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        ).agg(F.sum("value").alias("y"))
    )
    f = hourly.select(
        "event_type",
        (F.col("h") + F.expr("INTERVAL 168 HOURS")).alias("h"),
        F.col("y").alias("yhat"),
    )
    return (
        hourly.join(f, ["event_type", "h"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            fround(F.avg(F.abs(F.col("y") - F.col("yhat"))), 4).alias("mae"),
            fround(F.avg(F.col("y") - F.col("yhat")), 4).alias("bias"),
        )
    )


@register(
    "rel_hll_intersection",
    oracle=f"""
    WITH eregs AS (
        SELECT grp, bucket, max(rho) AS rho FROM (
            SELECT event_type AS grp,
                   CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) AS bucket,
                   CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 8)) AS BIGINT) = 0
                        THEN 33
                        ELSE 33 - length(bin(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 8)) AS BIGINT)))
                   END AS rho
            FROM events
            WHERE event_type IN ('view', 'purchase') AND user_id IS NOT NULL
        ) GROUP BY 1, 2
    ),
    uni AS (SELECT 'u' AS grp, bucket, max(rho) AS rho FROM eregs GROUP BY 2),
    est AS ({_sql_hll_est('eregs')}),
    estu AS ({_sql_hll_est('uni')}),
    ex AS (
        -- NULL user_ids excluded explicitly: SQL INTERSECT matches
        -- NULL=NULL while Spark's left_semi drops NULLs, so without the
        -- filter the two legs disagree by one the day a NULL id appears
        SELECT CAST(count(*) AS BIGINT) AS exact_intersection FROM (
            SELECT user_id FROM events
            WHERE event_type = 'view' AND user_id IS NOT NULL
            INTERSECT
            SELECT user_id FROM events
            WHERE event_type = 'purchase' AND user_id IS NOT NULL
        )
    )
    SELECT {sql_fround('a.est0', 6)} AS est_view,
           {sql_fround('b.est0', 6)} AS est_purchase,
           {sql_fround('u.est0', 6)} AS est_union,
           {sql_fround('a.est0 + b.est0 - u.est0', 6)} AS est_intersection,
           exact_intersection
    FROM (SELECT est0 FROM est WHERE grp = 'view') a
    CROSS JOIN (SELECT est0 FROM est WHERE grp = 'purchase') b
    CROSS JOIN estu u
    CROSS JOIN ex
    """,
)
def rel_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based set intersection by inclusion-exclusion: |A∩B| ≈
    est(A) + est(B) − est(A∪B), where the union sketch is the per-bucket
    MAX of the two register sets (the HLL merge law) — audience-overlap
    estimation without ever co-shuffling the two key sets. The exact
    intersection rides along for the error audit.

    Scale: each segment's registers build in one map-side-combinable
    groupBy (shuffle O(segments × 256)); union + all three estimates run
    on the 256-row register tables. The exact twin is the only key-sized
    join and exists here purely as the audit column — at 100 TB you keep
    the sketch path and drop the exact leg, or run it on a sample.
    Everything is the portable bit-exact HLL (operators/sketches), so
    both engines' estimates hash identically."""
    from randas_spark.operators.sketches import hll_estimate, hll_merge, hll_registers

    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
        & F.col("user_id").isNotNull()
    )
    regs = hll_registers(e, "user_id", ["event_type"])
    per = hll_estimate(regs, ["event_type"])
    ev = per.filter(F.col("event_type") == "view").select(
        F.col("est").alias("est_view_raw")
    )
    ep = per.filter(F.col("event_type") == "purchase").select(
        F.col("est").alias("est_purchase_raw")
    )
    eu = hll_estimate(hll_merge(regs)).select(F.col("est").alias("est_union_raw"))
    v = e.filter(F.col("event_type") == "view").select("user_id").distinct()
    p = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    ex = v.join(p, "user_id", "left_semi").select(
        F.count(F.lit(1)).cast("long").alias("exact_intersection")
    )
    return (
        ev.crossJoin(ep)
        .crossJoin(eu)
        .crossJoin(ex)
        .select(
            fround(F.col("est_view_raw"), 6).alias("est_view"),
            fround(F.col("est_purchase_raw"), 6).alias("est_purchase"),
            fround(F.col("est_union_raw"), 6).alias("est_union"),
            fround(
                F.col("est_view_raw")
                + F.col("est_purchase_raw")
                - F.col("est_union_raw"),
                6,
            ).alias("est_intersection"),
            "exact_intersection",
        )
    )


def _sql_cms_cells(src_filter: str, depth: int = 4) -> str:
    """Per-depth CMS cell counts over lineitem suppkeys under a filter —
    the oracle twin of operators/sketches cell construction."""
    from randas_spark.operators.sketches import _bucket_sql

    unions = "\n            UNION ALL ".join(
        f"SELECT {d} AS d, {_bucket_sql('l_suppkey', d, False)} AS bucket "
        f"FROM lineitem WHERE {src_filter}"
        for d in range(depth)
    )
    return f"SELECT d, bucket, count(*) AS cnt FROM (\n            {unions}\n        ) GROUP BY d, bucket"


@register(
    "rel_cms_join_cardinality",
    oracle=f"""
    WITH ca AS ({_sql_cms_cells("l_shipdate <  TIMESTAMP '1998-06-01'")}),
    cb AS ({_sql_cms_cells("l_shipdate >= TIMESTAMP '1998-06-01'")}),
    ip AS (
        -- HUGEINT products: two BIGINT cell counts can multiply past
        -- 2^63 on the 100 TB inputs this estimator exists for
        SELECT ca.d,
               CAST(sum(CAST(ca.cnt AS HUGEINT) * cb.cnt) AS BIGINT) AS inner_product
        FROM ca JOIN cb ON ca.d = cb.d AND ca.bucket = cb.bucket
        GROUP BY ca.d
    ),
    est AS (SELECT min(inner_product) AS est_join_size FROM ip),
    ex AS (
        SELECT CAST(coalesce(sum(CAST(fa.n AS HUGEINT) * fb.n), 0) AS BIGINT)
                   AS exact_join_size
        FROM (SELECT l_suppkey, count(*) AS n FROM lineitem
              WHERE l_shipdate <  TIMESTAMP '1998-06-01' GROUP BY 1) fa
        JOIN (SELECT l_suppkey, count(*) AS n FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1998-06-01' GROUP BY 1) fb
        USING (l_suppkey)
    )
    SELECT est_join_size, exact_join_size,
           est_join_size >= exact_join_size AS no_undercount
    FROM est CROSS JOIN ex
    """,
)
def rel_cms_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from Count-Min sketches (the AMS/CMS inner-
    product estimator every cost-based optimizer variant of this idea
    descends from): |A ⋈ B| on a key = Σ_k f_A(k)·f_B(k), estimated as
    min over depths of the cell-wise inner product of the two sides'
    sketches — here the self-join of early vs late lineitem shipments on
    supplier. One-sided (never undercounts, carried as a checked
    column); the exact Σ f_A·f_B rides along as the audit.

    Scale: THE point of the estimator — each side is sketched in one
    map-side-combinable pass to depth×256 cells, and the estimate is an
    inner product of two tiny cell tables, so planning a 100 TB join
    costs two streaming scans and no shuffle of either side. The exact
    audit leg (per-key counts joined) is what you avoid at scale; it
    exists here to certify the bound."""
    from randas_spark.operators.sketches import countmin_cells

    li = t(spark, sf_dir, "lineitem")
    cut = F.lit("1998-06-01").cast("timestamp")

    ca = countmin_cells(li.filter(F.col("l_shipdate") < cut), "l_suppkey", None)
    cb = countmin_cells(
        li.filter(F.col("l_shipdate") >= cut), "l_suppkey", None
    ).select("d", "bucket", F.col("cnt").alias("cntb"))
    # decimal(38,0) intermediates: long*long wraps silently past 2^63
    # with ANSI off exactly at the saturated-cell scale the estimator
    # targets; the oracle promotes to HUGEINT for the same reason
    ip = (
        ca.join(cb, ["d", "bucket"])
        .groupBy("d")
        .agg(
            F.sum(
                F.col("cnt").cast("decimal(19,0)") * F.col("cntb").cast("decimal(19,0)")
            )
            .cast("long")
            .alias("inner_product")
        )
    )
    est = ip.select(F.min("inner_product").alias("est_join_size"))
    fa = (
        li.filter(F.col("l_shipdate") < cut)
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("na"))
    )
    fb = (
        li.filter(F.col("l_shipdate") >= cut)
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("nb"))
    )
    ex = (
        fa.join(fb, "l_suppkey")
        .select(
            (F.col("na").cast("decimal(19,0)") * F.col("nb").cast("decimal(19,0)"))
            .alias("p")
        )
        .agg(F.coalesce(F.sum("p"), F.lit(0)).cast("long").alias("exact_join_size"))
    )
    return (
        est.crossJoin(F.broadcast(ex))
        .select(
            "est_join_size",
            "exact_join_size",
            (F.col("est_join_size") >= F.col("exact_join_size")).alias(
                "no_undercount"
            ),
        )
    )


@register(
    "rel_kmv_distinct_jaccard",
    oracle=f"""
    WITH du AS (
        SELECT DISTINCT event_type AS seg, user_id,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 AS u
        FROM events WHERE event_type IN ('view', 'purchase') AND user_id IS NOT NULL
    ),
    sk AS (
        SELECT seg, user_id, u,
               row_number() OVER (PARTITION BY seg ORDER BY u, user_id) AS rk,
               count(*) OVER (PARTITION BY seg) AS n_seg
        FROM du
    ),
    kept AS (SELECT * FROM sk WHERE rk <= 64),
    dest AS (
        SELECT seg,
               CASE WHEN max(n_seg) < 64 THEN CAST(max(n_seg) AS DOUBLE)
                    ELSE 63.0 / max(CASE WHEN rk = 64 THEN u END)
               END AS d_est
        FROM kept GROUP BY seg
    ),
    uni AS (
        SELECT user_id, u,
               max(CASE WHEN seg = 'view' THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN seg = 'purchase' THEN 1 ELSE 0 END) AS in_b
        FROM kept GROUP BY user_id, u
    ),
    uk AS (
        SELECT *, row_number() OVER (ORDER BY u, user_id) AS rk,
               count(*) OVER () AS n_uni
        FROM uni
    ),
    ukept AS (SELECT * FROM uk WHERE rk <= 64),
    uest AS (
        SELECT CASE WHEN max(n_uni) < 64 THEN CAST(max(n_uni) AS DOUBLE)
                    ELSE 63.0 / max(CASE WHEN rk = 64 THEN u END)
               END AS d_union,
               sum(in_a * in_b) * 1.0 / least(64, max(n_uni)) AS j_kmv
        FROM ukept
    ),
    ex AS (
        SELECT sum(a * b) * 1.0 / count(*) AS j_exact FROM (
            SELECT user_id,
                   max(CASE WHEN seg = 'view' THEN 1 ELSE 0 END) AS a,
                   max(CASE WHEN seg = 'purchase' THEN 1 ELSE 0 END) AS b
            FROM du GROUP BY user_id
        )
    )
    SELECT {sql_fround("(SELECT d_est FROM dest WHERE seg = 'view')", 6)} AS d_view,
           {sql_fround("(SELECT d_est FROM dest WHERE seg = 'purchase')", 6)} AS d_purchase,
           {sql_fround('d_union', 6)} AS d_union,
           {sql_fround('j_kmv', 6)} AS jaccard_kmv,
           {sql_fround('j_exact', 6)} AS jaccard_exact
    FROM uest CROSS JOIN ex
    """,
)
def rel_kmv_distinct_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values, Beyer et al. SIGMOD'07) distinct sketches
    with set-similarity: keep each segment's 64 smallest md5-unit
    hashes; D ≈ (k−1)/u_k (exact when the segment is smaller than k),
    the union sketch is the k smallest of the combined sketches, and
    Jaccard is the fraction of union-sketch members present in BOTH
    sides — membership is decidable inside the sketch because a hash
    among the union's k smallest is necessarily among each side's k
    smallest. The exact Jaccard rides along as audit. md5-derived order
    makes every estimate bit-identical cross-engine (vs engine-private
    theta sketches).

    Scale: per-segment top-64-by-hash is a TakeOrdered-shaped partial
    (per-partition heaps, no global sort of the key sets); everything
    after runs on ≤ 64-row sketches. The exact leg is the only key-sized
    aggregation and exists as the audit column."""
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
        & F.col("user_id").isNotNull()
    )
    du = (
        e.select(F.col("event_type").alias("seg"), "user_id")
        .distinct()
        .withColumn(
            "u",
            F.conv(F.substring(F.md5(F.col("user_id").cast("string").cast("binary")), 1, 8), 16, 10)
            .cast("long")
            / F.lit(4294967296.0),
        )
    )
    wseg = Window.partitionBy("seg").orderBy("u", "user_id")
    sk = du.select(
        "seg",
        "user_id",
        "u",
        F.row_number().over(wseg).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("seg")).alias("n_seg"),
    )
    kept = sk.filter(F.col("rk") <= 64)
    dest = kept.groupBy("seg").agg(
        F.when(
            F.max("n_seg") < 64, F.max("n_seg").cast("double")
        )
        .otherwise(F.lit(63.0) / F.max(F.when(F.col("rk") == 64, F.col("u"))))
        .alias("d_est")
    )
    uni = kept.groupBy("user_id", "u").agg(
        F.max(F.when(F.col("seg") == "view", 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("seg") == "purchase", 1).otherwise(0)).alias("in_b"),
    )
    wuni = Window.partitionBy(F.lit(1)).orderBy("u", "user_id")
    uk = uni.select(
        "*",
        F.row_number().over(wuni).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy(F.lit(1))).alias("n_uni"),
    )
    ukept = uk.filter(F.col("rk") <= 64)
    uest = ukept.agg(
        F.when(F.max("n_uni") < 64, F.max("n_uni").cast("double"))
        .otherwise(F.lit(63.0) / F.max(F.when(F.col("rk") == 64, F.col("u"))))
        .alias("d_union"),
        (
            F.sum(F.col("in_a") * F.col("in_b"))
            / F.least(F.lit(64), F.max("n_uni"))
        ).alias("j_kmv"),
    )
    ex = (
        du.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("seg") == "view", 1).otherwise(0)).alias("a"),
            F.max(F.when(F.col("seg") == "purchase", 1).otherwise(0)).alias("b"),
        )
        .agg(
            (F.sum(F.col("a") * F.col("b")) / F.count(F.lit(1))).alias("j_exact")
        )
    )
    dv = dest.filter(F.col("seg") == "view").select(F.col("d_est").alias("dv"))
    dp = dest.filter(F.col("seg") == "purchase").select(F.col("d_est").alias("dp"))
    return (
        dv.crossJoin(dp)
        .crossJoin(uest)
        .crossJoin(F.broadcast(ex))
        .select(
            fround(F.col("dv"), 6).alias("d_view"),
            fround(F.col("dp"), 6).alias("d_purchase"),
            fround(F.col("d_union"), 6).alias("d_union"),
            fround(F.col("j_kmv"), 6).alias("jaccard_kmv"),
            fround(F.col("j_exact"), 6).alias("jaccard_exact"),
        )
    )


@register(
    "rel_cusum_changepoints",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts::TIMESTAMP) AS TIMESTAMP) AS h,
               sum(value) AS y
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, avg(y) AS mu, stddev_pop(y) AS sd
        FROM hourly GROUP BY event_type
    ),
    z AS (
        SELECT h.event_type, h.h, (h.y - s.mu) / s.sd AS z
        FROM hourly h JOIN stats s USING (event_type)
    ),
    c AS (
        SELECT event_type, h, z,
               sum(z - 0.5)  OVER w AS cp,
               sum(-z - 0.5) OVER w AS cn
        FROM z
        WINDOW w AS (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    s AS (
        SELECT event_type, h,
               cp - least(0.0, min(cp) OVER w) AS s_pos,
               cn - least(0.0, min(cn) OVER w) AS s_neg
        FROM c
        WINDOW w AS (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, h, {sql_fround('s_pos', 4)} AS s_pos,
           {sql_fround('s_neg', 4)} AS s_neg
    FROM s WHERE s_pos > 4.0 OR s_neg > 4.0
    """,
)
def rel_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection per event type (Page's test): hours
    where the one-sided cumulative sum of standardized deviations
    (slack k = 0.5σ) exceeds 4σ — the sustained-shift detector that
    catches what per-point z-scores (rel_anomaly_zscore) miss. The
    recursive S_h = max(0, S_{h-1} + z_h − k) is rewritten as
    C_h − min(0, min_{j≤h} C_j) over plain running sum/min windows, so
    no iterative state is needed.

    Scale: the detector runs on the compacted hourly series (one
    map-side-combined aggregation; |hours|×|types| ≪ events) with
    windows PARTITIONED per type — never a global order. Per-type
    mean/σ is a broadcast row."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.sum("value").alias("y"))
    stats = hourly.groupBy("event_type").agg(
        F.avg("y").alias("mu"), F.stddev_pop("y").alias("sd")
    )
    z = hourly.join(F.broadcast(stats), "event_type").select(
        "event_type", "h", ((F.col("y") - F.col("mu")) / F.col("sd")).alias("z")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = z.select(
        "event_type",
        "h",
        F.sum(F.col("z") - F.lit(0.5)).over(w).alias("cp"),
        F.sum(-F.col("z") - F.lit(0.5)).over(w).alias("cn"),
    )
    s = c.select(
        "event_type",
        "h",
        (F.col("cp") - F.least(F.lit(0.0), F.min("cp").over(w))).alias("s_pos"),
        (F.col("cn") - F.least(F.lit(0.0), F.min("cn").over(w))).alias("s_neg"),
    )
    return s.filter((F.col("s_pos") > 4.0) | (F.col("s_neg") > 4.0)).select(
        "event_type",
        "h",
        fround(F.col("s_pos"), 4).alias("s_pos"),
        fround(F.col("s_neg"), 4).alias("s_neg"),
    )


# --------------------------------------------------------------------------
# Round-6 continuation: closed-form model fitting, entity resolution,
# seasonal decomposition
# --------------------------------------------------------------------------

from randas_spark.operators.regression import grouped_ols, sql_grouped_ols
from randas_spark.operators.linkage import (
    blocked_name_matches,
    sql_blocked_name_matches,
)


@register(
    "rel_ols_grouped",
    oracle=sql_grouped_ols(
        "lineitem", ["l_returnflag"], "l_quantity", "l_discount", "l_extendedprice"
    ),
)
def rel_ols_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS fit of extendedprice ~ quantity + discount with
    R^2 — distributed closed-form regression via exact Gram-matrix sums.

    Scale: ONE map-side-combined scan of lineitem produces 10 integer
    Gram cells per group; the 3x3 Cramer solve is a constant-size codegen
    expression on the |groups| result rows. No iteration, no driver-side
    data, no second shuffle — the pattern holds unchanged at 100 TB
    (sum cells move to DECIMAL(38,0) past the int64 budget documented in
    operators/regression.py)."""
    li = t(spark, sf_dir, "lineitem")
    return grouped_ols(
        li, ["l_returnflag"], "l_quantity", "l_discount", "l_extendedprice"
    )


@register(
    "rel_entity_resolution",
    oracle=sql_blocked_name_matches("part", "p_name"),
)
def rel_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage over the part catalog: near-duplicate
    entity names by shared-token blocking + inline char-bigram Jaccard
    (Fellegi-Sunter shape; operators/linkage.py).

    Scale: records compact to the distinct-entity table first (the only
    data-sized stage), candidate pairs form ONLY inside token blocks
    under an explicit hot-block cap, and similarity is a codegen array
    expression on the pair row — no UDF, no all-pairs, no re-join to a
    bigram table."""
    p = t(spark, sf_dir, "part")
    return blocked_name_matches(p, "p_name")


@register(
    "rel_seasonal_decompose",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts::TIMESTAMP) AS TIMESTAMP) AS h,
               CAST(floor(sum(value) * 10000 + 0.5) AS BIGINT) AS ys
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT event_type, h, ys,
               CAST(epoch(h) AS BIGINT) // 3600 AS hidx,
               CAST(extract(hour FROM h) AS INTEGER) AS hod
        FROM hourly
    ),
    tr AS (
        SELECT event_type, h, hod, ys / 10000.0 AS y,
               (CAST(sum(ys) OVER wtr AS DOUBLE)
                / count(ys) OVER wtr) / 10000.0 AS trend
        FROM idx
        WINDOW wtr AS (
            PARTITION BY event_type ORDER BY hidx
            RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING
        )
    ),
    dt AS (
        SELECT event_type, h, hod, y, trend,
               CAST(floor((y - trend) * 10000 + 0.5) AS BIGINT) AS ds
        FROM tr
    ),
    se AS (
        SELECT event_type, h, y, trend,
               (CAST(sum(ds) OVER wse AS DOUBLE)
                / count(ds) OVER wse) / 10000.0 AS seasonal
        FROM dt
        WINDOW wse AS (PARTITION BY event_type, hod)
    )
    SELECT event_type, h, y, trend, seasonal,
           y - trend - seasonal AS resid
    FROM se
    """,
)
def rel_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite seasonal decomposition of the per-type hourly series:
    trend = centered 25-hour moving average (RANGE frame over the epoch
    hour index, robust to gaps), seasonal = hour-of-day mean of the
    detrended series, residual = remainder. The additive-decomposition
    baseline every monitoring pipeline runs before anomaly scoring.

    Determinism: every mean runs as an exact scaled-int64 window SUM
    followed by one division — windowed float accumulation is order-
    sensitive (DuckDB's segment trees vs Spark's frame walk), and a
    first cut that averaged raw doubles flipped 18 fround boundary
    cells because cent-quantized data lands exactly on .xxxx5 ties.
    Integer sums are associative, so both engines produce bit-equal
    doubles and no final rounding is needed at all.

    Scale: the decomposition runs on the compacted hourly series (one
    map-side-combined aggregation — the only data-sized stage); both
    window passes are per-type partitions, never a global sort, and the
    hod partition is |types| x 24 cells."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.floor(F.sum("value") * 10000 + F.lit(0.5)).cast("long").alias("ys")
    )
    idx = hourly.select(
        "event_type",
        "h",
        "ys",
        F.expr("unix_timestamp(h) div 3600").alias("hidx"),
        F.hour("h").alias("hod"),
    )
    w_tr = (
        Window.partitionBy("event_type").orderBy("hidx").rangeBetween(-12, 12)
    )
    tr = idx.select(
        "event_type",
        "h",
        "hod",
        (F.col("ys") / 10000.0).alias("y"),
        (
            (F.sum("ys").over(w_tr).cast("double") / F.count("ys").over(w_tr))
            / 10000.0
        ).alias("trend"),
    )
    dt = tr.withColumn(
        "ds",
        F.floor((F.col("y") - F.col("trend")) * 10000 + F.lit(0.5)).cast("long"),
    )
    w_se = Window.partitionBy("event_type", "hod")
    se = dt.select(
        "event_type",
        "h",
        "y",
        "trend",
        (
            (F.sum("ds").over(w_se).cast("double") / F.count("ds").over(w_se))
            / 10000.0
        ).alias("seasonal"),
    )
    return se.select(
        "event_type",
        "h",
        "y",
        "trend",
        "seasonal",
        (F.col("y") - F.col("trend") - F.col("seasonal")).alias("resid"),
    )


@register(
    "rel_infogain_features",
    oracle=f"""
    WITH base AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS label,
               CAST(floor(l_quantity / 10) AS BIGINT) AS qty_bin,
               CAST(floor(l_discount * 100 / 2) AS BIGINT) AS disc_bin,
               CAST(floor(l_tax * 100 / 2) AS BIGINT) AS tax_bin,
               CAST(extract(month FROM l_shipdate::TIMESTAMP) AS BIGINT) AS month_bin
        FROM lineitem
    ),
    stacked AS (
        SELECT 'quantity' AS feature, qty_bin AS bin, label FROM base
        UNION ALL
        SELECT 'discount' AS feature, disc_bin AS bin, label FROM base
        UNION ALL
        SELECT 'tax' AS feature, tax_bin AS bin, label FROM base
        UNION ALL
        SELECT 'ship_month' AS feature, month_bin AS bin, label FROM base
    ),
    cells AS (
        SELECT feature, bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(label) AS BIGINT) AS pos
        FROM stacked GROUP BY 1, 2
    ),
    terms AS (
        SELECT feature, bin, n, pos,
               (CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY feature) AS DOUBLE))
               * (CASE WHEN pos = 0 OR pos = n THEN 0.0
                       ELSE -((CAST(pos AS DOUBLE) / n) * log2(CAST(pos AS DOUBLE) / n)
                              + (1.0 - CAST(pos AS DOUBLE) / n)
                                * log2(1.0 - CAST(pos AS DOUBLE) / n))
                  END) AS term
        FROM cells
    ),
    feat AS (
        SELECT feature,
               CAST(count(*) AS BIGINT) AS n_bins,
               CAST(sum(n) AS DOUBLE) AS nn,
               CAST(sum(pos) AS DOUBLE) AS pp,
               sum(term) AS h_cond
        FROM terms GROUP BY feature
    )
    SELECT feature, n_bins,
           {sql_fround('''(CASE WHEN pp = 0 OR pp = nn THEN 0.0
                  ELSE -((pp / nn) * log2(pp / nn)
                         + (1.0 - pp / nn) * log2(1.0 - pp / nn))
             END) - h_cond''', 4)} AS info_gain
    FROM feat
    """,
)
def rel_infogain_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-gain feature ranking for a binary label (returned
    lineitems) over binned candidate features — the split-selection /
    feature-audit statistic behind decision stumps and data-quality
    feature reports: IG(f) = H(label) − Σ_b (n_b/N)·H(label|b).

    Scale: ONE lineitem scan emits (feature, bin, label) via an inline
    explode of a 4-struct array (no per-feature rescan — the UNION ALL
    in the oracle is the SQL spelling, not the plan); the cell table is
    |features|×|bins| integer counts with map-side combine, and both
    entropies evaluate in codegen from those exact counts. Adding a
    feature is one more array element, not another pass."""
    li = t(spark, sf_dir, "lineitem")
    base = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("label"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("quantity").alias("feature"),
                    F.floor(F.col("l_quantity") / 10).cast("long").alias("bin"),
                ),
                F.struct(
                    F.lit("discount").alias("feature"),
                    F.floor(F.col("l_discount") * 100 / 2).cast("long").alias("bin"),
                ),
                F.struct(
                    F.lit("tax").alias("feature"),
                    F.floor(F.col("l_tax") * 100 / 2).cast("long").alias("bin"),
                ),
                F.struct(
                    F.lit("ship_month").alias("feature"),
                    F.month("l_shipdate").cast("long").alias("bin"),
                ),
            )
        ).alias("fb"),
    ).select("label", F.col("fb.feature").alias("feature"), F.col("fb.bin").alias("bin"))
    cells = base.groupBy("feature", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("label").cast("long").alias("pos"),
    )

    def h(p):
        return -(p * F.log2(p) + (1.0 - p) * F.log2(1.0 - p))

    nf = F.sum("n").over(Window.partitionBy("feature")).cast("double")
    pb = F.col("pos").cast("double") / F.col("n")
    cell_term = (F.col("n").cast("double") / nf) * (
        F.when((F.col("pos") == 0) | (F.col("pos") == F.col("n")), 0.0).otherwise(h(pb))
    )
    feat = (
        cells.withColumn("term", cell_term)
        .groupBy("feature")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bins"),
            F.sum("n").cast("double").alias("nn"),
            F.sum("pos").cast("double").alias("pp"),
            F.sum("term").alias("h_cond"),
        )
    )
    pt = F.col("pp") / F.col("nn")
    h_label = F.when(
        (F.col("pp") == 0) | (F.col("pp") == F.col("nn")), 0.0
    ).otherwise(h(pt))
    return feat.select(
        "feature",
        "n_bins",
        fround(h_label - F.col("h_cond"), 4).alias("info_gain"),
    )


@register(
    "rel_sequence_pair_support",
    oracle=f"""
    WITH spans AS (
        SELECT user_id, event_type,
               min(ts::TIMESTAMP) AS t0, max(ts::TIMESTAMP) AS t1
        FROM events WHERE user_id IS NOT NULL
        GROUP BY 1, 2
    ),
    total AS (
        SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS n_total FROM spans
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_users
        FROM spans a JOIN spans b ON a.user_id = b.user_id
        WHERE a.event_type <> b.event_type AND a.t0 < b.t1
        GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_users,
           {sql_fround('CAST(n_users AS DOUBLE) / n_total', 6)} AS support
    FROM pairs CROSS JOIN total
    """,
)
def rel_sequence_pair_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern support (PrefixSpan level-2): for each ordered
    pair of event types, the share of users who performed type_a and
    LATER type_b at least once. 'a then b somewhere' reduces to
    min_ts(a) < max_ts(b) on the per-(user, type) span table, so no
    event-level self-join ever forms.

    Scale: events compact to |users|×|types| span rows in one map-side
    combined aggregation (the only data-sized stage); the pair join is
    per-user with fan-out bounded by |types|^2, co-partitioned on
    user_id; the total is a 1-row broadcast."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    spans = e.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    )
    total = spans.agg(
        F.countDistinct("user_id").cast("double").alias("n_total")
    )
    a = spans.select("user_id", F.col("event_type").alias("type_a"), "t0")
    b = spans.select("user_id", F.col("event_type").alias("type_b"), "t1")
    pairs = (
        a.join(b, "user_id")
        .filter(
            (F.col("type_a") != F.col("type_b")) & (F.col("t0") < F.col("t1"))
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )
    return pairs.crossJoin(F.broadcast(total)).select(
        "type_a",
        "type_b",
        "n_users",
        fround(F.col("n_users").cast("double") / F.col("n_total"), 6).alias(
            "support"
        ),
    )


@register(
    "rel_incremental_rollup",
    oracle=f"""
    WITH {_HLL_REGS_CTE},
    est AS ({_sql_hll_est('regs')}),
    scalars AS (
        SELECT o_orderpriority AS grp,
               CAST(count(*) AS BIGINT) AS n_orders,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
                   AS revenue,
               min(o_totalprice) AS min_price,
               max(o_totalprice) AS max_price
        FROM orders GROUP BY 1
    )
    SELECT grp AS o_orderpriority, n_orders, revenue, min_price, max_price,
           {sql_fround('est0', 6)} AS approx_customers
    FROM scalars JOIN est USING (grp)
    """,
)
def rel_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the per-priority order rollup
    (count / revenue / min / max / HLL distinct customers) is computed
    as BASE partial states (orders before 1998) merged with a DELTA
    batch (1998 on) — never a full rescan of the combined input. The
    oracle recomputes the view from scratch, so the green row IS the
    IVM correctness proof: merge(partial(base), partial(delta)) ==
    full(base ∪ delta).

    Mergeability discipline: counts and scaled-int sums add; min/max
    re-minimize; HLL registers per-bucket-max (the same law
    rel_hll_portable pins cross-engine). Every state is O(groups) or
    O(groups × 256) — at 100 TB the delta merge touches partial-state
    tables only, which is the entire point of maintaining the view.
    """
    from randas_spark.operators.sketches import hll_estimate, hll_registers

    o = t(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    base, delta = o.filter(F.col("o_orderdate") < cutoff), o.filter(
        F.col("o_orderdate") >= cutoff
    )

    def scalar_state(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("o_orderpriority").alias("grp")).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("s"),
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )

    merged = (
        scalar_state(base)
        .unionByName(scalar_state(delta))
        .groupBy("grp")
        .agg(
            F.sum("n").cast("long").alias("n_orders"),
            (F.sum("s") / 100.0).alias("revenue"),
            F.min("mn").alias("min_price"),
            F.max("mx").alias("max_price"),
        )
    )
    regs = (
        hll_registers(base, "o_custkey", ["o_orderpriority"])
        .unionByName(hll_registers(delta, "o_custkey", ["o_orderpriority"]))
        .groupBy(F.col("o_orderpriority").alias("grp"), F.col("bucket"))
        .agg(F.max("rho").alias("rho"))
    )
    est = hll_estimate(regs, ["grp"])
    return merged.join(est, "grp").select(
        F.col("grp").alias("o_orderpriority"),
        "n_orders",
        "revenue",
        "min_price",
        "max_price",
        fround(F.col("est"), 6).alias("approx_customers"),
    )


from randas_spark.operators.regression import logreg_newton, sql_logreg_newton


@register(
    "rel_logreg_newton",
    oracle=sql_logreg_newton(
        "lineitem",
        "l_quantity",
        "l_discount",
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END",
    ),
)
def rel_logreg_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative distributed model fitting: logistic regression on the
    returned-lineitem label via two Newton-Raphson (IRLS) steps, with a
    cross-engine-EXACT oracle (the macro-expanded CTE chain replays the
    identical quantized iteration — the llm_bpe_learn discipline applied
    to a numeric optimizer).

    Scale: each Newton step is ONE map-side-combined lineitem scan
    emitting 9 exact int64 gradient/Hessian cells (sigmoid outputs
    quantized to the 1e-6 grid, so the sums are order-free); the 3x3
    Cramer solve is constant-size codegen; the finisher scores the
    sign of eta (no exp). n_iter steps = n_iter scans — no collect, no
    per-iteration driver round-trip beyond plan building."""
    li = t(spark, sf_dir, "lineitem")
    return logreg_newton(
        li,
        "l_quantity",
        "l_discount",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0),
    )


from randas_spark.operators.regression import ols_crossval, sql_ols_crossval


@register(
    "rel_ols_crossval",
    oracle=sql_ols_crossval(
        "lineitem",
        "l_quantity",
        "l_discount",
        "l_extendedprice",
        "(l_orderkey * 7 + l_linenumber) % 5",
    ),
)
def rel_ols_crossval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated OLS (extendedprice ~ quantity + discount)
    from ONE lineitem scan: per-fold Gram cells aggregate once, each
    leave-fold-out model is derived by SUBTRACTING the fold's cells
    from the totals (Gram sums are a mergeable group — the IVM law
    applied to model fitting), and each fold scores against its
    complement model. Folds are a deterministic key hash, so the split
    is reproducible on any engine or cluster layout.

    Scale: the only data-sized stages are the cell scan and the scoring
    pass against the broadcast 5-row model table; no per-fold rescan —
    k-fold costs one scan + one broadcast join regardless of k."""
    li = t(spark, sf_dir, "lineitem").withColumn(
        "__fold__",
        (F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 5,
    )
    return ols_crossval(li, "l_quantity", "l_discount", "l_extendedprice")


@register(
    "rel_ab_test_ztest",
    oracle=f"""
    WITH conv AS (
        SELECT user_id % 2 AS variant,
               CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                         THEN 1 ELSE 0 END AS BIGINT) AS converted
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id
    ),
    agg AS (
        SELECT
            CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
            CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
            CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
        FROM conv
    ),
    z AS (
        SELECT n_a, n_b, conv_a, conv_b,
               (CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
               / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                      * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                      * (1.0 / n_a + 1.0 / n_b)) AS zval
        FROM agg
    )
    SELECT n_a, n_b, conv_a, conv_b,
           {sql_fround('zval', 6)} AS z,
           abs(zval) > 1.959963985 AS significant
    FROM z
    """,
)
def rel_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B z-test on user conversion (>= 14 lifetime
    purchases, the corpus median split):
    deterministic variant assignment (user_id % 2 — reproducible on any
    engine, unlike RNG splits), pooled-variance z statistic, and the
    1.96 two-sided significance verdict.

    Scale: conversion collapses events to one row per user in a single
    map-combined aggregation; the test statistic evaluates on a 1-row
    aggregate of exact integer counts — the entire inference costs one
    scan regardless of data size."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_purchases")
        )
        .select(
            (F.col("user_id") % 2).alias("variant"),
            F.when(F.col("n_purchases") >= 14, 1)
            .otherwise(0)
            .cast("long")
            .alias("converted"),
        )
    )
    agg = per_user.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0)).cast("long").alias("conv_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0)).cast("long").alias("conv_b"),
    )
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    zval = (
        F.col("conv_b").cast("double") / F.col("n_b")
        - F.col("conv_a").cast("double") / F.col("n_a")
    ) / F.sqrt(
        pp * (F.lit(1.0) - pp) * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return agg.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        fround(zval, 6).alias("z"),
        (F.abs(zval) > 1.959963985).alias("significant"),
    )


@register(
    "rel_chi2_independence",
    oracle=f"""
    WITH cells AS (
        SELECT o_orderpriority AS p, o_orderstatus AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2
    ),
    m AS (
        SELECT p, s, n,
               CAST(sum(n) OVER (PARTITION BY p) AS DOUBLE) AS row_n,
               CAST(sum(n) OVER (PARTITION BY s) AS DOUBLE) AS col_n,
               CAST(sum(n) OVER () AS DOUBLE) AS tot
        FROM cells
    ),
    contrib AS (
        SELECT p, s, n,
               CAST(floor(((n - row_n * col_n / tot) * (n - row_n * col_n / tot)
                           / (row_n * col_n / tot)) * 1000000 + 0.5) AS BIGINT) AS cq,
               tot
        FROM m
    ),
    dims AS (
        SELECT CAST(count(DISTINCT p) AS BIGINT) AS r,
               CAST(count(DISTINCT s) AS BIGINT) AS c
        FROM cells
    )
    SELECT CAST(sum(cq) AS BIGINT) / 1000000.0 AS chi2,
           (r - 1) * (c - 1) AS dof,
           {sql_fround(
               'sqrt((CAST(sum(cq) AS BIGINT) / 1000000.0) / (any_value(tot) * CAST(least(r - 1, c - 1) AS DOUBLE)))',
               6,
           )} AS cramers_v
    FROM contrib CROSS JOIN dims
    GROUP BY r, c
    """,
)
def rel_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence (order priority x order status)
    with Cramér's V effect size — the categorical-association audit
    beside rel_infogain_features (mutual information) and
    rel_ab_test_ztest (proportions). Per-cell contributions are
    quantized to the 1e-6 grid so the chi2 sum over cells is an exact
    integer — engines disagree on float reduction order even over 15
    cells.

    Scale: one map-combined count aggregation to the |r|x|c| cell
    table; margins are windows over that tiny table; the statistic is
    one more tiny aggregate. Data-sized work = one scan."""
    o = t(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("p"), F.col("o_orderstatus").alias("s")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    m = cells.select(
        "p",
        "s",
        "n",
        F.sum("n").over(Window.partitionBy("p")).cast("double").alias("row_n"),
        F.sum("n").over(Window.partitionBy("s")).cast("double").alias("col_n"),
        F.sum("n").over(Window.partitionBy()).cast("double").alias("tot"),
    )
    e = F.col("row_n") * F.col("col_n") / F.col("tot")
    cq = F.floor(((F.col("n") - e) * (F.col("n") - e) / e) * 1000000 + F.lit(0.5)).cast(
        "long"
    )
    contrib = m.select("p", "s", "n", cq.alias("cq"), "tot")
    dims = cells.agg(
        F.countDistinct("p").cast("long").alias("r"),
        F.countDistinct("s").cast("long").alias("c"),
    )
    chi2 = F.sum("cq").cast("long") / 1000000.0
    return (
        contrib.crossJoin(F.broadcast(dims))
        .groupBy("r", "c")
        .agg(
            chi2.alias("chi2"),
            F.first(F.col("tot")).alias("_tot"),
        )
        .select(
            F.col("chi2"),
            ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
            fround(
                F.sqrt(
                    F.col("chi2")
                    / (
                        F.col("_tot")
                        * F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
                    )
                ),
                6,
            ).alias("cramers_v"),
        )
    )


@register(
    "rel_gini_revenue",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               sum(CAST(floor(o_totalprice * 10 + 0.5) AS BIGINT)) AS y
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT o_custkey, y,
               row_number() OVER (ORDER BY y, o_custkey) AS i
        FROM per_cust
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(i * y) AS BIGINT) AS siy
        FROM ranked
    )
    SELECT n,
           sy / 10.0 AS total_revenue,
           {sql_fround(
               '(2.0 * siy - (n + 1.0) * sy) / (CAST(n AS DOUBLE) * sy)', 6
           )} AS gini
    FROM agg
    """,
)
def rel_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration (the Lorenz
    statistic behind rel_pareto_revenue's 80/20 view): G =
    (2*sum(i*y_i) - (n+1)*sum(y)) / (n*sum(y)) over revenues sorted
    ascending with a deterministic (y, custkey) tie-break.

    Scale: revenue compacts to the per-customer table first (the only
    data-sized stage, map-side combined); the rank window runs over
    that |customers| table — documented global sort on the COMPACTED
    relation, the same concession every exact top-k/quantile makes.
    Int64 budget: sum(i*y) <= n^2 * max_cust_rev * 10 — ~1e18 at sf1;
    beyond, shard the Lorenz sum by rank band and merge."""
    o = t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 10 + F.lit(0.5)).cast("long")
        ).alias("y")
    )
    ranked = per_cust.withColumn(
        "i", F.row_number().over(Window.orderBy("y", "o_custkey")).cast("long")
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("i") * F.col("y")).cast("long").alias("siy"),
    )
    gini = (
        F.lit(2.0) * F.col("siy") - (F.col("n") + F.lit(1.0)) * F.col("sy")
    ) / (F.col("n").cast("double") * F.col("sy"))
    return agg.select(
        "n",
        (F.col("sy") / 10.0).alias("total_revenue"),
        fround(gini, 6).alias("gini"),
    )


@register(
    "rel_rfm_segments",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               max(o_orderdate::TIMESTAMP) AS last_order,
               CAST(count(*) AS BIGINT) AS frequency,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS monetary_c
        FROM orders GROUP BY o_custkey
    ),
    mx AS (SELECT max(last_order) AS corpus_max FROM per_cust),
    rfm AS (
        SELECT o_custkey,
               CAST(date_diff('day', last_order, corpus_max) AS BIGINT) AS recency_days,
               frequency, monetary_c
        FROM per_cust CROSS JOIN mx
    ),
    scored AS (
        SELECT o_custkey, monetary_c,
               -- recency: RECENT buyers score high -> rank by DESC days
               5 - CAST(least(4.0, floor(percent_rank() OVER (ORDER BY recency_days, o_custkey) * 5)) AS BIGINT) AS r_score,
               1 + CAST(least(4.0, floor(percent_rank() OVER (ORDER BY frequency, o_custkey) * 5)) AS BIGINT) AS f_score,
               1 + CAST(least(4.0, floor(percent_rank() OVER (ORDER BY monetary_c, o_custkey) * 5)) AS BIGINT) AS m_score
        FROM rfm
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary_c) AS BIGINT) / 100.0 AS total_revenue
    FROM scored GROUP BY 1, 2, 3
    """,
)
def rel_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-customer recency/frequency/
    monetary quintile scores (1-5, over the deterministic
    (value, custkey) total order so the banding is reproducible on any
    engine or partitioning) rolled up to segment counts and revenue — the
    classic marketing-analytics cube.

    Scale: orders compact to the per-customer table first (map-side
    combined — the only data-sized stage); the three percent_rank
    windows run over that compacted relation (the documented global-
    sort concession exact quantiles make), and the rollup is
    |segments| <= 125 cells. percent_rank is (rank-1)/(n-1) from exact
    integer ranks, so the quintile floors are bit-identical across
    engines."""
    o = t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("monetary_c"),
    )
    mx = per_cust.agg(F.max("last_order").alias("corpus_max"))
    rfm = per_cust.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        F.datediff(F.col("corpus_max"), F.col("last_order"))
        .cast("long")
        .alias("recency_days"),
        "frequency",
        "monetary_c",
    )

    def quintile(order_cols):
        pr = F.percent_rank().over(Window.orderBy(*order_cols))
        return F.least(F.lit(4.0), F.floor(pr * 5)).cast("long")

    scored = rfm.select(
        "o_custkey",
        "monetary_c",
        (F.lit(5) - quintile([F.col("recency_days"), F.col("o_custkey")])).alias(
            "r_score"
        ),
        (F.lit(1) + quintile([F.col("frequency"), F.col("o_custkey")])).alias(
            "f_score"
        ),
        (F.lit(1) + quintile([F.col("monetary_c"), F.col("o_custkey")])).alias(
            "m_score"
        ),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        (F.sum("monetary_c").cast("long") / 100.0).alias("total_revenue"),
    )


@register(
    "rel_interval_coalesce",
    oracle="""
    WITH iv AS (
        SELECT user_id, epoch_us(ts::TIMESTAMP) AS s,
               epoch_us(ts::TIMESTAMP) + 1800000000 AS e
        FROM events
    ), m AS (
        SELECT user_id, s, e,
               max(e) OVER (PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS pmax
        FROM iv
    ), fl AS (
        SELECT user_id, s, e,
               CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS newi
        FROM m
    ), isl AS (
        SELECT user_id, s, e,
               CAST(sum(newi) OVER (PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT
               ) AS island
        FROM fl
    )
    SELECT user_id, island,
           CAST(min(s) AS BIGINT) AS start_us,
           CAST(max(e) AS BIGINT) AS end_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM isl GROUP BY user_id, island
    """,
)
def rel_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval coalescing: give every event a 30-min
    validity interval [ts, ts+30m) and merge each user's overlapping or
    touching intervals into maximal islands — the classic
    validity-window union (entitlement windows, on-call coverage, ad
    exposure spans). Mechanics: per-user running max of interval ends
    over STRICTLY earlier rows marks rows that start past every prior
    end as island openers; the running count of openers is the island
    id; one groupBy collapses each island to (start, end, n_events).

    Scale: both windows are PARTITIONED by user (never global), the
    finishing aggregate is map-side-combinable, and everything is int64
    epoch-microsecond arithmetic — exact in both engines. Rows tying on
    (start, end) are interchangeable, so the within-tie window order
    cannot change the output."""
    e = t(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (F.unix_micros(F.col("ts")) + F.lit(1_800_000_000)).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e")
    m = iv.withColumn(
        "pmax", F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    )
    fl = m.withColumn(
        "newi",
        F.when(F.col("pmax").isNull() | (F.col("s") > F.col("pmax")), 1).otherwise(0),
    )
    isl = fl.withColumn(
        "island",
        F.sum("newi")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    return isl.groupBy("user_id", "island").agg(
        F.min("s").alias("start_us"),
        F.max("e").alias("end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "rel_kanonymity",
    oracle="""
    WITH cls AS (
        SELECT c_custkey, c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket
        FROM customer
    ),
    sizes AS (
        SELECT c_nationkey, c_mktsegment, bal_bucket,
               CAST(count(*) AS BIGINT) AS class_size
        FROM cls GROUP BY 1, 2, 3
    ),
    prio AS (
        SELECT c.c_nationkey, c.c_mktsegment, c.bal_bucket,
               CAST(count(DISTINCT o.o_orderpriority) AS BIGINT) AS l_div
        FROM cls c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2, 3
    )
    SELECT s.c_nationkey, s.c_mktsegment, s.bal_bucket, s.class_size,
           coalesce(p.l_div, 0) AS l_div,
           s.class_size < 5 AS k_violation
    FROM sizes s
    LEFT JOIN prio p
      ON p.c_nationkey = s.c_nationkey
     AND p.c_mktsegment = s.c_mktsegment
     AND p.bal_bucket = s.bal_bucket
    """,
)
def rel_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit — the privacy gate of a
    training-data release (public recipe: Sweeney 2002 k-anonymity;
    Machanavajjhala 2007 l-diversity), sitting next to llm_pii_scrub in
    the pipeline: after PII scrubbing, quasi-identifier combinations
    that isolate < k individuals still re-identify. Equivalence classes
    over the QI tuple (nation, market segment, account-balance
    thousand-bucket); per class: size, the k=5 violation flag, and
    l-diversity of a sensitive attribute (distinct order priorities of
    the class's members — 0 when none ever ordered, mirrored by the
    oracle's LEFT JOIN + coalesce).

    Scale: one map-side-combinable groupBy for class sizes; l-diversity
    is a customer-to-orders equi-join re-aggregated on the same QI key
    (count-distinct expands then combines — never a per-class collect);
    the final stitch is a QI-key equi-join between two class-grained
    (small) aggregates. No window, no skew hazard beyond the QI key
    distribution itself, which an auditor WANTS surfaced."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_bucket"),
    )
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    keys = ["c_nationkey", "c_mktsegment", "bal_bucket"]
    sizes = c.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("class_size"))
    prio = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy(*keys)
        .agg(F.countDistinct("o_orderpriority").cast("long").alias("l_div"))
    )
    return sizes.join(prio, keys, "left").select(
        *keys,
        "class_size",
        F.coalesce(F.col("l_div"), F.lit(0).cast("long")).alias("l_div"),
        (F.col("class_size") < 5).alias("k_violation"),
    )


def _skew_leg_sql(table: str, key: str) -> str:
    """One key's skew diagnostics: exact per-key counts, top-1 share,
    max/mean ratio, and a deterministic exact p99 pick (row_number on
    (count, key) — the rel_percentiles_exact index-pick discipline)."""
    return f"""
    SELECT '{table}.{key}' AS key_name,
           s.n_rows, s.n_keys, s.max_rows,
           {sql_fround('s.max_rows * 1.0 / s.n_rows', 6)} AS top1_share,
           {sql_fround('s.max_rows * s.n_keys * 1.0 / s.n_rows', 4)} AS skew_ratio,
           p.p99_rows,
           {sql_fround('p.p99_rows * s.n_keys * 1.0 / s.n_rows', 4)} AS p99_over_mean
    FROM (
        SELECT CAST(sum(c) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(max(c) AS BIGINT) AS max_rows
        FROM (SELECT count(*) AS c FROM {table} GROUP BY {key})
    ) s, (
        SELECT CAST(c AS BIGINT) AS p99_rows FROM (
            SELECT c, row_number() OVER (ORDER BY c, k) AS rn,
                   count(*) OVER () AS nk
            FROM (SELECT {key} AS k, count(*) AS c FROM {table} GROUP BY {key})
        ) WHERE rn = CAST(ceil(0.99 * nk) AS BIGINT)
    ) p
    """


@register(
    "rel_join_skew_report",
    oracle=" UNION ALL ".join(
        [
            _skew_leg_sql("lineitem", "l_orderkey"),
            _skew_leg_sql("orders", "o_custkey"),
            _skew_leg_sql("events", "user_id"),
        ]
    ),
)
def rel_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report — the diagnostic read BEFORE choosing a
    skew mitigation (salting: rel_join_salted; AQE skew split: the
    pinned plan test), answering "which join keys are dangerous and how
    dangerous": per candidate key, exact row/key counts, the hottest
    key's share, max/mean ratio, and an exact deterministic p99 of the
    per-key row counts (index pick on (count, key) order — never an
    engine-specific quantile interpolation).

    Scale: per key, ONE map-side-combinable count aggregate (the same
    shuffle the join itself would pay) + scalar roll-ups; the p99 pick
    is a single-column sort of the KEY-GRAINED counts (|keys| rows, not
    |rows|). The three legs union — at 100 TB you run this weekly per
    fact table, cached, and the report is bytes."""
    legs = []
    for table, key in (
        ("lineitem", "l_orderkey"),
        ("orders", "o_custkey"),
        ("events", "user_id"),
    ):
        df = t(spark, sf_dir, table)
        cnt = df.groupBy(F.col(key).alias("k")).agg(F.count(F.lit(1)).alias("c"))
        s = cnt.agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("c").cast("long").alias("max_rows"),
        )
        w = Window.orderBy("c", "k")
        ranked = cnt.select(
            "c",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("nk"),
        )
        p99 = ranked.filter(
            F.col("rn") == F.ceil(0.99 * F.col("nk")).cast("long")
        ).select(F.col("c").cast("long").alias("p99_rows"))
        legs.append(
            s.crossJoin(F.broadcast(p99)).select(
                F.lit(f"{table}.{key}").alias("key_name"),
                "n_rows",
                "n_keys",
                "max_rows",
                fround(F.col("max_rows") * 1.0 / F.col("n_rows"), 6).alias("top1_share"),
                fround(
                    F.col("max_rows") * F.col("n_keys") * 1.0 / F.col("n_rows"), 4
                ).alias("skew_ratio"),
                "p99_rows",
                fround(
                    F.col("p99_rows") * F.col("n_keys") * 1.0 / F.col("n_rows"), 4
                ).alias("p99_over_mean"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out
