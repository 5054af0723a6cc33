"""Streaming-operator queries, batch-expressed for the oracle harness.

Each query applies the SAME transformation builder
(randas_spark.streaming.engine) that the streaming paths use — run here
on the batch read so DuckDB can oracle-check the semantics; pytest then
replays the identical builder over readStream and asserts batch-stream
equivalence. That two-sided check is the correctness story for M5
(SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from randas_spark.queries import _persisted_index, fround, register, sql_fround, t
from randas_spark.streaming.engine import (
    session_agg,
    sliding_counts,
    topk_types_per_window,
    tumbling_counts,
)


@register(
    "stream_tumbling_window",
    oracle=f"""
    SELECT CAST(date_trunc('hour', ts::TIMESTAMP) AS TIMESTAMP) AS window_start,
           event_type,
           count(*) AS n_events,
           {sql_fround('sum(value)', 2)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type (engine.tumbling_counts —
    identical builder drives readStream in tests)."""
    out = tumbling_counts(t(spark, sf_dir, "events"), width="1 hour")
    return out.select(
        "window_start", "event_type", "n_events", fround(out.sum_value, 2).alias("sum_value")
    )


@register(
    "stream_topk_per_window",
    oracle="""
    WITH c AS (
        SELECT CAST(date_trunc('hour', ts::TIMESTAMP) AS TIMESTAMP) AS window_start,
               event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events,
           CAST(row_number() OVER (PARTITION BY window_start
                                   ORDER BY n_events DESC, event_type) AS BIGINT) AS rank
    FROM c
    QUALIFY row_number() OVER (PARTITION BY window_start
                               ORDER BY n_events DESC, event_type) <= 3
    """,
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per tumbling hour (engine.topk_types_per_window
    over engine.tumbling_counts — the trending-now kernel). The counting
    stage is the streaming-legal windowed agg; the rank is the
    per-snapshot finisher (see the builder docstring for why rank can't
    run in append mode). pytest replays the same pair over readStream and
    asserts snapshot equivalence."""
    counts = tumbling_counts(t(spark, sf_dir, "events"), width="1 hour")
    return topk_types_per_window(counts, k=3).select(
        "window_start", "event_type", "n_events", "rank"
    )


@register(
    "stream_sliding_window",
    oracle="""
    WITH base AS (
        SELECT to_timestamp(CAST(floor(epoch(ts::TIMESTAMP) / 300) * 300 AS BIGINT)) AS b5,
               ts::TIMESTAMP AS ts
        FROM events
    ), expanded AS (
        SELECT b5 - to_seconds(k * 300) AS window_start, ts
        FROM base, (SELECT unnest([0, 1]) AS k)
        WHERE ts < b5 - to_seconds(k * 300) + to_seconds(600)
    )
    SELECT CAST(window_start AS TIMESTAMP) AS window_start, count(*) AS n_events
    FROM expanded GROUP BY window_start
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 10-minute windows every 5 minutes (engine.sliding_counts).
    Oracle expands each row into its ≤2 covering windows arithmetically."""
    return sliding_counts(t(spark, sf_dir, "events"), width="10 minutes", slide="5 minutes")


@register(
    "stream_session_window",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, event_id, ts::TIMESTAMP AS ts, value,
               CASE WHEN epoch_us(ts::TIMESTAMP) - lag(epoch_us(ts::TIMESTAMP)) OVER w > 1800000000
                    OR lag(ts::TIMESTAMP) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, value,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT min(ts)                           AS sess_start,
           max(ts) + INTERVAL 30 MINUTE      AS sess_end,
           user_id,
           count(*)                          AS n_events,
           {sql_fround('sum(value)', 2)}     AS sum_value
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessions via the built-in session_window (engine.session_agg).
    Oracle reproduces merge semantics with the islands algorithm:
    start = first event, end = last event + gap."""
    out = session_agg(t(spark, sf_dir, "events"), gap="30 minutes")
    return out.select(
        "sess_start",
        "sess_end",
        "user_id",
        "n_events",
        fround(out.sum_value, 2).alias("sum_value"),
    )


@register(
    "stream_dedup_batch_twin",
    oracle=f"""
    SELECT user_id, count(*) AS n_events, {sql_fround('sum(value)', 2)} AS sum_value
    FROM (SELECT DISTINCT ON (event_id) event_id, user_id, value
          FROM events ORDER BY event_id, ts)
    GROUP BY user_id
    """,
)
def stream_dedup_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of engine.dedup_within_watermark: keep one row per
    event_id, then aggregate per user. Batch uses a deterministic
    min-by-ts row_number pick so the oracle is well-defined even though
    the fixture's event_ids are already unique; the streaming effect
    (bounded state under a watermark) is pytest-verified by replaying a
    duplicated file (tests/test_streaming.py)."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_id").orderBy("ts")
    deduped = (
        e.withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") == 1)
    )
    return deduped.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        fround(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "stream_stateful_user_totals",
    oracle=f"""
    SELECT user_id, count(*) AS n_events, {sql_fround('sum(value)', 2)} AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of engine.running_user_state (applyInPandasWithState):
    the custom stateful kernel's final per-user totals equal this plain
    aggregate — equality with the actual streaming state machine is
    asserted in tests/test_streaming.py; this entry oracle-checks the
    target semantics."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        fround(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "stream_static_enrich",
    oracle=f"""
    SELECT CAST(date_trunc('hour', ts::TIMESTAMP) AS TIMESTAMP) AS window_start,
           c_mktsegment AS segment,
           count(*) AS n_events,
           {sql_fround('sum(value)', 2)} AS sum_value
    FROM events
    JOIN customer ON c_custkey = user_id
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment: events joined to the customer
    dimension, aggregated per (hour, market segment)
    (engine.segment_hourly_activity — same builder drives readStream in
    tests; the dim side broadcasts, so the stream never shuffles for the
    join)."""
    from randas_spark.streaming.engine import segment_hourly_activity

    out = segment_hourly_activity(t(spark, sf_dir, "events"), t(spark, sf_dir, "customer"))
    return out.select(
        "window_start", "segment", "n_events", fround(out.sum_value, 2).alias("sum_value")
    )


@register(
    "stream_stream_join_conversions",
    oracle="""
    WITH e AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type FROM events)
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id AS user_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
    FROM e c JOIN e p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def stream_stream_join_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval self-join: purchases within 1 hour of a
    click by the same user (engine.click_purchase_conversions; the
    streaming twin runs with watermarks on BOTH sides so join state stays
    bounded — tests assert stream == batch == this oracle)."""
    from randas_spark.streaming.engine import click_purchase_conversions

    e = t(spark, sf_dir, "events")
    return click_purchase_conversions(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
        horizon="1 hour",
    )


@register(
    "stream_stream_left_outer",
    oracle="""
    WITH e AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type FROM events)
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id AS user_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
    FROM (SELECT * FROM e WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every click, converted or
    not — unconverted clicks carry null purchase columns. On the stream
    (same builder, how='leftOuter', two-sided watermarks) matched rows
    emit immediately while the null rows emit only once the watermark
    passes click_ts + horizon, because a match could still arrive — the
    outer-emission semantics tests/test_streaming.py pins through
    readStream. State stays O(rate x horizon) exactly as the inner
    form."""
    from randas_spark.streaming.engine import click_purchase_conversions

    e = t(spark, sf_dir, "events")
    return click_purchase_conversions(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
        horizon="1 hour",
        how="leftOuter",
    )


@register(
    "stream_stream_full_outer",
    oracle="""
    WITH e AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type FROM events)
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           COALESCE(c.user_id, p.user_id) AS user_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
    FROM (SELECT * FROM e WHERE event_type = 'click') c
    FULL JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join, completing the join
    matrix next to the inner and left-outer forms: unconverted clicks
    emit with null purchase columns AND orphan purchases (no click in
    the preceding hour by that user) emit with null click columns. On
    the stream (same builder, how='fullOuter', two-sided watermarks)
    matched rows emit immediately and each side's null rows emit once
    the watermark passes that side's eviction point; state stays
    O(rate x horizon) exactly as the inner form — outer-ness changes
    what is emitted at eviction, never what is retained."""
    from randas_spark.streaming.engine import click_purchase_conversions

    e = t(spark, sf_dir, "events")
    return click_purchase_conversions(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
        horizon="1 hour",
        how="fullOuter",
    )


@register(
    "stream_stream_full_outer_capped",
    oracle="""
    WITH e AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type FROM events),
    j AS (
        SELECT c.event_id AS click_id,
               p.event_id AS purchase_id,
               COALESCE(c.user_id, p.user_id) AS user_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS lag_us,
               row_number() OVER (
                   PARTITION BY (c.event_id IS NULL),
                                COALESCE(c.event_id, p.event_id)
                   ORDER BY p.ts ASC NULLS LAST, p.event_id ASC NULLS LAST
               ) AS rn
        FROM (SELECT * FROM e WHERE event_type = 'click') c
        FULL JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
    )
    SELECT click_id, purchase_id, user_id, lag_us FROM j WHERE rn = 1
    """,
)
def stream_stream_full_outer_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-capped FULL OUTER interval join
    (streaming/engine.click_purchase_first_touch): each click keeps only
    its earliest qualifying purchase, so output is O(clicks + purchases)
    instead of the uncapped form's per-user density-SQUARED pair count —
    the scale-safe variant the r7 verdict asked for after the 6.0×
    slope reading on stream_stream_full_outer. Orphan purchases and
    unconverted clicks still emit; matched-but-not-first purchases are
    dropped — that drop is the cap (precise coverage contract on the
    operator docstring; stream_capped_drop_audit makes the dropped-row
    count observable). The composite window key
    (click_id IS NULL, coalesce(click_id, purchase_id)) gives each
    orphan purchase a unique synthetic key with no null-key skew
    partition AND no collision with click keys for 0/signed id
    domains."""
    from randas_spark.streaming.engine import click_purchase_first_touch

    e = t(spark, sf_dir, "events")
    return click_purchase_first_touch(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
        horizon="1 hour",
    )


@register(
    "stream_capped_drop_audit",
    oracle="""
    WITH e AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type FROM events),
    pairs AS (
        SELECT c.event_id AS click_id, p.event_id AS purchase_id, p.ts AS purchase_ts
        FROM (SELECT * FROM e WHERE event_type = 'click') c
        JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
    ), ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY click_id
                   ORDER BY purchase_ts ASC, purchase_id ASC
               ) AS rn
        FROM pairs
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs_uncapped,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs_capped,
           CAST(count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pairs_dropped,
           CAST(count(DISTINCT purchase_id)
                - count(DISTINCT CASE WHEN rn = 1 THEN purchase_id END) AS BIGINT)
               AS n_purchases_dropped
    FROM ranked
    """,
)
def stream_capped_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loss accounting for the first-touch cap (VERDICT r8 order #6,
    streaming/engine.first_touch_drop_audit): one row quantifying
    exactly what stream_stream_full_outer_capped's coverage contract
    drops — matched-pair rows lost to the cap and qualifying purchases
    that appear in no capped output row. capped + dropped = uncapped by
    construction, and a pytest asserts the identity against the two
    real join outputs."""
    from randas_spark.streaming.engine import first_touch_drop_audit

    e = t(spark, sf_dir, "events")
    return first_touch_drop_audit(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
        horizon="1 hour",
    )


@register(
    "stream_lateness_audit",
    oracle="""
    WITH e AS (
        SELECT event_id, ts::TIMESTAMP AS ts,
               md5(CAST(event_id AS VARCHAR)) AS arr
        FROM events
    ), w AS (
        SELECT ts,
               max(epoch_us(ts)) OVER (
                   ORDER BY arr, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS pm
        FROM e
    )
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
           count(*) AS n_events,
           CAST(sum(CASE WHEN pm > epoch_us(ts) THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           CAST(max(CASE WHEN pm > epoch_us(ts) THEN pm - epoch_us(ts) ELSE 0 END) AS BIGINT) AS max_late_us
    FROM w GROUP BY 1
    """,
)
def stream_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-lateness audit — the measurement that SIZES watermarks
    (you cannot justify '2 hours' without the observed lateness
    distribution): per event-time hour, how many events arrived after
    the arrival-clock high-water mark had already passed their event
    time, and by how much at worst. Arrival order is simulated by a
    deterministic hash shuffle of event_id (the testdata file replays
    in event-time order, which would make every lateness zero; on a
    live stream the arrival clock is simply processing order).

    Scale: the arrival high-water mark is a DISTRIBUTED prefix scan
    (operators/rank.distributed_prefix_max — range-repartition +
    per-partition running max + broadcast prior-partition maxima), so
    the oracle's single-task unpartitioned window is the SPEC, never
    the plan; the per-hour rollup is one map-combined groupBy."""
    from randas_spark.operators.rank import distributed_prefix_max

    e = t(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        F.md5(F.col("event_id").cast("string").cast("binary")).alias("arr"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    scanned = distributed_prefix_max(
        e, [F.col("arr"), F.col("event_id")], "ts_us", out_col="pm"
    )
    late = F.col("pm") > F.col("ts_us")
    return scanned.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(late, 1).otherwise(0)).cast("long").alias("n_late"),
        F.max(
            F.when(late, F.col("pm") - F.col("ts_us")).otherwise(F.lit(0))
        ).cast("long").alias("max_late_us"),
    )


@register(
    "stream_window_distinct_users",
    oracle="""
    SELECT CAST(date_trunc('hour', ts::TIMESTAMP) AS TIMESTAMP) AS window_start,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY 1
    """,
)
def stream_window_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly distinct-user counts (batch twin). Exact COUNT(DISTINCT)
    is oracle-checkable here; in true streaming, per-window exact
    distinct needs the full id set as state — the production form is
    approx_count_distinct (HLL: mergeable, constant state per window;
    rel_approx_count_distinct is that operator, error-bounded by
    pytest)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").alias("window_start"), "n_users", "n_events")
    )


def _countmin_cells_oracle() -> str:
    from randas_spark.operators.sketches import _bucket_sql

    unions = "\n        UNION ALL ".join(
        f"SELECT {d} AS d, {_bucket_sql('user_id', d, False)} AS bucket FROM events"
        " WHERE user_id IS NOT NULL"
        for d in range(4)
    )
    return f"""
    SELECT d, bucket, count(*) AS cnt FROM (
        {unions}
    ) GROUP BY d, bucket
    """


@register(
    "stream_quantile_cells",
    oracle="""
    WITH c AS (
        SELECT CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE floor(value * 100) >= 1
    ), b AS (
        SELECT msb, greatest(msb - 5, 0) AS k,
               CAST(floor(cents / pow(2, greatest(msb - 5, 0))) AS BIGINT) AS shifted
        FROM (SELECT cents, length(bin(cents)) AS msb FROM c)
    )
    SELECT CAST(msb * 32 + shifted AS BIGINT) AS bin_key, k, shifted,
           count(*) AS cnt
    FROM b GROUP BY 1, 2, 3
    """,
)
def stream_quantile_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained QUANTILE sketch cells: the binary-
    mantissa histogram (operators/sketches.quantile_sketch_bins) is a
    plain groupBy aggregation, so on a stream the sketch state IS the
    streaming agg state — O(bins) rows forever, update/complete mode
    always holds the current CDF of everything seen, and any engine can
    rebuild it bit-identically (integer bins). The streaming percentile
    companion to stream_countmin_cells (frequencies) and the batch
    rel_quantile_sketch_mergeable (merge law). pytest replays the same
    builder over readStream and asserts cell-level equality."""
    from randas_spark.operators.sketches import quantile_sketch_bins

    return quantile_sketch_bins(t(spark, sf_dir, "events"), "value")


@register("stream_countmin_cells", oracle=_countmin_cells_oracle())
def stream_countmin_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained Count-Min sketch cells
    (operators/sketches.countmin_cells, unsharded): a streaming
    aggregation whose state is the depth×256-cell sketch itself —
    constant memory however long the stream runs, and bit-identical to
    a batch rebuild (and to this DuckDB oracle) because the buckets are
    md5-derived. NULL keys are dropped, as in every Count-Min build.
    pytest replays the same builder over readStream and asserts
    cell-level equality."""
    from randas_spark.operators.sketches import countmin_cells

    return countmin_cells(t(spark, sf_dir, "events"), "user_id", None, depth=4)


@register(
    "stream_hll_cells",
    oracle="""
    SELECT bucket, max(rho) AS rho FROM (
        SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) AS bucket,
               CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 8)) AS BIGINT) = 0
                    THEN 33
                    ELSE 33 - length(bin(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 8)) AS BIGINT)))
               END AS rho
        FROM events WHERE user_id IS NOT NULL
    ) GROUP BY bucket
    """,
)
def stream_hll_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained HyperLogLog registers
    (operators/sketches.hll_registers): per-bucket MAX is a streaming
    aggregation with 256-row state (max is order-insensitive, so the
    batch builder is streaming-legal as-is), so the live distinct-user
    sketch is always current and bit-identical to a batch rebuild (and
    to this DuckDB oracle). pytest replays the builder over readStream
    and asserts register-level equality; the batch twin's estimate path
    is rel_hll_portable / rel_hll_intersection."""
    from randas_spark.operators.sketches import hll_registers

    return hll_registers(t(spark, sf_dir, "events"), "user_id")


@register(
    "stream_rollup_states",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) / 1000.0
               AS total_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY event_type
    """,
)
def stream_rollup_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained scalar rollup view
    (engine.rollup_stream_states): per-type count/sum/min/max as
    streaming aggregation state — the live dashboard view with
    O(groups) state. pytest replays the builder over readStream across
    multiple triggers and asserts cell equality with a batch rebuild;
    the batch base/delta merge law is rel_incremental_rollup."""
    from pyspark.sql import functions as F
    from randas_spark.streaming.engine import rollup_stream_states

    states = rollup_stream_states(t(spark, sf_dir, "events"))
    return states.select(
        "event_type",
        "n_events",
        (F.col("s") / 1000.0).alias("total_value"),
        "min_value",
        "max_value",
    )


@register(
    "stream_pattern_funnel",
    oracle="""
    WITH base AS (
        SELECT user_id, event_id, event_type,
               epoch_us(ts::TIMESTAMP) AS us
        FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    p1 AS (
        SELECT *,
               last_value(CASE WHEN event_type = 'view' THEN us END
                          IGNORE NULLS) OVER w AS lv_us,
               last_value(CASE WHEN event_type = 'view' THEN event_id END
                          IGNORE NULLS) OVER w AS lv_id
        FROM base
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    p2 AS (
        SELECT *,
               last_value(CASE WHEN event_type = 'click' AND lv_us IS NOT NULL
                               AND us - lv_us <= 86400000000 THEN us END
                          IGNORE NULLS) OVER w AS qc_us,
               last_value(CASE WHEN event_type = 'click' AND lv_us IS NOT NULL
                               AND us - lv_us <= 86400000000 THEN event_id END
                          IGNORE NULLS) OVER w AS qc_id,
               last_value(CASE WHEN event_type = 'click' AND lv_us IS NOT NULL
                               AND us - lv_us <= 86400000000 THEN lv_us END
                          IGNORE NULLS) OVER w AS qv_us,
               last_value(CASE WHEN event_type = 'click' AND lv_us IS NOT NULL
                               AND us - lv_us <= 86400000000 THEN lv_id END
                          IGNORE NULLS) OVER w AS qv_id
        FROM p1
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id AS purchase_event_id, qc_id AS click_event_id,
           qv_id AS view_event_id, (us - qv_us) / 1000000.0 AS funnel_secs
    FROM p2
    WHERE event_type = 'purchase' AND qc_us IS NOT NULL
      AND us - qc_us <= 86400000000
    """,
)
def stream_pattern_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of engine.funnel_state (the CEP kernel): completed
    view→click→purchase funnels, each step within 24 hours of the
    previous, with non-consuming last-touch chaining — a purchase links
    to the last QUALIFIED click before it (a click within 24 h of its
    own preceding view), and touches are reusable across purchases.

    Two ignore-nulls carry-forward window passes over the filtered
    event stream (the rel_attribution_last_touch shape, chained once):
    pass 1 carries the last view onto every row; pass 2 carries the
    last qualified click onto every purchase. No self-joins: one
    shuffle on user_id serves both passes, constant per-row state —
    at 100 TB this beats the three-way interval self-join formulation
    (two extra shuffles, hot-user skew on every one). The time gates
    are integer microsecond arithmetic; funnel_secs is one BIGINT
    difference divided by 1e6 — the same IEEE op on both engines.
    Kernel equality (the actual streaming state machine) is asserted in
    tests/test_streaming.py by file replay."""
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    from pyspark.sql import Window

    base = e.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    step = 86_400_000_000
    is_view = F.col("event_type") == "view"
    p1 = base.select(
        "*",
        F.last(F.when(is_view, F.col("us")), ignorenulls=True).over(w).alias("lv_us"),
        F.last(F.when(is_view, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("lv_id"),
    )
    is_qc = (
        (F.col("event_type") == "click")
        & F.col("lv_us").isNotNull()
        & ((F.col("us") - F.col("lv_us")) <= step)
    )
    p2 = p1.select(
        "*",
        F.last(F.when(is_qc, F.col("us")), ignorenulls=True).over(w).alias("qc_us"),
        F.last(F.when(is_qc, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("qc_id"),
        F.last(F.when(is_qc, F.col("lv_us")), ignorenulls=True)
        .over(w)
        .alias("qv_us"),
        F.last(F.when(is_qc, F.col("lv_id")), ignorenulls=True)
        .over(w)
        .alias("qv_id"),
    )
    return p2.filter(
        (F.col("event_type") == "purchase")
        & F.col("qc_us").isNotNull()
        & ((F.col("us") - F.col("qc_us")) <= step)
    ).select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.col("qc_id").alias("click_event_id"),
        F.col("qv_id").alias("view_event_id"),
        ((F.col("us") - F.col("qv_us")) / F.lit(1_000_000.0)).alias("funnel_secs"),
    )


@register(
    "stream_gram_cells",
    oracle="""
    WITH aug AS (
        SELECT list_prepend(CAST(1 AS BIGINT),
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))) AS av
        FROM embeddings
    )
    SELECT gi.i - 1 AS i, gj.j - 1 AS j,
           CAST(sum(av[gi.i] * av[gj.j]) AS BIGINT) AS g
    FROM aug, generate_series(1, 65) AS gi(i), generate_series(1, 65) AS gj(j)
    GROUP BY 1, 2
    """,
)
def stream_gram_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-twin of the PCA moment matrix (operators/pca.gram_cells):
    the augmented [1|q] Gram cells are a MERGEABLE STATE — integer sums —
    so the same mapInPandas + groupBy plan runs unchanged over a stream
    in complete mode, maintaining an incrementally-updated covariance
    model as data arrives (the incremental-PCA ingestion shape). This
    batch form is the oracle-checked twin; tests/test_streaming.py
    replays the vectors file-by-file through readStream and pins that
    the final streamed state equals this batch result cell-for-cell.
    Joins the mergeable-state series: countmin cells, HLL registers,
    quantile bins, rollup states — and now second moments."""
    from randas_spark.operators.pca import gram_cells

    emb = t(spark, sf_dir, "embeddings")
    return gram_cells(emb, "embedding", dim=64, scale=10_000).select(
        "i", "j", F.col("g").cast("long").alias("g")
    )


@register(
    "stream_cdc_apply",
    oracle="""
    WITH o AS (
        SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS ts_us,
               event_type, value,
               max(epoch_us(ts::TIMESTAMP)) OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        FROM events
    ),
    stats AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_updates,
               CAST(sum(CASE WHEN prev_max IS NULL OR ts_us > prev_max
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_applied,
               CAST(sum(CASE WHEN prev_max IS NULL OR ts_us > prev_max
                             THEN 0 ELSE 1 END) AS BIGINT) AS n_stale,
               CAST(sum(CASE WHEN (prev_max IS NULL OR ts_us > prev_max)
                                  AND event_type = 'error'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted
        FROM o GROUP BY user_id
    ),
    pick AS (
        SELECT user_id, ts_us AS final_us,
               event_type = 'error' AS is_deleted,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS final_value
        FROM o
        QUALIFY row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts_us DESC, event_id) = 1
    )
    SELECT s.user_id, s.n_updates, s.n_applied, s.n_stale, s.n_deleted,
           p.is_deleted, p.final_us, p.final_value
    FROM stats s JOIN pick p USING (user_id)
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the CDC last-writer-wins kernel (engine.cdc_apply_state,
    custom-state op #5): updates applied in ingestion order (event_id)
    with event-time versions (ts) — an update lands iff its version
    strictly exceeds the current one, stale arrivals are counted and
    dropped. An applied tombstone (event_type 'error') clears the value while
    advancing the version, so stale pre-delete updates can never
    resurrect the row. Output per key: update/applied/stale/deleted
    counts, the deletion flag, and the final materialized (version,
    value — NULL when deleted). n_applied == the number of prefix
    maxima of ts in event_id order, which this batch form computes with
    one running-max window; the final row is the earliest-ingested
    carrier of the max version. pytest replays the same updates through
    readStream (including out-of-order files whose stale drops cross
    trigger boundaries) and pins state equality."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts"))
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_del = F.col("event_type") == "error"
    o = e.select(
        "user_id",
        "event_id",
        ts_us.alias("ts_us"),
        "event_type",
        "value",
        F.max(ts_us).over(w_prev).alias("prev_max"),
    )
    applied = F.col("prev_max").isNull() | (F.col("ts_us") > F.col("prev_max"))
    stats = o.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_updates"),
        F.sum(applied.cast("long")).cast("long").alias("n_applied"),
        F.sum((~applied).cast("long")).cast("long").alias("n_stale"),
        F.sum((applied & is_del).cast("long")).cast("long").alias("n_deleted"),
    )
    w_pick = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), "event_id"
    )
    pick = (
        o.withColumn("__rk__", F.row_number().over(w_pick))
        .filter(F.col("__rk__") == 1)
        .select(
            "user_id",
            F.col("ts_us").alias("final_us"),
            is_del.alias("is_deleted"),
            F.when(is_del, F.lit(None).cast("double"))
            .otherwise(F.col("value"))
            .alias("final_value"),
        )
    )
    return stats.join(pick, "user_id")


def _stream_ivf_oracle() -> str:
    from randas_spark.queries.llm import _ivf_append_oracle

    return _ivf_append_oracle(base_where="vec_id % 4 <> 3")


@register("stream_ivf_ingest", oracle=_stream_ivf_oracle())
def stream_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN index ingestion, batch twin: the base corpus
    (vec_id % 4 <> 3, 75%) is built into a persisted IVF index once,
    then the remaining 25% arrives as TWO micro-batches committed
    through operators/similarity.ivf_commit_stream_batch — the exact
    sink engine.ivf_ingest_stream drives from foreachBatch (idempotent
    rename-commit per batch id, so at-least-once redelivery converges
    to one copy). knn_ivf_query then serves base + committed batches in
    one partition-pruned scan union.

    The oracle replays fit-on-base + assign-ALL (llm._ivf_append_oracle
    parameterized to this split), so a green row proves the streamed
    multi-batch ingest is indistinguishable from a from-scratch
    assignment against the same frozen centroids — batch boundaries and
    arrival order don't exist in the result, which is the invariant
    that lets a 100 TB vector corpus ingest continuously without
    re-fitting. The actual readStream path (file source, one file per
    trigger, checkpoint restart, redelivery no-op) is pinned equal to
    this twin in tests/test_streaming.py."""
    from randas_spark.operators.similarity import (
        ivf_build_index,
        ivf_commit_stream_batch,
        ivf_stamp_fingerprint,
        knn_ivf_query,
    )

    emb = t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 != 3)

    def build(index_dir, fp, n_cells):
        # build commits with fingerprint=None; the stamp lands LAST,
        # after both stream batches, so a torn sequence reads stale
        ivf_build_index(base, "vec_id", "embedding", index_dir, n_cells=n_cells)
        ivf_commit_stream_batch(
            emb.filter(F.col("vec_id") % 8 == 3), "vec_id", "embedding", index_dir, 0
        )
        ivf_commit_stream_batch(
            emb.filter(F.col("vec_id") % 8 == 7), "vec_id", "embedding", index_dir, 1
        )
        ivf_stamp_fingerprint(index_dir, fp)

    index_dir, fp = _persisted_index(
        sf_dir,
        "ivf_index",
        "stream_v1",
        "ivf",
        {"n_cells": max(16, base.count() // 32)},
        build,
    )
    return knn_ivf_query(
        emb.filter(F.col("vec_id") < 5),
        "vec_id",
        "embedding",
        index_dir,
        n_probe=4,
        top_k=10,
        fingerprint=fp,
    )


def _ann_serve_oracle() -> str:
    from randas_spark.queries.llm import _CELLS_N32, _ivf_knn_oracle

    return _ivf_knn_oracle(
        _CELLS_N32,
        "q.vec_id % 2 = 1",
        fit="corpus",
        corpus="corpus",
        head="corpus AS (SELECT * FROM embeddings WHERE vec_id % 2 = 0)",
    )


@register("stream_ann_enrich", oracle=_ann_serve_oracle())
def stream_ann_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed ANN serving, batch twin: the persisted IVF index is
    built once on the CORPUS half (even vec_ids), and the QUERY half
    (odd vec_ids — standing in for a live feed needing nearest-corpus
    enrichment) is served through knn_ivf_query. engine.ann_serve_stream
    drives the identical per-batch plan from foreachBatch with
    rename-committed result dirs; because per-row results are a pure
    function of (query row, index), the union of streamed batch outputs
    equals this one-shot twin — pinned in tests/test_streaming.py along
    with redelivery idempotency. Completes the ANN lifecycle: build,
    batch append, stream ingest, compaction, batch serve, STREAM serve,
    recall audit, rerank — every stage oracle- or parity-checked."""
    from randas_spark.operators.similarity import ivf_build_index, knn_ivf_query

    emb = t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    index_dir, fp = _persisted_index(
        sf_dir,
        "ivf_index",
        "serve_v1",
        "ivf",
        {"n_cells": max(16, corpus.count() // 32)},
        lambda d, fp, **p: ivf_build_index(
            corpus, "vec_id", "embedding", d, fingerprint=fp, **p
        ),
    )
    return knn_ivf_query(
        emb.filter(F.col("vec_id") % 2 == 1),
        "vec_id",
        "embedding",
        index_dir,
        n_probe=4,
        top_k=10,
        fingerprint=fp,
    )


@register(
    "stream_scd2_apply",
    oracle=f"""
    WITH upd AS (
        SELECT o_custkey AS c_custkey,
               {sql_fround('sum(o_totalprice)', 2)} AS bal,
               CAST(max(o_orderdate) AS TIMESTAMP) AS ts,
               CASE WHEN o_orderdate < DATE '1994-01-01' THEN 1
                    WHEN o_orderdate < DATE '1996-01-01' THEN 2
                    ELSE 3 END AS b
        FROM orders
        GROUP BY o_custkey,
                 CASE WHEN o_orderdate < DATE '1994-01-01' THEN 1
                      WHEN o_orderdate < DATE '1996-01-01' THEN 2
                      ELSE 3 END
    ),
    seq AS (
        SELECT c_custkey, c_acctbal AS bal,
               TIMESTAMP '1970-01-01 00:00:00' AS ts, 0 AS b
        FROM customer
        UNION ALL
        SELECT c_custkey, bal, ts, b FROM upd
    ),
    chg AS (
        SELECT *, lag(bal) OVER (PARTITION BY c_custkey ORDER BY b) AS prev_bal
        FROM seq
    ),
    keep AS (
        SELECT c_custkey, bal, ts, b FROM chg
        WHERE b = 0 OR bal IS DISTINCT FROM prev_bal
    )
    SELECT c_custkey, bal, ts AS valid_from,
           lead(ts) OVER (PARTITION BY c_custkey ORDER BY b) AS valid_to
    FROM keep
    """,
)
def stream_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming SCD2 dimension materialization (VERDICT
    r10 order #6; engine.scd2_ingest_stream + operators/merge.
    scd2_commit_stream_batch): the customer dimension is seeded open at
    the epoch, then THREE time-ordered CDC batches (orders bucketed
    <1994 / <1996 / rest, each pre-aggregated to one balance update per
    customer stamped at its latest order date in the period) are
    applied SEQUENTIALLY through the exact per-batch operator the
    foreachBatch sink calls — so this plan is the generation-by-
    generation history the streaming path materializes, and pytest pins
    streamed-final == this, batch for batch, under redelivery and a
    fresh-checkpoint restart.

    The oracle replays the version chains declaratively: per key, the
    update sequence ordered by batch collapses runs of equal tracked
    values (lag — exactly scd2_apply's change predicate applied batch
    by batch), valid_from = the surviving update's ts, valid_to = the
    NEXT surviving update's ts (lead; open = NULL). The two forms
    agreeing IS the proof that chained per-batch MERGEs materialize the
    declarative version history.

    Scale: each apply is one key-shuffle join of the CURRENT dimension
    against a pre-aggregated batch (history rows filtered out before
    the shuffle — cost tracks |current| + |batch| per generation, not
    accumulated history)."""
    from randas_spark.operators.merge import scd2_apply

    c = t(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey",
        F.col("c_acctbal").alias("bal"),
        F.lit("1970-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    o = t(spark, sf_dir, "orders")
    for lo, hi in ((None, "1994-01-01"), ("1994-01-01", "1996-01-01"), ("1996-01-01", None)):
        batch = o
        if lo is not None:
            batch = batch.filter(F.col("o_orderdate") >= F.lit(lo))
        if hi is not None:
            batch = batch.filter(F.col("o_orderdate") < F.lit(hi))
        upd = batch.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
            fround(F.sum("o_totalprice"), 2).alias("bal"),
            F.max("o_orderdate").cast("timestamp").alias("ts"),
        )
        dim = scd2_apply(dim, upd, "c_custkey", ["bal"], "ts")
    return dim
