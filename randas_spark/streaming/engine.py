"""Streaming transformation builders + stream-session helpers.

Builders (work on batch AND streaming DataFrames — identical plan shape):

- tumbling_counts / sliding_counts — F.window aggregations
- session_agg — F.session_window gap sessions
- dedup_within_watermark — streaming duplicate drop (stream-only effect)
- running_user_state — applyInPandasWithState custom stateful operator

Stream helpers build a file-source readStream over the events parquet and
run it to completion synchronously with a memory sink
(processAllAvailable) — the local smoke path; on a cluster the same
builders sit behind kafka sources and checkpointed sinks.

Watermark semantics at scale: the watermark bounds state size — without
it, windowed state grows unboundedly; with `withWatermark(ts, D)` Spark
evicts windows older than max(event time) - D on every trigger. The
events fixture spans ~30 days, so tests use generous watermarks.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


# -- transformation builders (batch + streaming) ---------------------------


def tumbling_counts(events: DataFrame, width: str = "1 hour", watermark: str | None = None) -> DataFrame:
    """Tumbling-window counts/sums per event_type.

    Scale: pre-shuffle partial aggregation applies (window key is derived
    per-row); state per (window, type) only — watermark evicts old windows.
    """
    e = events.withWatermark("ts", watermark) if watermark else events
    return (
        e.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def topk_types_per_window(counts: DataFrame, k: int = 3) -> DataFrame:
    """Finishing transform over tumbling_counts output: the top-k event
    types per window by count (ties broken by event_type, rank 1-based).

    Rank-over-aggregate is not append-mode legal in Structured Streaming
    (the rank of a window's types can change until the window closes), so
    on a stream this runs as the per-snapshot finisher — over the
    complete/update sink or inside foreachBatch after the watermark
    finalizes each window; on batch it composes directly. Either way the
    heavy lifting (per-type counting) stays in the map-side-combinable
    windowed aggregation; the rank touches only |windows| x |types| rows.
    """
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def sliding_counts(
    events: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding-window counts — each row lands in width/slide windows."""
    e = events.withWatermark("ts", watermark) if watermark else events
    return (
        e.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_agg(
    events: DataFrame, gap: str = "30 minutes", watermark: str | None = None
) -> DataFrame:
    """Gap-based session windows per user (session_window merges events
    closer than `gap`; end = last event + gap). The built-in streaming
    twin of the batch lag/cumsum sessionization (rel_sessionize)."""
    e = events.withWatermark("ts", watermark) if watermark else events
    return (
        e.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming duplicate drop keyed on event_id: state holds ids only
    within the watermark horizon (bounded state — the whole point vs plain
    dropDuplicates on a stream)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


_STATE_SCHEMA = "n long, total double"
_OUT_SCHEMA = "user_id long, n_events long, total_value double"


def _running_user_state(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful kernel: per-user running event count + value sum,
    emitting the updated totals once per trigger."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})


def running_user_state(events: DataFrame) -> DataFrame:
    """applyInPandasWithState: arbitrary per-key state machine — the
    escape hatch for operators watermarked windows can't express
    (counters, ML feature decay, CDC merge...). Arrow-batched per group."""
    return events.groupBy("user_id").applyInPandasWithState(
        _running_user_state,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_CDC_STATE_SCHEMA = (
    "cur_us long, cur_event_id long, cur_value double, cur_deleted long, "
    "n_applied long, n_stale long, n_deleted long"
)
_CDC_OUT_SCHEMA = (
    "user_id long, n_updates long, n_applied long, n_stale long, "
    "n_deleted long, is_deleted boolean, final_us long, final_value double"
)

#: Event type treated as the CDC tombstone/delete marker.
_CDC_DELETE_TYPE = "error"


def _cdc_state(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful kernel #5: CDC last-writer-wins materialization
    with out-of-order tolerance AND tombstones. Updates arrive in
    INGESTION order (event_id) carrying an event-time version (ts); an
    update applies iff its version strictly exceeds the current one,
    otherwise it is counted stale and dropped — the merge discipline
    every CDC sink (upsert materialization, dimension mirroring) needs
    under replay and shuffle-induced disorder. An applied DELETE marker
    (event_type == 'error' here) clears the materialized value while
    still advancing the version — so a stale pre-delete update can
    never resurrect a deleted row, the classic tombstone race. Per-key
    state is SEVEN scalars regardless of update volume. Emits the
    current materialized row once per trigger (update mode)."""
    cur_us, cur_id, cur_val, cur_del, n_applied, n_stale, n_deleted = (
        state.get if state.exists else (None, None, None, 0, 0, 0, 0)
    )
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values("event_id")
        ts_us_arr = pdf["ts"].astype("int64").to_numpy() // 1000
        ev_arr = pdf["event_id"].to_numpy()
        val_arr = pdf["value"].to_numpy()
        et_arr = pdf["event_type"].to_numpy()
        for ev, ts_us, val, et in zip(ev_arr, ts_us_arr, val_arr, et_arr):
            ts_us = int(ts_us)
            if cur_us is None or ts_us > cur_us:
                cur_us, cur_id = ts_us, int(ev)
                if et == _CDC_DELETE_TYPE:
                    cur_val, cur_del = None, 1
                    n_deleted += 1
                else:
                    cur_val, cur_del = float(val), 0
                n_applied += 1
            else:
                n_stale += 1
    state.update((cur_us, cur_id, cur_val, cur_del, n_applied, n_stale, n_deleted))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_updates": [n_applied + n_stale],
            "n_applied": [n_applied],
            "n_stale": [n_stale],
            "n_deleted": [n_deleted],
            "is_deleted": [bool(cur_del)],
            "final_us": [cur_us],
            "final_value": [cur_val],
        }
    )


def cdc_apply_state(updates: DataFrame) -> DataFrame:
    """applyInPandasWithState CDC merge: one materialized row per key,
    maintained under out-of-order arrivals and tombstones. Cross-trigger
    correctness holds when triggers respect per-key ingestion order
    (file replay in tests; a kafka source partitioned by key keeps
    it)."""
    return updates.select(
        "user_id", "event_id", "ts", "event_type", "value"
    ).groupBy("user_id").applyInPandasWithState(
        _cdc_state,
        outputStructType=_CDC_OUT_SCHEMA,
        stateStructType=_CDC_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_ATTR_STATE_SCHEMA = "touch_id long, touch_us long"
_ATTR_OUT_SCHEMA = "user_id long, purchase_event_id long, touch_event_id long, mins_since_touch double"
_ATTR_LOOKBACK_US = 259_200_000_000  # 72 h, matching rel_attribution_last_touch


def _attribution_state(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    *,
    evict: bool = False,
) -> Iterator[pd.DataFrame]:
    """Custom stateful kernel #2: streaming last-touch attribution. The
    per-user state is ONE (touch_id, touch_us) pair — each trigger
    walks the user's rows in (ts, event_id) order, updating the carried
    touch on click/view and emitting an attributed row per purchase.
    Bounded state by construction (two longs per user, no history).

    TTL eviction (``evict=True``, EventTimeTimeout mode via
    attribution_state(watermark=...)): a carried touch is SEMANTICALLY
    DEAD once the user has been idle past the 72 h lookback — any later
    purchase fails ``ts - touch_us <= _ATTR_LOOKBACK_US`` and emits the
    unattributed (None, None) row, which is exactly what a purchase
    against REMOVED state emits too. Dropping the state at
    touch + 72 h therefore changes NO emitted row (the funnel kernel's
    emission-identity argument) while shrinking live state from every
    user ever seen to users ACTIVE within the horizon."""
    if state.hasTimedOut:
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": pd.Series([], dtype="int64"),
                "purchase_event_id": pd.Series([], dtype="int64"),
                "touch_event_id": pd.Series([], dtype="int64"),
                "mins_since_touch": pd.Series([], dtype="float64"),
            }
        )
        return
    touch_id, touch_us = state.get if state.exists else (None, None)
    out_rows = []
    # Materialize ALL Arrow chunks before sorting: applyInPandasWithState
    # delivers a group's trigger rows as multiple ~10k-row batches with no
    # global order, so sorting each chunk independently would walk events
    # out of (ts, event_id) order whenever a user spans chunks.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        # vectorize the ns->us conversion once and walk plain arrays —
        # iterrows would build a Series per EVENT in this per-trigger
        # hot loop (~10x slower than itertuples/ndarray iteration)
        ts_us_arr = pdf["ts"].astype("int64").to_numpy() // 1000
        ev_arr = pdf["event_id"].to_numpy()
        et_arr = pdf["event_type"].to_numpy()
        for et, ev, ts_us in zip(et_arr, ev_arr, ts_us_arr):
            ts_us = int(ts_us)
            if et == "purchase":
                if touch_us is not None and ts_us - touch_us <= _ATTR_LOOKBACK_US:
                    out_rows.append(
                        (key[0], int(ev), touch_id, (ts_us - touch_us) / 60_000_000.0)
                    )
                else:
                    out_rows.append((key[0], int(ev), None, None))
            elif et in ("click", "view"):
                touch_id, touch_us = int(ev), ts_us
    if evict and touch_us is None:
        # purchase-only users carry no touch: (None, None) state is
        # emission-identical to NO state (a purchase against either
        # emits the unattributed row), so drop it rather than pinning
        # an idle key in the store forever — without this, the "live
        # state shrinks to users ACTIVE within the horizon" bound fails
        # for the purchase-only class of keys
        if state.exists:
            state.remove()
    else:
        state.update((touch_id, touch_us))
        if evict:
            # schedule eviction at touch + lookback; clamp to watermark+1
            # (evicting later than semantically needed is always safe —
            # the identity argument only requires >= the lookback horizon)
            state.setTimeoutTimestamp(
                max(
                    touch_us // 1000 + _ATTR_LOOKBACK_US // 1000,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
    yield pd.DataFrame(
        out_rows, columns=["user_id", "purchase_event_id", "touch_event_id", "mins_since_touch"]
    )


def attribution_state(events: DataFrame, watermark: str | None = None) -> DataFrame:
    """Streaming last-touch attribution via applyInPandasWithState —
    the streaming twin of the batch carry-forward window
    (queries/pipeline.rel_attribution_last_touch): per-user state is a
    single carried touch, so attribution streams with O(1) state per
    user where the window formulation needs the whole history in a
    batch. Second kernel on the custom-state API (running_user_state is
    the first), showing the escape hatch generalizes. Within-trigger
    rows are walked in (ts, event_id) order; cross-trigger correctness
    holds when triggers respect event-time order per key (file replay
    here; a kafka source partitioned by user keeps per-key order).

    With ``watermark`` set, the kernel runs under EventTimeTimeout and
    evicts a user's two-long state once the watermark passes their last
    touch + the 72 h lookback — provably emission-identical (kernel
    docstring) while bounding state to active users; the mode is passed
    into the kernel explicitly (the funnel kernel's discipline). Leave
    None for exact batch-replay comparisons."""
    import functools

    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    kernel = functools.partial(_attribution_state, evict=watermark is not None)
    return events.select("user_id", "event_id", "ts", "event_type").groupBy(
        "user_id"
    ).applyInPandasWithState(
        kernel,
        outputStructType=_ATTR_OUT_SCHEMA,
        stateStructType=_ATTR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if watermark is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


_FUNNEL_STATE_SCHEMA = (
    "lv_us long, lv_id long, qc_us long, qc_id long, qv_us long, qv_id long"
)
_FUNNEL_OUT_SCHEMA = (
    "user_id long, purchase_event_id long, click_event_id long, "
    "view_event_id long, funnel_secs double"
)
_FUNNEL_STEP_US = 86_400_000_000  # 24 h per step, matching the batch twin


def _funnel_state(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    *,
    evict: bool = False,
) -> Iterator[pd.DataFrame]:
    """Custom stateful kernel #4: streaming CEP funnel detection
    (view → click → purchase, each step within 24 h of the previous,
    non-consuming last-touch chaining). Per-user state is SIX longs —
    the last view (ts, id) and the last QUALIFIED click (ts, id) with
    its linked view (ts, id) — regardless of event volume: the O(1)
    state that makes pattern matching stream at 100 TB where a
    MATCH_RECOGNIZE backtracking engine would buffer the row history.
    Emits one row per purchase that completes the chain.

    TTL eviction (EventTimeTimeout mode, via funnel_state(watermark=...)):
    the 24 h step bound makes a user's state SEMANTICALLY DEAD once the
    user has been idle past it — every stored timestamp is <= the user's
    last event, so any future click/purchase arriving > 24 h later fails
    its `ts - prev <= _FUNNEL_STEP_US` check against ALL stored values
    regardless. Dropping the state at last_event + 24 h therefore changes
    NO emitted row, and bounds live state to users ACTIVE within the
    horizon instead of every user ever seen — the difference between
    O(active) and O(lifetime-distinct) state at 100 TB."""
    if state.hasTimedOut:
        # idle past the step horizon: no stored chain can ever qualify
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": pd.Series([], dtype="int64"),
                "purchase_event_id": pd.Series([], dtype="int64"),
                "click_event_id": pd.Series([], dtype="int64"),
                "view_event_id": pd.Series([], dtype="int64"),
                "funnel_secs": pd.Series([], dtype="float64"),
            }
        )
        return
    lv_us, lv_id, qc_us, qc_id, qv_us, qv_id = (
        state.get if state.exists else (None, None, None, None, None, None)
    )
    out_rows = []
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        # materialize ALL Arrow chunks before the one sort (chunk order
        # carries no global order — the _attribution_state discipline)
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        ts_us_arr = pdf["ts"].astype("int64").to_numpy() // 1000
        ev_arr = pdf["event_id"].to_numpy()
        et_arr = pdf["event_type"].to_numpy()
        for et, ev, ts_us in zip(et_arr, ev_arr, ts_us_arr):
            ts_us = int(ts_us)
            if et == "view":
                lv_us, lv_id = ts_us, int(ev)
            elif et == "click":
                if lv_us is not None and ts_us - lv_us <= _FUNNEL_STEP_US:
                    qc_us, qc_id, qv_us, qv_id = ts_us, int(ev), lv_us, lv_id
            elif et == "purchase":
                if qc_us is not None and ts_us - qc_us <= _FUNNEL_STEP_US:
                    out_rows.append(
                        (
                            key[0],
                            int(ev),
                            qc_id,
                            qv_id,
                            (ts_us - qv_us) / 1_000_000.0,
                        )
                    )
    state.update((lv_us, lv_id, qc_us, qc_id, qv_us, qv_id))
    if evict:
        # EventTimeTimeout mode (watermarked input): schedule eviction at
        # last-event + step horizon. max() over stored ts because chunks
        # within one trigger were sorted, but a prior trigger's state may
        # already carry the latest timestamp if this batch is all-stale.
        last_us = max(v for v in (lv_us, qc_us, 0) if v is not None)
        if chunks:
            last_us = max(last_us, int(ts_us_arr[-1]))
        if last_us > 0:
            # clamp to watermark+1: a batch of very-late events could put
            # last_event + horizon behind the watermark, which Spark
            # rejects; evicting LATER than semantically needed is always
            # emission-safe (the eviction argument only needs >= horizon)
            state.setTimeoutTimestamp(
                max(
                    last_us // 1000 + _FUNNEL_STEP_US // 1000,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
    yield pd.DataFrame(
        out_rows,
        columns=[
            "user_id",
            "purchase_event_id",
            "click_event_id",
            "view_event_id",
            "funnel_secs",
        ],
    )


def funnel_state(events: DataFrame, watermark: str | None = None) -> DataFrame:
    """Streaming view→click→purchase funnel detection via
    applyInPandasWithState — the streaming twin of the two-pass window
    formulation (queries/streaming_q.stream_pattern_funnel). Fourth
    custom-state kernel (after running totals, attribution, and CUSUM): shows
    the API covers CEP-style sequence patterns with constant state.
    Cross-trigger correctness holds when triggers respect event-time
    order per key (file replay here; a kafka source partitioned by user
    keeps per-key order).

    With ``watermark`` set, the kernel runs under EventTimeTimeout and
    EVICTS a user's six-long state once the watermark passes their last
    event + the 24 h step horizon — provably emission-identical (see
    _funnel_state docstring) while bounding state to active users. Leave
    None for the NoTimeout twin (exact batch-replay comparisons)."""
    import functools

    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    # The eviction mode is passed into the kernel EXPLICITLY (ADVICE r7):
    # it used to be inferred from GroupState._timeout_conf, a pyspark-
    # private attribute whose rename would silently disable TTL eviction
    # (unbounded state, no error). With the explicit flag, a mismatch
    # fails loudly instead: setTimeoutTimestamp raises outside
    # EventTimeTimeout mode.
    kernel = functools.partial(_funnel_state, evict=watermark is not None)
    return events.select(
        "user_id", "event_id", "ts", "event_type"
    ).groupBy("user_id").applyInPandasWithState(
        kernel,
        outputStructType=_FUNNEL_OUT_SCHEMA,
        stateStructType=_FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if watermark is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def segment_hourly_activity(
    events: DataFrame, customers: DataFrame, watermark: str | None = None
) -> DataFrame:
    """Stream-static join: enrich the event stream with a slowly-changing
    dimension (customer market segment), then window-aggregate.

    Scale: the static side is broadcast, so each micro-batch joins
    map-side with NO shuffle of the stream and no join state at all —
    the canonical enrichment shape (vs stream-stream, which must hold
    state). The dimension is re-resolved per batch, so dim updates are
    picked up without restarting the query. ``watermark`` bounds the
    window state like every sibling builder (one state row per
    (hour, segment) is held FOREVER without it — pass it on any
    long-running stream; None keeps batch-frame compatibility).
    """
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    dim = F.broadcast(customers.select("c_custkey", "c_mktsegment"))
    return (
        events.join(dim, events.user_id == F.col("c_custkey"), "inner")
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("c_mktsegment").alias("segment"),
            "n_events",
            "sum_value",
        )
    )


def _interval_pairs(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str,
    how: str,
    watermark: str | None = None,
) -> DataFrame:
    """The click x purchase interval join every attribution form runs:
    clicks as (click_id, click_user, click_ts), purchases as
    (purchase_id, purchase_user, purchase_ts), joined ``how`` on the
    same user with click_ts <= purchase_ts < click_ts + ``horizon``.
    ``watermark``, when given, is set on both event-time columns before
    the join — the bound that lets a stream evict join state."""
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("purchase_user"),
        F.col("ts").alias("purchase_ts"),
    )
    if watermark:
        c = c.withWatermark("click_ts", watermark)
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") < F.col("click_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return c.join(p, cond, how)


def _pair_cols() -> list:
    """(click_id, purchase_id, user_id, lag_us) over joined pairs. The
    user_id coalesce is a no-op where the click side is present (inner,
    leftOuter) and supplies the orphan-purchase id in fullOuter."""
    return [
        "click_id",
        "purchase_id",
        F.coalesce(F.col("click_user"), F.col("purchase_user")).alias("user_id"),
        (F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("click_ts"))).alias(
            "lag_us"
        ),
    ]


def click_purchase_conversions(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval self-join: purchases attributed to a click
    by the same user within ``horizon`` after the click.

    Scale: both sides shuffle on user_id; the event-time range condition
    plus watermarks lets Spark BOUND the join state — each side evicts
    rows older than watermark + horizon, so state is O(arrival rate ×
    horizon), not O(stream length). Without the time bound a
    stream-stream join would hold both streams forever.

    ``how="leftOuter"`` additionally emits unconverted clicks with null
    purchase columns — but on a STREAM only once the watermark passes
    click_ts + horizon (before that a matching purchase could still
    arrive). Matched rows emit immediately; the null rows are the
    watermark-gated tail — the semantics tests/test_streaming.py pins.
    ``how="fullOuter"`` completes the matrix: orphan purchases (no click
    within the preceding horizon) also emit, with null click columns,
    once the watermark passes their own eviction point — user_id is
    coalesced from whichever side is present.

    Output-volume bound (VERDICT r7 watch item): while STATE is
    O(rate × horizon) for every ``how``, the MATCHED-pair count grows
    with the per-user in-horizon event density SQUARED — a user with c
    clicks and p purchases inside one horizon emits up to c×p pairs
    (the measured 6.0× slope at 10× data is exactly this: the scaled
    corpus densifies users). Production watermarks bound state but NOT
    that emission blow-up; when a density-skewed key is possible, use
    :func:`click_purchase_first_touch` — ≤ 1 matched row per click, so
    output is O(clicks + purchases) regardless of density.
    """
    return _interval_pairs(clicks, purchases, horizon, how, watermark).select(
        *_pair_cols()
    )


def click_purchase_first_touch(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
) -> DataFrame:
    """Pair-capped FULL OUTER interval join: each click matches at most
    its EARLIEST qualifying purchase (ties by purchase_id), unmatched
    clicks and orphan purchases still emit with nulls — the
    density-safe form of ``click_purchase_conversions(how='fullOuter')``.

    Scale rationale (VERDICT r7): the uncapped join emits c×p pairs for
    a user with c clicks and p purchases inside one horizon — quadratic
    in per-user density, the only superlinear slope in the r7 bench. The
    cap makes output O(clicks + purchases) by construction.

    Coverage contract (precise): every CLICK emits exactly once (with
    its earliest qualifying purchase, or with nulls if none), and every
    purchase with NO qualifying click emits as an orphan — but a
    purchase that qualified for some click without being anyone's
    first touch is DROPPED, not null-rowed; that drop IS the cap. Use
    the uncapped form when every matched pair matters.

    Plan: ONE full-outer interval join (shuffle on user_id), then a
    row_number window partitioned by the composite key
    ``(click_id IS NULL, coalesce(click_id, purchase_id))`` — orphan
    purchases get a unique synthetic key each, so there is no null-key
    skew partition, and the cap costs one additional shuffle on a key
    that is unique-per-output-row (perfectly spread). The boolean arm
    keeps click keys and orphan-purchase keys in DISJOINT spaces
    regardless of the id domain (the earlier ``coalesce(click_id,
    -purchase_id)`` form collided when ids could be 0 or signed,
    merging a click's partition with an orphan's and letting the rn=1
    cap drop a real row).

    Streaming deployment note: row_number isn't stream-executable; on a
    live stream the same cap is the append-mode interval join followed by
    ``dropDuplicatesWithinWatermark('click_id')`` — at most one match per
    click with O(rate × horizon) dedup state, picking the first EMITTED
    qualifying purchase (trigger-order dependent among in-horizon
    candidates, which a cap — whose job is bounding volume, not choosing
    a canonical winner — tolerates). This batch form is the exact,
    oracle-checkable twin that pins earliest-by-event-time semantics.
    """
    j = _interval_pairs(clicks, purchases, horizon, "fullOuter")
    part = F.struct(
        F.col("click_id").isNull().alias("is_orphan"),
        F.coalesce(F.col("click_id"), F.col("purchase_id")).alias("key_id"),
    )
    w = Window.partitionBy(part).orderBy(
        F.col("purchase_ts").asc_nulls_last(), F.col("purchase_id").asc_nulls_last()
    )
    return (
        j.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select(*_pair_cols())
    )


def first_touch_drop_audit(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
) -> DataFrame:
    """Loss accounting for :func:`click_purchase_first_touch` (VERDICT
    r8 order #6): the cap's coverage contract DROPS matched-but-not-first
    purchase pairs, and this audit makes that loss a number instead of a
    docstring. One row:

    - ``n_pairs_uncapped``    — matched pairs the uncapped join emits
    - ``n_pairs_capped``      — matched rows the capped join emits
      (= clicks with >= 1 qualifying purchase; each emits exactly once)
    - ``n_pairs_dropped``     — the cap's row loss (uncapped - capped)
    - ``n_purchases_dropped`` — qualifying purchases that appear in NO
      capped output row (matched somewhere, first-touch nowhere)

    Invariant by construction: capped + dropped = uncapped (a pytest
    asserts it against the two real join outputs on the fixture). Plan:
    the SAME inner interval join as the uncapped form (shuffle on
    user_id), one first-touch window, one global aggregate — null rows
    never enter, so the audit costs strictly less than the uncapped
    join it accounts for."""
    pairs = _interval_pairs(clicks, purchases, horizon, "inner").select(
        "click_id", "purchase_id", "purchase_ts"
    )
    w = Window.partitionBy("click_id").orderBy(
        F.col("purchase_ts").asc(), F.col("purchase_id").asc()
    )
    ranked = pairs.withColumn("__rn__", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_pairs_uncapped"),
        F.sum((F.col("__rn__") == 1).cast("long")).alias("n_pairs_capped"),
        (
            F.count(F.lit(1))
            - F.sum((F.col("__rn__") == 1).cast("long"))
        ).alias("n_pairs_dropped"),
        (
            F.count_distinct(F.col("purchase_id"))
            - F.count_distinct(F.when(F.col("__rn__") == 1, F.col("purchase_id")))
        ).alias("n_purchases_dropped"),
    )


# -- stream session helpers ------------------------------------------------


def events_stream(spark: SparkSession, sf_dir: str, files_per_trigger: int = 1):
    """File-source stream replaying the events table.

    The ts conversion mirrors queries.t's footer-driven branch (nanos-as-
    long legacy testdata vs native timestamp[us]) so replay-equivalence
    with the batch loader is exact. The file is staged into a temp dir
    because file sources watch directories.
    """
    from randas_spark.session import events_ts_is_nanos, read_parquet

    src = os.path.join(sf_dir, "events.parquet")
    nanos = events_ts_is_nanos(src)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true" if nanos else "false")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # same load-bearing pin as queries.t(): the NTZ->LTZ ts cast below
    # happens in the SESSION timezone — an unpinned non-UTC session
    # would shift windows/watermarks off the batch oracle
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stage = tempfile.mkdtemp(prefix="events_stream_")
    if os.path.isdir(src):
        # directory-layout generation (part files) — the same layout the
        # batch loader's footer probe supports
        for name in os.listdir(src):
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                shutil.copy(os.path.join(src, name), stage)
    else:
        shutil.copy(src, stage)
    raw_schema = read_parquet(spark, src).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(stage)
    )
    if nanos:
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream, stage


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a streaming query to completion against a memory sink and
    return the result table (local smoke path)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return name


def _drain_foreach_batch(
    stream_df: DataFrame, sink, checkpoint: str, output_mode: str = "append"
) -> None:
    """Run ``stream_df`` through ``foreachBatch(sink)`` with its offsets
    in ``checkpoint``, process everything available, then stop the
    query (also when a batch fails) — shared by every durable
    foreachBatch sink below."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_foreach_batch_to_parquet(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    output_mode: str = "update",
    transform=None,
):
    """Drive a streaming query through foreachBatch into parquet, with a
    checkpoint dir — the durable-sink path (SURVEY.md §7.2 M5).

    foreachBatch hands each micro-batch to ordinary batch code (so any
    batch sink/merge logic works — upserts, dedup against the target,
    multi-sink fanout); the checkpoint records stream offsets so a
    restarted query resumes exactly-once from the last committed batch.
    Each batch lands as parquet partitioned by batch id, letting the
    oracle replay per-batch emissions.
    """
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        out.write.mode("append").parquet(os.path.join(out_path, f"batch={batch_id}"))

    _drain_foreach_batch(stream_df, sink, checkpoint, output_mode)
    return out_path


def dedup_ingest_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    store_path: str,
    checkpoint: str,
):
    """Incremental corpus ingestion with exact dedup against everything
    already ingested: each micro-batch drops rows whose normalized-md5
    fingerprint (operators/dedup, same normalization as exact_dedup)
    matches the store OR repeats within the batch, then appends the
    survivors to the store.

    This is the streaming form of the batch two-stage dedup pipeline —
    the anti-join against the store replaces re-deduplicating the whole
    corpus per batch, so ingest cost is O(batch × store-index), not
    O(corpus²). At scale the store side is a parquet table partitioned
    by fingerprint prefix, so the anti join prunes to matching buckets;
    the checkpoint makes a restart resume exactly after the last
    committed append.
    """
    from randas_spark.functions.text import fingerprint

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch = (
            batch_df.withColumn("fp", fingerprint(F.col(text_col)))
            # in-batch dedup first: keep the smallest id per fingerprint
            .withColumn(
                "__rn__",
                F.row_number().over(Window.partitionBy("fp").orderBy(F.col(id_col))),
            )
            .filter(F.col("__rn__") == 1)
            .drop("__rn__")
        )
        # EXPLICIT first-batch detection, not a bare except: a store
        # read that fails for any other reason (permissions, torn
        # files, concurrent compaction) must FAIL the batch — silently
        # skipping the anti-join would re-append previously-ingested
        # fingerprints and break the dedup invariant with no signal.
        if os.path.exists(store_path):
            # plain inference: the store gains files every batch, and a torn one must fail here
            store = batch_df.sparkSession.read.parquet(store_path)
            fresh = batch.join(store.select("fp"), "fp", "left_anti")
        else:
            fresh = batch
        fresh.write.mode("append").parquet(store_path)

    _drain_foreach_batch(stream_df, sink, checkpoint)
    return store_path


def ivf_ingest_stream(
    stream_df: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    checkpoint: str,
):
    """Streaming ANN ingestion: each micro-batch of new vectors is
    assigned against the PERSISTED IVF centroids and rename-committed as
    its own cell-partitioned batch dir (operators/similarity.
    ivf_commit_stream_batch — idempotent under foreachBatch's
    at-least-once redelivery, so restart replays converge to one copy).
    knn_ivf_query serves base + committed batches immediately; no re-fit
    ever runs on the ingest path, so per-batch cost is O(batch ×
    broadcast centroids) — the streaming form of ivf_append_batch and
    the last member of the incremental-ingestion family (exact-dedup
    ledger, near-dup ledger, packing ledger, batch index append, now
    continuous index ingest)."""
    from randas_spark.operators.similarity import ivf_commit_stream_batch

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ivf_commit_stream_batch(batch_df, id_col, vec_col, index_dir, batch_id)

    _drain_foreach_batch(stream_df, sink, checkpoint)
    return index_dir


def ann_serve_stream(
    stream_df: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    out_path: str,
    checkpoint: str,
    n_probe: int = 4,
    top_k: int = 10,
):
    """Streamed ANN SERVING — the symmetric half of ivf_ingest_stream:
    there the corpus streams in and queries are batch, here the QUERIES
    stream in (a live feed needing nearest-corpus enrichment) and the
    persisted index serves each micro-batch. Per batch: broadcast the
    persisted centroid table, probe, score only the probed cell
    partitions (knn_ivf_query — the identical plan the batch twin
    runs), and rename-commit the batch's results to its own dir, so
    at-least-once redelivery converges to one copy. Per-row results
    are a pure function of (query row, index), so batch boundaries are
    invisible in the union of outputs — the batch==stream invariant the
    parity test pins.

    Scale: each micro-batch pays probes x batch — no state, no
    watermark, no cross-batch shuffle; the index side is the
    partition-pruned scan at any corpus size."""
    import os
    import shutil

    from randas_spark.operators.similarity import knn_ivf_query

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        target = os.path.join(out_path, f"b{int(batch_id):06d}")
        if os.path.exists(target):
            return  # redelivered batch — already committed
        res = knn_ivf_query(
            batch_df, id_col, vec_col, index_dir, n_probe=n_probe, top_k=top_k
        )
        tmp = target + ".__tmp__"
        shutil.rmtree(tmp, ignore_errors=True)
        res.write.mode("overwrite").parquet(tmp)
        os.rename(tmp, target)

    _drain_foreach_batch(stream_df, sink, checkpoint)
    return out_path


def idempotent_batch_sink(
    stream_df: DataFrame,
    store_path: str,
    checkpoint: str,
    key_col: str = "event_id",
):
    """Exactly-once-shaped durable sink: foreachBatch writer whose effect
    is IDEMPOTENT per (batch_id, key) — the missing half of streaming
    exactly-once. The checkpoint already makes offsets resume correctly,
    but foreachBatch is at-least-once: after a crash between the batch
    write and the offset commit, the SAME batch_id is redelivered and a
    plain append would duplicate it. Here each batch stamps its rows
    with batch_id, anti-joins against the store's SAME-batch partition
    (dedup-on-write keyed by (batch_id, key) — the operators/merge
    upsert shape specialized to the redelivery case), and appends only
    the unseen keys, so replaying a batch any number of times converges
    to one copy.

    Scale: the store is partitioned BY batch_id, so the anti-join's
    store side prunes to exactly one partition directory (the batch
    being retried) — never a scan of the accumulated table; the common
    no-retry case reads an empty directory listing.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        out = batch_df.withColumn("batch_id", F.lit(int(batch_id)))
        # explicit first-batch detection (see dedup_ingest_stream): any
        # OTHER store-read failure must fail the batch — a swallowed
        # error here silently disables the redelivery dedup this sink
        # exists for.
        if os.path.exists(store_path):
            # plain inference, as in dedup_ingest_stream's store read
            existing = (
                spark.read.parquet(store_path)
                .filter(F.col("batch_id") == int(batch_id))
                .select(key_col)
            )
            fresh = out.join(existing, key_col, "left_anti")
        else:
            fresh = out
        fresh.write.mode("append").partitionBy("batch_id").parquet(store_path)

    _drain_foreach_batch(stream_df, sink, checkpoint)
    return store_path, sink


_CUSUM_STATE_SCHEMA = "cur_hour_us long, hour_sum double, cp double, cn double"
_CUSUM_OUT_SCHEMA = "event_type string, h timestamp, s_pos double, s_neg double"
_HOUR_US = 3_600_000_000


def cusum_alert_state(
    events: DataFrame,
    params: dict,
    k: float = 0.5,
    h_threshold: float = 4.0,
) -> DataFrame:
    """Custom stateful kernel #3: streaming CUSUM level-shift alerts
    (Page's test) per event type. ``params`` maps event_type → (mu, sd)
    fitted OFFLINE on a reference period — the production monitoring
    shape: the baseline is frozen, the detector streams. Per-type state
    is four numbers (open hour, its running sum, S⁺, S⁻): when an hour
    closes (a later-hour event arrives), its standardized total updates
    the recursions S⁺ = max(0, S⁺ + z − k), S⁻ = max(0, S⁻ − z − k) and
    an alert row is emitted if either exceeds the threshold — the
    streaming twin of rel_cusum_changepoints' window identity (pytest
    replays both over the same events and asserts equal alerts on all
    closed hours). Bounded state by construction; hours with no events
    are skipped, matching the batch twin's hours-present-only series.
    Within-trigger rows are walked in (ts, event_id) order; cross-
    trigger correctness assumes per-key event-time order across
    triggers (file replay here; a kafka source partitioned by type
    keeps it)."""

    def kernel(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        et = key[0]
        if et not in params:
            # unmodeled type: no baseline was fitted, so there is no
            # z-score to compute — drain and emit nothing rather than
            # scoring raw sums against a default (0, 1) baseline, which
            # would alert on EVERY closed hour of any type absent from
            # the reference period
            for _ in pdfs:
                pass
            yield pd.DataFrame(
                [], columns=["event_type", "h", "s_pos", "s_neg"]
            )
            return
        mu, sd = params[et]
        cur_hour, hour_sum, cp, cn = (
            state.get if state.exists else (None, 0.0, 0.0, 0.0)
        )
        out = []

        def close_hour():
            nonlocal cp, cn
            if sd <= 0.0:
                # degenerate baseline (constant reference series): z is
                # undefined — skip updates instead of crashing the whole
                # streaming query with a ZeroDivisionError; mirrors the
                # batch twin, where x/0.0 yields null rows that the
                # alert filter drops
                return
            z = (hour_sum - mu) / sd
            cp = max(0.0, cp + z - k)
            cn = max(0.0, cn - z - k)
            if cp > h_threshold or cn > h_threshold:
                out.append((et, pd.Timestamp(cur_hour * 1000, unit="ns"), cp, cn))

        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
            ts_us = pdf["ts"].astype("int64").to_numpy() // 1000
            vals = pdf["value"].to_numpy()
            for t_us, v in zip(ts_us, vals):
                hr = int(t_us) // _HOUR_US * _HOUR_US
                if cur_hour is None:
                    cur_hour, hour_sum = hr, 0.0
                elif hr != cur_hour:
                    close_hour()
                    cur_hour, hour_sum = hr, 0.0
                hour_sum += float(v)
        state.update((cur_hour, hour_sum, cp, cn))
        yield pd.DataFrame(out, columns=["event_type", "h", "s_pos", "s_neg"])

    return events.select("event_type", "event_id", "ts", "value").groupBy(
        "event_type"
    ).applyInPandasWithState(
        kernel,
        outputStructType=_CUSUM_OUT_SCHEMA,
        stateStructType=_CUSUM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def rollup_stream_states(df: DataFrame, group_col: str = "event_type", value_col: str = "value") -> DataFrame:
    """Streaming incremental view maintenance: the per-group scalar
    rollup (count / scaled-int sum / min / max) IS a streaming
    aggregation — every state is a commutative monoid (counts and exact
    integer sums add, min/max re-minimize), so complete/update mode
    holds the live view with O(groups) state however long the stream
    runs, and a batch rebuild reproduces it bit-for-bit. The batch IVM
    twin (rel_incremental_rollup) proves the same merge law across a
    base/delta split; this is the per-micro-batch version of that law.
    The sum runs over floor(value*1000+0.5) int64 cells so state
    restore order across triggers can never produce a float-order
    divergence from the batch twin."""
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.floor(F.col(value_col) * 1000 + F.lit(0.5)).cast("long")
        ).alias("s"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )


# -- custom stateful kernel #6: streaming sequence packing ------------------

_PACK_STATE_SCHEMA = "next_off long"
_PACK_OUT_SCHEMA = (
    "source string, doc_id long, pack_id long, doc_start long, "
    "seg_start long, seg_len long, pack_offset long"
)


def _pack_state(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    *,
    pack_len: int = 512,
) -> Iterator[pd.DataFrame]:
    """Custom stateful kernel #6: per-source streaming sequence packing.
    State is ONE long per source — the running token total (= the
    incremental-packing ledger scalar, here carried by the state store
    instead of a parquet ledger). Each trigger walks the source's new
    docs in doc_id order, emits their (doc, pack) segments continuing
    the source's pack stream, and advances the offset. Emission is a
    pure function of (carried offset, trigger docs), so batch==stream
    equivalence holds whenever triggers respect per-source doc order —
    exactly sequence_pack_by_group(interleave=False)'s contract, which
    the pytest pins."""
    off = int(state.get[0]) if state.exists else 0
    rows = []
    chunks = [p for p in pdfs if len(p)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values("doc_id")
        L = pack_len
        for doc, n in zip(pdf["doc_id"].to_numpy(), pdf["n_tok"].to_numpy()):
            n = int(n)
            if n <= 0:
                continue
            for p in range(off // L, (off + n - 1) // L + 1):
                g0, g1 = max(off, p * L), min(off + n, (p + 1) * L)
                rows.append((key[0], int(doc), p, off, g0 - off, g1 - g0, g0 - p * L))
            off += n
    state.update((off,))
    yield pd.DataFrame(
        rows,
        columns=[
            "source",
            "doc_id",
            "pack_id",
            "doc_start",
            "seg_start",
            "seg_len",
            "pack_offset",
        ],
    )


def pack_stream(docs: DataFrame, pack_len: int = 512) -> DataFrame:
    """Streaming sequence packing via applyInPandasWithState — the
    streaming twin of operators/corpus.sequence_pack_by_group(
    interleave=False): per-source pack streams materialize as docs
    arrive, with O(1) state per source (one long). The batch form needs
    the whole corpus's prefix sums; the stream carries just the running
    total — the same shape win as the attribution kernel vs the
    carry-forward window. Input needs (source, doc_id, n_tok)."""
    import functools

    kernel = functools.partial(_pack_state, pack_len=pack_len)
    return (
        docs.select("source", "doc_id", "n_tok")
        .groupBy("source")
        .applyInPandasWithState(
            kernel,
            outputStructType=_PACK_OUT_SCHEMA,
            stateStructType=_PACK_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def scd2_ingest_stream(
    updates_stream: DataFrame,
    key: str,
    tracked: list,
    ts_col: str,
    dim_dir: str,
    checkpoint: str,
):
    """Streaming SCD2 dimension maintenance (VERDICT r10 order #6):
    each micro-batch of CDC updates is applied to the PERSISTED Type-2
    dimension through operators/merge.scd2_commit_stream_batch — a new
    immutable generation per batch, flipped live by one atomic marker
    replace, idempotent under foreachBatch's at-least-once redelivery
    via a per-epoch watermark. The epoch key is a NONCE persisted
    INSIDE the checkpoint dir (not a hash of the checkpoint path —
    ADVICE r11: a checkpoint deleted and recreated at the SAME path
    restarts batch ids at 0, and a path-keyed epoch would silently
    swallow them under the old watermark). The nonce lives and dies
    with the checkpoint: normal restart reuses it (redelivered ids
    still dedup), delete-and-restart regenerates it (fresh epoch, ids
    0.. apply). Closes the CDC loop:
    cdc_apply_state resolves event-time conflicts upstream,
    scd2_apply versions a batch, and this keeps the versioned dimension
    continuously materialized — the Delta-MERGE-into-SCD2 streaming
    pattern without a table format."""
    import os
    import uuid

    from randas_spark.operators.merge import scd2_commit_stream_batch

    # Epoch nonce co-located with the checkpoint state: recreated
    # checkpoint dir => missing nonce => fresh epoch identity.
    os.makedirs(checkpoint, exist_ok=True)
    nonce_path = os.path.join(checkpoint, "_RANDAS_SCD2_EPOCH")
    try:
        with open(nonce_path) as fh:
            epoch = fh.read().strip()
        if not epoch:
            raise ValueError
    except (OSError, ValueError):
        epoch = uuid.uuid4().hex[:12]
        tmp = nonce_path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(epoch + "\n")
        os.replace(tmp, nonce_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        scd2_commit_stream_batch(
            batch_df, key, tracked, ts_col, dim_dir, batch_id, epoch=epoch
        )

    _drain_foreach_batch(updates_stream, sink, checkpoint)
    return dim_dir
