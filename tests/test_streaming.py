"""Batch-stream equivalence for the M5 streaming layer (SURVEY.md §7.2).

The builders in randas_spark.streaming.engine are plan constructors that
work identically on batch and streaming DataFrames. The oracle harness
checks the batch side against DuckDB (queries/streaming_q.py); here we
replay the SAME builder over readStream into a memory sink and assert the
streaming result equals the batch result — closing the loop:
DuckDB oracle == batch plan == streaming plan.
"""

from __future__ import annotations

import os
import shutil

import pytest

from tests.conftest import SF_DIR


def _collect_sorted(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def batch_events(spark):
    from randas_spark.queries import t

    return t(spark, SF_DIR, "events").cache()


def _run_stream(
    spark, builder, name, output_mode="complete", copies=1, files_per_trigger=10, extra=None
):
    """Stage the events file (optionally duplicated, plus an ``extra``
    pyarrow table of events rows as one more file), run builder over
    readStream to completion, return the memory-sink table."""
    from randas_spark.streaming.engine import events_stream, run_to_memory

    stream, stage = events_stream(spark, SF_DIR, files_per_trigger=files_per_trigger)
    try:
        for i in range(1, copies):
            shutil.copy(
                os.path.join(SF_DIR, "events.parquet"),
                os.path.join(stage, f"copy{i}.parquet"),
            )
        if extra is not None:
            import pyarrow.parquet as papq

            papq.write_table(extra, os.path.join(stage, "extra.parquet"))
        run_to_memory(builder(stream), name, output_mode=output_mode)
        return spark.table(name).cache()
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def test_tumbling_batch_stream_equivalence(spark, batch_events):
    from randas_spark.streaming.engine import tumbling_counts

    batch = tumbling_counts(batch_events, width="1 hour")
    streamed = _run_stream(
        spark, lambda s: tumbling_counts(s, width="1 hour"), "t_tumbling"
    )
    assert _collect_sorted(streamed) == _collect_sorted(batch)


def test_sliding_batch_stream_equivalence(spark, batch_events):
    from randas_spark.streaming.engine import sliding_counts

    batch = sliding_counts(batch_events, width="10 minutes", slide="5 minutes")
    streamed = _run_stream(
        spark,
        lambda s: sliding_counts(s, width="10 minutes", slide="5 minutes"),
        "t_sliding",
    )
    assert _collect_sorted(streamed) == _collect_sorted(batch)


def test_topk_per_window_batch_stream_equivalence(spark, batch_events):
    """The counting stage streams (complete-mode snapshot); the rank
    finisher runs over the snapshot — must equal the pure-batch compose."""
    from randas_spark.streaming.engine import topk_types_per_window, tumbling_counts

    batch = topk_types_per_window(tumbling_counts(batch_events, width="1 hour"), k=3)
    counts_snapshot = _run_stream(
        spark, lambda s: tumbling_counts(s, width="1 hour"), "t_topk_counts"
    )
    streamed = topk_types_per_window(counts_snapshot, k=3)
    assert _collect_sorted(streamed) == _collect_sorted(batch)


def test_session_batch_stream_equivalence(spark, batch_events):
    from randas_spark.streaming.engine import session_agg

    batch = session_agg(batch_events, gap="30 minutes")
    streamed = _run_stream(
        spark, lambda s: session_agg(s, gap="30 minutes"), "t_session"
    )
    assert _collect_sorted(streamed) == _collect_sorted(batch)


def test_watermark_is_applied(spark):
    """withWatermark must appear in the streaming plan as an
    EventTimeWatermark node (state eviction — the 100TB unbounded-state
    guard). On batch plans Spark eliminates it, so check the stream plan."""
    from randas_spark.streaming.engine import events_stream, tumbling_counts

    stream, stage = events_stream(spark, SF_DIR)
    try:
        out = tumbling_counts(stream, width="1 hour", watermark="2 hours")
        plan = out._jdf.queryExecution().analyzed().toString()
        assert "EventTimeWatermark" in plan
        assert out.isStreaming
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def test_dedup_within_watermark_drops_replayed_file(spark, batch_events):
    """Feed the same events file twice in one trigger: every event_id is a
    duplicate → output must be exactly the distinct ids."""
    from randas_spark.streaming.engine import dedup_within_watermark

    n_distinct = batch_events.select("event_id").distinct().count()
    streamed = _run_stream(
        spark,
        lambda s: dedup_within_watermark(s, watermark="90 days"),
        "t_dedup",
        output_mode="append",
        copies=2,
    )
    assert streamed.count() == n_distinct
    assert streamed.select("event_id").distinct().count() == n_distinct


def test_watermark_bounds_state_and_emits_once(spark, tmp_path):
    """Watermarked append-mode aggregation, three files in staggered
    triggers (hour 2, then out-of-order hour 0, then hour 6). The
    GUARANTEED semantics (Spark may or may not drop late rows beyond the
    watermark, so we don't assert the drop):

    - each window is emitted exactly once, when the watermark passes its
      end — never revised;
    - window state is EVICTED as the watermark advances (numRowsRemoved
      fires, final open-state = 1 window) — the bounded-state property
      that makes streaming aggregation safe at 100TB ingest.
    """
    import time as _time
    from collections import Counter
    from datetime import datetime

    from randas_spark.streaming.engine import tumbling_counts

    stage = tmp_path / "late_stream"
    stage.mkdir()

    def write_file(name, ts, n):
        rows = [(i, ts, "x", 1.0) for i in range(n)]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )
        df.coalesce(1).write.parquet(str(stage / name))
        _time.sleep(1.1)  # file source orders by modification time

    write_file("a", datetime(2024, 1, 1, 2, 10), 10)   # current
    write_file("b", datetime(2024, 1, 1, 0, 5), 5)     # out-of-order
    write_file("c", datetime(2024, 1, 1, 6, 0), 1)     # pushes watermark past a

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage) + "/*")
    )
    agg = tumbling_counts(stream, width="1 hour", watermark="30 minutes")
    q = (
        agg.writeStream.outputMode("append").format("memory").queryName("t_late").start()
    )
    q.processAllAvailable()
    progress = list(q.recentProgress)
    q.stop()

    # emit-once: no window_start appears twice in the append output
    emitted = Counter(r.window_start for r in spark.table("t_late").collect())
    assert all(n == 1 for n in emitted.values()), emitted
    # the current window was finalized with exactly its own rows
    assert spark.table("t_late").filter(
        "window_start = timestamp '2024-01-01 02:00:00'"
    ).first().n_events == 10
    # watermark advanced and evicted finalized window state
    removed = sum(
        p["stateOperators"][0]["numRowsRemoved"]
        for p in progress
        if p["stateOperators"]
    )
    final_state = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progress
        if p["stateOperators"]
    ][-1]
    assert removed >= 2
    assert final_state == 1  # only the hour-6 window remains open


def _staggered_stream(spark, tmp_path, files):
    """Write (name, ts, n_rows, user_id) parquet files in order (file
    source triggers by modification time) and return a 1-file-per-trigger
    readStream over them."""
    import time as _time
    from datetime import datetime as _dt  # noqa: F401

    stage = tmp_path / "late_stream"
    stage.mkdir()
    schema = "event_id long, ts timestamp, event_type string, value double, user_id long"
    for name, ts, n, user in files:
        rows = [(i, ts, "x", 1.0, user) for i in range(n)]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(stage / name))
        _time.sleep(1.1)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage) + "/*")
    )


def _run_append(spark, agg, name):
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    progress = list(q.recentProgress)
    q.stop()
    return spark.table(name), progress


def _state_counters(progress):
    removed = sum(
        p["stateOperators"][0]["numRowsRemoved"] for p in progress if p["stateOperators"]
    )
    final_state = [
        p["stateOperators"][0]["numRowsTotal"] for p in progress if p["stateOperators"]
    ][-1]
    return removed, final_state


def test_sliding_watermark_emits_once_and_evicts(spark, tmp_path):
    """Sliding windows under a watermark, replayed with a late file
    (VERDICT r4 item 7): hour-2 rows, then out-of-order hour-0 rows, then
    an hour-6 row that pushes the watermark past both. Guarantees
    asserted: each (window_start) emitted exactly once, the hour-2
    windows finalized with exactly their own rows in all width/slide
    covering windows, and finalized window state EVICTED (the
    bounded-state property; late data beyond the watermark may or may not
    be dropped, so the drop itself is not asserted)."""
    from collections import Counter
    from datetime import datetime

    from randas_spark.streaming.engine import sliding_counts

    stream = _staggered_stream(
        spark,
        tmp_path,
        [
            ("a", datetime(2024, 1, 1, 2, 10), 10, 1),  # current
            ("b", datetime(2024, 1, 1, 0, 5), 5, 1),    # out-of-order
            ("c", datetime(2024, 1, 1, 6, 0), 1, 1),    # advances watermark
        ],
    )
    agg = sliding_counts(stream, width="1 hour", slide="30 minutes", watermark="30 minutes")
    table, progress = _run_append(spark, agg, "t_sliding_late")

    emitted = Counter(r.window_start for r in table.collect())
    assert emitted and all(n == 1 for n in emitted.values()), emitted
    # hour-2 event at 02:10 lands in the 01:30 and 02:00 windows (width 1h,
    # slide 30m → 2 covering windows), each finalized with its 10 rows
    for ws in ("2024-01-01 01:30:00", "2024-01-01 02:00:00"):
        row = table.filter(f"window_start = timestamp '{ws}'").first()
        assert row is not None and row.n_events == 10, ws
    removed, final_state = _state_counters(progress)
    assert removed >= 2  # finalized sliding windows were evicted
    assert final_state == 2  # only the hour-6 event's 2 covering windows open


def test_session_watermark_emits_once_and_evicts(spark, tmp_path):
    """Session windows under a watermark with a late file: sessions are
    emitted exactly once when the watermark passes session end + gap, a
    finalized session carries exactly its rows, and its state is evicted
    (merging-session state is the expensive one at 100TB — eviction is
    the property that keeps it bounded)."""
    from collections import Counter
    from datetime import datetime

    from randas_spark.streaming.engine import session_agg

    stream = _staggered_stream(
        spark,
        tmp_path,
        [
            ("a", datetime(2024, 1, 1, 2, 10), 10, 1),  # user 1 session
            ("b", datetime(2024, 1, 1, 0, 5), 5, 2),    # late user 2 session
            ("c", datetime(2024, 1, 1, 6, 0), 1, 3),    # advances watermark
        ],
    )
    agg = session_agg(stream, gap="30 minutes", watermark="30 minutes")
    table, progress = _run_append(spark, agg, "t_session_late")

    emitted = Counter((r.user_id, r.sess_start) for r in table.collect())
    assert emitted and all(n == 1 for n in emitted.values()), emitted
    # user 1's session: all 10 rows at 02:10, end = last + gap
    row = table.filter("user_id = 1").first()
    assert row is not None
    assert row.n_events == 10
    assert row.sess_start == datetime(2024, 1, 1, 2, 10)
    assert row.sess_end == datetime(2024, 1, 1, 2, 40)
    removed, final_state = _state_counters(progress)
    assert removed >= 1  # finalized session state evicted
    assert final_state == 1  # only user 3's open session remains


def test_foreach_batch_parquet_sink_replays_to_batch_result(spark, batch_events, tmp_path):
    """foreachBatch → parquet with checkpoint: the final state of the
    complete-mode aggregate (last batch's emission) must equal the batch
    aggregate, and the checkpoint dir must hold committed offsets."""
    from pyspark.sql import functions as F

    from randas_spark.streaming.engine import (
        events_stream,
        run_foreach_batch_to_parquet,
        tumbling_counts,
    )

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream, stage = events_stream(spark, SF_DIR)
    try:
        run_foreach_batch_to_parquet(
            tumbling_counts(stream, width="1 hour"),
            out_dir,
            ckpt,
            output_mode="complete",
        )
        written = spark.read.option("basePath", out_dir).parquet(out_dir)
        last_batch = written.agg(F.max("batch")).first()[0]
        final = written.filter(F.col("batch") == last_batch).drop("batch")
        batch = tumbling_counts(batch_events, width="1 hour")
        assert _collect_sorted(final) == _collect_sorted(batch)
        assert os.path.isdir(os.path.join(ckpt, "commits"))
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def test_running_user_state_matches_batch_agg(spark, batch_events):
    """applyInPandasWithState totals after the final trigger == plain batch
    groupBy totals (single trigger → one update row per user)."""
    from pyspark.sql import functions as F

    from randas_spark.streaming.engine import running_user_state

    batch = (
        batch_events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )
    streamed = _run_stream(
        spark, running_user_state, "t_state", output_mode="update"
    )
    want = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in batch.collect()
    }
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in streamed.collect()
    }
    assert got == want


def test_stream_static_enrich_equivalence(spark, batch_events):
    """Stream-static broadcast join: streamed result == batch result."""
    from randas_spark.queries import t
    from randas_spark.streaming.engine import segment_hourly_activity

    customers = t(spark, SF_DIR, "customer")
    batch = segment_hourly_activity(batch_events, customers)
    streamed = _run_stream(
        spark, lambda s: segment_hourly_activity(s, customers), "t_enrich"
    )
    assert _collect_sorted(streamed) == _collect_sorted(batch)


def test_stream_stream_join_equivalence(spark, batch_events):
    """Stream-stream interval self-join with watermarks on both sides:
    streamed pairs == batch pairs (append mode — inner join emits once)."""
    from pyspark.sql import functions as F
    from randas_spark.streaming.engine import click_purchase_conversions

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    batch = click_purchase_conversions(*split(batch_events), horizon="1 hour")
    streamed = _run_stream(
        spark,
        lambda s: click_purchase_conversions(
            *split(s), horizon="1 hour", watermark="2 hours"
        ),
        "t_ssjoin",
        output_mode="append",
    )
    assert _collect_sorted(streamed) == _collect_sorted(batch)


def test_attribution_state_matches_batch_window(spark, batch_events):
    """Streaming last-touch attribution (O(1)-state custom kernel) must
    equal the batch ignore-nulls carry-forward window on the same
    events, row for row (same lookback, same tie order)."""
    from randas_spark.queries.pipeline import rel_attribution_last_touch
    from randas_spark.streaming.engine import attribution_state

    batch = {
        (r.user_id, r.purchase_event_id): (r.touch_event_id, r.mins_since_touch)
        for r in rel_attribution_last_touch(spark, SF_DIR).collect()
    }
    streamed = _run_stream(spark, attribution_state, "t_attr", output_mode="append")
    got = {
        (r.user_id, r.purchase_event_id): (r.touch_event_id, r.mins_since_touch)
        for r in streamed.collect()
    }
    assert set(got) == set(batch)
    for k, (tid, mins) in got.items():
        btid, bmins = batch[k]
        assert tid == btid, (k, tid, btid)
        if mins is None:
            assert bmins is None
        else:
            assert abs(mins - bmins) < 1e-3  # batch rounds via fround(3)


def test_funnel_state_matches_batch_two_pass_window(spark, batch_events):
    """Streaming CEP funnel kernel (view→click→purchase, 24-hour steps,
    O(1) state) must equal the batch two-pass carry-forward window
    formulation row for row: same purchases emitted, same linked click
    and view ids, same funnel duration."""
    from randas_spark.queries.streaming_q import stream_pattern_funnel
    from randas_spark.streaming.engine import funnel_state

    batch = {
        (r.user_id, r.purchase_event_id): (
            r.click_event_id,
            r.view_event_id,
            r.funnel_secs,
        )
        for r in stream_pattern_funnel(spark, SF_DIR).collect()
    }
    streamed = _run_stream(spark, funnel_state, "t_funnel", output_mode="append")
    got = {
        (r.user_id, r.purchase_event_id): (
            r.click_event_id,
            r.view_event_id,
            r.funnel_secs,
        )
        for r in streamed.collect()
    }
    assert set(got) == set(batch)
    assert len(got) > 0  # the fixture must actually exercise the pattern
    for k, (cid, vid, secs) in got.items():
        bcid, bvid, bsecs = batch[k]
        assert (cid, vid) == (bcid, bvid), (k, cid, vid, bcid, bvid)
        assert abs(secs - bsecs) < 1e-9


def test_funnel_state_cross_trigger_replay_carries_and_bounds_state(spark, tmp_path):
    """Late-arrival/state-bound replay for the CEP funnel kernel (the
    counterpart of the r5 eviction replays the other three custom-state
    kernels got): the view, click, and purchase arrive in SEPARATE
    triggers, so the chain only completes if the six-long per-user state
    genuinely carries across micro-batches. Pins: (1) the funnel row is
    emitted exactly once, from the trigger the purchase lands in; (2) a
    user whose click missed the 24 h step window emits nothing — the
    disqualification survives trigger boundaries too; (3) state stays at
    exactly ONE row per user after every trigger (the O(1)-state claim,
    observed via the state-operator counters, not inferred)."""
    import time as _time
    from datetime import datetime

    from randas_spark.streaming.engine import funnel_state

    schema = "event_id long, ts timestamp, event_type string, value double, user_id long"
    # user 1: view -> click (+10 min, qualifies) -> purchase (+10 min)
    # user 2: view -> click (+25 h, misses the 24 h step) -> purchase
    files = [
        ("a", [(100, datetime(2024, 1, 1, 1, 0), "view", 1.0, 1),
               (200, datetime(2024, 1, 1, 1, 0), "view", 1.0, 2)]),
        ("b", [(101, datetime(2024, 1, 1, 1, 10), "click", 1.0, 1),
               (201, datetime(2024, 1, 2, 2, 0), "click", 1.0, 2)]),
        ("c", [(102, datetime(2024, 1, 1, 1, 20), "purchase", 1.0, 1),
               (202, datetime(2024, 1, 2, 2, 10), "purchase", 1.0, 2)]),
    ]
    stage = tmp_path / "funnel_stream"
    stage.mkdir()
    for name, rows in files:
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(stage / name))
        _time.sleep(1.1)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage) + "/*")
    )
    table, progress = _run_append(spark, funnel_state(stream), "t_funnel_replay")

    rows = table.collect()
    assert len(rows) == 1  # user 1 once; user 2's broken chain never emits
    r = rows[0]
    assert (r.user_id, r.purchase_event_id, r.click_event_id, r.view_event_id) == (
        1, 102, 101, 100,
    )
    assert abs(r.funnel_secs - 1200.0) < 1e-9  # purchase - view = 20 min
    # O(1)-state: after every trigger, exactly one state row per user seen
    totals = [
        p["stateOperators"][0]["numRowsTotal"] for p in progress if p["stateOperators"]
    ]
    assert totals and totals[-1] == 2
    assert all(t <= 2 for t in totals)


def test_attribution_state_ttl_evicts_idle_users_without_changing_emissions(
    spark, tmp_path
):
    """EventTimeTimeout mode for the attribution kernel: a touch idle
    past the 72 h lookback can never attribute (any later purchase
    fails the lookback check and emits the unattributed row — exactly
    what removed state emits), so TTL eviction must (1) produce
    emissions identical to the NoTimeout kernel on the same replay,
    (2) actually REMOVE the idle user's state, and (3) still emit the
    unattributed row for a purchase arriving after eviction."""
    import time as _time
    from datetime import datetime, timedelta

    from randas_spark.streaming.engine import attribution_state

    schema = "event_id long, ts timestamp, event_type string, value double, user_id long"
    base = datetime(2024, 1, 1, 0, 0)
    d5 = base + timedelta(days=5)
    # user 1: click day 0, purchase 10 min later (attributed), then idle;
    # user 2: click day 0, purchase day 5 (past 72 h — unattributed, and
    # by then user 2's state was evicted, proving the identity);
    # user 3: active day 5 (advances the watermark past day 0 + 72 h)
    files = [
        ("a", [(100, base, "click", 1.0, 1),
               (101, base + timedelta(minutes=10), "purchase", 1.0, 1),
               (200, base, "click", 1.0, 2)]),
        ("b", [(300, d5, "view", 1.0, 3)]),
        ("c", [(201, d5 + timedelta(minutes=30), "purchase", 1.0, 2),
               (301, d5 + timedelta(minutes=40), "purchase", 1.0, 3)]),
    ]
    stage = tmp_path / "attr_ttl"
    stage.mkdir()
    for name, rows in files:
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(stage / name))
        _time.sleep(1.1)

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stage) + "/*")
        )

    ttl, progress = _run_append(
        spark, attribution_state(stream(), watermark="0 seconds"), "t_attr_ttl"
    )
    plain, _ = _run_append(spark, attribution_state(stream()), "t_attr_ttl_twin")
    key = lambda r: (r.user_id, r.purchase_event_id, r.touch_event_id)
    assert sorted(map(key, ttl.collect())) == sorted(map(key, plain.collect()))
    got = {r.purchase_event_id: r.touch_event_id for r in ttl.collect()}
    # user 1 attributed to their click; user 2's stale click must NOT
    # attribute; user 3's purchase follows their own view within lookback
    assert got == {101: 100, 201: None, 301: 300}
    removed, final_state = _state_counters(progress)
    assert removed >= 1  # idle users' carried touch was evicted
    assert final_state <= 2  # users 1/2's day-0 state is gone at the end


def test_funnel_state_ttl_evicts_idle_users_without_changing_emissions(spark, tmp_path):
    """EventTimeTimeout mode: the 24 h step bound makes an idle user's
    state semantically dead, so TTL eviction must (1) emit exactly the
    rows the NoTimeout kernel emits on the same replay, (2) actually
    REMOVE idle users' state (numRowsRemoved > 0, final state only the
    recently-active users), and (3) still emit nothing for a user whose
    chain resumes after the horizon (state gone AND the step check would
    have rejected it anyway — the equivalence the eviction proof rests
    on)."""
    import time as _time
    from datetime import datetime, timedelta

    from randas_spark.streaming.engine import funnel_state

    schema = "event_id long, ts timestamp, event_type string, value double, user_id long"
    base = datetime(2024, 1, 1, 0, 0)
    d2 = base + timedelta(days=2)
    # user 1 completes a funnel on day 0 then goes idle; user 2 views on
    # day 0 and clicks on day 2 (past the horizon — never qualifies);
    # user 3 is active on day 2 (advances the watermark past day 0+24h)
    files = [
        ("a", [(100, base, "view", 1.0, 1),
               (101, base + timedelta(minutes=5), "click", 1.0, 1),
               (102, base + timedelta(minutes=9), "purchase", 1.0, 1),
               (200, base, "view", 1.0, 2)]),
        ("b", [(300, d2, "view", 1.0, 3),
               (301, d2 + timedelta(minutes=1), "click", 1.0, 3)]),
        ("c", [(201, d2 + timedelta(minutes=30), "click", 1.0, 2),
               (202, d2 + timedelta(minutes=31), "purchase", 1.0, 2),
               (302, d2 + timedelta(minutes=40), "purchase", 1.0, 3)]),
    ]
    stage = tmp_path / "funnel_ttl"
    stage.mkdir()
    for name, rows in files:
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(stage / name))
        _time.sleep(1.1)

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stage) + "/*")
        )

    ttl, progress = _run_append(
        spark, funnel_state(stream(), watermark="0 seconds"), "t_funnel_ttl"
    )
    plain, _ = _run_append(spark, funnel_state(stream()), "t_funnel_ttl_twin")
    key = lambda r: (r.user_id, r.purchase_event_id, r.click_event_id, r.view_event_id)
    assert sorted(map(key, ttl.collect())) == sorted(map(key, plain.collect()))
    # user 1 funneled on day 0; user 2's late click never qualified; user
    # 3 funneled on day 2
    assert {r.user_id for r in ttl.collect()} == {1, 3}
    removed, final_state = _state_counters(progress)
    assert removed >= 1  # idle users' six-long state was evicted
    # only users touched within the last horizon remain (2 and 3 have
    # day-2 events; user 1's state died at day0+9min+24h)
    assert final_state == 2


def test_funnel_kernel_chunk_order_independent():
    """The funnel kernel must produce identical matches no matter how
    the trigger's rows are split across Arrow chunks (the
    applyInPandasWithState no-global-order contract): a purchase in
    chunk 1 whose click/view arrived in chunk 2 still completes."""
    import pandas as pd

    from randas_spark.streaming.engine import _funnel_state

    class _FakeState:
        exists = False
        hasTimedOut = False

        def update(self, v):
            self.saved = v

    base = pd.Timestamp("2024-01-01 10:00:00")
    rows = [
        (1, base, "view"),
        (2, base + pd.Timedelta(minutes=10), "click"),
        (3, base + pd.Timedelta(minutes=25), "purchase"),
        (4, base + pd.Timedelta(hours=30), "purchase"),  # > 24h gate: no match
    ]

    def mk(ids):
        sel = [r for r in rows if r[0] in ids]
        return pd.DataFrame(
            {
                "event_id": [r[0] for r in sel],
                "ts": [r[1] for r in sel],
                "event_type": [r[2] for r in sel],
            }
        )

    for split in ([{1, 2, 3, 4}], [{3, 4}, {1, 2}], [{2}, {4, 1}, {3}]):
        st = _FakeState()
        out = pd.concat(list(_funnel_state((7,), iter([mk(s) for s in split]), st)))
        assert list(out["purchase_event_id"]) == [3]
        assert list(out["click_event_id"]) == [2]
        assert list(out["view_event_id"]) == [1]
        assert list(out["funnel_secs"]) == [25 * 60.0]


def test_first_touch_caps_pairs_and_keeps_both_outer_sides(spark):
    """click_purchase_first_touch on a crafted dense user: (1) a click
    with several in-horizon purchases matches ONLY the earliest (ties by
    purchase_id); (2) output is exactly one row per click plus one per
    orphan purchase — O(clicks+purchases) where the uncapped FULL OUTER
    emits c x p pairs; (3) every uncapped matched pair's click appears,
    so the cap loses coverage of events, never of clicks."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F
    from randas_spark.streaming.engine import (
        click_purchase_conversions,
        click_purchase_first_touch,
    )

    base = datetime(2024, 1, 1, 10, 0)
    rows = [
        # user 7: 2 clicks, 3 purchases all inside one hour -> uncapped 6 pairs
        (1, base, "click", 7),
        (2, base + timedelta(minutes=5), "click", 7),
        (3, base + timedelta(minutes=10), "purchase", 7),
        (4, base + timedelta(minutes=20), "purchase", 7),
        (5, base + timedelta(minutes=30), "purchase", 7),
        # user 8: orphan purchase (no click)
        (6, base, "purchase", 8),
        # user 9: unconverted click
        (7, base, "click", 9),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string, user_id long")
    clicks = df.filter(F.col("event_type") == "click")
    purchases = df.filter(F.col("event_type") == "purchase")

    uncapped = click_purchase_conversions(clicks, purchases, "1 hour", how="fullOuter").collect()
    assert len(uncapped) == 2 * 3 + 1 + 1  # the density-squared blow-up

    capped = {(r.click_id, r.purchase_id) for r in
              click_purchase_first_touch(clicks, purchases, "1 hour").collect()}
    assert capped == {(1, 3), (2, 3), (None, 6), (7, None)}
    # one row per click + one per orphan purchase
    assert len(capped) == 2 + 1 + 1


def test_first_touch_drop_audit_identity(spark, batch_events):
    """Loss accounting (VERDICT r8 order #6): on the real events fixture,
    first_touch_drop_audit's numbers must reconcile exactly with the two
    REAL join outputs — capped matched rows + n_pairs_dropped equals the
    uncapped inner pair total, n_pairs_capped equals the capped join's
    matched-row count, and n_purchases_dropped equals the set difference
    of qualifying vs emitted purchase ids."""
    from pyspark.sql import functions as F
    from randas_spark.streaming.engine import (
        click_purchase_conversions,
        click_purchase_first_touch,
        first_touch_drop_audit,
    )

    clicks = batch_events.filter(F.col("event_type") == "click")
    purchases = batch_events.filter(F.col("event_type") == "purchase")

    audit = first_touch_drop_audit(clicks, purchases, "1 hour").collect()[0]
    uncapped = click_purchase_conversions(
        clicks, purchases, "1 hour", how="inner"
    ).collect()
    capped = click_purchase_first_touch(clicks, purchases, "1 hour").collect()
    capped_matched = [r for r in capped if r.click_id is not None and r.purchase_id is not None]

    assert audit.n_pairs_uncapped == len(uncapped)
    assert audit.n_pairs_capped == len(capped_matched)
    assert audit.n_pairs_dropped == len(uncapped) - len(capped_matched)
    assert audit.n_pairs_capped + audit.n_pairs_dropped == audit.n_pairs_uncapped
    qualifying = {r.purchase_id for r in uncapped}
    emitted = {r.purchase_id for r in capped_matched}
    assert audit.n_purchases_dropped == len(qualifying - emitted)

    # non-trivial loss on a crafted dense user (sf0.001 has no dense
    # users, so the real-fixture leg above only proves the identity):
    # 2 clicks x 3 purchases in one hour -> 6 pairs, 2 capped, 4 dropped,
    # and purchases 4,5 (matched somewhere, first nowhere) are the
    # dropped entities
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1, 10, 0)
    rows = [
        (1, base, "click", 7),
        (2, base + timedelta(minutes=5), "click", 7),
        (3, base + timedelta(minutes=10), "purchase", 7),
        (4, base + timedelta(minutes=20), "purchase", 7),
        (5, base + timedelta(minutes=30), "purchase", 7),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, user_id long"
    )
    dense = first_touch_drop_audit(
        df.filter(F.col("event_type") == "click"),
        df.filter(F.col("event_type") == "purchase"),
        "1 hour",
    ).collect()[0]
    assert tuple(dense) == (6, 2, 4, 2)


def test_first_touch_zero_id_no_key_collision(spark):
    """r8 ADVICE regression: the old synthetic window key
    coalesce(click_id, -purchase_id) collided when ids could be 0 —
    click_id=0 and an orphan purchase_id=0 landed in ONE partition, and
    whichever sorted first evicted the other's row. The composite key
    (click_id IS NULL, coalesce id) keeps the spaces disjoint: both rows
    must survive."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F
    from randas_spark.streaming.engine import click_purchase_first_touch

    base = datetime(2024, 1, 1, 10, 0)
    rows = [
        (0, base, "click", 7),                             # click with id 0
        (5, base + timedelta(minutes=10), "purchase", 7),  # its first touch
        (0, base, "purchase", 8),                          # orphan purchase id 0
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, user_id long"
    )
    out = {
        (r.click_id, r.purchase_id)
        for r in click_purchase_first_touch(
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
            "1 hour",
        ).collect()
    }
    # the orphan's synthetic key must NOT merge with click 0's partition:
    # the old key dropped (0, 5) because the orphan (purchase_ts=base)
    # sorted first in the shared partition
    assert out == {(0, 5), (None, 0)}


def test_attribution_evict_removes_purchase_only_state():
    """r8 ADVICE regression: in evict mode a purchases-only user used to
    carry (None, None) state forever — no timeout was ever scheduled for
    it, breaking the 'live state shrinks to active users' bound. The
    kernel must now REMOVE such state (emission-identical: a purchase
    against removed state and against (None, None) state both emit the
    unattributed row), while click-bearing users still get a timeout."""
    import pandas as pd

    from randas_spark.streaming.engine import _attribution_state

    class FakeState:
        hasTimedOut = False

        def __init__(self, value=None):
            self.value = value
            self.exists = value is not None
            self.removed = False
            self.timeout_ms = None

        @property
        def get(self):
            return self.value

        def update(self, v):
            self.value, self.exists = v, True

        def remove(self):
            self.removed, self.exists, self.value = True, False, None

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

        def getCurrentWatermarkMs(self):
            return 0

    def rows(ids_ts_types):
        return pd.DataFrame(
            {
                "event_id": [r[0] for r in ids_ts_types],
                "ts": pd.to_datetime([r[1] for r in ids_ts_types]),
                "event_type": [r[2] for r in ids_ts_types],
            }
        )

    # purchase-only user, existing (None, None) state: must be removed,
    # and the purchase still emits the unattributed row
    st = FakeState(value=(None, None))
    out = pd.concat(
        list(
            _attribution_state(
                (7,), iter([rows([(5, "2024-01-01 10:00:00", "purchase")])]), st, evict=True
            )
        )
    )
    assert st.removed and not st.exists and st.timeout_ms is None
    assert len(out) == 1 and pd.isna(out.iloc[0]["touch_event_id"])

    # purchase-only user, FRESH state: nothing stored at all
    st2 = FakeState()
    list(
        _attribution_state(
            (8,), iter([rows([(6, "2024-01-01 10:00:00", "purchase")])]), st2, evict=True
        )
    )
    assert not st2.exists and not st2.removed  # remove() skipped when absent

    # click-bearing user still stores state and schedules the TTL
    st3 = FakeState()
    list(
        _attribution_state(
            (9,), iter([rows([(7, "2024-01-01 10:00:00", "click")])]), st3, evict=True
        )
    )
    assert st3.exists and st3.value[0] == 7 and st3.timeout_ms is not None


def test_stream_stream_left_outer_watermark_gated(spark, batch_events):
    """Left-outer stream-stream join: every MATCHED pair emits and
    equals the batch inner set; null (unconverted) rows emit ONLY for
    clicks the final watermark has passed — never for the
    still-could-match tail — and each emitted null row must exist in
    the batch left-outer result."""
    from pyspark.sql import functions as F
    from randas_spark.streaming.engine import click_purchase_conversions

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    batch = click_purchase_conversions(*split(batch_events), horizon="1 hour", how="leftOuter")
    batch_rows = {(r.click_id, r.purchase_id) for r in batch.collect()}
    batch_matched = {p for p in batch_rows if p[1] is not None}

    streamed = _run_stream(
        spark,
        lambda s: click_purchase_conversions(
            *split(s), horizon="1 hour", watermark="2 hours", how="leftOuter"
        ),
        "t_ssjoin_lo",
        output_mode="append",
    )
    got = {(r.click_id, r.purchase_id) for r in streamed.collect()}
    got_matched = {p for p in got if p[1] is not None}
    assert got_matched == batch_matched  # inner pairs identical
    assert got <= batch_rows  # every emitted null row is a true non-conversion
    # the watermark-gated tail: null rows may be withheld, never invented
    withheld = batch_rows - got
    assert all(p[1] is None for p in withheld)


def test_stream_stream_full_outer_watermark_gated(spark, batch_events):
    """Full-outer stream-stream join: matched pairs equal the batch
    inner set; null rows (unconverted clicks AND orphan purchases) may
    be watermark-withheld but never invented, and every withheld row is
    a null row from one of the two sides."""
    from pyspark.sql import functions as F
    from randas_spark.streaming.engine import click_purchase_conversions

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    batch = click_purchase_conversions(*split(batch_events), horizon="1 hour", how="fullOuter")
    batch_rows = {(r.click_id, r.purchase_id) for r in batch.collect()}
    batch_matched = {p for p in batch_rows if p[0] is not None and p[1] is not None}

    streamed = _run_stream(
        spark,
        lambda s: click_purchase_conversions(
            *split(s), horizon="1 hour", watermark="2 hours", how="fullOuter"
        ),
        "t_ssjoin_fo",
        output_mode="append",
    )
    got = {(r.click_id, r.purchase_id) for r in streamed.collect()}
    got_matched = {p for p in got if p[0] is not None and p[1] is not None}
    assert got_matched == batch_matched  # inner pairs identical
    assert got <= batch_rows  # no invented rows on either side
    withheld = batch_rows - got
    assert all(p[0] is None or p[1] is None for p in withheld)
    # both outer sides are genuinely exercised by the fixture
    assert any(p[0] is None for p in batch_rows)
    assert any(p[1] is None for p in batch_rows)


def test_custom_kernel_state_survives_checkpoint_restart(spark, tmp_path):
    """Durability of applyInPandasWithState state across a query
    RESTART: run the running-totals kernel over file a with a
    checkpoint, stop the query, add file b, start the SAME builder on
    the SAME checkpoint. The resumed query must (1) not reprocess file
    a (its batch emits exactly one row per user touched in file b) and
    (2) carry the state forward — user 1's totals after the restart
    cover BOTH files. This is the recovery contract a 1000-executor
    deployment leans on; batch-twin equivalence alone never exercises
    it."""
    import os
    import time as _time
    from datetime import datetime

    from randas_spark.streaming.engine import (
        run_foreach_batch_to_parquet,
        running_user_state,
    )

    schema = "event_id long, ts timestamp, event_type string, value double, user_id long"
    stage = tmp_path / "restart_stream"
    stage.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = datetime(2024, 1, 1, 0, 0)

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stage) + "/*")
        )

    spark.createDataFrame(
        [(1, base, "x", 10.0, 1), (2, base, "x", 5.0, 1)], schema
    ).coalesce(1).write.parquet(str(stage / "a"))
    run_foreach_batch_to_parquet(running_user_state(stream()), out, ckpt)

    _time.sleep(1.1)
    spark.createDataFrame(
        [(3, base, "x", 2.5, 1), (4, base, "x", 7.0, 2)], schema
    ).coalesce(1).write.parquet(str(stage / "b"))
    run_foreach_batch_to_parquet(running_user_state(stream()), out, ckpt)

    batches = sorted(os.listdir(out))
    emissions = {
        b: {r.user_id: (r.n_events, r.total_value)
            for r in spark.read.parquet(os.path.join(out, b)).collect()}
        for b in batches
    }
    # run 1: one batch, user 1 only, totals from file a
    assert emissions[batches[0]] == {1: (2, 15.0)}
    # run 2 resumed from the checkpoint: exactly one new batch; user 1's
    # state CARRIED (2+1 events, 15+2.5), user 2 fresh; file a not replayed
    assert len(batches) == 2
    assert emissions[batches[1]] == {1: (3, 17.5), 2: (1, 7.0)}


def test_cdc_state_matches_batch_twin(spark, batch_events):
    """The CDC kernel's final materialized state (last update-mode
    emission per key) must equal the batch running-max twin on the same
    updates: counts, final version, final value."""
    from randas_spark.queries.streaming_q import stream_cdc_apply
    from randas_spark.streaming.engine import cdc_apply_state

    def key(r):
        return (r.n_updates, r.n_applied, r.n_stale, r.n_deleted,
                r.is_deleted, r.final_us, r.final_value)

    batch = {r.user_id: key(r) for r in stream_cdc_apply(spark, SF_DIR).collect()}
    streamed = _run_stream(spark, cdc_apply_state, "t_cdc", output_mode="update")
    # update mode emits once per (key, trigger); the final state is the
    # emission with the highest processed count per key
    last = {}
    for r in streamed.collect():
        if r.user_id not in last or r.n_updates > last[r.user_id][0]:
            last[r.user_id] = key(r)
    assert last == batch
    # the synthetic events table ingests in version order (zero stale
    # rows here); the stale path is pinned by the out-of-order replay
    # test below. Tombstones DO occur naturally ('error' rows).
    assert all(v[2] == 0 for v in batch.values())
    assert any(v[3] > 0 for v in batch.values())
    assert any(v[4] for v in batch.values())  # some users end deleted


def test_cdc_state_stale_drops_survive_trigger_boundaries(spark, tmp_path):
    """Out-of-order updates that arrive in a LATER trigger than the
    newer version must still be dropped as stale — the cross-trigger
    carry the kernel exists for. user 1: v10 applies, then v5 arrives a
    trigger later (stale); user 2: versions ascend across triggers (all
    apply)."""
    import time as _time
    from datetime import datetime

    from randas_spark.streaming.engine import cdc_apply_state

    schema = "event_id long, ts timestamp, event_type string, value double, user_id long"
    files = [
        ("a", [(1, datetime(2024, 1, 10), "u", 100.0, 1),
               (2, datetime(2024, 1, 1), "u", 10.0, 2),
               (7, datetime(2024, 1, 20), "error", 0.0, 3)]),  # delete lands
        ("b", [(3, datetime(2024, 1, 5), "u", 50.0, 1),    # stale for user 1
               (4, datetime(2024, 1, 2), "u", 20.0, 2),    # applies for user 2
               (8, datetime(2024, 1, 15), "u", 77.0, 3)]), # pre-delete update,
                                                           # a trigger later:
                                                           # must NOT resurrect
        ("c", [(5, datetime(2024, 1, 11), "u", 111.0, 1),  # applies
               (6, datetime(2024, 1, 1), "u", 5.0, 2)]),   # stale (tie < max)
    ]
    stage = tmp_path / "cdc_stream"
    stage.mkdir()
    for name, rows in files:
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(stage / name))
        _time.sleep(1.1)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage) + "/*")
    )
    q = (
        cdc_apply_state(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_cdc_replay")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    table = spark.table("t_cdc_replay")
    last = {}
    for r in table.collect():
        if r.user_id not in last or r.n_updates > last[r.user_id].n_updates:
            last[r.user_id] = r
    u1, u2, u3 = last[1], last[2], last[3]
    assert (u1.n_updates, u1.n_applied, u1.n_stale) == (3, 2, 1)
    assert u1.final_value == 111.0 and not u1.is_deleted
    assert (u2.n_updates, u2.n_applied, u2.n_stale) == (3, 2, 1)
    assert u2.final_value == 20.0 and not u2.is_deleted
    # tombstone race: the stale pre-delete update arrived a trigger
    # AFTER the delete and must not resurrect the row
    assert (u3.n_updates, u3.n_applied, u3.n_stale, u3.n_deleted) == (2, 1, 1, 1)
    assert u3.is_deleted and u3.final_value is None


def test_gram_cells_stream_matches_batch(spark, tmp_path):
    """The PCA moment matrix is mergeable integer state, so the SAME
    gram_cells plan (mapInPandas + groupBy sum) must produce, over a
    file-by-file stream replay in complete mode, exactly the batch
    cells — the incremental-covariance ingestion shape."""
    from pyspark.sql import functions as F

    from randas_spark.operators.pca import gram_cells
    from randas_spark.queries import t as _t

    emb = _t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    stage = tmp_path / "emb_stream"
    # three staggered files so the state genuinely merges across triggers
    for i in range(3):
        emb.filter(F.col("vec_id") % 3 == i).coalesce(1).write.parquet(
            str(stage / f"part{i}")
        )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage) + "/*")
    )
    agg = gram_cells(stream, "embedding", dim=64, scale=10_000)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_gram")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {(r.i, r.j): int(r.g) for r in spark.table("t_gram").collect()}
    want = {
        (r.i, r.j): int(r.g)
        for r in gram_cells(emb, "embedding", dim=64, scale=10_000).collect()
    }
    assert got == want
    assert len(want) == 65 * 65


def test_incremental_dedup_ingest_matches_batch(spark, tmp_path):
    """Streamed corpus ingestion with per-batch anti-join dedup ends up
    with exactly the batch exact-dedup survivor set, even when the SAME
    corpus arrives twice (second copy fully rejected by the store)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from randas_spark.functions.text import fingerprint
    from randas_spark.queries import t
    from randas_spark.streaming.engine import dedup_ingest_stream

    docs_src = os.path.join(SF_DIR, "documents.parquet")
    stage = str(tmp_path / "incoming")
    os.makedirs(stage)
    shutil.copy(docs_src, os.path.join(stage, "a.parquet"))
    shutil.copy(docs_src, os.path.join(stage, "b.parquet"))  # full duplicate batch

    schema = spark.read.parquet(docs_src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    store = str(tmp_path / "store")
    dedup_ingest_stream(
        spark, stream, "doc_id", "text", store, str(tmp_path / "ckpt")
    )

    got = spark.read.parquet(store)
    batch_docs = t(spark, SF_DIR, "documents")
    expected = (
        batch_docs.withColumn("fp", fingerprint(F.col("text")))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    # one row per distinct fingerprint, keeping the smallest doc_id
    assert got.count() == expected.count()
    assert got.select("fp").distinct().count() == got.count()
    got_ids = {r.doc_id for r in got.select("doc_id").collect()}
    exp_ids = {r.doc_id for r in expected.collect()}
    assert got_ids == exp_ids


def test_countmin_stream_matches_batch_sketch(spark, batch_events):
    """The streamed sketch (incremental per-micro-batch updates in
    complete mode) must equal the batch-built sketch cell-for-cell —
    the mergeability guarantee, exercised through readStream. One
    NULL-key event rides along on both sides: countmin_cells drops it,
    so it adds no cell and no count."""
    import pyarrow as pa
    import pyarrow.parquet as papq
    from pyspark.sql import functions as F

    from randas_spark.operators.sketches import countmin_cells

    raw = papq.read_table(os.path.join(SF_DIR, "events.parquet")).slice(0, 1)
    i = raw.schema.get_field_index("user_id")
    null_key = raw.set_column(i, raw.schema.field(i), pa.nulls(1, raw.schema.field(i).type))
    null_row = batch_events.limit(1).withColumn(
        "user_id", F.lit(None).cast(batch_events.schema["user_id"].dataType)
    )
    batch = countmin_cells(batch_events.unionByName(null_row), "user_id", None, depth=4)
    streamed = _run_stream(
        spark,
        lambda s: countmin_cells(s, "user_id", None, depth=4),
        "t_countmin",
        files_per_trigger=1,
        extra=null_key,
    )
    got = _collect_sorted(streamed)
    assert got == _collect_sorted(batch)
    assert sum(r[1] for r in got) == 4 * batch_events.count()  # (bucket, cnt, d)


def test_quantile_sketch_stream_matches_batch_bins(spark, batch_events):
    """The streamed quantile-sketch histogram (groupBy state = the bins)
    must equal the batch-built bins cell-for-cell through readStream."""
    from randas_spark.operators.sketches import quantile_sketch_bins

    batch = quantile_sketch_bins(batch_events, "value")
    streamed = _run_stream(
        spark,
        lambda s: quantile_sketch_bins(s, "value"),
        "t_qsketch",
        files_per_trigger=1,
    )
    assert _collect_sorted(streamed) == _collect_sorted(batch)


def test_attribution_kernel_chunk_order_independent():
    """applyInPandasWithState delivers a group's trigger rows as multiple
    Arrow batches with NO global order; the kernel must concat+sort across
    chunks, not per chunk. Regression for the per-chunk sort bug: a click
    arriving in a LATER chunk but with an EARLIER ts than a purchase in an
    earlier chunk must still be attributed as the purchase's last touch."""
    import pandas as pd

    from randas_spark.streaming.engine import _attribution_state

    class FakeState:
        exists = False
        hasTimedOut = False

        def update(self, v):
            self.value = v

    def rows(ids_ts_types):
        return pd.DataFrame(
            {
                "event_id": [r[0] for r in ids_ts_types],
                "ts": pd.to_datetime([r[1] for r in ids_ts_types]),
                "event_type": [r[2] for r in ids_ts_types],
            }
        )

    # chunk 1 holds the purchase (t=10:00); chunk 2 holds two clicks that
    # PRECEDE it in event time (9:00, 9:30). Correct last touch = id 3 (9:30).
    chunk1 = rows([(5, "2024-01-01 10:00:00", "purchase")])
    chunk2 = rows(
        [(2, "2024-01-01 09:00:00", "click"), (3, "2024-01-01 09:30:00", "click")]
    )
    state = FakeState()
    out = pd.concat(list(_attribution_state((42,), iter([chunk1, chunk2]), state)))
    assert len(out) == 1
    assert int(out.iloc[0]["purchase_event_id"]) == 5
    assert int(out.iloc[0]["touch_event_id"]) == 3
    assert abs(float(out.iloc[0]["mins_since_touch"]) - 30.0) < 1e-9
    # carried state = the latest touch
    assert state.value[0] == 3


def test_idempotent_sink_replayed_batch_no_duplicates(spark, batch_events, tmp_path):
    """foreachBatch is at-least-once: a crash between the batch write and
    the offset commit redelivers the SAME batch_id. The idempotent sink
    (dedup-on-write keyed by (batch_id, event_id)) must converge to one
    copy — replaying the last batch twice more leaves every count
    unchanged."""
    from pyspark.sql import functions as F

    from randas_spark.streaming.engine import events_stream, idempotent_batch_sink

    stream, stage = events_stream(spark, SF_DIR, files_per_trigger=1)
    store = str(tmp_path / "idemp_store")
    ckpt = str(tmp_path / "idemp_ckpt")
    try:
        _, sink = idempotent_batch_sink(stream, store, ckpt, key_col="event_id")
        first = spark.read.parquet(store)
        n_rows = first.count()
        assert n_rows == batch_events.count()
        last_bid = first.agg({"batch_id": "max"}).collect()[0][0]

        # simulate redelivery: run the SAME batch through the sink twice
        replay = spark.read.parquet(store).filter(
            F.col("batch_id") == last_bid
        ).drop("batch_id")
        sink(replay, last_bid)
        sink(replay, last_bid)

        again = spark.read.parquet(store)
        assert again.count() == n_rows
        dup = (
            again.groupBy("batch_id", "event_id")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dup == 0

        # and a NEW batch id still appends (idempotence is per batch)
        sink(replay.limit(5), last_bid + 1)
        assert spark.read.parquet(store).count() == n_rows + 5
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def test_hll_stream_matches_batch_registers(spark, batch_events):
    """The streamed HLL register table (per-bucket MAX as streaming
    state) must equal the batch-built registers cell-for-cell through
    readStream — the mergeability guarantee for live distinct counts."""
    from randas_spark.operators.sketches import hll_registers

    batch = hll_registers(batch_events, "user_id")
    # copies=2 with one file per trigger => at least two micro-batches,
    # so the cross-trigger state merge (per-bucket MAX restore) is
    # actually exercised, not just the single-batch path; duplicate
    # events are a no-op for MAX so the batch twin is unchanged
    streamed = _run_stream(
        spark,
        lambda s: hll_registers(s, "user_id"),
        "t_hll",
        copies=2,
        files_per_trigger=1,
    )
    assert _collect_sorted(streamed) == _collect_sorted(batch)


def test_cusum_stream_alerts_match_recursive_replay(spark, batch_events):
    """Streaming CUSUM kernel #3: with a frozen (mu, sd) baseline, the
    alerts emitted over readStream must equal a driver-side recursive
    Page's-test replay of the same hourly series — on CLOSED hours (each
    type's final hour stays open in the stream and must NOT alert)."""
    import collections
    import datetime

    from randas_spark.streaming.engine import cusum_alert_state

    rows = batch_events.select("event_type", "event_id", "ts", "value").collect()
    hourly = collections.defaultdict(lambda: collections.defaultdict(float))
    for r in rows:
        hr = r.ts.replace(minute=0, second=0, microsecond=0)
        hourly[r.event_type][hr] += r.value
    params, expected = {}, set()
    K, H = 0.5, 4.0
    for et, series in hourly.items():
        ys = [series[h] for h in sorted(series)]
        mu = sum(ys) / len(ys)
        sd = (sum((y - mu) ** 2 for y in ys) / len(ys)) ** 0.5
        params[et] = (mu, sd)
        cp = cn = 0.0
        for h in sorted(series)[:-1]:  # last hour never closes
            z = (series[h] - mu) / sd
            cp = max(0.0, cp + z - K)
            cn = max(0.0, cn - z - K)
            if cp > H or cn > H:
                expected.add((et, h, round(cp, 6), round(cn, 6)))

    # Stage the events as TWO time-split files (split mid-range, so open
    # hours and S+/S- straddle the boundary) and replay one file per
    # trigger: the kernel's cross-trigger state restore — the tuple
    # (cur_hour, hour_sum, cp, cn) — is exercised for real, not just the
    # single-batch path.
    import glob
    import os
    import shutil
    import tempfile

    from randas_spark.streaming.engine import run_to_memory

    ts_sorted = sorted(r.ts for r in rows)
    mid = ts_sorted[len(ts_sorted) // 2]
    stage = tempfile.mkdtemp(prefix="cusum_stream_")
    try:
        for i, part in enumerate(
            (
                batch_events.filter(batch_events.ts < mid),
                batch_events.filter(batch_events.ts >= mid),
            )
        ):
            d = tempfile.mkdtemp(prefix="cusum_part_")
            part.coalesce(1).write.mode("overwrite").parquet(d)
            src = glob.glob(os.path.join(d, "part-*.parquet"))[0]
            dst = os.path.join(stage, f"{i}.parquet")
            shutil.copy(src, dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
            shutil.rmtree(d, ignore_errors=True)
        stream = (
            spark.readStream.schema(batch_events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        run_to_memory(
            cusum_alert_state(stream, params), "t_cusum", output_mode="append"
        )
        streamed = spark.table("t_cusum").cache()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    got = {
        (r.event_type, r.h, round(r.s_pos, 6), round(r.s_neg, 6))
        for r in streamed.collect()
    }
    assert expected  # the corpus must actually produce alerts
    assert got == expected


def test_cusum_stream_skips_unmodeled_types(spark, batch_events):
    """Types absent from the fitted baseline must produce NO alerts
    (scoring raw sums against a default (0,1) baseline would alert on
    every closed hour of every unmodeled type)."""
    from randas_spark.streaming.engine import cusum_alert_state

    streamed = _run_stream(
        spark,
        lambda s: cusum_alert_state(s, {"no_such_type": (0.0, 1.0)}),
        "t_cusum_unmodeled",
        output_mode="append",
        files_per_trigger=1,
    )
    assert streamed.count() == 0


def test_rollup_states_stream_matches_batch(spark, batch_events):
    """The streamed scalar rollup states (count/int-sum/min/max as
    streaming aggregation state) must equal a batch rebuild over the
    same doubled input, across >=2 micro-batches so the cross-trigger
    state restore (monoid merge) is exercised — counts and sums are NOT
    duplicate-idempotent, so the batch twin doubles the input too."""
    from randas_spark.streaming.engine import rollup_stream_states

    batch = rollup_stream_states(batch_events.union(batch_events))
    streamed = _run_stream(
        spark,
        rollup_stream_states,
        "t_rollup_states",
        copies=2,
        files_per_trigger=1,
    )
    assert _collect_sorted(streamed) == _collect_sorted(batch)


def test_pack_stream_matches_batch_by_group(spark, tmp_path):
    """Kernel #6 (streaming sequence packing): replaying the documents
    table through pack_stream in two ordered triggers must emit EXACTLY
    the segments of the batch twin sequence_pack_by_group(
    interleave=False) — per-source offsets carried across the trigger
    boundary by the one-long state. Closes the loop: DuckDB oracle ==
    batch plan (llm_sequence_pack_by_source) == streaming kernel."""
    import os

    from pyspark.sql import functions as F
    from randas_spark.functions.text import token_count_bpe_ish
    from randas_spark.operators.corpus import sequence_pack_by_group
    from randas_spark.queries import t
    from randas_spark.streaming.engine import pack_stream, run_to_memory

    d = t(spark, SF_DIR, "documents").select(
        "source", "doc_id", token_count_bpe_ish(F.col("text")).alias("n_tok")
    )
    batch_rows = sorted(
        tuple(r)
        for r in sequence_pack_by_group(
            d, "source", "doc_id", "n_tok", 512, interleave=False
        ).collect()
    )

    # two trigger files split by doc_id, mtimes forcing a<b order (the
    # file source processes oldest-first), so the second trigger MUST
    # resume each source's offset from state, not from zero
    pdf = d.toPandas()
    med = pdf["doc_id"].median()
    stage = tmp_path / "docs"
    stage.mkdir()
    pdf[pdf["doc_id"] < med].to_parquet(stage / "a.parquet", index=False)
    pdf[pdf["doc_id"] >= med].to_parquet(stage / "b.parquet", index=False)
    now = 1_700_000_000
    os.utime(stage / "a.parquet", (now, now))
    os.utime(stage / "b.parquet", (now + 100, now + 100))

    stream = (
        spark.readStream.schema("source string, doc_id long, n_tok long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    run_to_memory(pack_stream(stream, 512), "t_pack_stream", output_mode="append")
    got = sorted(tuple(r) for r in spark.table("t_pack_stream").collect())
    assert got == batch_rows
    assert len(got) > 0


def test_pack_state_survives_checkpoint_restart(spark, tmp_path):
    """Kernel #6 restart durability (VERDICT r9 #6): the cross-trigger
    test above runs two triggers in ONE stream; this one KILLS the query
    between triggers and restarts the same builder on the same
    checkpoint, so the pack ledger (one long per source) must round-trip
    the state store itself. The resumed run must (1) not reprocess the
    first file — its emissions cover only second-file docs — and (2)
    continue every source's token offset from state, which the
    batch-twin union equality proves: a zeroed offset would shift every
    second-file segment's pack_id/seg bounds."""
    import os

    from pyspark.sql import functions as F
    from randas_spark.functions.text import token_count_bpe_ish
    from randas_spark.operators.corpus import sequence_pack_by_group
    from randas_spark.queries import t
    from randas_spark.streaming.engine import (
        pack_stream,
        run_foreach_batch_to_parquet,
    )

    d = t(spark, SF_DIR, "documents").select(
        "source", "doc_id", token_count_bpe_ish(F.col("text")).alias("n_tok")
    )
    batch_rows = sorted(
        tuple(r)
        for r in sequence_pack_by_group(
            d, "source", "doc_id", "n_tok", 512, interleave=False
        ).collect()
    )

    pdf = d.toPandas()
    med = pdf["doc_id"].median()
    stage = tmp_path / "docs"
    stage.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def stream():
        return (
            spark.readStream.schema("source string, doc_id long, n_tok long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stage))
        )

    pdf[pdf["doc_id"] < med].to_parquet(stage / "a.parquet", index=False)
    run_foreach_batch_to_parquet(
        pack_stream(stream(), 512), out, ckpt, output_mode="append"
    )
    pdf[pdf["doc_id"] >= med].to_parquet(stage / "b.parquet", index=False)
    run_foreach_batch_to_parquet(
        pack_stream(stream(), 512), out, ckpt, output_mode="append"
    )

    batches = sorted(os.listdir(out))
    assert len(batches) == 2  # restart resumed, file a NOT replayed
    second = spark.read.parquet(os.path.join(out, batches[1]))
    assert second.filter(F.col("doc_id") < med).count() == 0
    got = sorted(tuple(r) for r in spark.read.parquet(out + "/batch=*").collect())
    assert got == batch_rows


def test_ivf_stream_ingest_matches_batch_append(spark, tmp_path):
    """Streaming ANN ingestion end-to-end: readStream over two vector
    files -> foreachBatch rename-commits (engine.ivf_ingest_stream) must
    serve exactly what the r9 batch append path (ivf_append_batch, plain
    partitioned append into assignments.parquet) serves for the same
    base/batch split — two genuinely different write paths, one served
    corpus. Also pins the exactly-once mechanics: a redelivered batch id
    is a no-op, a restart on the same checkpoint reprocesses nothing,
    and a torn .__tmp__ staging dir is invisible to the query."""
    import os

    from pyspark.sql import functions as F

    from randas_spark.operators.similarity import (
        ivf_append_batch,
        ivf_build_index,
        ivf_commit_stream_batch,
        ivf_committed_stream_dirs,
        knn_ivf_query,
    )
    from randas_spark.queries import t
    from randas_spark.streaming.engine import ivf_ingest_stream

    emb = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 4 != 3)
    batch_all = emb.filter(F.col("vec_id") % 4 == 3)
    n_cells = max(16, base.count() // 32)
    queries = emb.filter(F.col("vec_id") < 5)

    # reference: the already-tested batch append path
    ref_dir = str(tmp_path / "ivf_ref")
    ivf_build_index(base, "vec_id", "embedding", ref_dir, n_cells=n_cells)
    ivf_append_batch(batch_all, "vec_id", "embedding", ref_dir)
    want = _collect_sorted(
        knn_ivf_query(queries, "vec_id", "embedding", ref_dir, n_probe=4, top_k=10)
    )

    # streamed: base build + two files through readStream/foreachBatch
    idx = str(tmp_path / "ivf_stream")
    ivf_build_index(base, "vec_id", "embedding", idx, n_cells=n_cells)
    stage = tmp_path / "incoming"
    batch_all.filter(F.col("vec_id") % 8 == 3).coalesce(1).write.parquet(
        str(stage / "f0")
    )
    batch_all.filter(F.col("vec_id") % 8 == 7).coalesce(1).write.parquet(
        str(stage / "f1")
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage) + "/*")
    )
    ckpt = str(tmp_path / "ckpt")
    ivf_ingest_stream(stream, "vec_id", "embedding", idx, ckpt)
    assert len(ivf_committed_stream_dirs(idx)) == 2
    got = _collect_sorted(
        knn_ivf_query(queries, "vec_id", "embedding", idx, n_probe=4, top_k=10)
    )
    assert got == want

    # redelivery of an already-committed batch id is a no-op
    assert (
        ivf_commit_stream_batch(
            batch_all.filter(F.col("vec_id") % 8 == 3), "vec_id", "embedding", idx, 0
        )
        is False
    )
    # restart on the same checkpoint: offsets committed, nothing reruns
    stream2 = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage) + "/*")
    )
    ivf_ingest_stream(stream2, "vec_id", "embedding", idx, ckpt)
    assert len(ivf_committed_stream_dirs(idx)) == 2
    # a torn staging dir (crash before rename) is invisible
    os.makedirs(os.path.join(idx, "stream_appends", "b000099.__tmp__"))
    assert len(ivf_committed_stream_dirs(idx)) == 2
    assert (
        _collect_sorted(
            knn_ivf_query(queries, "vec_id", "embedding", idx, n_probe=4, top_k=10)
        )
        == want
    )


def test_ivf_compaction_generations_and_crash_windows(spark, tmp_path):
    """Compacting stream appends must be invisible to queries: the
    marker's generation pointer flips atomically, consumed batch dirs
    are excluded even if GC never ran (the crash window), and further
    stream batches / batch appends keep working against the new
    generation."""
    import os

    from pyspark.sql import functions as F

    from randas_spark.operators.similarity import (
        ivf_append_batch,
        ivf_build_index,
        ivf_commit_stream_batch,
        ivf_committed_stream_dirs,
        ivf_compact_stream_appends,
        knn_ivf_query,
        read_index_marker,
    )
    from randas_spark.queries import t

    emb = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 4 != 3)
    queries = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "ivf")
    ivf_build_index(base, "vec_id", "embedding", idx, n_cells=max(16, base.count() // 32))
    ivf_commit_stream_batch(
        emb.filter(F.col("vec_id") % 8 == 3), "vec_id", "embedding", idx, 0
    )
    ivf_commit_stream_batch(
        emb.filter(F.col("vec_id") % 8 == 7), "vec_id", "embedding", idx, 1
    )

    def q():
        return _collect_sorted(
            knn_ivf_query(queries, "vec_id", "embedding", idx, n_probe=4, top_k=10)
        )

    before = q()
    out = ivf_compact_stream_appends(spark, idx)
    assert out["n_consumed"] == 2 and out["generation"] == "assignments_g1.parquet"
    m = read_index_marker(idx)
    assert m["assignments_dir"] == "assignments_g1.parquet"
    assert not os.path.exists(os.path.join(idx, "assignments.parquet"))
    assert ivf_committed_stream_dirs(idx) == []
    assert q() == before

    # crash window: consumed dir resurrected on disk stays invisible
    ghost = os.path.join(idx, "stream_appends", "b000000")
    os.makedirs(ghost, exist_ok=True)
    assert ivf_committed_stream_dirs(idx) == []
    assert q() == before
    import shutil

    shutil.rmtree(ghost)

    # post-compaction ingest still works, next compaction folds it too
    extra = emb.filter(F.col("vec_id") % 4 == 3).limit(0)  # empty batch ok
    ivf_commit_stream_batch(
        emb.filter(F.col("vec_id") % 8 == 3), "vec_id", "embedding", idx, 2
    )
    after_b2 = q()
    out2 = ivf_compact_stream_appends(spark, idx)
    assert out2["n_consumed"] == 1 and out2["generation"] == "assignments_g2.parquet"
    assert q() == after_b2
    # batch append follows the generation pointer
    ivf_append_batch(extra, "vec_id", "embedding", idx)
    assert q() == after_b2
    # no-op compaction
    assert ivf_compact_stream_appends(spark, idx)["n_consumed"] == 0


def test_ivf_serving_reads_the_marker_once_per_call(spark, tmp_path, monkeypatch):
    """The generation pointer and the ``consumed`` list a query serves
    must come from ONE marker snapshot: two reads would let a compaction
    that flips the marker in between pair the old generation with the
    new ``consumed`` list, serving the old generation without the
    streamed batches it had not yet folded."""
    from pyspark.sql import functions as F

    import randas_spark.operators.similarity as sim
    from randas_spark.queries import t

    emb = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "ivf")
    sim.ivf_build_index(
        emb.filter(F.col("vec_id") % 4 != 3), "vec_id", "embedding", idx, n_cells=8
    )
    sim.ivf_commit_stream_batch(
        emb.filter(F.col("vec_id") % 4 == 3), "vec_id", "embedding", idx, 0
    )

    reads = []
    real = sim.read_index_marker

    def counting(out_dir):
        reads.append(out_dir)
        return real(out_dir)

    monkeypatch.setattr(sim, "read_index_marker", counting)
    queries = emb.filter(F.col("vec_id") < 5)
    sim.knn_ivf_query(queries, "vec_id", "embedding", idx, n_probe=2, top_k=3)
    assert len(reads) == 1
    reads.clear()
    sim.ivf_assignment_counts(spark, idx)
    assert len(reads) == 1
    reads.clear()
    sim.ivf_compact_stream_appends(spark, idx)
    assert len(reads) == 1


def test_ann_serve_stream_matches_batch_twin(spark, tmp_path):
    """Streamed ANN serving: two query files through readStream ->
    foreachBatch knn_ivf_query with rename-committed result dirs must
    union to exactly the one-shot batch serve; a restart on the same
    checkpoint commits nothing new."""
    import os

    from pyspark.sql import functions as F

    from randas_spark.operators.similarity import ivf_build_index, knn_ivf_query
    from randas_spark.queries import t
    from randas_spark.streaming.engine import ann_serve_stream

    emb = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    queries = emb.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "ivf")
    ivf_build_index(
        corpus, "vec_id", "embedding", idx, n_cells=max(16, corpus.count() // 32)
    )
    want = _collect_sorted(
        knn_ivf_query(queries, "vec_id", "embedding", idx, n_probe=4, top_k=10)
    )

    stage = tmp_path / "qfeed"
    queries.filter(F.col("vec_id") % 4 == 1).coalesce(1).write.parquet(str(stage / "f0"))
    queries.filter(F.col("vec_id") % 4 == 3).coalesce(1).write.parquet(str(stage / "f1"))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage) + "/*")
    )
    out = str(tmp_path / "served")
    ckpt = str(tmp_path / "ckpt")
    ann_serve_stream(stream, "vec_id", "embedding", idx, out, ckpt)
    dirs = sorted(d for d in os.listdir(out) if not d.endswith(".__tmp__"))
    assert dirs == ["b000000", "b000001"]
    got = _collect_sorted(spark.read.parquet(*[os.path.join(out, d) for d in dirs]))
    assert got == want

    # restart: offsets committed, no third dir appears
    stream2 = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage) + "/*")
    )
    ann_serve_stream(stream2, "vec_id", "embedding", idx, out, ckpt)
    assert sorted(d for d in os.listdir(out) if not d.endswith(".__tmp__")) == dirs


import pytest as _pytest


@_pytest.mark.parametrize("seed", [0, 1, 2])
def test_ivf_protocol_random_schedules_serve_identically(spark, tmp_path, seed):
    """Protocol-equivalence property: ANY interleaving of stream
    commits, batch appends, and compactions over the same row set must
    serve byte-identical query results — assignment is per-row against
    frozen centroids, so the layout history cannot exist in the result.
    Three seeded pseudo-random schedules (ops and chunk order drawn
    from random.Random(seed)) are each compared to a flat
    build+single-append reference over exactly the rows they ingested."""
    import random

    from pyspark.sql import functions as F

    from randas_spark.operators.similarity import (
        ivf_append_batch,
        ivf_build_index,
        ivf_commit_stream_batch,
        ivf_compact_stream_appends,
        knn_ivf_query,
    )
    from randas_spark.queries import t

    emb = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    n_cells = max(16, base.count() // 32)
    queries = emb.filter(F.col("vec_id") < 5)
    chunks = [emb.filter((F.col("vec_id") % 8) == m) for m in (1, 3, 5, 7)]

    rng = random.Random(seed)
    idx = str(tmp_path / f"ivf_s{seed}")
    ivf_build_index(base, "vec_id", "embedding", idx, n_cells=n_cells)
    used, next_stream_id = [], 0
    order = rng.sample(range(4), k=rng.randint(2, 4))
    for ci in order:
        op = rng.choice(["stream", "append", "compact_then_stream"])
        if op == "compact_then_stream":
            ivf_compact_stream_appends(spark, idx)
        if op == "append":
            ivf_append_batch(chunks[ci], "vec_id", "embedding", idx)
        else:
            ivf_commit_stream_batch(
                chunks[ci], "vec_id", "embedding", idx, next_stream_id
            )
            next_stream_id += 1
        used.append(ci)
    if rng.random() < 0.5:
        ivf_compact_stream_appends(spark, idx)

    ref = str(tmp_path / f"ivf_ref_s{seed}")
    ivf_build_index(base, "vec_id", "embedding", ref, n_cells=n_cells)
    allb = chunks[used[0]]
    for ci in used[1:]:
        allb = allb.unionByName(chunks[ci])
    ivf_append_batch(allb, "vec_id", "embedding", ref)

    got = _collect_sorted(
        knn_ivf_query(queries, "vec_id", "embedding", idx, n_probe=4, top_k=10)
    )
    want = _collect_sorted(
        knn_ivf_query(queries, "vec_id", "embedding", ref, n_probe=4, top_k=10)
    )
    assert got == want


def test_ivf_stream_epoch_base_blocks_recycled_batch_ids(spark, tmp_path):
    """ADVICE r10 #1 repro, closed: after compaction GC's a consumed
    stream dir, a NEW stream epoch recycling that batch id must be
    REFUSED (the old behavior rename-committed a dir
    ivf_committed_stream_dirs excludes forever — rows silently never
    served), the marker's consumed list must be pruned of GC'd entries
    at the next compaction (ADVICE r10 #2), and ivf_stream_epoch_base
    must hand a fresh epoch an id floor that serves every row."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from randas_spark.operators.similarity import (
        ivf_build_index,
        ivf_commit_stream_batch,
        ivf_committed_stream_dirs,
        ivf_compact_stream_appends,
        ivf_stream_epoch_base,
        knn_ivf_query,
        read_index_marker,
    )
    from randas_spark.queries import t

    emb = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 4 == 0)
    idx = str(tmp_path / "ivf")
    ivf_build_index(base, "vec_id", "embedding", idx, n_cells=max(16, base.count() // 32))
    assert ivf_stream_epoch_base(idx) == 0

    # epoch 1: ids 0 and 1, then compaction consumes + GCs them
    ivf_commit_stream_batch(
        emb.filter(F.col("vec_id") % 4 == 1), "vec_id", "embedding", idx, 0
    )
    ivf_commit_stream_batch(
        emb.filter(F.col("vec_id") % 4 == 2), "vec_id", "embedding", idx, 1
    )
    ivf_compact_stream_appends(spark, idx)
    m = read_index_marker(idx)
    assert m["consumed"] == ["b000000", "b000001"]
    assert m["next_batch_id"] == 2
    assert ivf_stream_epoch_base(idx) == 2

    # epoch 2 recycling id 0 (fresh checkpoint): refused loudly, and the
    # refused batch never became an invisible dir
    batch2 = emb.filter(F.col("vec_id") % 4 == 3)
    with pytest.raises(ValueError, match="recycle consumed ids"):
        ivf_commit_stream_batch(batch2, "vec_id", "embedding", idx, 0)
    assert not os.path.exists(os.path.join(idx, "stream_appends", "b000000"))

    # epoch 2 done right: offset by the epoch base — rows ARE served
    eb = ivf_stream_epoch_base(idx)
    assert ivf_commit_stream_batch(batch2, "vec_id", "embedding", idx, eb + 0) is True
    assert len(ivf_committed_stream_dirs(idx)) == 1
    # the advisor's loss metric: every ingested row is in the served set
    from randas_spark.operators.similarity import ivf_assignment_counts

    n_served = (
        ivf_assignment_counts(spark, idx).agg(F.sum("c")).collect()[0][0]
    )
    # base (%4==0) + epoch-1 batches (%4 in 1,2) + epoch-2 batch (%4==3)
    assert n_served == emb.count()

    # second compaction PRUNES the GC'd epoch-1 entries from consumed
    # (bounded commit-point file) and advances the watermark past b%06d
    ivf_compact_stream_appends(spark, idx)
    m2 = read_index_marker(idx)
    assert m2["consumed"] == [f"b{eb:06d}"]
    assert m2["next_batch_id"] == eb + 1

    # redelivery of a consumed batch whose dir survives a crashed GC is
    # a quiet no-op (dir exists -> False), not a raise
    ghost = os.path.join(idx, "stream_appends", f"b{eb:06d}")
    os.makedirs(ghost, exist_ok=True)
    assert (
        ivf_commit_stream_batch(batch2, "vec_id", "embedding", idx, eb) is False
    )


def test_scd2_stream_matches_batch_twin_and_survives_redelivery(spark, tmp_path):
    """Streaming SCD2 materialization (engine.scd2_ingest_stream) must
    converge to EXACTLY the registered batch twin (stream_scd2_apply —
    three period batches chained through scd2_apply): three update
    files through readStream/foreachBatch, each a new committed
    generation. Exactly-once mechanics pinned: a redelivered batch id
    within the same epoch is a no-op, a restart on the same checkpoint
    reprocesses nothing, a pre-flip crash orphan (next-gen dir on disk,
    marker not flipped) is rewritten on redelivery, and a FRESH
    checkpoint (new epoch, ids back at 0) applies instead of being
    swallowed by the old epoch's watermark."""
    import os

    from pyspark.sql import functions as F

    from randas_spark.operators.merge import (
        _scd2_read_marker,
        scd2_commit_stream_batch,
        scd2_init_dim,
        scd2_read_dim,
    )
    from randas_spark.queries import fround, t
    from randas_spark.streaming.engine import scd2_ingest_stream

    import __spark_entry__ as e

    want = _collect_sorted(e.queries()["stream_scd2_apply"](spark, SF_DIR))

    c = t(spark, SF_DIR, "customer")
    dim0 = c.select(
        "c_custkey",
        F.col("c_acctbal").alias("bal"),
        F.lit("1970-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    o = t(spark, SF_DIR, "orders")

    def upd(lo, hi):
        b = o
        if lo:
            b = b.filter(F.col("o_orderdate") >= F.lit(lo))
        if hi:
            b = b.filter(F.col("o_orderdate") < F.lit(hi))
        return b.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
            fround(F.sum("o_totalprice"), 2).alias("bal"),
            F.max("o_orderdate").cast("timestamp").alias("ts"),
        )

    periods = [(None, "1994-01-01"), ("1994-01-01", "1996-01-01"), ("1996-01-01", None)]
    dim_dir = str(tmp_path / "dim")
    scd2_init_dim(dim0, dim_dir)

    # stage the three period batches as files, replay maxFilesPerTrigger=1
    # (file order == lexicographic staging order == period order)
    stage = tmp_path / "cdc"
    for i, (lo, hi) in enumerate(periods):
        upd(lo, hi).coalesce(1).write.parquet(str(stage / f"f{i}"))
    schema = upd(None, None).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(stage) + "/*")
    )
    ckpt = str(tmp_path / "ckpt")
    scd2_ingest_stream(stream, "c_custkey", ["bal"], "ts", dim_dir, ckpt)
    m = _scd2_read_marker(dim_dir)
    assert m["generation"] == 3
    assert _collect_sorted(scd2_read_dim(spark, dim_dir)) == want

    # restart on the same checkpoint: offsets committed, nothing reruns
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage) + "/*")
    )
    scd2_ingest_stream(stream2, "c_custkey", ["bal"], "ts", dim_dir, ckpt)
    assert _scd2_read_marker(dim_dir)["generation"] == 3
    assert _collect_sorted(scd2_read_dim(spark, dim_dir)) == want

    # manual redelivery of an already-applied id in the same epoch: no-op
    epoch = list(m["applied"])[0]
    assert (
        scd2_commit_stream_batch(
            upd(*periods[2]), "c_custkey", ["bal"], "ts", dim_dir,
            m["applied"][epoch], epoch=epoch,
        )
        is False
    )
    assert _scd2_read_marker(dim_dir)["generation"] == 3

    # pre-flip crash orphan: a dead next-gen dir on disk is invisible
    # (marker still points at g3) and gets rewritten by the next apply
    orphan = os.path.join(dim_dir, "dim_g000004.parquet")
    os.makedirs(orphan, exist_ok=True)
    assert _collect_sorted(scd2_read_dim(spark, dim_dir)) == want

    # fresh checkpoint = fresh epoch: batch id 0 again, and it APPLIES
    # (an empty update batch — a no-change generation, not a swallow)
    empty = upd(None, None).limit(0)
    assert (
        scd2_commit_stream_batch(
            empty, "c_custkey", ["bal"], "ts", dim_dir, 0, epoch="epoch2"
        )
        is True
    )
    m2 = _scd2_read_marker(dim_dir)
    assert m2["generation"] == 4 and m2["applied"]["epoch2"] == 0
    assert _collect_sorted(scd2_read_dim(spark, dim_dir)) == want


def test_scd2_checkpoint_recreate_fresh_epoch_and_gc_sweep(spark, tmp_path):
    """ADVICE r11 regressions pinned. (1) Epoch identity: the epoch key
    is a nonce persisted INSIDE the checkpoint dir, so deleting and
    recreating the checkpoint at the SAME path (delete-and-restart, a
    common ops action) yields a NEW epoch — the replayed batch ids
    0..N apply instead of being silently swallowed by the old epoch's
    watermark (the path-hash epoch bug). (2) GC sweep: a successful
    commit reclaims EVERY generation dir below the committed pointer,
    not only the immediately superseded one, so a crash between the
    marker flip and a single-dir rmtree cannot orphan a dir forever."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from randas_spark.operators.merge import (
        _scd2_read_marker,
        scd2_commit_stream_batch,
        scd2_init_dim,
        scd2_read_dim,
    )
    from randas_spark.streaming.engine import scd2_ingest_stream

    dim0 = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k int, bal double"
    ).select(
        "k",
        "bal",
        F.lit("1970-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    dim_dir = str(tmp_path / "dim")
    scd2_init_dim(dim0, dim_dir)

    upd = spark.createDataFrame([(1, 11.0)], "k int, bal double").withColumn(
        "ts", F.lit("2001-01-01 00:00:00").cast("timestamp")
    )
    stage = tmp_path / "cdc"
    upd.coalesce(1).write.parquet(str(stage / "f0"))

    def run(ckpt):
        stream = (
            spark.readStream.schema(upd.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stage) + "/*")
        )
        scd2_ingest_stream(stream, "k", ["bal"], "ts", dim_dir, ckpt)

    ckpt = str(tmp_path / "ckpt")
    run(ckpt)
    m1 = _scd2_read_marker(dim_dir)
    assert m1["generation"] == 1
    nonce_path = os.path.join(ckpt, "_RANDAS_SCD2_EPOCH")
    epoch1 = open(nonce_path).read().strip()
    assert m1["applied"] == {epoch1: 0}

    # restart on the SAME checkpoint: nonce survives, offsets committed,
    # nothing reruns — generation stays 1
    run(ckpt)
    assert _scd2_read_marker(dim_dir)["generation"] == 1
    assert open(nonce_path).read().strip() == epoch1

    # delete-and-recreate the checkpoint at the SAME path: the file is
    # replayed with batch id 0 again — a fresh nonce means it APPLIES
    # (idempotent content: the scd2_apply of an already-reflected update
    # produces a new no-change generation, never a swallow)
    shutil.rmtree(ckpt)
    run(ckpt)
    m2 = _scd2_read_marker(dim_dir)
    epoch2 = open(nonce_path).read().strip()
    assert epoch2 != epoch1
    assert m2["generation"] == 2 and m2["applied"][epoch2] == 0
    rows = {
        (r["k"], r["bal"], r["valid_to"] is None)
        for r in scd2_read_dim(spark, dim_dir).collect()
    }
    assert (1, 11.0, True) in rows and (2, 20.0, True) in rows

    # GC sweep: plant an orphaned OLD generation (as if a prior crash
    # skipped its rmtree); the next successful commit reclaims it along
    # with the superseded current generation
    orphan = os.path.join(dim_dir, "dim_g000000.parquet")
    os.makedirs(orphan, exist_ok=True)
    assert scd2_commit_stream_batch(
        upd.limit(0), "k", ["bal"], "ts", dim_dir, 0, epoch="manual"
    )
    m3 = _scd2_read_marker(dim_dir)
    assert m3["generation"] == 3
    gens = sorted(
        d for d in os.listdir(dim_dir) if d.startswith("dim_g")
    )
    assert gens == [m3["dim"]], gens
