"""The parquet schema cache behind every table read
(``session.read_parquet``): a repeated read of unchanged files starts no
Spark job, and a changed, added or removed file is never served a cached
schema."""

import ast
import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR, started_jobs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_rewritten_table_serves_new_schema_and_values(spark, tmp_path):
    """In-place rewrites of ``orders.parquet`` (an added column, then a
    retyped one) are read with the new schema and the new values; a
    second read of unchanged files starts no job."""
    from randas_spark.queries import t

    path = str(tmp_path / "orders.parquet")
    pq.write_table(pa.table({"o_orderkey": [1, 2], "o_totalprice": [1.5, 2.5]}), path)
    assert _rows(t(spark, str(tmp_path), "orders")) == [(1, 1.5), (2, 2.5)]
    with started_jobs(spark, "schema-cache-hit") as jobs:
        df = t(spark, str(tmp_path), "orders")
    assert jobs == []
    assert df.columns == ["o_orderkey", "o_totalprice"]

    pq.write_table(
        pa.table({"o_orderkey": [1, 2], "o_totalprice": [1.5, 2.5], "o_comment": ["a", "b"]}),
        path,
    )
    df = t(spark, str(tmp_path), "orders")
    assert df.columns == ["o_orderkey", "o_totalprice", "o_comment"]
    assert _rows(df) == [(1, 1.5, "a"), (2, 2.5, "b")]

    pq.write_table(pa.table({"o_orderkey": ["k1", "k2"], "o_totalprice": [3, 4]}), path)
    df = t(spark, str(tmp_path), "orders")
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string", "bigint"]
    assert _rows(df) == [("k1", 3), ("k2", 4)]


def test_events_ts_generation_flip_takes_the_right_branch(spark, tmp_path):
    """``events.parquet`` rewritten from micros to nanos ``ts`` and back:
    ``t()`` probes the footer again and converts each generation to the
    same session-tz timestamps."""
    from randas_spark.queries import t
    from randas_spark.session import events_ts_is_nanos

    path = str(tmp_path / "events.parquet")
    stamps = [dt.datetime(2024, 1, 2, 3, 4, 5, 123456), dt.datetime(2024, 6, 7, 8, 9, 10, 654321)]
    want = [(1, "2024-01-02 03:04:05.123456"), (2, "2024-06-07 08:09:10.654321")]
    for unit, nanos in (("us", False), ("ns", True), ("us", False)):
        ts = pa.array(stamps, pa.timestamp("us")).cast(pa.timestamp(unit))
        pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), path)
        assert events_ts_is_nanos(path) is nanos
        df = t(spark, str(tmp_path), "events")
        assert df.schema["ts"].dataType.simpleString() == "timestamp"
        # session tz is UTC (t() pins it), so the string form is the UTC wall time
        assert _rows(df.selectExpr("event_id", "CAST(ts AS STRING)")) == want


def test_added_part_file_rows_appear(spark, tmp_path):
    """A part file added to or removed from a directory table changes the
    fingerprint: the added file's rows appear, the removed file's go."""
    from randas_spark.queries import t

    table = tmp_path / "orders.parquet"
    table.mkdir()
    pq.write_table(pa.table({"o_orderkey": [1, 2]}), str(table / "part-0.parquet"))
    assert _rows(t(spark, str(tmp_path), "orders")) == [(1,), (2,)]
    pq.write_table(pa.table({"o_orderkey": [3]}), str(table / "part-1.parquet"))
    assert _rows(t(spark, str(tmp_path), "orders")) == [(1,), (2,), (3,)]
    os.remove(str(table / "part-0.parquet"))
    assert _rows(t(spark, str(tmp_path), "orders")) == [(3,)]


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata not present")
def test_query_construction_starts_no_job(spark):
    """Once their tables have been read, constructing the relational
    benchmark queries starts no Spark job: plan construction stays free
    of eager work (schema inference included)."""
    from randas_spark.queries import REGISTRY, load_all

    load_all()
    names = ("q01_pricing_summary", "q18_large_orders", "q21_waiting_supplier", "stream_session_window")
    for name in names:
        REGISTRY[name].fn(spark, SF_DIR)
    for name in names:
        with started_jobs(spark, f"construct-{name}") as jobs:
            REGISTRY[name].fn(spark, SF_DIR)
        assert jobs == [], name


#: ``.read.parquet(`` call sites allowed outside the cached reader, by
#: (file, enclosing function), each with its reason.
_PLAIN_READS = {
    ("session.py", "read_parquet"): "the cached reader's own inference on a miss",
    # streaming stores gain files every batch, so a cache would always
    # miss, and a torn store must fail the batch at inference
    ("streaming/engine.py", "dedup_ingest_stream.sink"): "stream store read",
    ("streaming/engine.py", "idempotent_batch_sink.sink"): "stream store read",
    # user paths that may be remote URIs the local stat key cannot see
    ("frame.py", "RandasFrame.read_from_file"): "user-supplied, possibly remote path",
}


def test_parquet_reads_go_through_the_cached_reader():
    """No ``.read.parquet(`` under ``randas_spark/`` outside the cached
    reader, except the allowlisted sites above."""
    pkg = os.path.join(REPO, "randas_spark")
    found = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, pkg).replace(os.sep, "/")
            tree = ast.parse(open(path).read())
            stack = [(tree, "")]
            while stack:
                node, func = stack.pop()
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    func = f"{func}.{node.name}" if func else node.name
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                    and isinstance(node.func.value, ast.Attribute)
                    and node.func.value.attr == "read"
                ):
                    found.append((rel, func, node.lineno))
                stack.extend((child, func) for child in ast.iter_child_nodes(node))
    stray = [f for f in found if (f[0], f[1]) not in _PLAIN_READS]
    assert stray == []
    # each allowlisted site still exists and reads once
    assert sorted((f[0], f[1]) for f in found) == sorted(_PLAIN_READS)
