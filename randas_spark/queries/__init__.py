"""Registry wiring ``__spark_entry__.queries()`` / ``oracle_sql()``.

Every implemented operator registers here with a Spark callable and
(whenever SQL-expressible) a DuckDB oracle SQL string over the same parquet
tables. The driver cross-checks row-count + schema + order-insensitive
value hash at sf=0.01 — so:

- every computed column is aliased identically in Spark and SQL;
- float aggregates are ``round()``-ed identically on both sides so
  summation-order differences between engines can't flip the value hash.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from randas_spark.session import events_ts_is_nanos, load_table


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    doc: str = ""


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: add a (spark_fn, oracle_sql) pair to the registry."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return wrap


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame (parquet scan), through
    :func:`randas_spark.session.load_table`: the schema is inferred once
    per file fingerprint, so a repeated read of unchanged files starts no
    Spark job.

    ``events.parquet`` has shipped with two different ``ts`` physical
    types across testdata generations, so the loader branches on the
    parquet footer (:func:`events_ts_is_nanos`, probed once per file
    fingerprint):

    - int64 / TIMESTAMP(NANOS): read as long (legacy conf) and convert
      with integer div (double division would lose precision past 2^53);
    - TIMESTAMP(MICROS/MILLIS) (current generation): read natively and
      cast to session-tz timestamp (session tz is pinned UTC, so the
      NTZ→LTZ cast is value-preserving).

    DuckDB truncates ``ts::TIMESTAMP`` identically in both cases, so
    oracles keep using that cast.
    """
    from pyspark.sql import functions as F

    # Spark 4 defaults to ANSI mode; the engine's parity semantics (silent
    # numeric coercion, wraparound minhash multiplies) need it off. Set at
    # runtime so queries behave identically on the driver's own session.
    # Session tz pinned UTC for the same reason: the events NTZ→LTZ cast
    # and every unix_* / window bucket must not shift with the host tz.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name != "events":
        return load_table(spark, sf_dir, name)
    nanos = events_ts_is_nanos(os.path.join(sf_dir, "events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true" if nanos else "false")
    df = load_table(spark, sf_dir, name)
    if nanos:
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def parquet_num_rows(path: str) -> int:
    """Exact row count of a parquet file/directory from the FOOTER
    (pyarrow metadata), no Spark job. For sizing decisions that need N
    of a base table — e.g. adaptive_plane_count(N), the isqrt(N) IVF
    cell formulas — a full df.count() job is a scan + aggregate whose
    only output is a number the file metadata already carries; the
    footer read is the same number (parquet num_rows is exact) at
    metadata cost, like the events_ts_is_nanos footer probe. Not valid after filters or joins — unfiltered reads only."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


def table_num_rows(sf_dir: str, name: str) -> int:
    """:func:`parquet_num_rows` for one named testdata table."""
    return parquet_num_rows(os.path.join(sf_dir, f"{name}.parquet"))


def _persisted_index(
    sf_dir: str,
    family: str,
    tag: str,
    kind: str,
    params: dict,
    build: Callable[..., None],
) -> tuple[str, str]:
    """Build-if-absent persisted ANN index over ``sf_dir``'s embeddings,
    at ``benchdata/<family>/<sf>_<tag>`` under the repo root. Ready means
    a committed ``kind`` marker whose build params equal ``params`` and
    whose corpus fingerprint is the source parquet's current one;
    otherwise the dir is removed and rebuilt by
    ``build(index_dir, fp, **params)``, so the checked params and the
    build arguments are one literal. Returns (index_dir, fp)."""
    import shutil

    from randas_spark.operators.similarity import index_ready, parquet_fingerprint

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    index_dir = os.path.join(_repo_root(), "benchdata", family, f"{sf_tag}_{tag}")
    fp = parquet_fingerprint(os.path.join(sf_dir, "embeddings.parquet"))
    if not index_ready(index_dir, kind=kind, params=params, fingerprint=fp):
        shutil.rmtree(index_dir, ignore_errors=True)
        build(index_dir, fp, **params)
    return index_dir, fp


def fround(col, digits: int):
    """Engine-portable rounding: floor(x*10^d + 0.5)/10^d.

    Spark's round() goes through Java BigDecimal (decimal-string HALF_UP)
    while DuckDB rounds via float multiply — they disagree on exact .xx5
    doubles (e.g. 37081.645). This formula is the same IEEE op sequence on
    both engines, so equal inputs give bit-equal outputs. Pair with
    :func:`sql_fround` in the oracle.

    Domain: exact agreement requires |x|·10^digits < 2^53 (beyond that,
    Spark's floor→int64 vs DuckDB's floor→double diverge in the last
    ulp; property-tested in tests/test_properties.py). Keep digits low
    for large aggregates.
    """
    from pyspark.sql import functions as F

    scale = 10 ** digits
    return F.floor(col * scale + F.lit(0.5)) / scale


def sql_fround(expr: str, digits: int) -> str:
    """DuckDB-side twin of :func:`fround`."""
    scale = 10 ** digits
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


def load_all() -> None:
    """Import every query module so registration side effects run."""
    from randas_spark.queries import (  # noqa: F401
        reference,
        relational,
        tpch,
        llm,
        pipeline,
        streaming_q,
    )


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _driver_history() -> tuple[dict[str, int], set[str]]:
    """Per-query driver-check history from CORRECTNESS_r*.json at the repo
    root: (clean-row counts, names whose rows carried an err OR a failed
    value hash — a hash-fail is a wrong answer, not a clean check)."""
    import glob
    import json

    clean: dict[str, int] = {}
    errs: set[str] = set()
    for path in sorted(glob.glob(os.path.join(_repo_root(), "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if row.get("err") or row.get("hash_match") is False:
                errs.add(name)
            else:
                clean[name] = clean.get(name, 0) + 1
    return clean, errs


def source_hash(qd: QueryDef) -> str:
    """Content hash of a query's observable definition: the Spark fn's
    source plus the oracle SQL text. Oracle strings are built at import
    time, so shared SQL-helper edits change them (and the hash); Spark-side
    helper edits are visible only when the fn body changes — the known
    approximation."""
    import hashlib
    import inspect

    try:
        src = inspect.getsource(qd.fn)
    except (OSError, TypeError):
        src = qd.fn.__code__.co_code.hex()
    return hashlib.sha256((src + "\x00" + (qd.oracle or "")).encode()).hexdigest()[:16]


def _hash_snapshot() -> dict[str, str]:
    """name → source hash as of each query's last clean driver row
    (QUERY_HASHES.json, maintained by tools/update_query_hashes.py and
    committed with the round)."""
    import json

    try:
        with open(os.path.join(_repo_root(), "QUERY_HASHES.json")) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return {}
    return {k: v for k, v in data.items() if isinstance(v, str)}


def _ordered_names() -> list[str]:
    """Registry names in sweep-priority order (deterministic: inputs are
    the committed CORRECTNESS_r*.json + QUERY_HASHES.json + source).

    The driver's per-round correctness sweep caps at ~50 queries taken in
    dict order; this ordering makes each round's sweep re-verify what most
    needs verifying instead of letting a regression hide behind an old
    green row:

    1. queries whose fn/oracle source hash CHANGED since their last clean
       driver row (modified code must re-verify first — closes the
       evade-by-editing-a-green-query hole);
    2. queries whose past rows were only err/hash-fail but that register
       an oracle (fixed since — re-verify immediately);
    3. queries with no clean driver row yet, alphabetical;
    4. already-green queries, least-often-checked first.
    """
    clean, errs = _driver_history()
    snap = _hash_snapshot()

    def key(n: str):
        qd = REGISTRY[n]
        rec = snap.get(n)
        if clean.get(n, 0) > 0 and rec is not None and rec != source_hash(qd):
            pri = -2
        elif n in errs and clean.get(n, 0) == 0 and qd.oracle is not None:
            pri = -1
        else:
            pri = clean.get(n, 0)
        return (pri, n)

    return sorted(REGISTRY, key=key)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    load_all()
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    load_all()
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
