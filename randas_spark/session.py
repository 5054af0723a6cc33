"""SparkSession bootstrap and table loading.

Scale notes (the engine targets ~100 TB on a 1000-executor cluster; tests
run on local[32]):

- AQE is on: runtime partition coalescing, skew-join splitting and
  dynamic join-strategy switching replace hand-tuned shuffle counts when
  input sizes change by 1000x.
- ``spark.sql.shuffle.partitions`` defaults to a small local value but is
  only the *initial* number — AQE coalesces/expands at runtime, so the same
  code is correct on a real cluster where the operator would set it (or let
  AQE derive it) to ~2-3x total cores.
- Arrow is enabled for every pandas interchange (Pandas UDFs, toPandas).
- Session timezone is pinned to UTC so timestamp semantics match the
  DuckDB oracle and are cluster-invariant.
"""

from __future__ import annotations

import os
import stat
import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

#: Tables the driver generates at /root/testdata/sf*/ (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(app_name: str = "randas_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the tuned local SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. On a real
    cluster the master/memory settings come from spark-submit and the
    builder here is a no-op (getOrCreate reuses the injected session);
    only the semantic configs (ANSI off, UTC, AQE) matter there.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime re-planning — partition coalescing, skew-join
        # handling, dynamic broadcast. Core to the 100TB design: plans
        # written here survive scale-up without retuning.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Initial shuffle parallelism ~ local cores; AQE coalesces below
        # this when partitions are tiny and splits skewed ones above it.
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for all Python<->JVM batch transfer (Pandas UDFs etc.).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The reference's semantics are non-ANSI (silent coercion); also
        # keeps Spark 4 defaults from raising on e.g. bad casts in parity ops.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # PySpark 4's DataFrame debugging captures the Python call site
        # for error context on EVERY DataFrame/Column API call — 3-4 JVM
        # round trips each (getActiveSession + conf.get + origin
        # set/clear). Profiled on rel_logreg_newton: 9106 py4j
        # send_commands per construction, ~1 s of a 2.8 s query
        # (OPTIMIZATION_r13.md). Driver-side overhead, scale-independent
        # — a production cluster driver pays it identically. Off here;
        # flip on when chasing an error's call site.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (columnar parquet scan; Catalyst pushes
    filters/projections into the scan — verify with .explain). The
    schema is inferred once per file fingerprint (:func:`read_parquet`)."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all testdata tables and register each as a temp view so both
    the DataFrame DSL and ``spark.sql`` lifecycles are available."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            df = load_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


# -- parquet schema cache ---------------------------------------------------

#: Session confs that change what parquet schema inference returns; the
#: values in force are part of every cached schema's key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
_MAX_ENTRIES = 1024


@dataclass
class _ParquetFacts:
    """What is known about one parquet path while its files keep the stat
    ``fingerprint``: the inferred schema per (session, inference confs)
    and the events ``ts`` footer type."""

    fingerprint: tuple
    schemas: dict = field(default_factory=dict)
    ts_nanos: bool | None = None


_FACTS: dict[str, _ParquetFacts] = {}
_FACTS_LOCK = threading.Lock()


def _stat_fingerprint(path: str) -> tuple:
    """Sorted ``(relpath, size, mtime_ns, inode)`` of every file under
    ``path`` (or of ``path`` itself when it is a file). Any rewrite,
    added or removed file — part files, partition directories, summary
    files — changes it; reading it costs one directory walk. Unlike the
    persisted index digest (``similarity.parquet_fingerprint``, data
    files only), summary and marker files count too: they feed inference."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (("", st.st_size, st.st_mtime_ns, st.st_ino),)
    out = []
    for root, _dirs, files in os.walk(path, followlinks=True):
        for fn in files:
            st = os.stat(os.path.join(root, fn))
            rel = os.path.relpath(os.path.join(root, fn), path)
            out.append((rel, st.st_size, st.st_mtime_ns, st.st_ino))
    return tuple(sorted(out))


def _parquet_facts(path: str) -> _ParquetFacts | None:
    """The facts entry for ``path``'s current files: the cached one when
    the fingerprint still matches, else a fresh empty one. None when the
    path cannot be stat'ed as a local file or directory."""
    key = os.path.abspath(path)
    try:
        fp = _stat_fingerprint(key)
    except OSError:  # missing path, URI or glob, or a file removed mid-walk
        return None
    with _FACTS_LOCK:
        facts = _FACTS.get(key)
        if facts is None or facts.fingerprint != fp:
            _FACTS.pop(key, None)
            if len(_FACTS) >= _MAX_ENTRIES:
                _FACTS.pop(next(iter(_FACTS)))
            facts = _FACTS[key] = _ParquetFacts(fp)
    return facts


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers each local table's schema
    once per file fingerprint.

    A path read makes Spark infer the schema with a job over the
    footers, every time, even for a file it has just read. Here the
    inferred ``StructType`` is kept under the path, the session and the
    inference confs in force, and is valid while the files keep the
    stat fingerprint taken *before* inference (:func:`_stat_fingerprint`).
    A hit reads with that schema supplied (no job); a miss or any
    changed, added or removed file infers again. Only schemas are
    cached: file listing and scans stay live, so a rewritten table never
    serves stale rows or a stale schema. Non-local paths read as plain
    ``spark.read.parquet``."""
    facts = _parquet_facts(path)
    if facts is not None:
        key = (spark._jsparkSession.hashCode(), *(spark.conf.get(c) for c in _INFERENCE_CONFS))
        schema = facts.schemas.get(key)
        if schema is not None:
            return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if facts is not None:
        facts.schemas[key] = df.schema
    return df


def events_ts_is_nanos(path: str) -> bool:
    """True when ``events.parquet`` stores ``ts`` as int64 nanos (or parquet
    TIMESTAMP(NANOS), which Spark only reads via the nanosAsLong legacy
    conf) rather than a native micro/milli timestamp the reader handles
    directly. Decided from the parquet footer (pyarrow) so the Spark read
    never throws on either generation of the testdata; kept in the same
    fingerprinted entry as the schema, so a file rewritten with the other
    ``ts`` generation is probed again."""
    import pyarrow.parquet as pq

    facts = _parquet_facts(path)
    if facts is not None and facts.ts_nanos is not None:
        return facts.ts_nanos
    probe = path
    if os.path.isdir(path):
        inner = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        if not inner:
            return False
        probe = os.path.join(path, inner[0])
    nanos = str(pq.read_schema(probe).field("ts").type) in ("int64", "timestamp[ns]")
    if facts is not None:
        facts.ts_nanos = nanos
    return nanos
