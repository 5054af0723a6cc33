"""Deterministic, engine-portable sampling operators.

The reference has no sampling at all (SURVEY.md §2.12 — `rand` is in its
Cargo.toml but unused by any public API); a 100 TB training-data pipeline
needs *reproducible* corpus sampling: the same rows must be selected
regardless of partitioning, executor count, retry, or even engine.
Spark's ``df.sample(seed=...)`` is none of those things (the seed is
per-partition, so a repartition changes the sample), so these operators
derive selection from the DATA — a key column — instead of from RNG
state:

- :func:`systematic_sample` — ``key % m == r``. Zero-cost, pushed into
  the scan as a codegen'd predicate.
- :func:`hash_sample` — uniform Bernoulli at any rate via an md5 hex
  threshold on the key. md5 is bit-identical in every engine, so the
  selected set is portable (same rows in Spark and DuckDB) and the rate
  is |{h < t}| / 16^32 ≈ threshold/16 per leading hex digit.
- :func:`stratified_sample` — exactly n rows per stratum, chosen by
  md5-order within the stratum (a deterministic "random" order), via a
  ranking window.
- :func:`train_test_split` — hash_sample's threshold as a labeled split
  column: one pass, mutually exclusive, jointly exhaustive.

Scale notes: systematic/hash sampling are narrow (no shuffle — a filter
on the scan); stratified_sample shuffles once on the strata columns, the
same partitioning any per-stratum downstream agg would need. All stay
inside whole-stage codegen (md5 + substring + comparison are JVM
built-ins, no Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _md5_hex(key: Column) -> Column:
    """Lowercase md5 hex of the key's string form (UTF-8 bytes) —
    bit-identical across Spark, DuckDB, and Python hashlib."""
    return F.md5(key.cast("string").cast("binary"))


def systematic_sample(df: DataFrame, key: str, modulus: int, remainder: int = 0) -> DataFrame:
    """Keep rows where ``key % modulus == remainder`` (~1/modulus rate).

    Suits integer surrogate keys with uniform low bits; for skewed or
    non-integer keys use :func:`hash_sample`.
    """
    if modulus <= 0 or not (0 <= remainder < modulus):
        raise ValueError(f"need 0 <= remainder < modulus, got {remainder}/{modulus}")
    # pmod, not %: Spark's % follows the dividend's sign, so negative
    # keys would NEVER match a positive remainder and the sample would
    # silently exclude them (oracle twin: ((k % m) + m) % m).
    return df.filter(F.pmod(F.col(key), F.lit(modulus)) == remainder)


def hash_sample(df: DataFrame, key: str, rate: float) -> DataFrame:
    """Bernoulli-style sample at ``rate`` via md5(key) < hex threshold.

    Deterministic in the key: a row's fate never changes across runs,
    partitionings, or engines. Rate resolution is 1/16^8 (the threshold
    is built from the first 8 hex digits).
    """
    return df.filter(_hash_below(F.col(key), rate))


def _hash_below(key: Column, rate: float) -> Column:
    """True iff md5(key) falls below the rate threshold.

    rate=1.0 must special-case to literal True: int(1.0 * 16^8) formats
    to the NINE-char '100000000', and a 32-char md5 hex compares below it
    lexicographically only when it starts with '0' — i.e. the naive
    threshold silently keeps ~1/16 of rows at rate 1.0.
    """
    if not (0.0 <= rate <= 1.0):
        raise ValueError(f"rate must be in [0,1], got {rate}")
    if rate >= 1.0:
        return F.lit(True)
    return _md5_hex(key) < format(int(rate * 16**8), "08x")


def stratified_sample(df: DataFrame, strata: list[str], n: int, key: str) -> DataFrame:
    """Exactly ``min(n, |stratum|)`` rows per stratum, md5(key)-ordered.

    The md5 order is a deterministic shuffle, so this is equal-allocation
    stratified sampling with a portable tiebreak (key itself breaks md5
    ties; rows DUPLICATED on (strata, key) still tie — use a unique key
    for row-level determinism). One shuffle on the strata columns.
    """
    w = Window.partitionBy(*strata).orderBy(_md5_hex(F.col(key)), F.col(key))
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= n)
        .drop("__rn__")
    )


def train_test_split(df: DataFrame, key: str, test_rate: float, col: str = "split") -> DataFrame:
    """Label every row 'test' (md5(key) below threshold) or 'train'.

    One narrow pass; the split survives re-runs and engine changes, and
    membership can be recomputed from the key alone — the property that
    matters when the corpus is 100 TB and the split must never drift.
    """
    is_test = _hash_below(F.col(key), test_rate)
    return df.withColumn(col, F.when(is_test, F.lit("test")).otherwise(F.lit("train")))


def sql_md5_hex(expr: str) -> str:
    """DuckDB twin of :func:`_md5_hex` for oracle SQL."""
    return f"md5(CAST({expr} AS VARCHAR))"


def fixed_size_sample(df: DataFrame, key: str, n: int) -> DataFrame:
    """EXACTLY-n deterministic sample: the n rows with the smallest
    md5(key) (ties broken by the key itself). The size-based companion
    of :func:`hash_sample` (rate-based): "give me exactly 100k docs,
    the same 100k every run, on any engine".

    Scale: ORDER BY + LIMIT plans as TakeOrderedAndProject — per-
    partition top-n heaps merged on the driver side of the exchange, no
    global sort materialization. Growing the corpus only changes the
    sample incrementally (a doc leaves only when a smaller-hash doc
    arrives) — the property that keeps downstream caches warm across
    ingest batches.

    ``key`` must be UNIQUE: rows sharing a key value tie on the whole
    (md5, key) sort tuple, and which duplicate crosses the limit
    boundary is partition-order-dependent — determinism holds over key
    VALUES always, over rows only when keys are unique.
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    return df.orderBy(_md5_hex(F.col(key)), F.col(key)).limit(n)


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    fractions: tuple[tuple[str, float], ...] = (("train", 0.8), ("val", 0.9)),
    final: str = "test",
) -> DataFrame:
    """(id, cluster, split): train/val/test assignment BY DEDUP CLUSTER,
    not by document — the split every evaluation-integrity audit
    actually requires. Doc-level splitting (train_test_split) leaks
    whenever near-duplicates of a test document sit in train, which on
    crawl corpora is the norm, not the edge case; here every transitive
    near-dup cluster (``pairs`` edges closed under connectivity via
    star-CC, O(log² n) rounds) lands wholly in ONE split, chosen by an
    md5 threshold on the cluster's min-id representative — the same
    engine-portable hash discipline as hash_sample, so the assignment
    is reproducible across runs, partitionings, and engines.

    ``fractions`` are cumulative upper bounds ((name, cum_rate)...),
    remainder labeled ``final``. Cluster sizes skew the realized doc
    fractions slightly — inherent to leak-safety (clusters are atomic),
    and the honest trade: you cannot have both exact doc fractions and
    zero cluster straddling.

    Scale shape: the split itself adds ONE narrow projection over the
    CC labels (md5 + threshold CASE, codegen) and a left join of ids to
    labels — cost is entirely the pair generation + CC the dedup
    pipeline already runs; reuse those labels when both are needed.
    """
    from randas_spark.operators.dedup import dedup_cluster_assignments

    if not fractions:
        raise ValueError("fractions must name at least one split")
    cums = [cum for _, cum in fractions]
    if any(b <= a for a, b in zip(cums, cums[1:])):
        raise ValueError(
            f"fractions are CUMULATIVE upper bounds and must strictly increase, got {cums}"
        )
    full = dedup_cluster_assignments(df, pairs, id_col).drop("keep")
    split = None
    for name, cum in fractions:
        cond = _hash_below(F.col("cluster"), cum)
        split = (
            F.when(cond, F.lit(name))
            if split is None
            else split.when(cond, F.lit(name))
        )
    return full.withColumn("split", split.otherwise(F.lit(final)))


def importance_resample(
    df: DataFrame,
    id_col: str,
    weight: Column,
    target_frac: float = 0.3,
) -> DataFrame:
    """Weight-proportional deterministic resampling (the DSIR-shaped
    pass): keep each row with probability min(1, target_frac·N·w/Σw),
    so the kept set's expected size is target_frac·N while high-weight rows
    (quality, domain-match, classifier score) are kept proportionally
    more often. The selection stays a pure function of the id — weights
    quantize to 1e-6 integers (so Σw is an EXACT long, immune to float
    accumulation order), per-row rates quantize to 1e-6 by floor, and
    membership compares md5(id)'s 32-bit value mod 1e6 against the rate,
    identically replayable on any engine.

    Scale shape: one tiny global agg (Σw, N — a single broadcast row),
    then a scan-side codegen filter; the corpus never shuffles. The
    same discipline as temperature_mixture_sample with per-ROW rather
    than per-source rates. Output adds ``wq`` — the quantized weight the
    rate was computed from (replacing any input column of that name).

    Weights are clamped at zero (negative weights would deflate the
    exact Σw and inflate every other row's keep-rate past the
    documented model), and a corpus whose weights ALL quantize to zero
    (Σw = 0 — no signal) degrades to a uniform hash sample at
    ``target_frac`` instead of the NaN-poisoned keep-everything a raw
    0/0 rate would produce (Spark orders NaN largest, so
    least(1.0, NaN) is 1.0).
    """
    # "wq" (the 1e-6-quantized weight) is a DOCUMENTED output column —
    # callers price the kept set by it; an input column of that name is
    # replaced. Internal temps use an __ir_ prefix to dodge collisions.
    d = df.withColumn(
        "wq",
        F.greatest(
            F.lit(0).cast("long"),
            F.coalesce(F.floor(weight * F.lit(1_000_000.0)).cast("long"), F.lit(0)),
        ),
    )
    tot = d.agg(
        F.sum("wq").alias("__ir_sw__"),
        F.count(F.lit(1)).cast("double").alias("__ir_n__"),
    )
    rate = F.when(
        F.col("__ir_sw__") > 0,
        F.least(
            F.lit(1.0),
            F.lit(target_frac)
            * F.col("__ir_n__")
            * F.col("wq").cast("double")
            / F.col("__ir_sw__").cast("double"),
        ),
    ).otherwise(F.lit(float(target_frac)))
    thr = F.floor(rate * F.lit(1_000_000)).cast("long")
    h = (
        F.conv(F.substring(_md5_hex(F.col(id_col)), 1, 8), 16, 10).cast("long")
        % 1_000_000
    )
    return (
        d.crossJoin(F.broadcast(tot))
        .filter(h < thr)
        .drop("__ir_sw__", "__ir_n__")
    )
