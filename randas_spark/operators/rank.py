"""Distributed global ranking and prefix scans — row_number, running
max and running sum over a TOTAL order without the single-task funnel.

A bare ``row_number() OVER (ORDER BY ...)`` (no PARTITION BY) collapses
the whole dataset into ONE window task — the classic scale cliff hiding
in otherwise-fine plans. The alternative here is the machinery a global
orderBy already uses, kept parallel end-to-end:

1. ``repartitionByRange`` on the sort key — sampled range boundaries
   put partition i strictly before partition i+1 in the total order;
2. per-partition ``row_number`` (parallel, each task ranks only its
   slice);
3. one 32-row per-partition count table, cumulative-summed on the
   driver-scale side and BROADCAST back as offsets.

Identical ranks to the funnel formulation, no task ever sees more than
its range slice. First used inline by llm_shard_balance (queries/
llm.py); extracted here because the pattern generalizes — percentile
assignment (rel_global_percentile), deterministic ID issuance,
pagination. The reference engine (dataframe.rs) has no ranking at all;
this is the beyond-reference scale path for any global-order need.

The same plan serves any associative/commutative prefix aggregate:
:func:`_prefix_scan` is the one core, and the rank, prefix max
(watermark lateness) and prefix sum (sequence packing offsets) each
pass only their local window aggregate, their partition aggregate and
their final combine.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def _prefix_scan(
    df: DataFrame,
    order: list[Column],
    n_parts: int,
    out_col: str,
    value: Column | str,
    agg: Callable[[Column | str], Column],
    combine: Callable[[Column, Column], Column],
    merge: Callable[[Column | str], Column] | None = None,
    local: Callable[[WindowSpec], Column] | None = None,
) -> DataFrame:
    """The one distributed prefix-scan plan:

    1. range-repartition on the order key (partition i strictly before
       partition i+1 in the total order), tag each row with its
       partition id;
    2. per-row local result over its own partition, in parallel —
       ``local(w)`` on the partition-ordered window ``w``, by default
       the exclusive running ``agg(value)`` (strictly earlier local rows);
    3. an ``n_parts``-row table of ``agg(value)`` per partition,
       merged over all strictly earlier partitions by ``merge`` (the
       aggregate that combines partial results: ``agg`` itself for max
       and sum, sum for a count), BROADCAST back;
    4. ``out_col = combine(local result, prior partitions' result)``.
    """
    earlier = (Window.unboundedPreceding, -1)  # strictly earlier rows
    w = Window.partitionBy("__pid__").orderBy(*order)
    parts = df.repartitionByRange(n_parts, *order).sortWithinPartitions(*order)
    local_col = local(w) if local else agg(value).over(w.rowsBetween(*earlier))
    tagged = parts.withColumn("__pid__", F.spark_partition_id()).withColumn(
        "__loc__", local_col
    )
    pstats = (
        tagged.groupBy("__pid__")
        .agg(agg(value).alias("__pagg__"))
        .withColumn(
            "__prior__",
            (merge or agg)("__pagg__").over(
                Window.orderBy("__pid__").rowsBetween(*earlier)
            ),
        )
        .select("__pid__", "__prior__")
    )
    return (
        tagged.join(F.broadcast(pstats), "__pid__")
        .withColumn(out_col, combine(F.col("__loc__"), F.col("__prior__")))
        .drop("__pid__", "__loc__", "__prior__")
    )


def distributed_global_rank(
    df: DataFrame,
    order: list[Column],
    n_parts: int = 32,
    out_col: str = "rn",
) -> DataFrame:
    """Add a 0-based global row number ``out_col`` under the total order
    ``order`` (which must be deterministic — include a tiebreak key).

    Scale: no single-task window. Range-repartition on the sort key,
    rank within each partition in parallel (``row_number``), then add
    broadcast cumulative offsets from the ``n_parts``-row count table.
    On a real cluster set ``n_parts`` ≈ 2-3x total cores (the same
    sizing as any shuffle).
    """
    return _prefix_scan(
        df,
        order,
        n_parts,
        out_col,
        value=F.lit(1),
        agg=F.count,
        merge=F.sum,
        local=lambda w: F.row_number().over(w) - 1,
        combine=lambda lrk, off: (F.coalesce(off, F.lit(0)) + lrk).cast("long"),
    )


def distributed_prefix_max(
    df: DataFrame,
    order: list[Column],
    value_col: str,
    out_col: str = "prior_max",
    n_parts: int = 32,
) -> DataFrame:
    """Add ``out_col`` = max of ``value_col`` over all STRICTLY earlier
    rows under the total order ``order`` (NULL for the first row).

    A bare ``max() OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)`` puts
    the whole dataset through one window task; this never does. The
    motivating use is the watermark-lateness audit (an event's lateness
    is how far the arrival-time high-water mark had already passed its
    event time), but any running high-water/record-to-date computation
    fits.
    """
    # greatest() skips NULLs, so the first rows of the first partition
    # (no local prior, no prior partition) stay NULL
    return _prefix_scan(
        df, order, n_parts, out_col, value_col, agg=F.max, combine=F.greatest
    )


def distributed_prefix_sum(
    df: DataFrame,
    order: list[Column],
    value_col: str,
    out_col: str = "prior_sum",
    n_parts: int = 32,
) -> DataFrame:
    """Add ``out_col`` = sum of ``value_col`` over all STRICTLY earlier
    rows under the total order ``order`` (0 for the first row) — the
    EXCLUSIVE prefix sum. A bare ``sum() OVER (ORDER BY ...)`` is the
    single-task funnel this module exists to kill.

    Integer discipline: callers pass integer value columns (token
    counts, byte sizes) so the scan is exact and order-free; the
    motivating use is sequence packing (operators/corpus.sequence_pack),
    where a doc's global token offset is exactly this prefix sum.
    """
    return _prefix_scan(
        df,
        order,
        n_parts,
        out_col,
        value_col,
        agg=F.sum,
        combine=lambda lps, prior: (
            F.coalesce(lps, F.lit(0)) + F.coalesce(prior, F.lit(0))
        ).cast("long"),
    )
