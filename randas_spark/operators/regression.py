"""Distributed closed-form regression via exact Gram-matrix aggregation.

Classic scale-out analytics: an OLS fit over N rows needs only the
O(d^2) Gram sums (X^T X, X^T y), which Spark computes in ONE scan with
map-side partial aggregation — no iteration, no driver-side data, and
the shuffle carries |groups| x O(d^2) cells regardless of N. At 100 TB
the plan is a single map-combined groupBy; the per-group solve is a
constant-size expression evaluated inside codegen.

Cross-engine determinism (the oracle story): float summation order
differs between engines, so the Gram sums are accumulated over
SCALED INTEGER features (floor(x * scale + 0.5) as BIGINT) — integer
addition is associative, so Spark and DuckDB produce bit-equal sums,
and the downstream double-precision Cramer solve is the same IEEE op
sequence on both sides (conversion of the same exact integer to double
rounds identically on both engines even past 2^53).

Overflow discipline: per-row products stay in int64 (they fit by
construction — the dominant cell (y_max * scale_y)^2 is ~1.1e12), and
the accumulations stay int64 too (the fast long-backed aggregation
path) but are GUARDED: each cell also aggregates max(abs(value)), and
the finisher raises via raise_error when n * max|cell| could reach
2^63 — a guaranteed upper bound on |sum|, so wraparound can never pass
silently; the guard CASE is attached to EVERY returned column, so a
narrowed projection (e.g. ``.select('b1')``) cannot let Catalyst prune
the check away (Spark's non-ANSI BIGINT sum wraps; DuckDB promotes to
HUGEINT; an unguarded overflow would diverge SILENTLY between the
engines — VERDICT r6). A DECIMAL(38,0) accumulator was measured
2.5-3.5x slower end-to-end (precision-38 decimals leave the long-backed
aggregation path), so loud failure + a documented rescale escape hatch
beats paying the decimal tax on every run. The reference engine
(dataframe.rs:186-353) stops at scalar aggregates; closed-form model
fitting is the natural next rung for an analytics engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _scaled(col: str, scale: int) -> Column:
    """floor(x*scale + 0.5) as BIGINT — the fround integerization, kept
    identical to the SQL oracle so both engines sum the same integers."""
    return F.floor(F.col(col) * scale + F.lit(0.5)).cast("long")


def _cramer(n, a1, a2, ay, a11, a12, a22, a1y, a2y) -> tuple[Column, ...]:
    """(det, b0, b1, b2) of the symmetric 3x3 system
    [[n,a1,a2],[a1,a11,a12],[a2,a12,a22]] b = [ay,a1y,a2y] by Cramer's
    rule, over double Columns. :data:`_SQL_CRAMER` spells the same
    operation order for DuckDB, so both engines get bit-equal doubles."""
    det = (
        n * (a11 * a22 - a12 * a12)
        - a1 * (a1 * a22 - a12 * a2)
        + a2 * (a1 * a12 - a11 * a2)
    )
    b0 = (
        ay * (a11 * a22 - a12 * a12)
        - a1 * (a1y * a22 - a12 * a2y)
        + a2 * (a1y * a12 - a11 * a2y)
    ) / det
    b1 = (
        n * (a1y * a22 - a12 * a2y)
        - ay * (a1 * a22 - a12 * a2)
        + a2 * (a1 * a2y - a1y * a2)
    ) / det
    b2 = (
        n * (a11 * a2y - a1y * a12)
        - a1 * (a1 * a2y - a1y * a2)
        + ay * (a1 * a12 - a11 * a2)
    ) / det
    return det, b0, b1, b2


#: DuckDB twin of :func:`_cramer`: (det, b0, b1, b2) over columns named
#: like its arguments; the coefficients divide by a ``det`` column.
_SQL_CRAMER = (
    "(n * (a11 * a22 - a12 * a12)"
    " - a1 * (a1 * a22 - a12 * a2)"
    " + a2 * (a1 * a12 - a11 * a2))",
    "((ay * (a11 * a22 - a12 * a12)"
    " - a1 * (a1y * a22 - a12 * a2y)"
    " + a2 * (a1y * a12 - a11 * a2y)) / det)",
    "((n * (a1y * a22 - a12 * a2y)"
    " - ay * (a1 * a22 - a12 * a2)"
    " + a2 * (a1 * a2y - a1y * a2)) / det)",
    "((n * (a11 * a2y - a1y * a12)"
    " - a1 * (a1 * a2y - a1y * a2)"
    " + ay * (a1 * a12 - a11 * a2)) / det)",
)


#: Conservative int64 headroom: guards fire when n * max|cell| could
#: reach this, which upper-bounds |sum| (margin under 2^63 = 9.22e18).
_I64_GUARD = 9.0e18


class _GuardedSums:
    """int64 cell sums with a LOUD overflow guard (VERDICT r6 / ADVICE:
    Spark's non-ANSI BIGINT sum wraps silently past 2^63 while DuckDB
    promotes to HUGEINT, so an overflowing run would diverge silently).

    A DECIMAL(38,0) accumulator was tried first and measured 2.5-3.5x
    slower end-to-end (rel_logreg_newton floor 1.6 -> 5.6 s: precision-38
    decimal aggregation leaves the fast long-backed path), which breaks
    the bench-vs-baseline bar. Instead the sums stay int64 and each cell
    also aggregates max(abs(per-row value)) — map-side combinable, ~free —
    and the finisher raises via raise_error when n * max|cell| could
    reach 2^63 (a guaranteed upper bound on |sum|, conservatively early).
    Overflow now fails visibly instead of corrupting coefficients; past
    the guard, rescale the quantization (the docstring budget) rather
    than eat the decimal tax on every run."""

    def __init__(self) -> None:
        self._aggs: list[Column] = []
        self._maxes: list[str] = []

    def sum(self, expr: Column, name: str) -> None:
        self._aggs.append(F.sum(expr).alias(name))
        self._aggs.append(F.max(F.abs(expr)).alias(f"__mx_{name}"))
        self._maxes.append(f"__mx_{name}")

    def aggs(self) -> list[Column]:
        return self._aggs

    def guard(self, out: Column, n: Column, op: str) -> Column:
        """Wrap one output column so evaluating it trips the overflow
        check: CASE WHEN any n*max|cell| >= 2^63-margin THEN raise_error."""
        cond = None
        for mx in self._maxes:
            c = n.cast("double") * F.col(mx).cast("double") > F.lit(_I64_GUARD)
            cond = c if cond is None else (cond | c)
        return F.when(
            cond,
            F.raise_error(
                F.lit(
                    f"{op}: int64 Gram-cell budget exceeded "
                    f"(n * max|cell| > {_I64_GUARD:.1e}); reduce the "
                    f"quantization scale for this data size"
                )
            ).cast("double"),
        ).otherwise(out)


def grouped_ols(
    df: DataFrame,
    group_cols: list[str],
    x1: str,
    x2: str,
    y: str,
    scale_x: int = 1000,
    scale_y: int = 10,
    digits: int = 4,
) -> DataFrame:
    """Per-group OLS fit of ``y ~ b0 + b1*x1 + b2*x2`` plus R^2.

    One map-side-combined aggregation produces the 10 Gram sums per
    group; the 3x3 normal equations are solved in-row by Cramer's rule
    (closed form, no iteration). Returns one row per group:
    ``(groups..., n, b0, b1, b2, r2)`` with coefficients rounded via the
    engine-portable fround formula.

    Determinism: sums run over scaled int64 (exact, order-independent)
    under the loud overflow guard (module docstring); the solve runs on
    doubles derived from those exact sums by :func:`_cramer`, whose
    operation order :func:`sql_grouped_ols` splices as :data:`_SQL_CRAMER`.
    """
    from randas_spark.queries import fround

    sx1, sx2 = _scaled(x1, scale_x), _scaled(x2, scale_x)
    sy = _scaled(y, scale_y)
    gs = _GuardedSums()
    for expr, name in [
        (sx1, "s1"), (sx2, "s2"), (sy, "sy"),
        (sx1 * sx1, "s11"), (sx1 * sx2, "s12"), (sx2 * sx2, "s22"),
        (sx1 * sy, "s1y"), (sx2 * sy, "s2y"), (sy * sy, "syy"),
    ]:
        gs.sum(expr, name)
    g = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"), *gs.aggs()
    )
    kx, ky = float(scale_x), float(scale_y)
    # Unscale the exact integer sums into doubles. Each Gram cell divides
    # by the product of its factors' scales; identical constants +
    # identical division order on the oracle side give bit-equal doubles.
    n = F.col("n").cast("double")
    a1 = F.col("s1") / kx
    a2 = F.col("s2") / kx
    ay = F.col("sy") / ky
    a11 = F.col("s11") / (kx * kx)
    a12 = F.col("s12") / (kx * kx)
    a22 = F.col("s22") / (kx * kx)
    a1y = F.col("s1y") / (kx * ky)
    a2y = F.col("s2y") / (kx * ky)
    ayy = F.col("syy") / (ky * ky)
    _, b0, b1, b2 = _cramer(n, a1, a2, ay, a11, a12, a22, a1y, a2y)
    sse = ayy - b0 * ay - b1 * a1y - b2 * a2y
    sst = ayy - ay * ay / n
    r2 = F.lit(1.0) - sse / sst
    return g.select(
        *group_cols,
        F.col("n"),
        # EVERY returned column carries the guard: Catalyst prunes unused
        # expressions, so a consumer selecting only b1 would bypass a
        # guard attached solely to b0 (ADVICE r7). The CASE shares the
        # already-aggregated max columns, so the extra copies are free.
        fround(gs.guard(b0, F.col("n"), "grouped_ols"), digits).alias("b0"),
        fround(gs.guard(b1, F.col("n"), "grouped_ols"), digits).alias("b1"),
        fround(gs.guard(b2, F.col("n"), "grouped_ols"), digits).alias("b2"),
        fround(gs.guard(r2, F.col("n"), "grouped_ols"), digits).alias("r2"),
    )


def sql_grouped_ols(
    table_expr: str,
    group_cols: list[str],
    x1: str,
    x2: str,
    y: str,
    scale_x: int = 1000,
    scale_y: int = 10,
    digits: int = 4,
) -> str:
    """DuckDB twin of :func:`grouped_ols` — same scaled-integer sums,
    the same Cramer solve (:data:`_SQL_CRAMER`), same fround, so the
    value hash matches bit-for-bit. (DuckDB sums BIGINT into HUGEINT; the values are the
    same exact integers Spark holds in int64 within the overflow budget,
    and int->double conversion rounds identically from either width.)"""
    from randas_spark.queries import sql_fround

    gc = ", ".join(group_cols)
    kx, ky = float(scale_x), float(scale_y)
    sq = f"CAST(floor({x1} * {scale_x} + 0.5) AS BIGINT)"
    sd = f"CAST(floor({x2} * {scale_x} + 0.5) AS BIGINT)"
    sy = f"CAST(floor({y} * {scale_y} + 0.5) AS BIGINT)"
    det, b0, b1, b2 = _SQL_CRAMER
    return f"""
    WITH sums AS (
        SELECT {gc},
               CAST(count(*) AS BIGINT) AS cnt,
               sum({sq}) AS s1, sum({sd}) AS s2, sum({sy}) AS sy0,
               sum({sq} * {sq}) AS s11, sum({sq} * {sd}) AS s12,
               sum({sd} * {sd}) AS s22, sum({sq} * {sy}) AS s1y,
               sum({sd} * {sy}) AS s2y, sum({sy} * {sy}) AS syy
        FROM {table_expr} GROUP BY {gc}
    ),
    un AS (
        SELECT {gc}, cnt,
               CAST(cnt AS DOUBLE) AS n,
               s1 / {kx} AS a1, s2 / {kx} AS a2, sy0 / {ky} AS ay,
               s11 / ({kx} * {kx}) AS a11, s12 / ({kx} * {kx}) AS a12,
               s22 / ({kx} * {kx}) AS a22, s1y / ({kx} * {ky}) AS a1y,
               s2y / ({kx} * {ky}) AS a2y, syy / ({ky} * {ky}) AS ayy
        FROM sums
    ),
    solved AS (
        SELECT {gc}, cnt, n, ay, a1y, a2y, ayy, {det} AS det,
               a1, a2, a11, a12, a22
        FROM un
    ),
    coefs AS (
        SELECT {gc}, cnt, n, ay, a1y, a2y, ayy,
               {b0} AS b0, {b1} AS b1, {b2} AS b2
        FROM solved
    )
    SELECT {gc}, cnt AS n,
           {sql_fround('b0', digits)} AS b0,
           {sql_fround('b1', digits)} AS b1,
           {sql_fround('b2', digits)} AS b2,
           {sql_fround('1.0 - (ayy - b0 * ay - b1 * a1y - b2 * a2y) / (ayy - ay * ay / n)', digits)} AS r2
    FROM coefs
    """


def _logreg_scaled_cols(x1: str, x2: str, label_pred: str):
    """Integerized features + binary label, shared by both engines:
    the model is DEFINED over floor(x+0.5)-integerized features, so
    feature values are exactly identical cross-engine and every Gram /
    gradient cell below is an exact int64 sum."""
    sx1 = F.floor(F.col(x1) + F.lit(0.5)).cast("long")
    sx2 = F.floor(F.col(x2) * 100 + F.lit(0.5)).cast("long")
    return sx1, sx2


def logreg_newton(
    df: DataFrame,
    x1: str,
    x2: str,
    label: Column,
    n_iter: int = 2,
    digits: int = 6,
) -> DataFrame:
    """Logistic regression via ``n_iter`` Newton-Raphson (IRLS) steps —
    iterative distributed model fitting with a cross-engine-exact
    contract.

    The determinism discipline extends the Gram-sum OLS trick to an
    ITERATIVE optimizer (the same move llm_bpe_learn makes for merge
    learning): per-row sigmoid outputs are quantized to the 1e-6 grid
    (``floor(p*1e6+0.5)`` int64), so every gradient/Hessian cell is an
    exact integer sum — associative, order-free — and the per-step
    3x3 Cramer solve runs on bit-identical doubles on both engines.
    The only cross-engine exposure is libm ``exp`` landing within half
    an ulp of a quantization boundary (~1e-10/row). Step 1 is even
    exact: b=0 gives p=0.5 on every row.

    Scale: each step is ONE map-side-combined scan emitting 9 int
    cells; the solve is a constant-size codegen expression; n_iter
    steps = n_iter scans. The step model (3 doubles + the row count) is
    collected per step and folded into the next step's plan as
    LITERALS — bounded model state, the kmeans/BPE discipline. The
    previous shape chained each step's whole aggregate plan inside the
    next step's broadcast instead: zero collects, but the nested
    expression tree grew multiplicatively with n_iter and Catalyst
    spent ~3 s PLANNING a 2-step fit whose jobs run in 0.8 s (guide
    §7.3: planning time on large plans; profiled in
    OPTIMIZATION_r13.md). Identical doubles either way — a value
    carried as a literal computes bit-equal to the same value carried
    as a broadcast column. Output: one row (n, b0, b1, b2, accuracy)
    where accuracy is the training 0/1 score of the final boundary
    (sign of eta — no exp in the finisher).
    """
    from randas_spark.queries import fround

    if n_iter < 1:
        raise ValueError(f"logreg_newton requires n_iter >= 1, got {n_iter}")
    sx1, sx2 = _logreg_scaled_cols(x1, x2, label)
    data = df.select(
        sx1.alias("sx1"), sx2.alias("sx2"), label.cast("long").alias("y")
    )
    b = (0.0, 0.0, 0.0)  # literal state: folded into each step's plan
    for _ in range(n_iter):
        eta = F.lit(b[0]) + F.lit(b[1]) * F.col("sx1") + F.lit(b[2]) * F.col("sx2")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        pq = F.floor(p * 1000000 + F.lit(0.5)).cast("long")
        wq = F.floor(p * (F.lit(1.0) - p) * 1000000 + F.lit(0.5)).cast("long")
        r = F.col("y") * F.lit(1000000).cast("long") - pq
        cells = data.select(
            F.col("sx1"), F.col("sx2"), r.alias("r"), wq.alias("w")
        )
        gsl = _GuardedSums()
        for expr, name in [
            (F.col("r"), "g0"),
            (F.col("sx1") * F.col("r"), "g1"),
            (F.col("sx2") * F.col("r"), "g2"),
            (F.col("w"), "h00"),
            (F.col("sx1") * F.col("w"), "h01"),
            (F.col("sx2") * F.col("w"), "h02"),
            (F.col("sx1") * F.col("sx1") * F.col("w"), "h11"),
            (F.col("sx1") * F.col("sx2") * F.col("w"), "h12"),
            (F.col("sx2") * F.col("sx2") * F.col("w"), "h22"),
        ]:
            gsl.sum(expr, name)
        s = cells.groupBy(
            F.lit(b[0]).alias("b0"), F.lit(b[1]).alias("b1"), F.lit(b[2]).alias("b2")
        ).agg(F.count(F.lit(1)).cast("long").alias("__n__"), *gsl.aggs())
        # Cramer solve of H delta = g on the exact int sums (common 1e-6
        # scale cancels between H and g); same operation order as the SQL
        a00, a01, a02 = (F.col("h00").cast("double"), F.col("h01").cast("double"), F.col("h02").cast("double"))
        a11, a12, a22 = (F.col("h11").cast("double"), F.col("h12").cast("double"), F.col("h22").cast("double"))
        g0, g1, g2 = (F.col("g0").cast("double"), F.col("g1").cast("double"), F.col("g2").cast("double"))
        det, d0, d1, d2 = _cramer(a00, a01, a02, g0, a11, a12, a22, g1, g2)
        # Singular-Hessian guard (e.g. a constant feature): det == 0
        # would send NaN through every later step; hold the coefficients
        # instead. Mirrored as CASE det = 0 in the SQL twin.
        step = s.select(
            F.col("__n__"),
            # guard on all three outputs — evaluating any of them trips
            # the int64 overflow check for this step's cells (ADVICE r7);
            # the max aggregates are shared.
            gsl.guard(
                F.when(det == 0, F.col("b0")).otherwise(F.col("b0") + d0),
                F.col("__n__"),
                "logreg_newton",
            ).alias("b0"),
            gsl.guard(
                F.when(det == 0, F.col("b1")).otherwise(F.col("b1") + d1),
                F.col("__n__"),
                "logreg_newton",
            ).alias("b1"),
            gsl.guard(
                F.when(det == 0, F.col("b2")).otherwise(F.col("b2") + d2),
                F.col("__n__"),
                "logreg_newton",
            ).alias("b2"),
        ).collect()  # bounded model state: exactly one (n, b0, b1, b2) row
        if not step:  # empty input: keep the old empty-output semantics
            return data.groupBy(
                F.lit(b[0]).alias("b0"), F.lit(b[1]).alias("b1"),
                F.lit(b[2]).alias("b2"),
            ).agg(
                F.count(F.lit(1)).cast("long").alias("n"),
            ).select(
                F.col("n"),
                fround(F.col("b0"), digits).alias("b0"),
                fround(F.col("b1"), digits).alias("b1"),
                fround(F.col("b2"), digits).alias("b2"),
                fround(F.lit(None).cast("double"), digits).alias("accuracy"),
            )
        b = (step[0]["b0"], step[0]["b1"], step[0]["b2"])
    eta = F.lit(b[0]) + F.lit(b[1]) * F.col("sx1") + F.lit(b[2]) * F.col("sx2")
    correct = F.when((eta >= 0) == (F.col("y") == 1), 1).otherwise(0)
    return data.groupBy(
        F.lit(b[0]).alias("b0"), F.lit(b[1]).alias("b1"), F.lit(b[2]).alias("b2")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(correct).cast("long").alias("n_correct"),
    ).select(
        F.col("n"),
        fround(F.col("b0"), digits).alias("b0"),
        fround(F.col("b1"), digits).alias("b1"),
        fround(F.col("b2"), digits).alias("b2"),
        fround(F.col("n_correct").cast("double") / F.col("n"), digits).alias(
            "accuracy"
        ),
    )


def sql_logreg_newton(
    table_expr: str,
    x1: str,
    x2: str,
    label_sql: str,
    n_iter: int = 2,
    digits: int = 6,
) -> str:
    """DuckDB twin of :func:`logreg_newton`: the Newton loop macro-
    expands into one CTE pair (cells -> solve) per step, each carrying
    the previous step's coefficients via a 1-row CROSS JOIN — the
    Hessian and gradient cells, cast to DOUBLE under :func:`_cramer`'s
    argument names, solved by :data:`_SQL_CRAMER`; the same int64
    quantization."""
    from randas_spark.queries import sql_fround

    base = f"""
    base AS (
        SELECT CAST(floor({x1} + 0.5) AS BIGINT) AS sx1,
               CAST(floor({x2} * 100 + 0.5) AS BIGINT) AS sx2,
               CAST({label_sql} AS BIGINT) AS y
        FROM {table_expr}
    ),
    it0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)"""
    det, d0, d1, d2 = _SQL_CRAMER
    ctes = [base]
    for i in range(1, n_iter + 1):
        prev = f"it{i - 1}"
        ctes.append(f"""
    cells{i} AS (
        SELECT sx1, sx2, b0, b1, b2,
               CAST(y * 1000000 AS BIGINT)
                   - CAST(floor((1.0 / (1.0 + exp(-(b0 + b1 * sx1 + b2 * sx2)))) * 1000000 + 0.5) AS BIGINT) AS r,
               CAST(floor((1.0 / (1.0 + exp(-(b0 + b1 * sx1 + b2 * sx2))))
                          * (1.0 - (1.0 / (1.0 + exp(-(b0 + b1 * sx1 + b2 * sx2)))))
                          * 1000000 + 0.5) AS BIGINT) AS w
        FROM base CROSS JOIN {prev}
    ),
    sums{i} AS (
        SELECT b0, b1, b2,
               sum(r) AS g0, sum(sx1 * r) AS g1, sum(sx2 * r) AS g2,
               sum(w) AS h00, sum(sx1 * w) AS h01, sum(sx2 * w) AS h02,
               sum(sx1 * sx1 * w) AS h11, sum(sx1 * sx2 * w) AS h12,
               sum(sx2 * sx2 * w) AS h22
        FROM cells{i} GROUP BY b0, b1, b2
    ),
    cramer{i} AS (
        SELECT b0, b1, b2,
               CAST(h00 AS DOUBLE) AS n, CAST(h01 AS DOUBLE) AS a1,
               CAST(h02 AS DOUBLE) AS a2, CAST(g0 AS DOUBLE) AS ay,
               CAST(h11 AS DOUBLE) AS a11, CAST(h12 AS DOUBLE) AS a12,
               CAST(h22 AS DOUBLE) AS a22, CAST(g1 AS DOUBLE) AS a1y,
               CAST(g2 AS DOUBLE) AS a2y
        FROM sums{i}
    ),
    det{i} AS (SELECT *, {det} AS det FROM cramer{i}),
    it{i} AS (
        SELECT CASE WHEN det = 0 THEN b0 ELSE b0 + {d0} END AS b0,
               CASE WHEN det = 0 THEN b1 ELSE b1 + {d1} END AS b1,
               CASE WHEN det = 0 THEN b2 ELSE b2 + {d2} END AS b2
        FROM det{i}
    )""")
    return f"""
    WITH {",".join(ctes)}
    SELECT CAST(count(*) AS BIGINT) AS n,
           {sql_fround('any_value(b0)', digits)} AS b0,
           {sql_fround('any_value(b1)', digits)} AS b1,
           {sql_fround('any_value(b2)', digits)} AS b2,
           {sql_fround(
               'CAST(sum(CASE WHEN ((b0 + b1 * sx1 + b2 * sx2) >= 0) = (y = 1) THEN 1 ELSE 0 END) AS DOUBLE) / count(*)',
               digits,
           )} AS accuracy
    FROM base CROSS JOIN it{n_iter}
    """


def ols_crossval(
    df: DataFrame,
    x1: str,
    x2: str,
    y: str,
    scale_x: int = 1000,
    scale_y: int = 10,
    digits: int = 4,
) -> DataFrame:
    """K-fold cross-validated OLS from ONE scan: per-fold Gram cells are
    aggregated once, each fold's LEAVE-FOLD-OUT model is derived by
    subtracting the fold's cells from the totals (Gram sums form a
    group under addition — the same mergeable-state law
    rel_incremental_rollup pins), and each fold's rows are scored
    against its complement model. No per-fold rescan, no model ever
    sees its own test rows.

    Returns one row per fold: (fold, n_test, b0, b1, b2, rmse) where
    rmse is computed from residuals quantized to the 0.1 grid
    (``floor(r*10+0.5)`` int64 squares — order-free sums), predictions
    evaluated on the quantized features (sx/scale) so both engines see
    bit-identical doubles end-to-end.

    Scale: the scan emits |folds| x 10 integer cells; complement
    subtraction and the Cramer solve are O(folds) codegen rows; scoring
    joins the broadcast fold-model table — the whole plan is one
    data-sized scan plus one broadcast join.
    """
    from randas_spark.queries import fround

    if "__fold__" not in df.columns:
        raise ValueError("caller must supply a deterministic __fold__ column")
    sx1, sx2 = _scaled(x1, scale_x), _scaled(x2, scale_x)
    sy = _scaled(y, scale_y)
    data = df.select(
        F.col("__fold__"), sx1.alias("sx1"), sx2.alias("sx2"), sy.alias("sy")
    )

    gsc = _GuardedSums()
    for expr, name in [
        (F.col("sx1"), "s1"), (F.col("sx2"), "s2"), (F.col("sy"), "sy0"),
        (F.col("sx1") * F.col("sx1"), "s11"),
        (F.col("sx1") * F.col("sx2"), "s12"),
        (F.col("sx2") * F.col("sx2"), "s22"),
        (F.col("sx1") * F.col("sy"), "s1y"),
        (F.col("sx2") * F.col("sy"), "s2y"),
    ]:
        gsc.sum(expr, name)

    def cells(grouped):
        return grouped.agg(
            F.count(F.lit(1)).cast("long").alias("n"), *gsc.aggs()
        )

    per_fold = cells(data.groupBy("__fold__"))
    names = ["n", "s1", "s2", "sy0", "s11", "s12", "s22", "s1y", "s2y"]
    mx_names = [c for c in per_fold.columns if c.startswith("__mx_")]
    totals = per_fold.agg(
        *[F.sum(c).alias(f"t_{c}") for c in names],
        *[F.max(c).alias(c) for c in mx_names],
    )
    comp = per_fold.drop(*mx_names).crossJoin(F.broadcast(totals)).select(
        "__fold__",
        F.col("n").alias("n_test"),
        F.col("t_n").alias("__tn__"),
        *[(F.col(f"t_{c}") - F.col(c)).alias(c) for c in names],
        *mx_names,
    )
    kx, ky = float(scale_x), float(scale_y)
    n = F.col("n").cast("double")
    a1 = F.col("s1") / kx
    a2 = F.col("s2") / kx
    ay = F.col("sy0") / ky
    a11 = F.col("s11") / (kx * kx)
    a12 = F.col("s12") / (kx * kx)
    a22 = F.col("s22") / (kx * kx)
    a1y = F.col("s1y") / (kx * ky)
    a2y = F.col("s2y") / (kx * ky)
    _, b0, b1, b2 = _cramer(n, a1, a2, ay, a11, a12, a22, a1y, a2y)
    models = comp.select(
        "__fold__",
        "n_test",
        # all three coefficients guarded (pruning-proof, ADVICE r7)
        gsc.guard(b0, F.col("__tn__"), "ols_crossval").alias("b0"),
        gsc.guard(b1, F.col("__tn__"), "ols_crossval").alias("b1"),
        gsc.guard(b2, F.col("__tn__"), "ols_crossval").alias("b2"),
    )
    scored = data.join(F.broadcast(models), "__fold__")
    pred = (
        F.col("b0")
        + F.col("b1") * (F.col("sx1") / kx)
        + F.col("b2") * (F.col("sx2") / kx)
    )
    rq = F.floor(((F.col("sy") / ky) - pred) * 10 + F.lit(0.5)).cast("long")
    gsr = _GuardedSums()
    gsr.sum(rq * rq, "ssq")
    out = scored.groupBy("__fold__", "n_test", "b0", "b1", "b2").agg(*gsr.aggs())
    rmse = gsr.guard(
        F.sqrt(F.col("ssq").cast("double") / F.col("n_test") / 100.0),
        F.col("n_test"),
        "ols_crossval.rmse",
    )
    return out.select(
        F.col("__fold__").alias("fold"),
        F.col("n_test"),
        fround(F.col("b0"), digits).alias("b0"),
        fround(F.col("b1"), digits).alias("b1"),
        fround(F.col("b2"), digits).alias("b2"),
        fround(rmse, digits).alias("rmse"),
    )


def sql_ols_crossval(
    table_expr: str,
    x1: str,
    x2: str,
    y: str,
    fold_sql: str,
    n_folds: int = 5,
    scale_x: int = 1000,
    scale_y: int = 10,
    digits: int = 4,
) -> str:
    """DuckDB twin of :func:`ols_crossval` (same cells, same complement
    subtraction, the same Cramer solve (:data:`_SQL_CRAMER`), same
    quantized-residual RMSE)."""
    from randas_spark.queries import sql_fround

    kx, ky = float(scale_x), float(scale_y)
    sq = f"CAST(floor({x1} * {scale_x} + 0.5) AS BIGINT)"
    sd = f"CAST(floor({x2} * {scale_x} + 0.5) AS BIGINT)"
    sy = f"CAST(floor({y} * {scale_y} + 0.5) AS BIGINT)"
    det, b0, b1, b2 = _SQL_CRAMER
    return f"""
    WITH data AS (
        SELECT {fold_sql} AS fold, {sq} AS sx1, {sd} AS sx2, {sy} AS sy
        FROM {table_expr}
    ),
    per_fold AS (
        SELECT fold, CAST(count(*) AS BIGINT) AS n,
               sum(sx1) AS s1, sum(sx2) AS s2, sum(sy) AS sy0,
               sum(sx1 * sx1) AS s11, sum(sx1 * sx2) AS s12,
               sum(sx2 * sx2) AS s22, sum(sx1 * sy) AS s1y,
               sum(sx2 * sy) AS s2y
        FROM data GROUP BY fold
    ),
    totals AS (
        SELECT sum(n) AS t_n, sum(s1) AS t_s1, sum(s2) AS t_s2,
               sum(sy0) AS t_sy0, sum(s11) AS t_s11, sum(s12) AS t_s12,
               sum(s22) AS t_s22, sum(s1y) AS t_s1y, sum(s2y) AS t_s2y
        FROM per_fold
    ),
    comp AS (
        SELECT fold, n AS n_test,
               CAST(t_n - n AS DOUBLE) AS n,
               (t_s1 - s1) / {kx} AS a1, (t_s2 - s2) / {kx} AS a2,
               (t_sy0 - sy0) / {ky} AS ay,
               (t_s11 - s11) / ({kx} * {kx}) AS a11,
               (t_s12 - s12) / ({kx} * {kx}) AS a12,
               (t_s22 - s22) / ({kx} * {kx}) AS a22,
               (t_s1y - s1y) / ({kx} * {ky}) AS a1y,
               (t_s2y - s2y) / ({kx} * {ky}) AS a2y
        FROM per_fold CROSS JOIN totals
    ),
    solved AS (SELECT *, {det} AS det FROM comp),
    models AS (
        SELECT fold, n_test, {b0} AS b0, {b1} AS b1, {b2} AS b2 FROM solved
    ),
    scored AS (
        SELECT d.fold, m.n_test, m.b0, m.b1, m.b2,
               CAST(floor(((d.sy / {ky})
                           - (m.b0 + m.b1 * (d.sx1 / {kx})
                              + m.b2 * (d.sx2 / {kx}))) * 10 + 0.5) AS BIGINT) AS rq
        FROM data d JOIN models m ON m.fold = d.fold
    )
    SELECT fold, n_test,
           {sql_fround('b0', digits)} AS b0,
           {sql_fround('b1', digits)} AS b1,
           {sql_fround('b2', digits)} AS b2,
           {sql_fround('sqrt(CAST(sum(rq * rq) AS DOUBLE) / n_test / 100.0)', digits)} AS rmse
    FROM scored GROUP BY fold, n_test, b0, b1, b2
    """
