"""Distributed PCA (top-k principal components) via exact integer Gram
aggregation + deterministic power iteration and Hotelling deflation — dimensionality reduction /
whitening for embedding pipelines (dedup preprocessing, ANN compression,
drift monitoring all start with "project onto the top components").

Architecture (the closed-form-OLS law applied to eigen-decomposition):

1. QUANTIZE: each float32 component maps to ``floor(double(x) * scale +
   0.5)`` int64 — from here every data-sized computation is exact
   integer arithmetic, so ANY execution shape gives the same numbers.
2. GRAM, distributed: one mapInPandas scan computes the per-Arrow-batch
   Gram of the AUGMENTED matrix ``A = [1 | q]`` with a numpy int64
   matmul (``A.T @ A`` — order-free because integer addition is
   associative); batches emit (i, j, partial) cells and one tiny
   map-side-combined groupBy sums them in DECIMAL(38,0) — wrap-free at
   any N, and the decimal tax is irrelevant HERE because it touches
   only (d+1)^2 cells per batch, never per data row (contrast
   operators/regression.py, where per-row decimal sums measured
   2.5-3.5x and guarded int64 won). The augmented trick yields n
   (cell 0,0),
   column sums s_j (row 0) and second moments S_ij (body) from ONE
   matrix. Shuffle volume: (d+1)^2 cells per batch, independent of N.
3. CENTER, exact: M_ij = n * S_ij - s_i * s_j in arbitrary-precision
   Python int (driver holds (d+1)^2 ints — bounded state, the k-means
   centroid discipline), then converts ONCE to double.
4. POWER ITERATION, driver-side: ``rounds`` fixed steps of
   w = M v; v = w / ||w||, starting from v0 = 1/sqrt(d) per component
   (exactly representable for power-of-two d). O(d^2 * rounds) scalar
   ops — microseconds; the data-sized work was step 2's single scan.
   Component c > 1 runs the same iteration on M deflated by every
   earlier (v, lambda) pair (``_components``).
5. PROJECT (pca_project): each vector's score on component c is the
   centered projection ``sum_j double(n*q_j - s_j) * v_c[j]`` — a
   codegen'd left fold over the scan, no Python.

Cross-engine exactness: steps 1-3 are exact integers on both engines
(DuckDB sums to HUGEINT; Spark sums to DECIMAL(38,0); Python holds
bigints) and the double conversions of equal ints round identically;
steps 4-5 execute the SAME IEEE op sequence — left folds in ascending
index order with a 0.0 init (the functions/vectors.py convention:
F.aggregate(…, lit(0.0)) == list_reduce(list_prepend(0.0, …))) — so
loadings, eigenvalue, and projections are BIT-IDENTICAL, no rounding
slack. The SQL twins macro-expand the iteration into one CTE pair per
round (the sql_logreg_newton pattern), one block per component
(``_sql_pca_chain``).

Scale: the only data-sized stage is one embarrassingly-parallel scan
emitting fixed-size cell batches; everything after is O(d^2) driver /
constant-folded work, and the projection is a second scan. At 100 TB:
one pass, no shuffle of vectors, (d+1)^2-cell reduce. Convergence is a
quality concern only (12 rounds of power iteration on a spread spectrum;
a flat spectrum converges slower) — determinism never depends on it,
because both engines run the identical step count.

Overflow budget: |q| <= scale * |x|; S_ij <= N * (scale*|x|)^2. With
scale=1e4, |x|<=1: S_ij ~ 1e8*N — inside DECIMAL(38,0)/HUGEINT to
N ~ 1e30, and M_ij = n*S_ij - s_i*s_j ~ N^2 * 1e8 inside 1e38 to
N ~ 1e15 rows. The projection's per-row ``n*q_j - s_j`` stays in int64
to n ~ 1.8e15 / scale — documented, asserted nowhere hot.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CELL_SCHEMA = "i long, j long, g long"


def _quantize_np(values, scale: int):
    """float32 array-of-arrays → int64 matrix, elementwise
    floor(double(x) * scale + 0.5) — identical IEEE ops to the SQL twin's
    CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)."""
    import numpy as np

    x = np.asarray([np.asarray(v, dtype=np.float64) for v in values])
    return np.floor(x * scale + 0.5).astype(np.int64)


def gram_cells(df: DataFrame, vec_col: str, dim: int, scale: int) -> DataFrame:
    """(i, j, g) cells of the augmented Gram matrix A^T A where
    A = [1 | quantize(vec)] — i, j in 0..dim (0 is the intercept/count
    column). One mapInPandas scan, numpy int64 matmul per batch,
    decimal-summed groupBy; (dim+1)^2 cells per batch regardless of rows."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            q = _quantize_np(pdf[vec_col].to_numpy(), scale)
            a = np.concatenate([np.ones((len(q), 1), dtype=np.int64), q], axis=1)
            g = a.T @ a  # exact int64: per-batch rows * scale^2 << 2^63
            idx = np.arange(dim + 1)
            ii, jj = np.meshgrid(idx, idx, indexing="ij")
            yield pd.DataFrame(
                {"i": ii.ravel(), "j": jj.ravel(), "g": g.ravel()}
            )

    cells = df.select(vec_col).mapInPandas(kernel, schema=_CELL_SCHEMA)
    return cells.groupBy("i", "j").agg(
        F.sum(F.col("g").cast("decimal(38,0)")).alias("g")
    )


def _collect_moments(
    df: DataFrame, vec_col: str, dim: int, scale: int
) -> tuple[int, list[int], list[list[int]]]:
    """Run the cell scan and split the augmented Gram into
    (n, s[dim], S[dim][dim]) as exact Python ints."""
    rows = gram_cells(df, vec_col, dim, scale).collect()
    g = {(r["i"], r["j"]): int(r["g"]) for r in rows}
    if (0, 0) not in g or g[(0, 0)] == 0:
        # used to surface as a bare KeyError deep in the moment split
        raise ValueError(
            f"pca: input has no rows in {vec_col!r} — cannot fit "
            f"principal components on an empty corpus"
        )
    n = g[(0, 0)]
    s = [g[(0, j)] for j in range(1, dim + 1)]
    big = [[g[(i, j)] for j in range(1, dim + 1)] for i in range(1, dim + 1)]
    return n, s, big


#: int64 headroom for the projection fold (margin under 2^63 ≈ 9.22e18)
_I64_PROJ_GUARD = 9_000_000_000_000_000_000


def _check_projection_budget(n: int, s: list[int], big: list[list[int]]) -> None:
    """Loud pre-flight for the codegen projection fold (ADVICE r7): the
    per-row term ``n*q_j - s_j`` runs in plain int64 on the Spark side,
    which wraps SILENTLY past 2^63 with ANSI off while the DuckDB twin
    errors on BIGINT overflow — the silent-divergence class regression.py
    guards against. Here the check is free and exact at the driver: the
    moments already hold sum(q_j^2) >= max(q_j)^2, so
    ``n * isqrt(S_jj) + |s_j|`` upper-bounds every |n*q_j - s_j| with
    Python bigints (no overflow in the check itself). Raises with the
    rescale escape hatch instead of building a wrapping plan."""
    for j, (sj, sjj) in enumerate(zip(s, (big[j][j] for j in range(len(s))))):
        bound = n * math.isqrt(sjj) + abs(sj)
        if bound > _I64_PROJ_GUARD:
            raise ValueError(
                f"pca_project: int64 projection budget exceeded at dim "
                f"{j + 1} (n * max|q| + |s| bound {bound:.2e} > "
                f"{float(_I64_PROJ_GUARD):.1e}); reduce the quantization "
                f"scale for this corpus size"
            )


def _center(n: int, s: list[int], big: list[list[int]]) -> list[list[float]]:
    """M_ij = n*S_ij - s_i*s_j, exact bigint, converted once to double."""
    d = len(s)
    return [[float(n * big[i][j] - s[i] * s[j]) for j in range(d)] for i in range(d)]


def _fold(terms) -> float:
    """Left fold with 0.0 init, ascending order — the cross-engine sum
    shape (== list_reduce(list_prepend(0.0, …)) == F.aggregate(…, 0.0))."""
    acc = 0.0
    for t in terms:
        acc = acc + t
    return acc


def _power_iteration(
    m: list[list[float]], rounds: int
) -> tuple[list[float], float]:
    """``rounds`` fixed power-method steps from v0 = 1/sqrt(d); returns
    (unit eigenvector estimate, Rayleigh quotient v^T M v). Op order is
    the contract: matvec rows fold ascending j, norm folds ascending i,
    division per component — mirrored token-for-token by sql_pca_*."""
    d = len(m)
    v = [1.0 / math.sqrt(d)] * d
    for _ in range(rounds):
        w = [_fold(m[i][j] * v[j] for j in range(d)) for i in range(d)]
        nrm = math.sqrt(_fold(x * x for x in w))
        if nrm == 0.0:
            # a zero-variance corpus (all vectors identical) sends the
            # matvec to the zero vector; dividing through would emit NaN
            # loadings downstream — fail loudly instead (ADVICE r7)
            raise ValueError(
                "pca: zero-variance corpus (M v vanished during power "
                "iteration) — no principal direction exists"
            )
        v = [x / nrm for x in w]
    u = [_fold(m[i][j] * v[j] for j in range(d)) for i in range(d)]
    lam = _fold(v[i] * u[i] for i in range(d))
    return v, lam


def _deflate(
    m: list[list[float]], v: list[float], lam: float
) -> list[list[float]]:
    """Hotelling deflation M' = M - lam * v v^T — double arithmetic with
    the fixed op order ((lam * v_i) * v_j, subtracted) the SQL mirrors."""
    d = len(m)
    return [[m[i][j] - (lam * v[i]) * v[j] for j in range(d)] for i in range(d)]


def _check_k(caller: str, k: int, dim: int) -> None:
    if not 1 <= k <= dim:
        raise ValueError(f"{caller}: need 1 <= k <= dim, got k={k} dim={dim}")


def _components(
    m: list[list[float]], k: int, rounds: int
) -> list[tuple[list[float], float]]:
    """The top-k ``(v, lam)`` pairs of the centered matrix: component c
    is the power-iteration eigenvector of
    ``M - sum_{c'<c} lam_c' v_c' v_c'^T`` with its Rayleigh quotient —
    O(k * rounds * d^2) driver arithmetic, op order mirrored by
    :func:`_sql_pca_chain`."""
    out = []
    for c in range(k):
        if c:
            m = _deflate(m, *out[-1])
        out.append(_power_iteration(m, rounds))
    return out


def pca_topk(
    df: DataFrame,
    vec_col: str,
    dim: int,
    k: int = 4,
    scale: int = 10_000,
    rounds: int = 12,
) -> DataFrame:
    """Top-K principal components via repeated Hotelling deflation
    (:func:`_components`): PC1 by power iteration on the centered
    moment matrix, each later component by the same iteration on the
    matrix deflated by every earlier one.

    Scale story unchanged from the family: ONE data-sized mapInPandas
    scan produces the (dim+1)^2 integer Gram cells; all K deflation +
    iteration rounds are O(K * rounds * d^2) driver arithmetic on exact
    moments. k <= 8 covers what corpus triage uses (2-D maps, 4-8-D
    diversity stratification). Output: (component 1..k, dim_idx 1..dim,
    loading, explained_ratio) with explained_ratio = lam_c / trace(M)
    (the fraction of total variance the component captures; trace is
    exact-int, double-divided).
    """
    _check_k("pca_topk", k, dim)
    spark = df.sparkSession
    n, s, big = _collect_moments(df, vec_col, dim, scale)
    trace = float(sum(n * big[i][i] - s[i] * s[i] for i in range(dim)))
    rows = [
        (c, i + 1, v[i], lam / trace)
        for c, (v, lam) in enumerate(_components(_center(n, s, big), k, rounds), 1)
        for i in range(dim)
    ]
    return spark.createDataFrame(
        rows,
        "component long, dim_idx long, loading double, explained_ratio double",
    )


def pca_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 1,
    scale: int = 10_000,
    rounds: int = 12,
) -> DataFrame:
    """Per-vector scores on the top ``k`` components, columns pc1..pck:
    p_c = fold_j double(n*q_j - s_j) * v_c[j] over the centered
    quantized vector — one codegen left fold per component on a second
    scan (n, s, v enter as literals; no Python in the projection). k=2
    is the 2-D embedding map corpus visualization, stratified diversity
    sampling and cluster triage start from."""
    _check_k("pca_project", k, dim)
    n, s, big = _collect_moments(df, vec_col, dim, scale)
    _check_projection_budget(n, s, big)
    s_arr = F.array(*[F.lit(x).cast("long") for x in s])
    qv = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long"),
    )

    def proj(v: list[float]):
        v_arr = F.array(*[F.lit(x) for x in v])
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(dim)),
            F.lit(0.0),
            lambda acc, i: acc
            + (
                (F.lit(n) * F.element_at(qv, i) - F.element_at(s_arr, i)).cast(
                    "double"
                )
                * F.element_at(v_arr, i)
            ),
        )

    comps = _components(_center(n, s, big), k, rounds)
    return df.select(
        F.col(id_col),
        *[proj(v).alias(f"pc{c}") for c, (v, _) in enumerate(comps, 1)],
    )


# --------------------------------------------------------------------------
# SQL twins (DuckDB) — macro-expanded iteration, identical op sequence
# --------------------------------------------------------------------------


def _sql_pca_base(table: str, vec_col: str, dim: int, scale: int) -> list[str]:
    """Shared CTE prefix: quantized vectors, n, column sums, second
    moments and the centered double matrix as an ordered list-of-lists.
    HUGEINT everywhere integers live (DuckDB's sum already promotes;
    n*g and s*s products stay exact)."""
    return [
        f"""qt AS (
            SELECT list_transform({vec_col},
                x -> CAST(floor(CAST(x AS DOUBLE) * {scale} + 0.5) AS BIGINT)) AS qv
            FROM {table}
        )""",
        "st AS (SELECT count(*) AS n FROM qt)",
        f"""sj AS MATERIALIZED (
            SELECT j, sum(qv[j]) AS s FROM qt, generate_series(1, {dim}) AS gj(j)
            GROUP BY j
        )""",
        f"""cells AS MATERIALIZED (
            SELECT gi.i AS i, gj.j AS j, sum(qv[gi.i] * qv[gj.j]) AS g
            FROM qt, generate_series(1, {dim}) AS gi(i),
                     generate_series(1, {dim}) AS gj(j)
            GROUP BY gi.i, gj.j
        )""",
        """mrows AS MATERIALIZED (
            SELECT c.i, list(CAST(st.n * c.g - si.s * sj2.s AS DOUBLE) ORDER BY c.j) AS mrow
            FROM cells c
            JOIN sj si ON si.j = c.i
            JOIN sj sj2 ON sj2.j = c.j
            CROSS JOIN st
            GROUP BY c.i
        )""",
        "cmat AS (SELECT list(mrow ORDER BY i) AS mat FROM mrows)",
    ]


def _sql_v0(dim: int, name: str) -> str:
    return (
        f"""{name} AS (
            SELECT list_transform(generate_series(1, {dim}),
                x -> CAST(1.0 AS DOUBLE) / sqrt(CAST({dim} AS DOUBLE))) AS v
        )"""
    )


def _sql_matvec(dim: int) -> str:
    """w = M v with the contract fold: per row i, left fold (0.0 init)
    over ascending j of mat[i][j] * v[j]."""
    return (
        f"list_transform(generate_series(1, {dim}), i -> "
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {dim}), j -> mat[i][j] * v[j])), "
        f"(acc, x) -> acc + x))"
    )


_SQL_NORM = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(w, x -> x * x)), (acc, x) -> acc + x))"
)


def _sql_pca_iter(dim: int, rounds: int, mat_cte: str, prefix: str) -> list[str]:
    ctes = []
    for k in range(1, rounds + 1):
        ctes.append(
            f"""{prefix}{k} AS (
                SELECT list_transform(w, x -> x / nrm) AS v FROM (
                    SELECT w, {_SQL_NORM} AS nrm FROM (
                        SELECT {_sql_matvec(dim)} AS w FROM {mat_cte}, {prefix}{k - 1}
                    )
                )
            )"""
        )
    return ctes


def _sql_rayleigh(dim: int, mat_cte: str, v_cte: str, out: str) -> list[str]:
    """(v, lam) CTE pair, the second materialized: u = M v,
    lam = fold v_i * u_i."""
    return [
        f"""{out}_fin AS (
            SELECT v, {_sql_matvec(dim)} AS w FROM {mat_cte}, {v_cte}
        )""",
        f"""{out} AS MATERIALIZED (
            SELECT v,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(generate_series(1, {dim}), i -> v[i] * w[i])),
                       (acc, x) -> acc + x) AS lam
            FROM {out}_fin
        )""",
    ]


_SQL_TRACE = """tracet AS (
            SELECT CAST(sum(st.n * c.g - si.s * si.s) AS DOUBLE) AS tr
            FROM cells c JOIN sj si ON si.j = c.i CROSS JOIN st
            WHERE c.i = c.j
        )"""


def _sql_pca_chain(
    table: str, vec_col: str, dim: int, k: int, scale: int, rounds: int
) -> list[str]:
    """The k-component CTE chain, twin of :func:`_components`: the
    shared base, then per component c a (deflate -> v0 -> iterate ->
    Rayleigh) block macro-expanded with the identical
    ``mat[i][j] - (lam * v[i]) * v[j]`` op order. Component c ends in
    ``lam{c}t(v, lam)``.

    MATERIALIZED is load-bearing: every iteration CTE references its
    matrix CTE, so an inlined (default) deflated matrix re-expands the
    ENTIRE previous component's chain per round — exponential in k.
    Materializing pins each deflation and each (v, lam) pair to one
    evaluation (values identical; DuckDB-planner-only keyword)."""
    ctes = _sql_pca_base(table, vec_col, dim, scale)
    mat = "cmat"
    for c in range(1, k + 1):
        prefix = "it" if c == 1 else f"k{c}t"
        if c > 1:
            ctes.append(
                f"""cmat{c} AS MATERIALIZED (
                    SELECT list_transform(generate_series(1, {dim}), i ->
                               list_transform(generate_series(1, {dim}), j ->
                                   mat[i][j] - (lam * v[i]) * v[j])) AS mat
                    FROM {mat}, lam{c - 1}t
                )"""
            )
            mat = f"cmat{c}"
        ctes.append(_sql_v0(dim, f"{prefix}0"))
        ctes += _sql_pca_iter(dim, rounds, mat_cte=mat, prefix=prefix)
        ctes += _sql_rayleigh(dim, mat, f"{prefix}{rounds}", f"lam{c}t")
    return ctes


def sql_pca_topk(
    table: str,
    vec_col: str,
    dim: int,
    k: int = 4,
    scale: int = 10_000,
    rounds: int = 12,
    digits: int = 6,
) -> str:
    """DuckDB twin of :func:`pca_topk`: the k-component chain, then one
    (component, dim_idx, loading, explained_ratio) select per component."""
    from randas_spark.queries import sql_fround

    _check_k("sql_pca_topk", k, dim)
    ctes = _sql_pca_chain(table, vec_col, dim, k, scale, rounds) + [_SQL_TRACE]
    selects = [
        f"""SELECT CAST({c} AS BIGINT) AS component, gi.i AS dim_idx,
               {sql_fround('v[gi.i]', digits)} AS loading,
               {sql_fround('lam / tr', digits)} AS explained_ratio
            FROM lam{c}t, tracet, generate_series(1, {dim}) AS gi(i)"""
        for c in range(1, k + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def sql_pca_project(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 1,
    scale: int = 10_000,
    rounds: int = 12,
    digits: int = 6,
) -> str:
    """DuckDB twin of :func:`pca_project`: re-derives v_1..v_k through
    the same chain, then projects every vector with the contract fold."""
    from randas_spark.queries import sql_fround

    _check_k("sql_pca_project", k, dim)
    ctes = _sql_pca_chain(table, vec_col, dim, k, scale, rounds)
    ctes.append("svec AS (SELECT list(s ORDER BY j) AS sv FROM sj)")
    ctes.append(
        f"""qt2 AS (
            SELECT {id_col} AS vid,
                   list_transform({vec_col},
                       x -> CAST(floor(CAST(x AS DOUBLE) * {scale} + 0.5) AS BIGINT)) AS qv
            FROM {table}
        )"""
    )

    def proj(c: int) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(generate_series(1, {dim}), "
            f"j -> CAST(st.n * qv2.qv[j] - sjj.sv[j] AS DOUBLE) * p{c}.v[j])), "
            f"(acc, x) -> acc + x)"
        )

    comps = range(1, k + 1)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT qv2.vid AS {id_col},
               {", ".join(f"{sql_fround(proj(c), digits)} AS pc{c}" for c in comps)}
        FROM qt2 qv2, st, svec sjj, {", ".join(f"lam{c}t p{c}" for c in comps)}
        """
    )
