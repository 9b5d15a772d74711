"""Distributed matrix decomposition over embedding columns: exact
covariance accumulation and PCA projection.

The distributed part — the only part that touches data-proportional
rows — is the covariance (Gramian) accumulation: ONE Arrow pass
(mapInPandas) that reduces each batch of quantized vectors to the
d*(d+1)/2 upper-triangle product sums plus the d component sums and the
row count, all exact integers, merged by a single tiny aggregation. The
shuffle volume is d*(d+1)/2 + d + 1 cells x partitions — NEVER
proportional to the number of rows, which is exactly the treeAggregate
shape MLlib's RowMatrix uses for its Gramian. (Round-12: this replaced
a per-row explode of the 2080 upper-triangle structs through a hash
aggregate — three full passes over the data, and on single-file inputs
one 4.7 s single-task stage; the Arrow pass is a per-batch integer
dgemm and the three statistics come out of the same scan.)

The eigendecomposition runs on the driver over the d x d matrix (bounded
by dimension, not data — 64x64 here), like every distributed PCA does;
the resulting eigenvectors are broadcast back as one array literal and
the projection is an expression-level dot product (zero shuffle).

Determinism: input floats are quantized to an integer grid (exact
DECIMAL sums, any partitioning/order), and eigenvector signs are
canonicalized (largest-|component| positive), so results are stable
across runs. The covariance matrix itself is oracled bit-for-bit; the
eigensolve is LAPACK territory and is differential-tested against numpy
instead (no SQL engine can replay it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .._fixed import DYADIC, grid, spark_round
from .._materialize import materialize
from .similarity import _as_double_vec, _consts, _fit, dot

__all__ = ["covariance_matrix", "pca_project", "power_pca_project"]


def _gramian_stats(q: DataFrame, dim: int) -> DataFrame:
    """Every Gramian sufficient statistic in ONE Arrow pass over the
    quantized long-vector column ``_v``: returns the merged stats frame
    ``(i, j, p)`` holding the upper-triangle product sums at
    ``j >= i >= 0``, the component sums at ``(i, -1)`` and the row count
    at ``(-1, -1)``, all exact integers as decimal(38,0).

    Exactness of the fast path: with M = max|v| over a batch, a float64
    dgemm over a chunk of rows is exact while chunk * M^2 < 2^53 (every
    partial sum is an integer below 2^53, and the int64 -> float64
    conversion is exact because chunk >= 1 forces M < 2^26). Chunk
    results accumulate into Python-int matrices, so cross-chunk totals
    never overflow; batches with M >= 2^26 fall back to exact Python-int
    arithmetic. Merging batch partials by integer addition is
    associative, so the merged cells are bit-identical to the previous
    per-row explode regardless of partitioning or batch boundaries.

    The returned frame is a lazy ``materialize`` cut: it is tiny
    (d*(d+1)/2 + d + 1 rows) and its consumers read it up to three times
    (cells / sums / count) — without the cut each read would re-run the
    scan.
    """
    from decimal import Decimal

    from .text import spread_small_scan

    def gen(batches):
        import numpy as np
        import pandas as pd

        G = np.zeros((dim, dim), dtype=object)
        S = np.zeros(dim, dtype=object)
        n = 0
        seen = False
        for pdf in batches:
            col = pdf["_v"]
            rows = len(col)
            if rows == 0:
                continue
            seen = True
            n += rows
            arrs = col.to_numpy()
            V = None
            try:
                V = np.stack([np.asarray(a) for a in arrs])
            except (ValueError, TypeError):
                V = None  # ragged / null vectors -> exact row loop below
            if (
                V is not None
                and V.ndim == 2
                and V.shape[1] == dim
                and np.issubdtype(V.dtype, np.integer)
                and int(np.abs(V).max(initial=0)) < (1 << 26)
            ):
                M = int(np.abs(V).max(initial=0))
                chunk = max(1, (1 << 53) // (M * M + 1))
                Vf = V.astype(np.float64)
                for k0 in range(0, rows, chunk):
                    c = Vf[k0 : k0 + chunk]
                    G += (c.T @ c).astype(np.int64).astype(object)
                    S += c.sum(axis=0).astype(np.int64).astype(object)
                continue
            # exact fallback (huge magnitudes / null elements): a NULL
            # element's products and sums were skipped by the previous
            # SQL aggregates — identical to contributing 0
            for a in arrs:
                if a is None or len(a) != dim:
                    raise ValueError(
                        f"gramian: expected non-null length-{dim} "
                        "vectors, got "
                        + ("NULL" if a is None else f"length {len(a)}")
                    )
                v = [
                    0
                    if x is None or (isinstance(x, float) and x != x)
                    else int(x)
                    for x in a
                ]
                for i in range(dim):
                    vi = v[i]
                    S[i] += vi
                    if vi:
                        for j in range(i, dim):
                            G[i, j] += vi * v[j]
        if not seen:
            return
        ii, jj = np.triu_indices(dim)
        out_i = ii.tolist() + list(range(dim)) + [-1]
        out_j = jj.tolist() + [-1] * dim + [-1]
        out_p = (
            [Decimal(int(x)) for x in G[ii, jj]]
            + [Decimal(int(x)) for x in S]
            + [Decimal(n)]
        )
        yield pd.DataFrame({"i": out_i, "j": out_j, "p": out_p})

    stats = (
        spread_small_scan(q.select("_v"))
        .mapInPandas(gen, "i int, j int, p decimal(38,0)")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("p"))
    )
    return materialize(stats, eager=False)


def covariance_matrix(
    df: DataFrame,
    vec_col: str,
    dim: int,
    dp: int = 8,
) -> DataFrame:
    """Exact sample covariance of a fixed-dim array column.

    Quantizes each component to the 2^20 grid
    (:data:`~hybridbackend_spark._fixed.DYADIC`), so every sufficient
    statistic (component sums and pairwise product sums) is an exact
    DECIMAL(38,0). Covariance is evaluated on the aggregated scalars in
    double and rescaled by the exact power of two 2^40. Returns
    (i, j, cov) for the upper triangle (i <= j), rounded to ``dp``.

    A single-row input yields NULL cov (sample covariance is undefined
    for n < 2) instead of an ANSI-mode DIVIDE_BY_ZERO abort. ``dim`` is
    capped: the post-combine shuffle is d*(d+1)/2 cells per partition,
    and consumers like :func:`pca_project` collect d^2 cells on the
    driver, so dims past the cap need a blocked Gramian, not this path.
    """
    if dim > 4096:
        raise ValueError(
            f"covariance_matrix: dim={dim} exceeds the supported bound "
            "(4096); d*(d+1)/2 shuffle cells and driver-side d^2 "
            "consumers stop being 'bounded by dimension' past that"
        )
    # exclude NULL-vector rows BEFORE counting: they contribute nothing
    # to the sums/products, so letting them inflate n would silently
    # shrink every covariance by (n_valid-1)/(n-1)
    q = df.filter(F.col(vec_col).isNotNull()).select(
        F.transform(
            F.col(vec_col), lambda x: F.round(x * DYADIC).cast("long")
        ).alias("_v")
    )
    # all three sufficient statistics from ONE Arrow pass (see
    # _gramian_stats); previously: a d(d+1)/2-structs-per-row explode
    # plus a posexplode sum pass plus a count — three scans
    stats = _gramian_stats(q, dim)
    cells = stats.filter(F.col("j") >= 0).select(
        "i", "j", F.col("p").alias("spp")
    )
    sums = stats.filter((F.col("i") >= 0) & (F.col("j") < 0)).select(
        "i", F.col("p").alias("s")
    )
    n_row = stats.filter(F.col("i") < 0).agg(
        F.coalesce(F.sum("p"), F.lit(0)).cast("long").alias("n")
    )
    si = sums.select(F.col("i"), F.col("s").alias("si"))
    sj = sums.select(F.col("i").alias("j"), F.col("s").alias("sj"))
    nd = F.col("n").cast("double")
    cov = (
        F.col("spp").cast("double")
        - F.col("si").cast("double") * F.col("sj").cast("double") / nd
    ) / (nd - 1) / F.lit(float(DYADIC * DYADIC))
    # n <= 1: sample covariance undefined -> NULL, not an ANSI /0 abort
    cov = F.when(nd > 1, cov)
    return (
        cells.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(n_row))
        .select("i", "j", F.round(cov, dp).alias("cov"))
    )


def pca_project(
    df: DataFrame,
    vec_col: str,
    dim: int,
    k: int = 4,
    out_col: str = "pc",
    dp: int = 6,
) -> DataFrame:
    """Project each vector onto the top-``k`` principal components.

    Covariance via :func:`covariance_matrix` (exact, distributed),
    eigendecomposition on the driver (d x d, bounded by dimension),
    sign-canonicalized eigenvectors broadcast as one literal, projection
    as an expression dot product — no shuffle, no Python in the row
    path. Appends ``out_col`` (array<double> length k) and keeps all
    input columns. A non-NULL vector must be ``dim`` long.

    ``dim`` is capped at 512 here (tighter than covariance_matrix's own
    bound): this function collects dim^2 covariance cells on the driver
    for the eigensolve; past ~512 use a randomized/blocked method.
    """
    import numpy as np

    if dim > 512:
        raise ValueError(
            f"pca_project: dim={dim} exceeds the driver-eigensolve bound "
            "(512): this path collects dim^2 covariance cells"
        )
    cells = covariance_matrix(df, vec_col, dim, dp=12).collect()
    cov = np.zeros((dim, dim))
    for r in cells:
        cov[r.i, r.j] = r.cov
        cov[r.j, r.i] = r.cov
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:  # sign canonicalization
            v = -v
        comps.append([float(x) for x in v])

    x = _as_double_vec(vec_col)
    proj = F.transform(_consts(comps), lambda c: F.round(dot(x, c), dp))
    return df.withColumn(out_col, _fit(x, dim, "pca_project", proj))


def power_pca_project(
    df: DataFrame,
    vec_col: str,
    dim: int,
    k: int = 2,
    iters: int = 5,
) -> DataFrame:
    """Dominant-subspace projection by FIXED-ROUND quantized power
    iteration — the oracle-replayable variant of :func:`pca_project`.

    The data-proportional work is one distributed pass building the
    exact integer Gramian sufficient statistics (component sums s_i and
    pairwise product sums spp_ij of the 2^20-quantized vectors;
    shuffle bounded by d(d+1)/2 cells after map-side combine). The
    scaled scatter matrix M = n*spp - s s^T (exact integers) then runs
    ``iters`` power-iteration rounds per component on the DRIVER
    (d x d, bounded by dimension): y = M v in exact integer arithmetic,
    then requantize v <- round(y / max|y| * 1e6). The second component
    comes from one deflation step (Rayleigh quotient in exact integers,
    rank-1 subtraction in doubles, requantized to a 1e12 grid). Every
    rounding is round-half-away on doubles — the shared semantics of
    Spark round / DuckDB round / Decimal HALF_UP — so a SQL engine can
    replay the whole computation bit-for-bit (see queries._pca_power_
    oracle), which no LAPACK eigensolve allows.

    Semantics: after enough rounds this IS the top-k PCA basis when the
    spectrum has gaps (proven against numpy's eigh on anisotropic data
    in tests); with a near-flat spectrum the fixed-round result is still
    deterministic and engine-exact but the 'principal' label is weak —
    use :func:`pca_project` offline when exact eigenvectors matter.

    Returns one row per (row, component): (all input columns except the
    vector replaced by) ``vec_id``-style id columns preserved via
    select by the caller; output columns (comp INT, p BIGINT) where p is
    the EXACT integer dot product of the quantized input vector with the
    quantized component vector.
    """
    if dim > 512:
        raise ValueError(
            f"power_pca_project: dim={dim} exceeds the driver bound (512):"
            " this path collects dim^2 Gramian cells"
        )
    # NULL-vector rows carry no Gramian mass and would crash the
    # bounded driver collect (int(NULL sum)); exclude them, SQL-style
    q = df.filter(F.col(vec_col).isNotNull()).select(
        "*",
        F.transform(F.col(vec_col), lambda x: grid(x, DYADIC)).alias("_xq"),
    )
    # one Arrow pass + ONE collect for all three sufficient statistics
    # (previously: cells collect + sums collect + count = three actions,
    # each re-scanning the input)
    rows = _gramian_stats(
        q.select(F.col("_xq").alias("_v")), dim
    ).collect()
    n = 0
    s = [0] * dim
    cells = []
    for r in rows:
        if r["i"] < 0:
            n = int(r["p"])
        elif r["j"] < 0:
            s[r["i"]] = int(r["p"])
        else:
            cells.append((r["i"], r["j"], int(r["p"])))
    M = [[0] * dim for _ in range(dim)]
    for i, j, spp in cells:
        m = n * spp - s[i] * s[j]
        M[i][j] = m
        M[j][i] = m

    def _power(mat: list[list[int]]) -> list[int]:
        v = [10**6] * dim
        for _ in range(iters):
            y = [sum(mat[i][j] * v[j] for j in range(dim)) for i in range(dim)]
            mx = max(abs(t) for t in y)
            if mx == 0:
                raise ValueError(
                    "power_pca_project: zero matvec (degenerate input)"
                )
            v = [
                int(spark_round(float(y[i]) / float(mx) * 1000000.0))
                for i in range(dim)
            ]
        return v

    comps = [_power(M)]
    cur = M
    for _ in range(1, k):
        v = comps[-1]
        num = sum(
            v[i] * cur[i][j] * v[j] for i in range(dim) for j in range(dim)
        )
        den = sum(t * t for t in v)
        numd, dend = float(num), float(den)
        d_mat = [
            [
                float(cur[i][j]) - numd / dend / dend * float(v[i]) * float(v[j])
                for j in range(dim)
            ]
            for i in range(dim)
        ]
        m2 = max(abs(d_mat[i][j]) for i in range(dim) for j in range(dim))
        cur = [
            [
                int(spark_round(d_mat[i][j] / m2 * 1000000000000.0))
                for j in range(dim)
            ]
            for i in range(dim)
        ]
        comps.append(_power(cur))

    # zero-shuffle projection: exact integer dot products as expressions
    xq = F.col("_xq")
    structs = F.transform(
        _consts(comps),
        lambda comp, c: F.struct(
            c.alias("comp"),
            F.aggregate(
                F.zip_with(xq, comp, lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, t: acc + t,
            ).alias("p"),
        ),
    )
    keep = [c for c in df.columns if c != vec_col]
    return q.select(
        *keep, F.inline(_fit(xq, dim, "power_pca_project", structs))
    )
