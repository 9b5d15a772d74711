"""Distributed covariance / PCA and sketch join-size estimation."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from hybridbackend_spark.operators.decomp import covariance_matrix, pca_project
from hybridbackend_spark.operators.sketch import cms_build, cms_join_size


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.RandomState(7)
    # anisotropic gaussian so the principal axes are well separated
    base = rng.randn(200, 4) * np.array([5.0, 2.0, 0.5, 0.1])
    rows = [(i, [float(x) for x in base[i]]) for i in range(200)]
    return spark.createDataFrame(rows, "vec_id long, v array<double>"), base


def test_covariance_matches_numpy(spark, vec_df):
    df, base = vec_df
    out = covariance_matrix(df, "v", dim=4)
    got = {(r.i, r.j): r.cov for r in out.collect()}
    ref = np.cov(base, rowvar=False, ddof=1)
    assert len(got) == 10  # upper triangle of 4x4
    for (i, j), v in got.items():
        assert math.isclose(v, ref[i][j], rel_tol=1e-4, abs_tol=1e-5)


def test_pca_projection_matches_numpy(spark, vec_df):
    df, base = vec_df
    out = pca_project(df, "v", dim=4, k=2).orderBy("vec_id").collect()
    # numpy reference: eigh of sample covariance, same sign rule
    cov = np.cov(base, rowvar=False, ddof=1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:2]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append(v)
    proj = base @ np.stack(comps, axis=1)
    for r in out:
        for k in range(2):
            assert math.isclose(r.pc[k], proj[r.vec_id][k], rel_tol=1e-3,
                                abs_tol=1e-3)


def test_pca_variance_ordering(spark, vec_df):
    df, _ = vec_df
    out = pca_project(df, "v", dim=4, k=3)
    arr = np.array([r.pc for r in out.collect()])
    variances = arr.var(axis=0)
    assert variances[0] > variances[1] > variances[2]


def test_power_pca_matches_eigh_on_gapped_spectrum(spark, vec_df):
    """With real spectral gaps (5/2/0.5/0.1 axis scales) the fixed-round
    power iteration IS PCA: its per-row projections must correlate
    ~perfectly (up to sign and a constant mean offset) with numpy's
    eigh-based projections for both components."""
    from hybridbackend_spark.operators.decomp import power_pca_project

    df, base = vec_df
    out = power_pca_project(df, "v", dim=4, k=2, iters=8).collect()
    got = {0: {}, 1: {}}
    for r in out:
        got[r.comp][r.vec_id] = float(r.p)
    C = np.cov(base, rowvar=False, ddof=1)
    w, V = np.linalg.eigh(C)
    order = np.argsort(w)[::-1]
    for c in range(2):
        ref = base @ V[:, order[c]]
        mine = np.array([got[c][i] for i in range(len(base))])
        corr = abs(np.corrcoef(ref, mine)[0, 1])
        assert corr > 0.99, (c, corr)


def test_power_pca_layout_invariant(spark, vec_df):
    """Exact integer output: repartitioning cannot change a single p."""
    from hybridbackend_spark.operators.decomp import power_pca_project

    df, _ = vec_df
    a = {(r.vec_id, r.comp): r.p
         for r in power_pca_project(df, "v", dim=4, k=2).collect()}
    b = {(r.vec_id, r.comp): r.p
         for r in power_pca_project(
             df.repartition(13), "v", dim=4, k=2).collect()}
    assert a == b


def test_covariance_single_row_null_not_crash(spark):
    """n = 1: sample covariance undefined -> NULL cells, not an ANSI
    DIVIDE_BY_ZERO abort (the (n-1) denominator)."""
    df = spark.createDataFrame([(0, [1.0, 2.0])], "vec_id long, v array<double>")
    out = covariance_matrix(df, "v", dim=2).collect()
    assert len(out) == 3
    assert all(r.cov is None for r in out)


def test_covariance_and_pca_dim_bounds_raise(spark):
    """Executable scale bounds: the d^2 driver collect (pca) and the
    d(d+1)/2 shuffle-cell design (covariance) refuse oversized dims."""
    df = spark.createDataFrame([(0, [1.0])], "vec_id long, v array<double>")
    with pytest.raises(ValueError, match="4096"):
        covariance_matrix(df, "v", dim=5000)
    with pytest.raises(ValueError, match="512"):
        pca_project(df, "v", dim=1024)


def test_cms_join_size_upper_bound_and_tightness(spark):
    # two key streams with known join size: keys 0..99 each appearing
    # 3x on the left and 2x on the right -> true join size 100*6=600
    left = spark.range(0, 300).select((F.col("id") % 100).alias("k"))
    right = spark.range(0, 200).select((F.col("id") % 100).alias("k"))
    ca = cms_build(left, "k", width=1024, depth=4)
    cb = cms_build(right, "k", width=1024, depth=4)
    est = cms_join_size(ca, cb).collect()[0].est_pairs
    assert est >= 600  # inner product is an upper bound
    assert est <= 600 * 1.5  # wide sketch -> tight at this cardinality


def test_cms_join_size_disjoint_keys(spark):
    left = spark.range(0, 100).select(F.col("id").alias("k"))
    right = spark.range(100000, 100100).select(F.col("id").alias("k"))
    ca = cms_build(left, "k", width=4096, depth=4)
    cb = cms_build(right, "k", width=4096, depth=4)
    est = cms_join_size(ca, cb).collect()[0].est_pairs
    # disjoint keys: only hash-collision mass remains
    assert est < 100 * 100 * 0.05


def test_cms_join_size_zero_dot_row_wins_min(spark):
    # keys chosen so SOME depth row shares no bucket: disjoint small sets
    # with a wide sketch must estimate ~0, never NULL or a collision row
    left = spark.range(0, 3).select(F.col("id").alias("k"))
    right = spark.range(50000, 50003).select(F.col("id").alias("k"))
    ca = cms_build(left, "k", width=65536, depth=4)
    cb = cms_build(right, "k", width=65536, depth=4)
    est = cms_join_size(ca, cb).collect()[0].est_pairs
    assert est == 0


def test_gramian_stats_exact_and_layout_invariant(spark):
    """The round-12 single-pass Arrow Gramian: fast (float64-dgemm) path
    and exact big-value fallback agree with directly computed Python-int
    sums, for ANY partition layout / batch split."""
    from decimal import Decimal

    from hybridbackend_spark.operators.decomp import _gramian_stats

    rng = np.random.RandomState(3)
    dim = 5
    # values straddling the per-chunk dgemm bound (chunk shrinks to a few
    # rows at 2^24-ish magnitudes) plus negatives and zeros
    vals = rng.randint(-(1 << 24), 1 << 24, size=(97, dim))
    vals[::13] = 0
    rows = [(i, [int(x) for x in vals[i]]) for i in range(len(vals))]

    def expected():
        cells = {}
        for i in range(dim):
            for j in range(i, dim):
                cells[(i, j)] = Decimal(
                    int(sum(int(a[i]) * int(a[j]) for a in vals))
                )
            cells[(i, -1)] = Decimal(int(vals[:, i].sum()))
        cells[(-1, -1)] = Decimal(len(vals))
        return cells

    exp = expected()
    for parts in (1, 7):
        df = spark.createDataFrame(
            rows, "vec_id long, v array<long>"
        ).repartition(parts)
        got = {
            (r.i, r.j): r.p
            for r in _gramian_stats(df.select(F.col("v").alias("_v")), dim)
            .collect()
        }
        assert got == exp, f"parts={parts}"

    # big-value fallback (M >= 2^26): products overflow float53 and
    # int64 — must still be exact via Python ints
    big = [(0, [1 << 40, -(1 << 40), 3, 0, 7]), (1, [5, 1 << 30, -2, 1, 0])]
    bdf = spark.createDataFrame(big, "vec_id long, v array<long>")
    bgot = {
        (r.i, r.j): int(r.p)
        for r in _gramian_stats(bdf.select(F.col("v").alias("_v")), dim)
        .collect()
    }
    bv = [r[1] for r in big]
    assert bgot[(0, 0)] == sum(v[0] * v[0] for v in bv)
    assert bgot[(0, 1)] == sum(v[0] * v[1] for v in bv)
    assert bgot[(1, -1)] == sum(v[1] for v in bv)
    assert bgot[(-1, -1)] == 2
