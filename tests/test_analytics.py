"""Wave-6 operators: event analytics, DQ audit, bloom join pruning,
EWMA, BFS, chi-square, OLS, correlation, equi-depth bins."""

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F

from hybridbackend_spark.operators.analytics import (
    chi_square,
    cohort_retention,
    corr_pairs,
    equidepth_bins,
    funnel,
    ols_trend,
)
from hybridbackend_spark.operators.graph import bfs_distances
from hybridbackend_spark.operators.joins import bloom_filter_join
from hybridbackend_spark.operators.quality import Check, dq_audit
from hybridbackend_spark.operators.timeseries import ewma


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_cohort_retention_cells(spark):
    ev = spark.createDataFrame(
        [
            # user 1: first week of 2024-01-01 (Mon), active weeks 0 and 2
            (1, _ts("2024-01-02 10:00:00")),
            (1, _ts("2024-01-16 10:00:00")),
            # user 2: same cohort, active week 0 only
            (2, _ts("2024-01-03 10:00:00")),
            # user 3: cohort of 2024-01-08, active weeks 0 and 1
            (3, _ts("2024-01-08 10:00:00")),
            (3, _ts("2024-01-14 10:00:00")),  # Sunday -> still week of 01-08
            (3, _ts("2024-01-15 10:00:00")),  # Monday -> offset 1
        ],
        "user_id long, ts timestamp",
    )
    out = {
        (str(r.cohort_week), r.week_offset): (r.n_active, r.cohort_size)
        for r in cohort_retention(ev, "user_id", "ts").collect()
    }
    assert out[("2024-01-01", 0)] == (2, 2)
    assert out[("2024-01-01", 2)] == (1, 2)
    assert out[("2024-01-08", 0)] == (1, 1)
    assert out[("2024-01-08", 1)] == (1, 1)
    assert len(out) == 4


def test_funnel_strict_order(spark):
    ev = spark.createDataFrame(
        [
            # user 1 completes the full funnel in order
            (1, "view", _ts("2024-01-01 00:00:00")),
            (1, "click", _ts("2024-01-01 00:01:00")),
            (1, "buy", _ts("2024-01-01 00:02:00")),
            # user 2 clicks BEFORE viewing: click must not count
            (2, "click", _ts("2024-01-01 00:00:00")),
            (2, "view", _ts("2024-01-01 00:01:00")),
            # user 3 views only
            (3, "view", _ts("2024-01-01 00:00:00")),
        ],
        "user_id long, event_type string, ts timestamp",
    )
    out = {r.step_name: r for r in funnel(ev, ["view", "click", "buy"]).collect()}
    assert out["view"].n_users == 3
    assert out["click"].n_users == 1
    assert out["buy"].n_users == 1
    assert out["view"].conversion_pct == 100.0
    assert abs(out["click"].conversion_pct - 100.0 / 3) < 0.01


def test_equidepth_bins_partition_rows(spark):
    df = spark.range(1, 801).select(F.col("id").alias("v"))
    out = equidepth_bins(df, "v", n_bins=8).collect()
    assert sorted(r.bin for r in out) == list(range(1, 9))
    assert sum(r.n_rows for r in out) == 800
    # exact integer grid -> perfectly balanced bins
    assert all(r.n_rows == 100 for r in out)
    b1 = next(r for r in out if r.bin == 1)
    assert b1.min_v == 1 and b1.max_v == 100


def test_percentile_bounds_dist_parity_and_layouts(spark):
    """percentile_bounds_dist must be BIT-IDENTICAL to the builtin
    percentile() on its documented contract (integer-grid values, dyadic
    fractions) — across partition layouts, with ties, negatives, nulls,
    singletons — and return NULL for empty/all-null input (builtin
    behavior). This parity is what lets winsorize/equidepth swap the
    single-reduce-task builtin merge for the distributed form."""
    import random

    from hybridbackend_spark.operators.analytics import (
        percentile_bounds_dist,
    )

    rng = random.Random(1313)
    dyadic = [1 / 128.0, 1 / 8.0, 0.5, 7 / 8.0, 127 / 128.0]
    frac_sql = ", ".join(repr(f) for f in dyadic)

    def builtin(df):
        return df.agg(
            F.expr(f"percentile(v, array({frac_sql}))").alias("_b")
        ).collect()[0]["_b"]

    cases = [
        [1],  # singleton
        [5, 5, 5, 5],  # all ties
        list(range(-50, 50)),  # negatives, unique
        [rng.randint(-(10**7), 10**7) for _ in range(997)],  # price cents
        [rng.randint(0, 9) for _ in range(500)],  # heavy ties
        [0, 2**45, -(2**45)],  # grid-bound magnitudes
    ]
    for vals in cases:
        for parts in (1, 7):
            df = spark.createDataFrame(
                [(v,) for v in vals], "v long"
            ).repartition(parts)
            got = percentile_bounds_dist(df, "v", dyadic).collect()
            assert len(got) == 1
            assert list(got[0]["_b"]) == list(builtin(df)), (
                vals[:8],
                parts,
            )

    # nulls ignored; all-null and empty inputs -> one row, NULL bounds
    with_nulls = spark.createDataFrame(
        [(None,), (3,), (None,), (1,), (2,)], "v long"
    )
    assert list(
        percentile_bounds_dist(with_nulls, "v", dyadic).collect()[0]["_b"]
    ) == list(builtin(with_nulls))
    for empty in (
        spark.createDataFrame([], "v long"),
        spark.createDataFrame([(None,), (None,)], "v long"),
    ):
        row = percentile_bounds_dist(empty, "v", dyadic).collect()
        assert len(row) == 1 and row[0]["_b"] is None


def test_ols_trend_exact_line(spark):
    # y = 7x + 3 exactly, two groups with different slopes
    rows = [("a", x, 7 * x + 3) for x in range(10)] + [
        ("b", x, -2 * x + 100) for x in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {r.g: r for r in ols_trend(df, ["g"], F.col("x"), F.col("y")).collect()}
    assert out["a"].slope == 7.0 and out["a"].intercept == 3.0
    assert out["b"].slope == -2.0 and out["b"].intercept == 100.0


def test_chi_square_independent_uniform(spark):
    # perfectly independent table -> statistic 0
    rows = [(r, c) for r in "ab" for c in range(3) for _ in range(10)]
    df = spark.createDataFrame(rows, "r string, c int")
    out = chi_square(df, "r", F.col("c")).collect()[0]
    assert out.statistic == 0.0
    assert out.dof == 2
    assert out.n == 60


def test_chi_square_hand_computed(spark):
    # 2x2 table [[10, 0], [0, 10]] -> chi2 = n = 20
    rows = [("a", 0)] * 10 + [("b", 1)] * 10
    df = spark.createDataFrame(rows, "r string, c int")
    out = chi_square(df, "r", F.col("c")).collect()[0]
    assert out.statistic == 20.0 and out.dof == 1


def test_corr_pairs_perfect_and_inverse(spark):
    df = spark.createDataFrame(
        [(i, 2 * i, 100 - i) for i in range(50)], "a long, b long, c long"
    )
    out = {(r.x, r.y): r.corr for r in corr_pairs(
        df, {"a": F.col("a"), "b": F.col("b"), "c": F.col("c")}
    ).collect()}
    assert out[("a", "b")] == 1.0
    assert out[("a", "c")] == -1.0
    assert out[("b", "c")] == -1.0


def test_ewma_matches_python_fold(spark):
    vals = [3.7, -1.2, 9.9, 0.5, 2.25]
    rows = [(1, _ts(f"2024-01-01 00:0{i}:00"), i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, ts timestamp, eid long, v double")
    out = ewma(df, "k", "ts", "v", order_col="eid").collect()[0]
    acc = vals[0]
    for v in vals[1:]:
        acc = (acc + v) / 2.0
    assert out.n_obs == 5
    assert out.ewma == round(acc, 8)


def test_bfs_distances_chain_and_unreached(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    out = {r.id: r.dist for r in bfs_distances(edges, seeds, max_hops=10).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_distances_directed_and_capped(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "id_a long, id_b long")
    seeds = spark.createDataFrame([(1,)], "id long")
    out = {r.id: r.dist
           for r in bfs_distances(edges, seeds, directed=True, max_hops=1).collect()}
    assert out == {1: 0, 2: 1}  # 3 not reached within 1 hop


def test_bloom_join_matches_plain_join_and_prunes(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet").filter(F.col("p_size") <= 2)
    out = bloom_filter_join(li, p, "l_partkey", "p_partkey")
    plain = li.join(p, li.l_partkey == p.p_partkey)
    assert out.count() == plain.count()
    # the bloom pre-filter must actually drop fact rows map-side
    n_fact = li.count()
    n_match = plain.select("l_orderkey", "l_linenumber").distinct().count()
    assert n_match < n_fact  # the dim subset is selective in this data
    # semi mode: one row per pruned fact row, fact columns only
    semi = bloom_filter_join(li, p, "l_partkey", "p_partkey", how="left_semi")
    assert semi.columns == li.columns
    assert semi.count() == li.join(
        p, li.l_partkey == p.p_partkey, "left_semi"
    ).count()


def test_bloom_join_false_positive_rate_bounded(spark):
    # 100 dim keys in a 2^16-bit filter, k=3: fpr ~ (3*100/65536)^3 ~ 1e-7.
    # Probe 20k disjoint keys; essentially none should pass the bloom bits
    # (and the final join keeps the result exact regardless).
    dim = spark.range(0, 100).select(F.col("id").alias("k"))
    fact = spark.range(1000000, 1020000).select(F.col("id").alias("k"))
    out = bloom_filter_join(fact, dim, "k", "k", how="left_semi")
    assert out.count() == 0


def test_dq_audit_flags_planted_violations(spark):
    df = spark.createDataFrame(
        [
            (1, 10.0, "O", 100),
            (2, -5.0, "O", 100),   # range violation
            (2, 20.0, "X", 999),   # dup key, bad status, orphan ref
            (None, 30.0, "F", 100),  # null key
        ],
        "k long, price double, status string, ref long",
    )
    ref = spark.createDataFrame([(100,)], "rk long")
    check = Check(
        not_null=["k"],
        unique=[["k"]],
        ranges={"price": (0.0, 1000.0)},
        isin={"status": ["O", "F"]},
        refs=[("ref", ref, "rk")],
        min_rows=1,
    )
    rep = {(r.constraint, r.column): r for r in dq_audit(df, check).collect()}
    assert rep[("row_count", "*")].passed
    assert rep[("row_count", "*")].metric == 4.0
    assert not rep[("not_null", "k")].passed
    assert rep[("not_null", "k")].metric == 0.25
    assert not rep[("unique", "k")].passed
    assert rep[("unique", "k")].metric == 2.0  # both rows of the dup key
    assert not rep[("in_range", "price")].passed
    assert rep[("in_range", "price")].metric == 1.0
    assert not rep[("in_set", "status")].passed
    assert not rep[("foreign_key", "ref")].passed
    assert rep[("foreign_key", "ref")].metric == 1.0


def test_dq_audit_clean_table_passes(spark):
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double")
    check = Check(not_null=["k", "v"], unique=[["k"]], ranges={"v": (0.0, 10.0)})
    rep = dq_audit(df, check).collect()
    assert all(r.passed for r in rep)


def test_bloom_prune_plan_has_no_python_udf(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet").filter(F.col("p_size") <= 2)
    plan = bloom_filter_join(li, p, "l_partkey", "p_partkey")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_touch_attribution_hand_computed(spark):
    from hybridbackend_spark.operators.analytics import touch_attribution

    ev = spark.createDataFrame(
        [
            # user 1: three touches then a purchase of 90
            (1, 1, "view", _ts("2024-01-01 00:00:00"), 0.0),
            (2, 1, "click", _ts("2024-01-01 01:00:00"), 0.0),
            (3, 1, "view", _ts("2024-01-01 02:00:00"), 0.0),
            (4, 1, "purchase", _ts("2024-01-01 03:00:00"), 90.0),
            # user 2: single touch then purchase of 10
            (5, 2, "click", _ts("2024-01-01 00:00:00"), 0.0),
            (6, 2, "purchase", _ts("2024-01-01 00:30:00"), 10.0),
            # user 3: purchase with no touches -> dropped
            (7, 3, "purchase", _ts("2024-01-01 00:00:00"), 99.0),
        ],
        "event_id long, user_id long, event_type string, ts timestamp, value double",
    )
    out = {r.channel: r for r in touch_attribution(
        ev, ["view", "click"], "purchase", window_seconds=7 * 86400
    ).collect()}
    # linear: user1 gives 30 to each touch -> view 60, click 30; user2 click 10
    assert out["view"].linear_credit == 60.0
    assert out["click"].linear_credit == 40.0
    # u-shape: user1 first(view)=36, last(view)=36, middle(click)=18
    assert out["view"].ushape_credit == 72.0
    assert out["click"].ushape_credit == 28.0
    assert out["view"].n_touches == 2 and out["click"].n_touches == 2


def test_touch_attribution_conserves_value(spark, sf_dir):
    from hybridbackend_spark.operators.analytics import touch_attribution
    from hybridbackend_spark.queries import _t

    ev = _t(spark, sf_dir, "events")
    out = touch_attribution(ev, ["view", "click"], "purchase").collect()
    total_lin = sum(r.linear_credit for r in out)
    total_ush = sum(r.ushape_credit for r in out)
    # both models must distribute the same attributed total
    assert abs(total_lin - total_ush) < 0.01


def test_cusum_finds_planted_shift(spark):
    from hybridbackend_spark.operators.timeseries import cusum_changepoint

    # mean 10 for 10 days then mean 50: CUSUM magnitude peaks at the shift
    rows = []
    for d in range(1, 21):
        v = 10.0 if d <= 10 else 50.0
        rows.append(("a", _ts(f"2024-01-{d:02d} 00:00:00"), v))
    df = spark.createDataFrame(rows, "g string, ts timestamp, value double")
    out = cusum_changepoint(df, "g", "ts", "value").collect()[0]
    assert str(out.change_day) == "2024-01-10"  # last day of the low regime
    assert out.n_days == 20
    # deviation is -20/day for 10 days -> cusum -200 at the trough
    assert out.cusum_at_change == -200.0


def test_kaplan_meier_hand_computed(spark):
    from hybridbackend_spark.operators.analytics import kaplan_meier

    # classic small example: deaths at t=1 (1 of 4), t=3 (1 of 2),
    # censored at t=2 (1), survivor censored at t=3? use exact table:
    subj = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 1), (3, 0)], "t int, e int"
    )
    out = {r.t: r for r in kaplan_meier(subj, "t", "e").collect()}
    # t=1: n_risk 4, d=1 -> S=0.75
    assert out[1].n_risk == 4 and out[1].survival == 0.75
    # t=2: censored only, S stays 0.75
    assert out[2].n_risk == 3 and out[2].survival == 0.75
    # t=3: n_risk 2, d=1 -> S = 0.75 * 0.5 = 0.375
    assert out[3].n_risk == 2 and out[3].survival == 0.375


def test_kaplan_meier_max_durations_guard_fires(spark):
    """The sequential-fold bound is executable: too many distinct
    durations raises instead of building an unbounded broadcast list."""
    import pytest

    from hybridbackend_spark.operators.analytics import kaplan_meier

    df = spark.createDataFrame(
        [(i, 1) for i in range(50)], "dur long, ev int"
    )
    with pytest.raises(ValueError, match="distinct durations"):
        kaplan_meier(df, "dur", "ev", max_durations=10).collect()
    # and the same input passes with the bound raised
    assert kaplan_meier(df, "dur", "ev", max_durations=100).count() == 50


def test_chi_square_max_cells_guard_fires(spark):
    """High-cardinality 'categories' raise instead of silently building
    a huge densified cross product."""
    import pytest

    from hybridbackend_spark.operators.analytics import chi_square

    df = spark.createDataFrame(
        [(i, i * 7 % 40) for i in range(40)], "r long, c long"
    )
    with pytest.raises(ValueError, match="contingency grid"):
        chi_square(df, "r", F.col("c"), max_cells=100).collect()
    assert chi_square(df, "r", F.col("c"), max_cells=10_000).count() == 1


def test_kaplan_meier_no_events_flat(spark):
    from hybridbackend_spark.operators.analytics import kaplan_meier

    subj = spark.createDataFrame([(5, 0), (7, 0)], "t int, e int")
    out = kaplan_meier(subj, "t", "e").collect()
    assert all(r.survival == 1.0 for r in out)


def test_psi_identical_populations_zero(spark):
    from hybridbackend_spark.operators.analytics import psi_bits
    from pyspark.sql import functions as F

    df = spark.range(0, 4096).select((F.col("id") % 997).alias("v"))
    out = psi_bits(df, df, "v", n_bins=8).collect()
    assert sum(r.psi_term for r in out) == 0.0
    assert all(r.woe_bits == 0 for r in out if r.ref_n > 0)


def test_psi_shifted_population_nonzero(spark):
    from hybridbackend_spark.operators.analytics import psi_bits
    from pyspark.sql import functions as F

    ref = spark.range(0, 2048).select(F.col("id").alias("v"))
    cur = spark.range(1536, 3584).select(F.col("id").alias("v"))  # shifted
    out = psi_bits(ref, cur, "v", n_bins=8).collect()
    assert abs(sum(r.psi_term for r in out)) > 0.5  # clear drift signal


def test_benford_detects_uniform_fabrication(spark):
    from hybridbackend_spark.operators.quality import benford_audit
    from pyspark.sql import functions as F

    # uniform 1000.00-1999.99 -> every value starts with digit 1
    df = spark.range(0, 1000).select(
        (1000.0 + F.col("id")).cast("double").alias("price")
    )
    out = {r.digit: r for r in benford_audit(df, "price").collect()}
    assert len(out) == 9
    assert out[1].share_pct == 100.0
    assert out[1].dev_pct > 60  # way over the 30.1% Benford share
    assert out[9].n == 0 and out[9].share_pct == 0.0


def test_cuped_reduces_variance_with_correlated_covariate(spark):
    from hybridbackend_spark.operators.analytics import cuped_adjust

    # post = pre + small deterministic noise -> CUPED removes most variance
    rows = []
    for i in range(200):
        pre = 1000 + (i * 37) % 500
        post = pre + (i * 13) % 50
        rows.append(("A" if i % 2 == 0 else "B", pre, post))
    df = spark.createDataFrame(rows, "variant string, pre long, post long")
    out = {r.variant: r for r in cuped_adjust(df, "variant", "pre", "post").collect()}
    for v in ("A", "B"):
        assert out[v].n == 100
        assert out[v].var_adj < out[v].var_post * 0.2
        assert out[v].var_reduction_pct > 80
        # adjustment is mean-preserving up to quantization
        assert abs(out[v].mean_adj - out[v].mean_post) < out[v].mean_post * 0.1


def test_cuped_uncorrelated_covariate_harmless(spark):
    from hybridbackend_spark.operators.analytics import cuped_adjust

    rows = [("A", (i * 7919) % 100, (i * 104729) % 1000) for i in range(300)]
    df = spark.createDataFrame(rows, "variant string, pre long, post long")
    out = cuped_adjust(df, "variant", "pre", "post").collect()[0]
    # theta ~ 0 -> variance roughly unchanged (never catastrophically worse)
    assert out.var_adj <= out.var_post * 1.1


def test_forecast_backtest_perfect_weekly_pattern(spark):
    from hybridbackend_spark.operators.timeseries import forecast_backtest

    # strict weekly pattern: seasonal-naive is perfect, naive is not
    rows = []
    for d in range(1, 29):
        ts = _ts(f"2024-01-{d:02d} 00:00:00")
        rows.append(("a", ts, float(10 + (d % 7) * 5)))
    df = spark.createDataFrame(rows, "g string, ts timestamp, value double")
    out = {r.model: r for r in forecast_backtest(df, "g", "ts", "value").collect()}
    assert out["seasonal_naive"].mae == 0.0
    assert out["seasonal_naive"].smape_pct == 0.0
    assert out["naive"].mae > 0
    assert out["naive"].n_scored == 27
    assert out["seasonal_naive"].n_scored == 21


def test_ols_trend_constant_x_null_not_crash(spark):
    from hybridbackend_spark.operators.analytics import ols_trend

    df = spark.createDataFrame([("a", 5, 1), ("a", 5, 9)], "g string, x long, y long")
    out = ols_trend(df, ["g"], F.col("x"), F.col("y")).collect()[0]
    assert out.slope is None and out.intercept is None


def test_cuped_zero_variance_covariate_falls_back(spark):
    from hybridbackend_spark.operators.analytics import cuped_adjust

    rows = [("A", 0, 10 + i) for i in range(10)]
    df = spark.createDataFrame(rows, "variant string, pre long, post long")
    out = cuped_adjust(df, "variant", "pre", "post").collect()[0]
    assert out.mean_adj == out.mean_post  # theta=0 -> unadjusted
    assert out.var_adj == out.var_post


def test_cuped_constant_post_metric_null_reduction(spark):
    """var_y = 0 (a variant whose post metric is constant) must yield
    NULL var_reduction_pct, not an ANSI DIVIDE_BY_ZERO abort."""
    from hybridbackend_spark.operators.analytics import cuped_adjust

    rows = [("A", i, 50) for i in range(10)]  # constant post
    df = spark.createDataFrame(rows, "variant string, pre long, post long")
    out = cuped_adjust(df, "variant", "pre", "post").collect()[0]
    assert out.var_post == 0.0
    assert out.var_reduction_pct is None


def test_corr_pairs_constant_column_null(spark):
    from hybridbackend_spark.operators.analytics import corr_pairs

    df = spark.createDataFrame([(i, 7) for i in range(20)], "a long, b long")
    out = corr_pairs(df, {"a": F.col("a"), "b": F.col("b")}).collect()[0]
    assert out.corr is None


def test_forecast_backtest_all_zero_days_smape_zero(spark):
    from hybridbackend_spark.operators.timeseries import forecast_backtest

    rows = [("a", _ts(f"2024-01-{d:02d} 00:00:00"), 0.0) for d in range(1, 10)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, value double")
    out = {r.model: r for r in forecast_backtest(df, "g", "ts", "value").collect()}
    assert out["naive"].smape_pct == 0.0 and out["naive"].mae == 0.0


def test_bloom_join_rejects_bad_m_bits(spark):
    from hybridbackend_spark.operators.joins import bloom_filter_join

    df = spark.range(5).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_filter_join(df, df, "k", "k", m_bits=1000)


def test_funnel_empty_first_step_no_crash(spark):
    from hybridbackend_spark.operators.analytics import funnel

    ev = spark.createDataFrame(
        [(1, "click", _ts("2024-01-01 00:00:00"))],
        "user_id long, event_type string, ts timestamp",
    )
    out = {r.step_name: r for r in funnel(ev, ["view", "click"]).collect()}
    assert out["view"].n_users == 0
    assert out["view"].conversion_pct is None  # undefined, not a /0 abort


def test_benford_no_positive_values_no_crash(spark):
    from hybridbackend_spark.operators.quality import benford_audit

    df = spark.createDataFrame([(0.0,), (-5.0,)], "price double")
    out = benford_audit(df, "price").collect()
    assert len(out) == 9
    assert all(r.share_pct is None for r in out)


def test_feistel_pseudonymize_bijective_and_invertible(spark, sf_dir):
    """A Feistel network is a bijection regardless of its round
    function: no collisions on the full customer domain, and running
    the rounds backwards recovers every original key."""
    from hybridbackend_spark.queries import feistel_pseudonymize_customers

    out = feistel_pseudonymize_customers(spark, sf_dir)
    rows = out.collect()
    pseudos = [r.pseudo_id for r in rows]
    assert len(set(pseudos)) == len(pseudos)  # injective on the domain

    def f(r, i):
        import hashlib

        h = hashlib.md5(f"{r}:{i}".encode()).hexdigest()[:4]
        return int(h, 16)

    for r in rows[:50]:
        l, rr = r.pseudo_id // 65536, r.pseudo_id % 65536
        for i in (3, 2, 1):  # invert: undo rounds in reverse order
            l, rr = rr ^ f(l, i), l
        assert l * 65536 + rr == r.c_custkey


def test_skyline_parts_no_dominated_row(spark, sf_dir):
    """Every returned part is Pareto-optimal and every excluded part is
    dominated by some returned part (2-D frontier completeness)."""
    from hybridbackend_spark.queries import skyline_parts

    sky = [(r.cents, r.p_size) for r in skyline_parts(spark, sf_dir).collect()]
    all_rows = [
        (int(round(r.p_retailprice * 100)), r.p_size)
        for r in spark.read.parquet(f"{sf_dir}/part.parquet")
        .select("p_retailprice", "p_size")
        .collect()
    ]
    dom = lambda a, b: (
        a[0] <= b[0] and a[1] <= b[1] and (a[0] < b[0] or a[1] < b[1])
    )
    for s in sky:
        assert not any(dom(o, s) for o in all_rows)
    sky_set = set(sky)
    for o in all_rows:
        if o not in sky_set:
            assert any(dom(s, o) for s in sky)


def test_daily_series_max_days_guard_fires(spark):
    """The unpartitioned windows in stl_decompose/acf run over the daily
    series; its calendar bound is executable — an over-long series
    raises instead of silently single-partitioning."""
    import pytest

    from hybridbackend_spark.queries import _daily_cents_series

    sf = "/root/testdata/sf0.001"
    with pytest.raises(ValueError, match="daily series"):
        _daily_cents_series(spark, sf, max_days=5).collect()
    assert _daily_cents_series(spark, sf, max_days=100_000).count() > 5


def test_skyline_max_price_groups_guard_fires(spark):
    """The skyline running-min window runs over the distinct-price grid;
    the grid bound is executable."""
    import pytest

    from hybridbackend_spark.queries import _skyline_2d

    sf = "/root/testdata/sf0.001"
    with pytest.raises(ValueError, match="price grid"):
        _skyline_2d(spark, sf, max_price_groups=3).collect()
    assert _skyline_2d(spark, sf, max_price_groups=1_000_000).count() > 0


def test_conformal_coverage_guarantee(spark):
    """Split-conformal marginal coverage: on exchangeable data the test
    coverage must be close to (and in expectation at least) the nominal
    90% — checked on the real orders table at sf0.001."""
    from hybridbackend_spark.queries import conformal_interval_orders

    rows = conformal_interval_orders(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    total_t = sum(r.n_test for r in rows)
    total_c = sum(r.n_covered for r in rows)
    # finite-sample guarantee is >= 90% in expectation; allow sampling
    # slack downward but fail on gross miscoverage either way
    assert total_c / total_t > 0.85, (total_c, total_t)
    for r in rows:
        assert r.half_width_approx_cents > 0


def test_t_closeness_bounds_and_degenerate_group(spark):
    """t in [0, 1]; a group matching the global distribution scores ~0;
    a group concentrated in one extreme bucket scores high."""
    from hybridbackend_spark.queries import t_closeness_orders

    rows = t_closeness_orders(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.t_value <= 1.0
        assert r.emd_num >= 0


def _mwu_brute(xs_a, xs_b):
    """Brute-force tie-averaged rank U and tie-corrected z."""
    import math

    allv = sorted(xs_a + xs_b)
    ranks = {}
    i = 0
    while i < len(allv):
        j = i
        while j < len(allv) and allv[j] == allv[i]:
            j += 1
        avg = (i + 1 + j) / 2.0  # ranks i+1..j
        ranks[allv[i]] = avg
        i = j
    r1 = sum(ranks[v] for v in xs_a)
    n1, n2 = len(xs_a), len(xs_b)
    u1 = r1 - n1 * (n1 + 1) / 2.0
    n = n1 + n2
    from collections import Counter

    ties = sum(c**3 - c for c in Counter(allv).values())
    var = n1 * n2 / 12.0 * ((n + 1) - ties / (n * (n - 1)))
    z = (u1 - n1 * n2 / 2.0) / math.sqrt(var) if var > 0 else None
    return u1, z


def test_mann_whitney_matches_bruteforce(spark):
    from hybridbackend_spark.operators.analytics import mann_whitney_u

    xs_a = [1.0, 2.5, 2.5, 4.0, 10.0, 3.0]
    xs_b = [2.5, 5.0, 6.0, 1.0, 1.0, 7.5, 8.0]
    rows = [("g1", "A", v) for v in xs_a] + [("g1", "B", v) for v in xs_b]
    df = spark.createDataFrame(rows, "g string, v string, x double")
    r = mann_whitney_u(df, "g", "v", "x").collect()[0]
    u1, z = _mwu_brute([int(v * 100) for v in xs_a], [int(v * 100) for v in xs_b])
    assert r.n_a == 6 and r.n_b == 7
    assert r.u_x2 == int(2 * u1)
    assert abs(r.z - round(z, 6)) < 1e-9


def test_mann_whitney_single_variant_null_z(spark):
    from hybridbackend_spark.operators.analytics import mann_whitney_u

    df = spark.createDataFrame(
        [("g1", "A", 1.0), ("g1", "A", 2.0)], "g string, v string, x double"
    )
    r = mann_whitney_u(df, "g", "v", "x").collect()[0]
    assert r.n_b == 0 and r.z is None


def test_mann_whitney_all_tied_null_z(spark):
    from hybridbackend_spark.operators.analytics import mann_whitney_u

    df = spark.createDataFrame(
        [("g1", "A", 3.0), ("g1", "B", 3.0), ("g1", "A", 3.0), ("g1", "B", 3.0)],
        "g string, v string, x double",
    )
    r = mann_whitney_u(df, "g", "v", "x").collect()[0]
    # every value tied -> rank variance 0 -> z undefined
    assert r.z is None


def test_ks_two_sample_matches_bruteforce(spark):
    from hybridbackend_spark.operators.analytics import ks_two_sample

    xs_a = [1.0, 2.0, 2.0, 3.5, 9.0]
    xs_b = [2.0, 4.0, 4.5, 5.0, 6.0, 9.5]
    rows = [("g1", "A", v) for v in xs_a] + [("g1", "B", v) for v in xs_b]
    df = spark.createDataFrame(rows, "g string, v string, x double")
    r = ks_two_sample(df, "g", "v", "x").collect()[0]
    qa = sorted(int(v * 100) for v in xs_a)
    qb = sorted(int(v * 100) for v in xs_b)
    n1, n2 = len(qa), len(qb)
    support = sorted(set(qa + qb))
    d_num = max(
        abs(
            sum(1 for v in qa if v <= x) * n2
            - sum(1 for v in qb if v <= x) * n1
        )
        for x in support
    )
    assert (r.n_a, r.n_b, r.d_num) == (n1, n2, d_num)
    assert abs(r.d - round(d_num / (n1 * n2), 6)) < 1e-12


def test_ks_identical_samples_zero_distance(spark):
    from hybridbackend_spark.operators.analytics import ks_two_sample

    rows = [("g1", v, x) for v in ("A", "B") for x in (1.0, 2.0, 3.0)]
    df = spark.createDataFrame(rows, "g string, v string, x double")
    r = ks_two_sample(df, "g", "v", "x").collect()[0]
    assert r.d_num == 0 and r.d == 0.0


def test_nelson_aalen_matches_python(spark):
    from hybridbackend_spark.operators.analytics import nelson_aalen

    # durations with censoring: (t, event)
    subj = [(2, 1), (2, 1), (3, 0), (5, 1), (5, 0), (8, 1), (8, 1), (9, 0)]
    df = spark.createDataFrame(subj, "t int, e int")
    got = {r.t: r for r in nelson_aalen(df, "t", "e", max_durations=10).collect()}
    # python replay
    from collections import Counter

    times = sorted({t for t, _ in subj})
    d = Counter(t for t, e in subj if e == 1)
    c = Counter(t for t, e in subj if e == 0)
    H = V = 0.0
    for t in times:
        n_risk = sum(1 for u, _ in subj if u >= t)
        H += d[t] / n_risk
        V += d[t] / (n_risk * n_risk)
        r = got[t]
        assert (r.n_risk, r.n_events, r.n_censored) == (n_risk, d[t], c[t])
        assert r.cum_hazard == round(H, 8)
        assert r.var_hazard == round(V, 8)
    # hazard is monotone nondecreasing; censor-only times add 0
    assert got[3].cum_hazard == got[2].cum_hazard
    # guard fires on too many distinct durations
    big = spark.range(50).selectExpr("CAST(id AS INT) t", "1 e")
    with pytest.raises(ValueError, match="max_durations"):
        nelson_aalen(big, "t", "e", max_durations=10)


def test_mann_whitney_randomized_multigroup_differential(spark):
    import random

    from hybridbackend_spark.operators.analytics import mann_whitney_u

    rng = random.Random(42)
    rows, want = [], {}
    for g in range(8):
        # heavy ties: values drawn from a small grid
        xs_a = [rng.randrange(0, 12) / 2 for _ in range(rng.randrange(3, 40))]
        xs_b = [rng.randrange(0, 12) / 2 for _ in range(rng.randrange(3, 40))]
        gname = f"g{g}"
        rows += [(gname, "A", v) for v in xs_a]
        rows += [(gname, "B", v) for v in xs_b]
        want[gname] = _mwu_brute(
            [int(v * 100) for v in xs_a], [int(v * 100) for v in xs_b]
        )
    df = spark.createDataFrame(rows, "g string, v string, x double").repartition(7)
    got = {r.g: r for r in mann_whitney_u(df, "g", "v", "x").collect()}
    for gname, (u1, z) in want.items():
        assert got[gname].u_x2 == int(2 * u1), gname
        if z is None:
            assert got[gname].z is None, gname
        else:
            assert abs(got[gname].z - round(z, 6)) < 1e-9, gname


def test_ks_randomized_multigroup_differential(spark):
    import random

    from hybridbackend_spark.operators.analytics import ks_two_sample

    rng = random.Random(7)
    rows, want = [], {}
    for g in range(8):
        xs_a = [rng.randrange(0, 20) / 4 for _ in range(rng.randrange(3, 40))]
        xs_b = [rng.randrange(0, 20) / 4 for _ in range(rng.randrange(3, 40))]
        gname = f"g{g}"
        rows += [(gname, "A", v) for v in xs_a]
        rows += [(gname, "B", v) for v in xs_b]
        qa = [int(v * 100) for v in xs_a]
        qb = [int(v * 100) for v in xs_b]
        n1, n2 = len(qa), len(qb)
        d_num = max(
            abs(
                sum(1 for v in qa if v <= x) * n2
                - sum(1 for v in qb if v <= x) * n1
            )
            for x in sorted(set(qa + qb))
        )
        want[gname] = (n1, n2, d_num)
    df = spark.createDataFrame(rows, "g string, v string, x double").repartition(5)
    got = {r.g: r for r in ks_two_sample(df, "g", "v", "x").collect()}
    for gname, (n1, n2, d_num) in want.items():
        r = got[gname]
        assert (r.n_a, r.n_b, r.d_num) == (n1, n2, d_num), gname


def test_rank_state_incremental_equals_batch(spark):
    """The mergeable-partial contract: random 3-way split of the input,
    per-batch rank_histogram_state, tree-merge, finalize — MWU and KS
    outputs must be row-identical to the one-shot batch run (exact
    integers AND the rounded floats)."""
    import random

    from hybridbackend_spark.operators.analytics import (
        ks_from_state,
        ks_two_sample,
        mann_whitney_u,
        mann_whitney_u_from_state,
        merge_rank_histograms,
        rank_histogram_state,
    )

    rng = random.Random(123)
    rows = []
    for g in range(6):
        for _ in range(rng.randrange(5, 60)):
            rows.append(
                (f"g{g}", rng.choice(["A", "B", "C"]),  # C = excluded arm
                 rng.randrange(0, 15) / 2, rng.randrange(3))
            )
    df = spark.createDataFrame(rows, "g string, v string, x double, b int")
    batches = [df.filter(F.col("b") == i) for i in range(3)]
    states = [
        rank_histogram_state(b, "g", "v", "x") for b in batches
    ]
    merged = merge_rank_histograms(
        merge_rank_histograms(states[0], states[1], "g"), states[2], "g"
    )

    def rowset(res):
        return sorted(tuple(r) for r in res.collect())

    assert rowset(mann_whitney_u_from_state(merged, "g")) == rowset(
        mann_whitney_u(df, "g", "v", "x")
    )
    assert rowset(ks_from_state(merged, "g")) == rowset(
        ks_two_sample(df, "g", "v", "x")
    )
    # the state itself is aggregate-sized: one row per (g, distinct q)
    distinct_gq = df.filter(
        F.col("v").isin("A", "B")
    ).select("g", F.round(F.col("x") * 100).cast("long")).distinct().count()
    assert merged.count() == distinct_gq


def test_gini_matches_python_and_edge_cases(spark):
    from hybridbackend_spark.operators.analytics import gini_coefficient

    # known values: perfect equality -> 0; one-holder extreme -> (n-1)/n
    eq = [("eq", 5.0)] * 4
    ext = [("ext", 0.0)] * 3 + [("ext", 10.0)]
    mixed = [("mix", v) for v in (1.0, 2.0, 2.0, 5.0, 10.0)]
    zeros = [("zero", 0.0)] * 3
    df = spark.createDataFrame(eq + ext + mixed + zeros, "g string, x double")
    got = {r.g: r for r in gini_coefficient(df, "g", "x").collect()}
    assert got["eq"].gini == 0.0
    assert got["ext"].gini == round((4 - 1) / 4, 6)
    # python reference: G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x))
    xs = sorted(int(v * 100) for _, v in mixed)
    n, s0 = len(xs), sum(xs)
    s1 = sum((i + 1) * x for i, x in enumerate(xs))
    assert got["mix"].gini == round((2 * s1 - (n + 1) * s0) / (n * s0), 6)
    assert got["mix"].total == s0 / 100.0
    assert got["zero"].gini is None  # all-zero -> undefined, not a /0 abort
    # negative values have no share: (-1, 2) used to return gini 1.5;
    # -0.001 rounds to 0 cents and must raise too
    for bad in (-1.0, -0.001):
        neg = spark.createDataFrame(
            [("neg", bad), ("neg", 2.0)], "g string, x double"
        )
        with pytest.raises(Exception, match="gini_coefficient: negative value"):
            gini_coefficient(neg, "g", "x").collect()


def test_gini_tie_rule_free(spark):
    import random

    from hybridbackend_spark.operators.analytics import gini_coefficient

    rng = random.Random(3)
    vals = [rng.choice([1.0, 2.0, 2.0, 3.0, 7.0]) for _ in range(200)]
    df1 = spark.createDataFrame([("g", v) for v in vals], "g string, x double")
    df2 = spark.createDataFrame(
        [("g", v) for v in reversed(vals)], "g string, x double"
    ).repartition(9)
    g1 = gini_coefficient(df1, "g", "x").collect()[0].gini
    g2 = gini_coefficient(df2, "g", "x").collect()[0].gini
    assert g1 == g2
    xs = sorted(int(v * 100) for v in vals)
    n, s0 = len(xs), sum(xs)
    s1 = sum((i + 1) * x for i, x in enumerate(xs))
    assert g1 == round((2 * s1 - (n + 1) * s0) / (n * s0), 6)


def test_offpolicy_ips_matches_python(spark):
    from hybridbackend_spark.operators.analytics import offpolicy_ips

    # logs: (action, reward, w60=60/p)
    logs = [
        ("click", 1.0, 180),   # p = 1/3
        ("view", 2.0, 120),    # p = 1/2
        ("click", 0.5, 300),   # p = 1/5
        ("view", 4.0, 60),     # p = 1
        ("buy", 9.0, 180),     # p = 1/3
    ]
    df = spark.createDataFrame(logs, "a string, r double, w60 long")
    out = {
        r.policy: r
        for r in offpolicy_ips(
            df,
            "a",
            "r",
            F.col("w60"),
            {"always_click": F.lit("click"), "always_buy": F.lit("buy")},
        ).collect()
    }
    n = len(logs)
    for pol, act in (("always_click", "click"), ("always_buy", "buy")):
        num = sum(int(r * 100) * w for a, r, w in logs if a == act)
        den = sum(w for a, r, w in logs if a == act)
        rr = out[pol]
        assert rr.n == n
        assert rr.n_matched == sum(1 for a, _, _ in logs if a == act)
        assert rr.ips_value == round(num / (60.0 * 100.0 * n), 6)
        assert rr.snips_value == round(num / (den * 100.0), 6)
    # SNIPS is the weight-normalized estimate — unlike IPS it cannot
    # exceed the max quantized reward
    assert out["always_click"].snips_value <= max(r for _, r, _ in logs)


def test_offpolicy_ips_no_match_null_snips(spark):
    from hybridbackend_spark.operators.analytics import offpolicy_ips

    df = spark.createDataFrame([("view", 1.0, 60)], "a string, r double, w60 long")
    r = offpolicy_ips(
        df, "a", "r", F.col("w60"), {"always_click": F.lit("click")}
    ).collect()[0]
    assert (r.n_matched, r.ips_value, r.snips_value) == (0, 0.0, None)
    with pytest.raises(ValueError):
        offpolicy_ips(df, "a", "r", F.col("w60"), {})


def test_offpolicy_ips_rejects_off_grid_propensity(spark):
    """A propensity off the 1/60 grid (fractional 60/p) must RAISE, not
    silently truncate into a biased estimate; NULL propensities too."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from hybridbackend_spark.operators.analytics import offpolicy_ips

    frac = spark.createDataFrame(
        [("click", 1.0, 90.5)], "a string, r double, w60 double"
    )
    with pytest.raises((Py4JJavaError, PythonException, Exception),
                       match="1/60 grid"):
        offpolicy_ips(
            frac, "a", "r", F.col("w60"), {"p": F.lit("click")}
        ).collect()
    nul = spark.createDataFrame(
        [("click", 1.0, None)], "a string, r double, w60 double"
    )
    with pytest.raises((Py4JJavaError, PythonException, Exception),
                       match="1/60 grid"):
        offpolicy_ips(
            nul, "a", "r", F.col("w60"), {"p": F.lit("click")}
        ).collect()
    # integral doubles still work (exactness, not dtype, is the gate)
    ok = spark.createDataFrame(
        [("click", 1.0, 120.0)], "a string, r double, w60 double"
    )
    r = offpolicy_ips(
        ok, "a", "r", F.col("w60"), {"p": F.lit("click")}
    ).collect()[0]
    assert r.n_matched == 1


def test_mann_whitney_third_arm_excluded(spark):
    from hybridbackend_spark.operators.analytics import mann_whitney_u

    base = [("g", "A", 1.0), ("g", "A", 2.0), ("g", "B", 3.0), ("g", "B", 4.0)]
    extra = [("g", "C", 100.0), ("g", "C", 200.0), ("g", "A", None)]
    df1 = spark.createDataFrame(base, "g string, v string, x double")
    df2 = spark.createDataFrame(base + extra, "g string, v string, x double")
    r1 = mann_whitney_u(df1, "g", "v", "x").collect()[0]
    r2 = mann_whitney_u(df2, "g", "v", "x").collect()[0]
    # a third arm and NULL values must not change the A-vs-B statistic
    assert (r1.n_a, r1.n_b, r1.u_x2, r1.z) == (r2.n_a, r2.n_b, r2.u_x2, r2.z)
    assert r2.n_b == 2  # C rows did NOT pool into treatment


def test_hhi_known_values(spark, sf_dir):
    from hybridbackend_spark.queries import hhi_supplier_nation

    rows = hhi_supplier_nation(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        # HHI bounds: 1/n (perfect equality) <= hhi <= 1 (monopoly)
        assert 1.0 / r.n_suppliers - 1e-9 <= r.hhi <= 1.0 + 1e-9


def test_cmh_matches_python_reference(spark, sf_dir):
    from hybridbackend_spark.queries import cmh_test_orders

    r = cmh_test_orders(spark, sf_dir).collect()[0]
    # python replay over the raw parquet
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT o_orderpriority,
                   count(*),
                   sum(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END),
                   sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END),
                   sum(CASE WHEN o_custkey % 2 = 0 AND o_orderstatus = 'F'
                            THEN 1 ELSE 0 END)
            FROM '{sf_dir}/orders.parquet' GROUP BY 1"""
    ).fetchall()
    sum_a = sum_e = sum_v = 0
    k = 0
    for _, n, n1, m1, a in rows:
        if n <= 1:
            continue
        k += 1
        sum_a += a
        sum_e += round(n1 * m1 / n * 1e6)
        sum_v += round(n1 * (n - n1) * m1 * (n - m1) / (n * n * (n - 1)) * 1e6)
    assert (r.k_strata, r.sum_a, r.sum_e_micro, r.sum_v_micro) == (
        k, sum_a, sum_e, sum_v
    )
    d = (sum_a * 1e6 - sum_e) / 1e6
    assert r.cmh == round(d * d / (sum_v / 1e6), 6)


def test_bh_fdr_textbook_example(spark):
    """Classic BH: m=6 with a mixed battery; verify k*, rejection set,
    and step-up q-values against the hand calculation."""
    from hybridbackend_spark.operators.analytics import bh_fdr

    ps = {"h1": 0.001, "h2": 0.008, "h3": 0.039, "h4": 0.040,
          "h5": 0.041, "h6": 0.60}
    df = spark.createDataFrame(list(ps.items()), "h string, p double")
    got = {r.h: r for r in bh_fdr(df, "h", "p", alpha=0.05).collect()}
    # thresholds alpha*k/m: .00833 .01667 .025 .0333 .04167 .05
    # p_(k) <= thr at k=1,2,5 (.041 <= .04167) -> k*=5: reject h1..h5
    # (step-up includes h3, h4 even though their own thresholds fail)
    for h in ("h1", "h2", "h3", "h4", "h5"):
        assert got[h].reject, h
    assert not got["h6"].reject
    # q-values: running min from the right of p*m/k
    import itertools

    ordered = sorted(ps.items(), key=lambda kv: kv[1])
    raw = [p * 6 / (i + 1) for i, (_, p) in enumerate(ordered)]
    qs = list(
        itertools.accumulate(raw[::-1], min)
    )[::-1]
    for (h, _), q in zip(ordered, qs):
        assert got[h].q == round(min(q, 1.0), 6), h
    assert [got[h].m for h in ps] == [6] * 6


def test_bh_fdr_no_rejections(spark):
    from hybridbackend_spark.operators.analytics import bh_fdr

    df = spark.createDataFrame(
        [("a", 0.5), ("b", 0.9)], "h string, p double"
    )
    got = bh_fdr(df, "h", "p", alpha=0.05).collect()
    assert all(not r.reject for r in got)
    assert all(r.q <= 1.0 for r in got)


def test_fleiss_kappa_matches_python(spark):
    """Reference: independent textbook computation over a 3-rater
    panel, including an excluded wrong-size item and a degenerate
    unanimous-single-category group (kappa undefined)."""
    from collections import Counter

    from hybridbackend_spark.operators.analytics import fleiss_kappa

    ratings = {
        # group g1: 4 items x 3 raters, mixed agreement
        ("g1", 1): ["a", "a", "a"],
        ("g1", 2): ["a", "b", "b"],
        ("g1", 3): ["c", "c", "b"],
        ("g1", 4): ["a", "a", "b"],
        # one 2-rater item: excluded
        ("g1", 5): ["a", "b"],
        # group g2: everyone always says 'x' -> P_e = 1, kappa NULL
        ("g2", 1): ["x", "x", "x"],
        ("g2", 2): ["x", "x", "x"],
    }
    rows = [
        (g, i, c) for (g, i), cs in ratings.items() for c in cs
    ]
    df = spark.createDataFrame(rows, "g string, i long, c string")
    got = {
        r.g: r
        for r in fleiss_kappa(df, "g", "i", "c", n_ratings=3).collect()
    }

    def ref(items):
        n = 3
        N = len(items)
        sumsq = sum(
            sum(v * v for v in Counter(cs).values()) for cs in items
        )
        p_bar = (sumsq - N * n) / (N * n * (n - 1))
        cat = Counter(c for cs in items for c in cs)
        p_e = sum(v * v for v in cat.values()) / (N * n) ** 2
        return p_bar, p_e, (p_bar - p_e) / (1 - p_e)

    g1_items = [cs for (g, _), cs in ratings.items()
                if g == "g1" and len(cs) == 3]
    p_bar, p_e, kappa = ref(g1_items)
    r1 = got["g1"]
    assert (r1.n_items, r1.n_excluded) == (4, 1)
    assert r1.p_bar == round(p_bar, 6)
    assert r1.p_e == round(p_e, 6)
    assert r1.kappa == round(kappa, 6)
    r2 = got["g2"]
    assert (r2.n_items, r2.n_excluded) == (2, 0)
    assert r2.p_e == 1.0 and r2.kappa is None

    with pytest.raises(ValueError):
        fleiss_kappa(df, "g", "i", "c", n_ratings=1)


def test_spearman_matches_python(spark):
    """Reference: scipy-free pure-Python Spearman with tie-average
    ranks, including a perfectly monotone pair, an inverse pair, ties,
    and a constant-variable NULL."""
    import math

    from hybridbackend_spark.operators.analytics import spearman_corr

    def ref_rho(xs, ys):
        def ranks(vs):
            s = sorted(vs)
            return [
                (s.index(v) + 1 + s.index(v) + s.count(v)) / 2.0 for v in vs
            ]
        rx, ry = ranks(xs), ranks(ys)
        n = len(xs)
        sx, sy = sum(rx), sum(ry)
        sxx = sum(r * r for r in rx)
        syy = sum(r * r for r in ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        if vx <= 0 or vy <= 0:
            return None
        return (n * sxy - sx * sy) / math.sqrt(vx * vy)

    cases = {
        "mono": ([1.0, 2.0, 3.0, 10.0], [5.0, 6.0, 7.0, 8.0]),     # rho 1
        "inv": ([1.0, 2.0, 3.0], [9.0, 5.0, 1.0]),                 # rho -1
        "ties": ([1.0, 1.0, 2.0, 3.0, 3.0], [2.0, 4.0, 4.0, 9.0, 1.0]),
        "const": ([5.0, 5.0, 5.0], [1.0, 2.0, 3.0]),               # NULL
    }
    rows = [
        (g, x, y) for g, (xs, ys) in cases.items() for x, y in zip(xs, ys)
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r.g: r for r in spearman_corr(df, "g", "x", "y").collect()}
    assert got["mono"].rho == 1.0
    assert got["inv"].rho == -1.0
    assert got["const"].rho is None
    for g, (xs, ys) in cases.items():
        want = ref_rho(xs, ys)
        if want is None:
            assert got[g].rho is None, g
        else:
            assert got[g].rho == round(want, 6), g
        assert got[g].n == len(xs)


def test_robust_stats_matches_python(spark):
    """Pure-Python reference for median/MAD/trimmed-mean/outliers,
    exercising odd and even group sizes, ties, a planted gross outlier,
    and a single-row group."""
    import statistics

    from hybridbackend_spark.operators.analytics import robust_stats

    groups = {
        "odd": [1.0, 2.0, 3.0, 4.0, 100.0],           # planted outlier
        "even": [10.0, 10.0, 12.0, 14.0, 15.0, 15.0],  # ties both tails
        "one": [7.77],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r.g: r
        for r in robust_stats(df, "g", "v", trim_pct=20, k_mad=3).collect()
    }
    for g, vs in groups.items():
        cents = sorted(int(round(v * 100)) for v in vs)
        n = len(cents)
        med = statistics.median(cents)
        devs = sorted(abs(c - med) for c in cents)
        mad = statistics.median(devs)
        t = n * 20 // 100
        kept = cents[t : n - t]
        n_out = sum(1 for c in cents if abs(c - med) > 3 * mad)
        r = got[g]
        assert r.n == n, g
        assert r.median == round(med / 100.0, 6), g
        assert r.mad == round(mad / 100.0, 6), g
        assert r.trimmed_mean == round(sum(kept) / len(kept) / 100.0, 6), g
        assert r.n_trimmed == n - len(kept), g
        assert r.n_outliers == n_out, g
    # the planted 100.0 is the only outlier in "odd"
    assert got["odd"].n_outliers == 1
    # single row: median = value, MAD 0, no outliers, nothing trimmed
    assert got["one"].mad == 0.0 and got["one"].n_outliers == 0
    with pytest.raises(ValueError):
        robust_stats(df, "g", "v", trim_pct=50)


def test_logrank_matches_python(spark):
    """Textbook log-rank replay: hypergeometric E/V per event time over
    a small two-arm fixture with censoring and ties, plus identical
    arms (z ~ 0) and a no-events group (NULL z)."""
    import math

    from hybridbackend_spark.operators.analytics import logrank_test

    # (variant, duration, event): B churns systematically earlier
    fixture = [
        ("A", 5, 1), ("A", 8, 1), ("A", 10, 0), ("A", 12, 1), ("A", 12, 0),
        ("B", 2, 1), ("B", 3, 1), ("B", 5, 1), ("B", 8, 0), ("B", 9, 1),
    ]
    rows = [("g1", v, t, e) for v, t, e in fixture]
    rows += [("same", v, t, e)
             for v, t, e in [("A", 4, 1), ("B", 4, 1), ("A", 7, 0),
                             ("B", 7, 0)]]
    rows += [("noev", "A", 3, 0), ("noev", "B", 4, 0)]
    df = spark.createDataFrame(rows, "g string, v string, t int, e int")
    got = {r.g: r for r in logrank_test(df, "g", "v", "t", "e").collect()}

    def ref(subjects):
        times = sorted({t for _, t, e in subjects if e == 1})
        o1 = e1u = vu = 0
        for tt in times:
            n1 = sum(1 for v, t, _ in subjects if v == "A" and t >= tt)
            n = sum(1 for _, t, _ in subjects if t >= tt)
            d1 = sum(1 for v, t, e in subjects
                     if v == "A" and t == tt and e == 1)
            d = sum(1 for _, t, e in subjects if t == tt and e == 1)
            o1 += d1
            e1u += round(1e6 * d * n1 / n)
            if n > 1:
                vu += round(1e6 * d * n1 * (n - n1) * (n - d)
                            / (n * n * (n - 1)))
        return o1, e1u, vu

    o1, e1u, vu = ref(fixture)
    r = got["g1"]
    assert (r.n_a, r.n_b, r.o1) == (5, 5, o1)
    assert r.e1 == round(e1u / 1e6, 6)
    assert r.v1 == round(vu / 1e6, 6)
    assert r.z == round((o1 - e1u / 1e6) / math.sqrt(vu / 1e6), 6)
    assert r.chi2 == round(r.z * r.z, 6) or abs(r.chi2 - r.z * r.z) < 1e-5
    assert r.z < 0  # A churns later: observed A events fall below E1
    # identical arms: O-E = 0 exactly -> z = 0
    assert got["same"].z == 0.0
    # no events at all: V = 0 -> NULL z
    assert got["noev"].z is None and got["noev"].o1 == 0


def test_eb_shrink_matches_python_and_orders_small_samples(spark):
    from hybridbackend_spark.operators.analytics import eb_shrink_rates

    # trial-level rows: key -> (successes, trials). Eight well-sampled
    # keys near 0.45 concentrate the prior; "tiny" (1/1) and "solid"
    # (9/10) test the small-sample reranking.
    spec = {f"base{i}": (45, 100) for i in range(8)}
    spec["tiny"] = (1, 1)
    spec["solid"] = (9, 10)
    rows = []
    for k, (s, n) in spec.items():
        rows += [(k, 1)] * s + [(k, 0)] * (n - s)
    df = spark.createDataFrame(rows, "k string, y int")
    got = {
        r.k: r
        for r in eb_shrink_rates(
            df, "k", F.col("y"), F.lit(1)
        ).collect()
    }
    # python MoM replay over micro-quantized rates
    rus = {k: round(1e6 * s / n) for k, (s, n) in spec.items()}
    m0 = len(rus)
    m1 = sum(rus.values())
    m2 = sum(r * r for r in rus.values())
    m = m1 / (m0 * 1e6)
    v = m2 / (m0 * 1e12) - m * m
    ab = m * (1 - m) / v - 1
    alpha, beta = m * ab, (1 - m) * ab
    assert ab > 0  # fixture chosen so the fit is proper
    for k, (s, n) in spec.items():
        r = got[k]
        assert (r.successes, r.trials) == (s, n)
        assert r.alpha == round(alpha, 6) and r.beta == round(beta, 6)
        assert r.shrunk_rate == round((s + alpha) / (n + alpha + beta), 6)
    # the whole point: raw 1/1 outranks 9/10, but the posterior pulls
    # the single-trial key far toward the prior mean and the
    # well-sampled keys barely move - so solid outranks tiny shrunken
    assert got["tiny"].rate > got["solid"].rate
    assert got["tiny"].shrunk_rate < got["solid"].shrunk_rate
    assert abs(got["base0"].shrunk_rate - got["base0"].rate) < 0.05
    # degenerate: all rates identical -> v=0 -> NULL prior, NULL shrunk
    same = spark.createDataFrame(
        [("a", 1), ("a", 0), ("b", 1), ("b", 0)], "k string, y int"
    )
    dg = eb_shrink_rates(same, "k", F.col("y"), F.lit(1)).collect()
    assert all(r.alpha is None and r.shrunk_rate is None for r in dg)
    assert all(r.rate == 0.5 for r in dg)


def test_assoc_rules_matches_python(spark):
    import itertools

    from hybridbackend_spark.operators.analytics import assoc_rules

    baskets = {
        1: ["milk", "bread", "butter"],
        2: ["milk", "bread"],
        3: ["milk", "beer"],
        4: ["bread", "butter"],
        5: ["beer", "chips", "milk", "milk"],  # dup item: one occurrence
    }
    rows = [(b, i) for b, items in baskets.items() for i in items]
    df = spark.createDataFrame(rows, "b long, i string")
    got = {
        (r.antecedent, r.consequent): r
        for r in assoc_rules(df, "b", "i", min_support_pct_x100=4000).collect()
    }
    # python reference: pairs with support >= 40%
    sets = {b: set(v) for b, v in baskets.items()}
    N = len(sets)
    cnt = {}
    for s in sets.values():
        for i in s:
            cnt[i] = cnt.get(i, 0) + 1
    pair = {}
    for s in sets.values():
        for a, b in itertools.combinations(sorted(s), 2):
            pair[(a, b)] = pair.get((a, b), 0) + 1
    want = {}
    for (a, b), c in pair.items():
        if c * 10000 >= 4000 * N:
            want[(a, b)] = c
            want[(b, a)] = c
    assert set(got) == set(want)
    for (a, b), c in want.items():
        r = got[(a, b)]
        assert r.n_pair == c and r.n_baskets == N
        assert r.support == round(c / N, 6)
        assert r.confidence == round(c / cnt[a], 6)
        assert r.lift == round(N * c / (cnt[a] * cnt[b]), 6)
    # (milk, bread): 2 of 5 baskets -> both directions present
    assert ("milk", "bread") in got and ("bread", "milk") in got
    # basket-size guard
    with pytest.raises(ValueError, match="max_basket_items"):
        assoc_rules(df, "b", "i", max_basket_items=2)


def test_diff_in_diff_matches_python(spark):
    """Reference DiD with a planted treatment effect, plus empty-cell
    NULL and zero-variance guard cases."""
    import math
    import statistics

    from hybridbackend_spark.operators.analytics import diff_in_diff

    cells = {
        # (treated, post): values — planted +5 lift on treated-post
        (True, True): [15.0, 16.0, 17.0, 14.5],
        (True, False): [10.0, 11.0, 10.5],
        (False, True): [10.2, 11.2, 10.7, 10.9],
        (False, False): [10.0, 11.0, 10.4],
    }
    rows = [
        ("g", tr, po, v) for (tr, po), vs in cells.items() for v in vs
    ]
    df = spark.createDataFrame(rows, "g string, tr boolean, po boolean, v double")
    r = diff_in_diff(df, "g", F.col("tr"), F.col("po"), "v").collect()[0]
    cents = {k: [round(v * 100) for v in vs] for k, vs in cells.items()}
    mean = {k: sum(v) / len(v) / 100 for k, v in cents.items()}
    did = (mean[(True, True)] - mean[(True, False)]) - (
        mean[(False, True)] - mean[(False, False)]
    )
    se2 = sum(
        statistics.variance(v) / (len(v) * 10000)
        for v in cents.values()
    )
    assert (r.n_tp, r.n_tq, r.n_cp, r.n_cq) == (4, 3, 4, 3)
    assert r.did == round(did, 6)
    assert r.se == round(math.sqrt(se2), 6)
    assert r.z == round(did / math.sqrt(se2), 6)
    assert r.z > 2  # the planted lift is detected
    # empty treated-post cell -> NULL did
    sub = df.filter(~(F.col("tr") & F.col("po")))
    r2 = diff_in_diff(sub, "g", F.col("tr"), F.col("po"), "v").collect()[0]
    assert r2.did is None and r2.z is None
    # constant values: variance 0 -> NULL se/z, did still exact
    const = spark.createDataFrame(
        [("g", tr, po, 5.0) for tr in (True, False) for po in (True, False)
         for _ in range(2)],
        "g string, tr boolean, po boolean, v double",
    )
    r3 = diff_in_diff(const, "g", F.col("tr"), F.col("po"), "v").collect()[0]
    assert r3.did == 0.0 and r3.se is None and r3.z is None


def test_quantile_normalize_semantics(spark):
    """After normalization every slice's distribution equals the pooled
    grid restricted to its ranks: two slices with shifted but same-shape
    distributions map to identical value multisets; exact python replay
    of ranks, grid, and index arithmetic."""
    from hybridbackend_spark.operators.analytics import quantile_normalize

    a = [1.0, 2.0, 3.0, 4.0]          # slice A
    b = [101.0, 102.0, 103.0, 104.0]  # same shape, shifted by 100
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, x double")
    k = 4
    out = quantile_normalize(df, "g", "x", k=k).collect()
    norm = {}
    for r in out:
        norm.setdefault(r.g, []).append(r.normalized)
    # identical multisets after normalization
    assert sorted(norm["a"]) == sorted(norm["b"])
    # python replay: pooled grid at dyadic fractions via the same
    # a + (b-a)*f interpolation over sorted cents
    cents = sorted(round(v * 100) for v in a + b)
    n = len(cents)

    def pct(f):
        pos = (n - 1) * f
        lo = int(pos)
        frac = pos - lo
        hi = min(lo + 1, n - 1)
        return cents[lo] + (cents[hi] - cents[lo]) * frac

    grid = [pct(j / k) for j in range(1, k + 1)]
    for g, vals in (("a", a), ("b", b)):
        for v, got in zip(sorted(vals), sorted(norm[g])):
            rank = sorted(vals).index(v) + 1  # unique values: rank = pos
            idx = min(k, -(-rank * k // len(vals)))  # ceil
            assert got == grid[idx - 1] / 100.0, (g, v)
    with pytest.raises(ValueError):
        quantile_normalize(df, "g", "x", k=100)  # not a power of two


def test_weighted_quantiles_matches_python(spark):
    """Lower-weighted-quantile rule against a brute-force reference;
    NULL value/weight rows excluded; n<=weights edge shapes."""
    rows = [
        ("g", 1.0, 1), ("g", 2.0, 1), ("g", 3.0, 98),   # w-median = 3
        ("h", 10.0, 5), ("h", 20.0, 5),                  # even split
        ("h", None, 7), ("h", 30.0, None),               # excluded
    ]
    from hybridbackend_spark.operators.analytics import weighted_quantiles

    df = spark.createDataFrame(rows, "g string, v double, w long")
    got = {r.g: r for r in weighted_quantiles(df, "g", "v", "w").collect()}

    def ref(pairs, num, den):
        tot = sum(w for _, w in pairs)
        cum = 0
        for v, w in sorted(pairs):
            cum += w
            if den * cum >= num * tot:
                return v
        raise AssertionError

    g = [(1.0, 1), (2.0, 1), (3.0, 98)]
    h = [(10.0, 5), (20.0, 5)]
    assert got["g"].total_weight == 100
    assert got["g"].wp50 == ref(g, 1, 2) == 3.0
    assert got["g"].wp25 == ref(g, 1, 4) == 3.0
    assert got["h"].total_weight == 10
    # lower rule: cum(10.0)=5, 2*5 >= 10 -> wp50 = 10.0
    assert got["h"].wp50 == 10.0
    assert got["h"].wp75 == 20.0


def test_weighted_quantiles_weight_rounding_and_negative_guard(spark):
    """Fractional weights ROUND before the BIGINT cast (ANSI/DuckDB
    CAST semantics — Spark's bare cast would truncate 2.6 -> 2);
    negative weights raise instead of silently corrupting the
    cumulative selection; zero weights are inert."""
    import pytest

    from hybridbackend_spark.operators.analytics import weighted_quantiles

    df = spark.createDataFrame(
        [("g", 1.0, 2.6), ("g", 2.0, 0.4), ("g", 3.0, 0.0)],
        "g string, v double, w double",
    )
    row = weighted_quantiles(df, "g", "v", "w").collect()[0]
    # 2.6 -> 3, 0.4 -> 0, 0.0 -> 0: total 3, median = 1.0
    assert row.total_weight == 3 and row.wp50 == 1.0

    neg = spark.createDataFrame(
        [("g", 1.0, 5.0), ("g", 2.0, -1.0)], "g string, v double, w double"
    )
    with pytest.raises(Exception, match="negative weight"):
        weighted_quantiles(neg, "g", "v", "w").collect()
    # weights in (-0.5, 0) round to 0 — the guard must check the RAW
    # weight, or -0.4 silently becomes an inert zero-weight row
    neg_small = spark.createDataFrame(
        [("g", 1.0, 5.0), ("g", 2.0, -0.4)], "g string, v double, w double"
    )
    with pytest.raises(Exception, match="negative weight"):
        weighted_quantiles(neg_small, "g", "v", "w").collect()
