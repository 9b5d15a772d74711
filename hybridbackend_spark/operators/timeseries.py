"""Time-series regularization: bucket, resample, and gap-fill irregular
event streams into fixed-step series.

The reference's metric streams (``tensorflow/metrics``) assume regularly
spaced updates; real event data is irregular. ``resample_fill`` turns a
(key, ts, value) stream into one row per key per step with the gaps
filled — forward-fill (state carried) or linear interpolation (bounded
by the surrounding observations).

Scale shape: one partial-agg groupBy((key, bucket)) compresses the
stream to one row per occupied bucket; a per-key ordered window finds
each bucket's successor; `sequence()` + explode generates ONLY the
missing buckets between neighbors (never a dense calendar cross join —
the classic scale mistake is calendar x keys). Shuffle volume is
occupied buckets, and the explode fan-out equals the actual gap sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .._fixed import CENTS, MICRO, grid, ungrid
from .._materialize import materialize

__all__ = ["resample_fill", "transition_matrix", "sequence_pattern_match", "ewma", "seasonal_dow", "cusum_changepoint", "forecast_backtest", "holt_linear", "theil_sen", "mann_kendall", "kendall_tau_b"]


def resample_fill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int,
    how: str = "ffill",
    agg: str = "sum",
    value_dp: int = 6,
) -> DataFrame:
    """Resample to a regular grid of ``step_seconds`` per ``key_col``.

    1. Bucket each row to ``floor(epoch / step) * step`` and aggregate
       ``value_col`` per (key, bucket) with ``agg`` (sum/avg/min/max/
       count).
    2. For every pair of CONSECUTIVE occupied buckets, emit the missing
       grid points between them, valued by:
       - ``how="ffill"``: the left neighbor's value (state carry);
       - ``how="linear"``: linear interpolation between neighbors.

    The series spans each key's own [min, max] observed range (no
    extrapolation — trailing gaps after the last observation are
    unknowable). Values round to ``value_dp`` for engine-stable hashing.
    Returns (key, bucket_ts, value, filled) where ``filled`` marks
    generated rows.
    """
    if how not in ("ffill", "linear"):
        raise ValueError("how must be 'ffill' or 'linear'")
    aggs = {
        "sum": F.sum,
        "avg": F.avg,
        "min": F.min,
        "max": F.max,
        "count": lambda c: F.count(c),
    }
    if agg not in aggs:
        raise ValueError(f"agg must be one of {sorted(aggs)}")

    step = F.lit(int(step_seconds)).cast("long")
    bucket = (F.unix_timestamp(F.col(ts_col)).cast("long") / step).cast(
        "long"
    ) * step
    occupied = (
        df.select(
            F.col(key_col).alias("_k"),
            bucket.alias("_b"),
            F.col(value_col).cast("double").alias("_v"),
        )
        .groupBy("_k", "_b")
        # round at the bucket boundary so interpolation runs on the same
        # quantized neighbors in every engine/partitioning
        .agg(
            F.round(aggs[agg](F.col("_v")).cast("double"), value_dp).alias("_v")
        )
    )
    w = Window.partitionBy("_k").orderBy("_b")
    with_next = occupied.select(
        "_k",
        "_b",
        "_v",
        F.lead("_b").over(w).alias("_nb"),
        F.lead("_v").over(w).alias("_nv"),
    )
    # real rows
    real = with_next.select(
        F.col("_k").alias(key_col),
        F.col("_b").alias("bucket_ts"),
        F.round("_v", value_dp).alias("value"),
        F.lit(False).alias("filled"),
    )
    # gap rows: grid points strictly between _b and _nb
    gaps = with_next.filter(
        F.col("_nb").isNotNull() & (F.col("_nb") > F.col("_b") + step)
    ).select(
        "_k",
        "_b",
        "_v",
        "_nb",
        "_nv",
        F.explode(
            F.sequence(F.col("_b") + step, F.col("_nb") - step, step)
        ).alias("_g"),
    )
    if how == "ffill":
        gap_value: Column = F.col("_v")
    else:
        frac = (F.col("_g") - F.col("_b")).cast("double") / (
            F.col("_nb") - F.col("_b")
        ).cast("double")
        gap_value = F.col("_v") + (F.col("_nv") - F.col("_v")) * frac
    filled = gaps.select(
        F.col("_k").alias(key_col),
        F.col("_g").alias("bucket_ts"),
        F.round(gap_value, value_dp).alias("value"),
        F.lit(True).alias("filled"),
    )
    return real.unionAll(filled)


def transition_matrix(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    tiebreak_col: str | None = None,
    dp: int = 6,
) -> DataFrame:
    """First-order Markov transition estimates from per-key event
    sequences: orders each key's events by (ts, tiebreak), pairs each
    state with its successor, and estimates ``P(next | state) =
    n(state, next) / n(state, *)``. The backbone of funnel/next-action
    analytics and a cheap sequence-model baseline.

    Scale shape: ONE per-key ordered window (shuffle on the key — the
    same partitioning any per-entity sequence op needs), then two
    partial-agg group-bys on (state, next) / (state) — both tiny
    (|states|^2 rows). Nothing is collected; probabilities are exact
    integer ratios rounded to ``dp``.

    Returns (state, next_state, n_transitions, p).
    """
    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    pairs = (
        df.select(
            F.col(state_col).alias("state"),
            F.lead(state_col).over(w).alias("next_state"),
        )
        .filter(F.col("next_state").isNotNull())
        .groupBy("state", "next_state")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    totals = pairs.groupBy("state").agg(
        F.sum("n_transitions").alias("_tot")
    )
    return (
        pairs.join(totals, "state")
        .select(
            "state",
            "next_state",
            "n_transitions",
            F.round(
                F.col("n_transitions").cast("double") / F.col("_tot"), dp
            ).alias("p"),
        )
    )


def sequence_pattern_match(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    symbols: dict[str, str],
    pattern: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern detection, relationally:
    each key's ordered events encode to a symbol string (one char per
    event via ``symbols``; unmapped states become '.') and ``pattern``
    — a regex over those symbols, e.g. ``"vc+b"`` for
    view -> cart(s) -> buy — counts its non-overlapping occurrences per
    key. Spark has no MATCH_RECOGNIZE; this gives the common subset
    (concatenation, alternation, quantifiers) with regex semantics.

    Scale shape: one ordered collect_list per key (the same key shuffle
    any per-entity sequence op needs; the string is events-per-key
    long, fine for user-session scales) + JVM regexp_count. For
    unbounded per-key histories, pre-clip with
    :func:`~hybridbackend_spark.operators.joins.clip_history`.

    Returns (key, n_events, symbol_string, n_matches).
    """
    sym = F.col(state_col)
    expr = None
    for state, ch in symbols.items():
        if len(ch) != 1:
            raise ValueError(f"symbol for {state!r} must be one char")
        cond = (sym == state, F.lit(ch))
        expr = F.when(*cond) if expr is None else expr.when(*cond)
    expr = expr.otherwise(F.lit("."))
    order_cols = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    # order-stable collect: sort the (order-keys, char) structs inside
    # the aggregate — one partial-agg shuffle, no window
    item = F.struct(*order_cols, expr.alias("_ch"))
    encoded = (
        df.groupBy(key_col)
        .agg(F.array_sort(F.collect_list(item)).alias("_seq"))
        .select(
            key_col,
            F.size("_seq").alias("n_events"),
            F.array_join(
                F.transform(F.col("_seq"), lambda s: s["_ch"]), ""
            ).alias("symbol_string"),
        )
    )
    return encoded.withColumn(
        "n_matches",
        F.expr(f"regexp_count(symbol_string, '{pattern}')"),
    )


def ewma(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_col: str | None = None,
    dp: int = 8,
) -> DataFrame:
    """Per-key exponentially-weighted moving average with alpha = 1/2:
    s_1 = v_1, s_n = (s_{n-1} + v_n) / 2. Returns (key, n_obs, ewma).

    Engine-exact by construction: alpha = 1/2 makes every product an
    exact exponent shift, and the fold runs STRICTLY in (ts, order)
    sequence in both engines (Spark ``aggregate`` over a sorted struct
    array == DuckDB ``list_reduce`` over ``list(... ORDER BY ...)``),
    so the IEEE operation sequence — and therefore every bit of the
    result — is identical regardless of partitioning.

    Scale shape: one shuffle on the key; each key's history is folded
    as a single array. Per-key histories are assumed bounded (event
    windows, session tails); for unbounded histories resample first
    (``resample_fill``) — weights below 2^-1074 underflow to exactly 0
    in both engines anyway, so a bounded suffix is sufficient.
    """
    k, t, v = F.col(key_col), F.col(ts_col), F.col(value_col)
    tie = F.col(order_col) if order_col else F.lit(0)
    rows = df.select(k.alias("_k"), F.struct(t, tie.alias("_o"), v.alias("_v")).alias("_s"))
    folded = (
        rows.groupBy("_k")
        .agg(F.array_sort(F.collect_list("_s")).alias("_hist"))
        .select(
            F.col("_k").alias(key_col),
            F.size("_hist").alias("n_obs"),
            F.expr(
                "aggregate(slice(_hist, 2, greatest(size(_hist) - 1, 0)), "
                "_hist[0]._v, (acc, x) -> (acc + x._v) / 2.0D)"
            ).alias("_ewma"),
        )
    )
    return folded.select(key_col, "n_obs", F.round("_ewma", dp).alias("ewma"))


def seasonal_dow(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    dp: int = 4,
) -> DataFrame:
    """Day-of-week seasonal decomposition of a daily-aggregated series:
    daily totals (exact integer cents), per-weekday seasonal mean vs the
    global daily mean, and the per-day residual after removing the
    weekday effect. Returns (day DATE, dow INT 0=Sunday, day_total,
    dow_mean, seasonal, residual).

    All group statistics are ratios of exact integer sums, so every
    double is identical across engines; the two stat sides broadcast as
    tiny tables (7 rows / 1 row) onto the daily series. Shuffle volume
    is one (day)-key partial agg of the raw stream — days, not rows.
    """
    daily = (
        df.select(
            F.col(ts_col).cast("date").alias("day"),
            grid(value_col, CENTS).alias("_c"),
        )
        .groupBy("day")
        .agg(F.sum("_c").alias("_cents"))
        # 0=Sunday, matching DuckDB's dayofweek()
        .withColumn("dow", (F.dayofweek(F.col("day")) - 1).cast("int"))
    )
    dow_stats = daily.groupBy("dow").agg(
        F.sum("_cents").alias("_dc"), F.count(F.lit(1)).alias("_dn")
    )
    glob = daily.agg(
        F.sum("_cents").alias("_gc"), F.count(F.lit(1)).alias("_gn")
    )
    dow_mean = ungrid(F.col("_dc").cast("double") / F.col("_dn").cast("double"), CENTS)
    glob_mean = ungrid(F.col("_gc").cast("double") / F.col("_gn").cast("double"), CENTS)
    return (
        daily.join(F.broadcast(dow_stats), "dow")
        .crossJoin(F.broadcast(glob))
        .select(
            "day",
            "dow",
            ungrid(F.col("_cents"), CENTS).alias("day_total"),
            F.round(dow_mean, dp).alias("dow_mean"),
            F.round(dow_mean - glob_mean, dp).alias("seasonal"),
            F.round(ungrid(F.col("_cents"), CENTS) - dow_mean, dp).alias("residual"),
        )
    )


def cusum_changepoint(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    dp: int = 4,
) -> DataFrame:
    """CUSUM change-point detection per group over daily totals: the day
    where the cumulative sum of deviations from the group mean reaches
    its maximum magnitude is the most likely mean-shift point. Returns
    (group, change_day, cusum_at_change, n_days).

    Engine-exact: daily totals are exact integer cents; the mean is one
    identical double division; the running sum adds identical doubles in
    identical (day) order in any engine, so every CUSUM value matches
    bit-for-bit. Shuffle volume: one (group, day) partial agg of the raw
    stream, then windows over the tiny daily series.
    """
    daily = (
        df.select(
            F.col(group_col).alias("_g"),
            F.col(ts_col).cast("date").alias("_d"),
            grid(value_col, CENTS).alias("_c"),
        )
        .groupBy("_g", "_d")
        .agg(F.sum("_c").alias("_cents"))
    )
    stats = daily.groupBy("_g").agg(
        F.sum("_cents").alias("_tot"), F.count(F.lit(1)).alias("_n")
    )
    mean = F.col("_tot").cast("double") / F.col("_n").cast("double")
    w = Window.partitionBy("_g").orderBy("_d")
    dev = (
        daily.join(stats, "_g")
        .withColumn("_dev", F.col("_cents").cast("double") - mean)
        .withColumn(
            "_cusum",
            F.sum("_dev").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    rk = Window.partitionBy("_g").orderBy(F.abs(F.col("_cusum")).desc(), "_d")
    return (
        dev.withColumn("_r", F.row_number().over(rk))
        .filter(F.col("_r") == 1)
        .select(
            F.col("_g").alias(group_col),
            F.col("_d").alias("change_day"),
            F.round(ungrid(F.col("_cusum"), CENTS), dp).alias("cusum_at_change"),
            F.col("_n").alias("n_days"),
        )
    )


def forecast_backtest(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    season: int = 7,
    dp: int = 4,
) -> DataFrame:
    """Backtest the two standard forecasting baselines on daily totals:
    naive (yesterday's value) and seasonal-naive (value ``season`` days
    back), scoring MAE (exact cents) and SMAPE (micro-quantized) per
    (group, model). Any fancier forecaster must beat these numbers —
    this op IS the benchmark harness.

    One (group, day) partial agg, two lag windows per group's tiny daily
    series, error terms quantized before the final mean — engine-exact.
    Returns (group, model, n_scored, mae, smape_pct).
    """
    daily = (
        df.select(
            F.col(group_col).alias("_g"),
            F.col(ts_col).cast("date").alias("_d"),
            grid(value_col, CENTS).alias("_c"),
        )
        .groupBy("_g", "_d")
        .agg(F.sum("_c").alias("_cents"))
    )
    w = Window.partitionBy("_g").orderBy("_d")
    lagged = daily.select(
        "_g",
        "_d",
        "_cents",
        F.lag("_cents", 1).over(w).alias("_naive"),
        F.lag("_cents", season).over(w).alias("_snaive"),
    )

    def score(fcol: str, model: str) -> DataFrame:
        y = F.col("_cents").cast("double")
        f = F.col(fcol).cast("double")
        # a 0-actual/0-forecast day is a perfect forecast, not a 0/0
        smape = F.when(F.abs(y) + F.abs(f) == 0, F.lit(0.0)).otherwise(
            F.abs(y - f) / ((F.abs(y) + F.abs(f)) / F.lit(2.0)) * 100.0
        )
        return (
            lagged.filter(F.col(fcol).isNotNull())
            .groupBy(F.col("_g").alias(group_col))
            .agg(
                F.count(F.lit(1)).alias("n_scored"),
                ungrid(
                    F.sum(F.abs(F.col("_cents") - F.col(fcol))) / F.count(F.lit(1)),
                    CENTS,
                ).alias("_mae"),
                ungrid(
                    F.sum(grid(smape, MICRO)) / F.count(F.lit(1)), MICRO
                ).alias("_smape"),
            )
            .select(
                group_col,
                F.lit(model).alias("model"),
                "n_scored",
                F.round("_mae", dp).alias("mae"),
                F.round("_smape", dp).alias("smape_pct"),
            )
        )

    return score("_naive", "naive").unionByName(score("_snaive", "seasonal_naive"))


def holt_linear(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    horizon: int = 7,
    dp: int = 6,
) -> DataFrame:
    """Per-key Holt linear-trend (double exponential) smoothing with
    alpha = 1/2, beta = 1/4 — the level+trend upgrade of :func:`ewma`
    and the simplest genuine forecaster:

        l_t = a*v_t + (1-a)*(l_{t-1} + b_{t-1})
        b_t = g*(l_t - l_{t-1}) + (1-g)*b_{t-1}
        forecast(h) = l_n + h * b_n

    initialized l_1 = v_1, b_1 = 0.

    Engine-exact the same way as :func:`ewma`: the fold runs STRICTLY
    in ``ts_col`` order in both engines (Spark ``aggregate`` over a
    sorted struct array == DuckDB ``list_reduce`` over an ORDER BY
    list), with the state pair carried as a struct and the combine
    expression written with the identical operation tree — so every
    IEEE step, and therefore every output bit, matches regardless of
    partitioning. Dyadic coefficients (1/2, 1/4, 3/4) are exact binary.

    Scale shape: one shuffle on the key; each key's series is folded as
    one array. Per-key histories must be bounded (daily/hourly
    aggregates — the calendar bounds them); resample/aggregate first
    for raw event streams.

    Returns (key, n_obs, level, trend, forecast) rounded to ``dp``.
    """
    k, t, v = F.col(key_col), F.col(ts_col), F.col(value_col)
    rows = df.select(
        k.alias("_k"),
        F.struct(t.alias("_t"), v.cast("double").alias("_v")).alias("_s"),
    )
    fold = (
        "aggregate("
        "slice(_hist, 2, greatest(size(_hist) - 1, 0)), "
        "named_struct('l', _hist[0]._v, 'b', 0.0D), "
        "(acc, x) -> named_struct("
        "'l', 0.5D * x._v + 0.5D * (acc.l + acc.b), "
        "'b', 0.25D * ((0.5D * x._v + 0.5D * (acc.l + acc.b)) - acc.l)"
        " + 0.75D * acc.b))"
    )
    folded = (
        rows.groupBy("_k")
        .agg(F.array_sort(F.collect_list("_s")).alias("_hist"))
        .select(
            F.col("_k").alias(key_col),
            F.size("_hist").cast("long").alias("n_obs"),
            F.expr(fold).alias("_st"),
        )
    )
    h = F.lit(float(horizon))
    return folded.select(
        key_col,
        "n_obs",
        F.round(F.col("_st.l"), dp).alias("level"),
        F.round(F.col("_st.b"), dp).alias("trend"),
        F.round(F.col("_st.l") + h * F.col("_st.b"), dp).alias("forecast"),
    )


def _enforce_max_obs(pts: DataFrame, max_obs: int | None, what: str) -> DataFrame:
    """Executable bound for the pairwise (quadratic-per-key) trend
    estimators: materialize the point set once (the guard count and the
    pair join share it) and raise if any key's series exceeds
    ``max_obs``. Shared by :func:`theil_sen` and :func:`mann_kendall`
    so the guard semantics cannot drift."""
    if max_obs is None:
        return pts
    pts = materialize(pts)
    biggest = (
        pts.groupBy("_k")
        .agg(F.count(F.lit(1)).alias("_m"))
        .agg(F.max("_m").alias("_mx"))
        .collect()[0]["_mx"]
    )
    if biggest is not None and biggest > max_obs:
        raise ValueError(
            f"a key has {biggest} observations > max_obs={max_obs}; "
            f"{what} pairs are quadratic per key — aggregate the "
            "series coarser or raise max_obs deliberately"
        )
    return pts


def _xy_tie_stats(pts: DataFrame, cubic: bool) -> DataFrame:
    """Per-key n plus ALL x- and y-tie sums in ONE tagged aggregation
    pass: each point explodes into ('x', x) / ('y', y) rows, one
    hash-agg counts tie-group sizes per (key, axis, value), and one
    per-key conditional aggregate folds every tie polynomial AND n
    (n = sum of x-group sizes) simultaneously. Replaces the previous
    three separate chains (n_per + y-ties + x-ties = 5 shuffles, 3
    joins) with 2 shuffles and 0 joins — the same per-key hash
    aggregation the S statistic's histogram discipline already pays.

    Doubled/raw tie polynomials, all BIGINT:
      _t1/_u1 = sum t(t-1)            (y/x; = 2 * sum C(t,2))
      _t3/_u3 = sum t(t-1)(2t+5)      (cubic; only when ``cubic``)
      _t2/_u2 = sum t(t-1)(t-2)       (cross terms; only when ``cubic``)
    """
    tagged = pts.select(
        "_k",
        F.explode(
            F.array(
                F.struct(F.lit("x").alias("_d"), F.col("_x").alias("_val")),
                F.struct(F.lit("y").alias("_d"), F.col("_y").alias("_val")),
            )
        ).alias("_e"),
    ).select("_k", F.col("_e._d").alias("_d"), F.col("_e._val").alias("_val"))
    grp = tagged.groupBy("_k", "_d", "_val").agg(
        F.count(F.lit(1)).alias("_t")
    )
    t = F.col("_t")
    isx = F.col("_d") == "x"
    isy = F.col("_d") == "y"
    aggs = [
        F.sum(F.when(isx, t)).alias("_n"),
        F.sum(F.when(isy, t * (t - 1))).alias("_t1"),
        F.sum(F.when(isx, t * (t - 1))).alias("_u1"),
    ]
    if cubic:
        aggs += [
            F.sum(F.when(isy, t * (t - 1) * (2 * t + 5))).alias("_t3"),
            F.sum(F.when(isy, t * (t - 1) * (t - 2))).alias("_t2"),
            F.sum(F.when(isx, t * (t - 1) * (2 * t + 5))).alias("_u3"),
            F.sum(F.when(isx, t * (t - 1) * (t - 2))).alias("_u2"),
        ]
    return grp.groupBy("_k").agg(*aggs)


def theil_sen(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    max_obs: int | None = 2000,
    dp: int = 6,
) -> DataFrame:
    """Per-key Theil-Sen robust trend: the MEDIAN of all pairwise
    slopes ``(y_j - y_i) / (x_j - x_i)`` over ``x_i < x_j`` — up to
    ~29% outlier breakdown vs least-squares' zero, the standard robust
    companion to :func:`~..operators.analytics.ols_trend`. Pairs with
    equal x are excluded (vertical slopes), per the estimator's
    definition.

    Engine-exact: each slope is ONE double division of exact inputs;
    the median is selected POSITIONALLY (rows ``floor((n+1)/2)`` and
    ``floor(n/2)+1`` of the per-key slope order, averaged) rather than
    through an interpolating percentile whose arithmetic differs
    between engines. Ties in slope value cannot change the selected
    VALUES, so the result is partitioning- and engine-independent.

    Scale shape: pairwise slopes are O(m^2) per key — intended for
    CALENDAR-BOUNDED series (daily/hourly aggregates), and the bound is
    enforced, not assumed: ``max_obs`` raises if any key's series
    exceeds it (the `_daily_cents_series` guard discipline). The
    median window partitions by key — no global window.

    Returns (key, n_pairs, slope); keys with < 2 distinct x drop out.
    Rows with NULL x or y are dropped (a NULL slope would otherwise be
    counted in the positional median rank — same NULL contract as
    :func:`kendall_tau_b`).
    """
    pts = df.select(
        F.col(key_col).alias("_k"),
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    ).filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    pts = _enforce_max_obs(pts, max_obs, "pairwise-slope")
    a, b = pts.alias("a"), pts.alias("b")
    slopes = a.join(
        b,
        (F.col("a._k") == F.col("b._k")) & (F.col("a._x") < F.col("b._x")),
    ).select(
        F.col("a._k").alias("_k"),
        (
            (F.col("b._y") - F.col("a._y")) / (F.col("b._x") - F.col("a._x"))
        ).alias("_s"),
    )
    w = Window.partitionBy("_k").orderBy("_s")
    wk = Window.partitionBy("_k")
    ranked = slopes.select(
        "_k",
        "_s",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wk).alias("_n"),
    )
    lo = F.floor((F.col("_n") + 1) / 2)
    hi = F.floor(F.col("_n") / 2) + 1
    return (
        ranked.filter((F.col("_rn") == lo) | (F.col("_rn") == hi))
        .groupBy("_k")
        .agg(
            F.max("_n").cast("long").alias("n_pairs"),
            F.round(F.sum("_s") / F.count(F.lit(1)), dp).alias("slope"),
        )
        .select(F.col("_k").alias(key_col), "n_pairs", "slope")
    )


def kendall_tau_b(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    max_obs: int | None = 2000,
    dp: int = 6,
) -> DataFrame:
    """Per-key Kendall tau-b rank correlation — the tie-corrected
    concordance coefficient (the magnitude companion to
    :func:`mann_kendall`'s significance z; Spearman's sibling with a
    cleaner probabilistic reading: P(concordant) - P(discordant)):

        S      = sum over x_i < x_j of sign(y_j - y_i)
        tau_b  = S / sqrt((n0 - T1)(n0 - U1))
        n0 = n(n-1)/2,  T1 = sum_t t(t-1)/2 (y ties),
        U1 = sum_u u(u-1)/2 (x ties)

    Engine-exact: S and every tie sum are pure BIGINT (shared integer
    machinery with ``mann_kendall``); tau_b is ONE division of exact
    integers. Same quadratic-pairs bound, enforced by ``max_obs``.
    tau_b is NULL when either variable is constant within a key
    (denominator 0, ANSI-guarded).

    Returns (key, n_obs, s_stat, tau_b). Rows with NULL x or y are
    dropped (they contribute nothing to S, so counting them in n/ties
    would bias the denominator — same NULL contract as spearman_corr).
    """
    pts = df.select(
        F.col(key_col).alias("_k"),
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    ).filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    pts = _enforce_max_obs(pts, max_obs, "Kendall tau-b")
    a, b = pts.alias("a"), pts.alias("b")
    s = (
        a.join(
            b,
            (F.col("a._k") == F.col("b._k")) & (F.col("a._x") < F.col("b._x")),
        )
        .groupBy(F.col("a._k").alias("_k"))
        .agg(
            F.sum(
                F.signum(F.col("b._y") - F.col("a._y")).cast("long")
            ).alias("s_stat")
        )
    )
    out = _xy_tie_stats(pts, cubic=False).join(s, "_k", "left")
    n = F.col("_n")
    # doubled pair counts keep everything integer: 2*n0 = n(n-1),
    # 2*T1 = _t1 (y), 2*U1 = _u1 (x); the factor 2 cancels in the sqrt
    dy = (n * (n - 1) - F.col("_t1")).cast("double")
    dx = (n * (n - 1) - F.col("_u1")).cast("double")
    sv = F.col("s_stat")
    tau = F.lit(2.0) * sv.cast("double") / F.sqrt(dy * dx)
    return out.select(
        F.col("_k").alias(key_col),
        n.cast("long").alias("n_obs"),
        F.coalesce(sv, F.lit(0)).cast("long").alias("s_stat"),
        F.when((dy > 0) & (dx > 0) & sv.isNotNull(), F.round(tau, dp))
        .alias("tau_b"),
    )


def mann_kendall(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    max_obs: int | None = 2000,
    dp: int = 6,
) -> DataFrame:
    """Per-key Mann-Kendall trend test — the non-parametric significance
    companion to :func:`theil_sen` (which gives the magnitude):

        S      = sum over x_i < x_j of sign(y_j - y_i)
        Var(S) = (n(n-1)(2n+5) - T3 - U3) / 18
                 + Tt2*Uu2 / (9n(n-1)(n-2)) + Tt1*Uu1 / (2n(n-1))
        z      = (S - sign(S)) / sqrt(Var)   (continuity-corrected)

    where T3/Tt2/Tt1 = sum over y-tie groups of t(t-1)(2t+5) /
    t(t-1)(t-2) / t(t-1) and U3/Uu2/Uu1 the same sums over x-tie
    groups — the FULL Kendall variance with ties in both variables
    (Kendall, Rank Correlation Methods, ch. 4; the cross terms vanish
    when x is unique per key, recovering the common one-sided
    correction). Equal-x pairs contribute 0 to S (undefined order,
    matching ``theil_sen``'s convention), which is exactly the tau-b
    tie treatment this variance assumes.

    Engine-exact: S and every variance NUMERATOR are pure BIGINT (sign
    of a difference of identical doubles is exact; tie terms count
    equal values), so only the fixed final divisions touch floats.
    Cubic terms bound n per key to ~1.6e6 before BIGINT overflow — far
    above any calendar-bounded series, and ``max_obs`` enforces the
    same quadratic-pairs bound as :func:`theil_sen` anyway.

    Returns (key, n_obs, s_stat, var_s, z); z is NULL when the
    variance degenerates (all values tied or n < 2), 0.0 when S = 0.
    Rows with NULL x or y are dropped (same NULL contract as
    :func:`kendall_tau_b` / spearman_corr).
    """
    pts = df.select(
        F.col(key_col).alias("_k"),
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    ).filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    pts = _enforce_max_obs(pts, max_obs, "Mann-Kendall")
    a, b = pts.alias("a"), pts.alias("b")
    s = (
        a.join(
            b,
            (F.col("a._k") == F.col("b._k")) & (F.col("a._x") < F.col("b._x")),
        )
        .groupBy(F.col("a._k").alias("_k"))
        .agg(
            F.sum(
                F.signum(F.col("b._y") - F.col("a._y")).cast("long")
            ).alias("s_stat")
        )
    )
    out = _xy_tie_stats(pts, cubic=True).join(s, "_k", "left")
    n = F.col("_n")
    # Integer numerator of the 1/18 term; the two cross terms are zero
    # unless BOTH variables have tie groups, and their denominators are
    # guarded (n>2 / n>1 — required anyway for a >=3 / >=2 tie group to
    # exist) so ANSI mode cannot abort on degenerate keys.
    var_num = n * (n - 1) * (2 * n + 5) - F.col("_t3") - F.col("_u3")
    cross2 = F.when(
        n > 2,
        (F.col("_t2") * F.col("_u2")).cast("double")
        / (F.lit(9.0) * (n * (n - 1) * (n - 2)).cast("double")),
    ).otherwise(F.lit(0.0))
    cross1 = F.when(
        n > 1,
        (F.col("_t1") * F.col("_u1")).cast("double")
        / (F.lit(2.0) * (n * (n - 1)).cast("double")),
    ).otherwise(F.lit(0.0))
    var_s = var_num.cast("double") / F.lit(18.0) + cross2 + cross1
    sv = F.col("s_stat")
    # sv is NULL when a key had NO orderable pairs (all x tied) — that
    # is "no test ran", not "z = 0"; require sv present explicitly
    z = F.when((var_s > 0) & sv.isNotNull(),
        F.when(sv != 0,
            (sv.cast("double") - F.signum(sv.cast("double")))
            / F.sqrt(var_s),
        ).otherwise(F.lit(0.0)),
    )
    return out.select(
        F.col("_k").alias(key_col),
        n.cast("long").alias("n_obs"),
        F.coalesce(sv, F.lit(0)).cast("long").alias("s_stat"),
        F.round(var_s, dp).alias("var_s"),
        F.round(z, dp).alias("z"),
    )
