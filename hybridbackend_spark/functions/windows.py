"""Window / ordering-dependent operators (SURVEY §2.5).

Ordered per-key event lists (``prep_2_bahavior.py:50-52``), per-row sliding
time windows (``prep_3_merge.py:51-68``), and run-length grouping (the
contiguous-indicator-run segmentation inside GAUC, ``metrics/gauc.cc:101-108``,
which is also the classic sessionization pattern).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .._fixed import CENTS, grid

__all__ = [
    "ordered_collect",
    "sliding_time_window",
    "run_length_ids",
    "sessionize",
    "funnel_min_times",
    "time_decayed_sum",
    "rolling_distinct_count",
]


def ordered_collect(
    df: DataFrame, key: str, order: str, value: str, alias: str = "items"
) -> DataFrame:
    """Order-stable group-by collect_list: per ``key``, the ``value``s
    sorted by ``order``. collect_list alone has no order guarantee after a
    shuffle, so sort structs then project — deterministic on any cluster."""
    return (
        df.groupBy(key)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(order).alias("o"), F.col(value).alias("v")))
            ).alias("_sv")
        )
        .withColumn(alias, F.transform(F.col("_sv"), lambda s: s["v"]))
        .drop("_sv")
    )


def sliding_time_window(
    df: DataFrame,
    key: str,
    ts: str,
    lower: int,
    upper: int,
    aggs: dict[str, Column],
    ts_unit_expr: Column | None = None,
) -> DataFrame:
    """Per-row sliding window over event time: for each row, aggregate the
    same key's rows with ts offset in ``[lower, upper]`` (seconds relative
    to the row's own ts; use upper=-1 to exclude the row). The per-event
    form of the reference's history clip. One shuffle on ``key``."""
    t = ts_unit_expr if ts_unit_expr is not None else F.unix_timestamp(F.col(ts))
    base = df.withColumn("_tsec", t)
    w = Window.partitionBy(key).orderBy("_tsec").rangeBetween(lower, upper)
    out = base
    for alias, expr in aggs.items():
        out = out.withColumn(alias, expr.over(w))
    return out.drop("_tsec")


def _order_cols(order) -> list:
    return [order] if isinstance(order, str) else list(order)


def run_length_ids(
    df: DataFrame, key: str, order, indicator: str, alias: str = "run_id"
) -> DataFrame:
    """Assign a run id that increments whenever ``indicator`` changes within
    ``key`` ordered by ``order`` (str or sequence; include a unique
    tie-break column for determinism) — lag + cumulative-sum pattern (the
    GAUC indicator-run segmentation)."""
    w = Window.partitionBy(key).orderBy(*_order_cols(order))
    # IS DISTINCT FROM semantics (null-safe): first row's lag is NULL, so a
    # non-null indicator starts a run; two NULL indicators are the same run.
    changed = (
        ~F.col(indicator).eqNullSafe(F.lag(F.col(indicator)).over(w))
    ).cast("long")
    return df.withColumn(
        alias,
        F.sum(changed)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )


def sessionize(
    df: DataFrame, key: str, ts: str, gap_seconds: int, alias: str = "session_id",
    tiebreak: str | None = None,
) -> DataFrame:
    """Batch sessionization: new session when the gap to the previous event
    of the same key exceeds ``gap_seconds``. (Streaming variant:
    ``F.session_window`` — see streaming module.)"""
    w = Window.partitionBy(key).orderBy(*([ts, tiebreak] if tiebreak else [ts]))
    tsec = F.unix_timestamp(F.col(ts))
    gap = tsec - F.lag(tsec).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return df.withColumn(
        alias,
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )


def funnel_min_times(
    events,
    user_col: str,
    ts_col: str,
    type_col: str,
    stages,
    within_expr: str = "INTERVAL 1 HOUR",
):
    """First-match funnel: per user, the earliest time of stage k that
    falls strictly after their stage k-1 time and within ``within_expr``
    of it. Returns one DataFrame per stage (user, t) — callers count or
    join them.

    Each step is a filtered min-aggregation joined on the user key: all
    shuffles are on ``user_col`` (so with co-partitioned input the steps
    pipeline without re-exchange), and the per-stage state is one row
    per surviving user, monotonically shrinking down the funnel.
    """
    out = []
    prev = None
    for stage in stages:
        ev = events.filter(F.col(type_col) == stage)
        if prev is None:
            cur = ev.groupBy(user_col).agg(F.min(ts_col).alias("_t"))
        else:
            cur = (
                ev.join(prev.withColumnRenamed("_t", "_pt"), user_col)
                .filter(
                    (F.col(ts_col) > F.col("_pt"))
                    & (F.col(ts_col) <= F.expr(f"_pt + {within_expr}"))
                )
                .groupBy(user_col)
                .agg(F.min(ts_col).alias("_t"))
            )
        out.append(cur)
        prev = cur
    return out


def time_decayed_sum(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    horizon_days: int = 30,
    alias: str = "decayed_value",
) -> DataFrame:
    """Per-key exponentially time-decayed value sum (half-life = 1 day),
    anchored at each key's LAST event: sum(value * 2^-days_ago) over the
    trailing ``horizon_days`` window — the standard recency-weighted
    feature for recommendation models (recent activity dominates, old
    activity fades).

    Engine-exact by construction: the weight 2^(horizon - days_ago) is an
    integer BIGINT shift, the value is quantized to integer cents, and
    the normalization divides once at the end — no float pow(), so the
    result is bit-identical on any engine / partitioning (IEEE-defined
    ops on identical integer inputs). ONE shuffle on ``key``: the anchor
    comes from a window max over the same partitioning the final
    aggregate reuses.
    """
    scale = float((1 << horizon_days) * CENTS)
    d = F.datediff(F.to_date("_t_last"), F.to_date(ts))
    # the PySpark shiftleft wrapper takes only literal bit counts; the SQL
    # function accepts a column expression
    d_sql = f"datediff(to_date(_t_last), to_date({ts}))"
    w = F.when(
        d <= horizon_days,
        F.expr(f"shiftleft(CAST(1 AS BIGINT), {horizon_days} - {d_sql})"),
    ).otherwise(F.lit(0).cast("long"))
    cents = grid(value, CENTS)
    return (
        df.withColumn("_t_last", F.max(ts).over(Window.partitionBy(key)))
        .groupBy(key)
        .agg(
            F.round(F.sum(cents * w) / F.lit(scale), 6).alias(alias),
            F.max("_t_last").alias("last_ts"),
        )
    )


def rolling_distinct_count(
    df,
    ts: str,
    id_col: str,
    window_days: int = 7,
    day_col: str = "day",
    out_col: str = "active_ids",
):
    """Per observed day, the number of DISTINCT ids active in the
    trailing ``window_days``-day window ending that day — the rolling
    DAU/WAU/MAU family. Distinct counts do not decompose over a sliding
    window, so instead of a per-day window scan each distinct (id, day)
    pair is exploded into the <= ``window_days`` future days it keeps a
    id "active" for, and a plain count-distinct per day finishes the job.

    Scale shape: dedup to distinct (id, day) first (one partial-agg
    shuffle whose volume is the distinct pairs, not the raw events), then
    the explode multiplies rows by ``window_days`` BEFORE the final
    per-day count-distinct — shuffled bytes are |distinct id-days| x
    window, independent of raw event volume. Days with no activity at
    all are absent from the output (join a calendar spine for gap rows).
    """
    if window_days < 1:
        # F.sequence would silently auto-reverse into a bogus backward
        # window for 0/negative values
        raise ValueError("window_days must be >= 1")
    ud = (
        df.select(F.to_date(ts).alias("_d"), F.col(id_col).alias("_id"))
        .distinct()
    )
    days = ud.select(F.col("_d").alias(day_col)).distinct()
    contrib = ud.select(
        F.explode(
            F.sequence(F.col("_d"), F.date_add(F.col("_d"), window_days - 1))
        ).alias(day_col),
        "_id",
    )
    return (
        contrib.join(days, day_col)
        .groupBy(day_col)
        .agg(F.count_distinct("_id").alias(out_col))
    )


def rolling_distinct_count_hll_md5(
    df,
    ts: str,
    id_col: str,
    window_days: int = 30,
    day_col: str = "day",
    m: int = 256,
):
    """Rolling distinct actives via an md5-register HLL whose every bit
    is REPLAYABLE by any engine with md5 — the cross-engine-verifiable
    counterpart of :func:`rolling_distinct_count_sketch` (which uses the
    opaque Datasketches binary format). Register = first byte of
    md5(id); rank rho = leading zeros of the next 16 bits + 1 (17 for
    the all-zero pattern). Output per observed day: ``n_regs`` (hit
    registers in the trailing window), ``zeros`` (empty registers),
    ``harmonic_num`` = sum over all m registers of 2^(17 - rho) (an
    EXACT integer — the HLL harmonic denominator scaled by 2^17), and
    ``raw_est`` = alpha_m * m^2 * 2^17 / harmonic_num (the uncorrected
    HLL estimate; pure rational arithmetic on integers, so it is
    bit-identical across engines — consumers apply the small-range
    ln-correction downstream where engine-exactness no longer
    matters).

    Scale shape: identical to the sketch path — each day collapses to
    <= m register rows (shuffle independent of id cardinality), only
    those tiny rows explode across the window. ``m=256`` gives ~6.5%
    error; raise to 4096 for ~1.6%."""
    if window_days < 1:
        raise ValueError("window_days must be >= 1")
    if m != 256:
        raise ValueError("m=256 is the replayable register layout")
    daily = (
        df.select(F.to_date(ts).alias("_d"), F.col(id_col).alias("_id"))
        .withColumn("_hex", F.md5(F.col("_id").cast("string")))
        .withColumn(
            "_reg", F.conv(F.substring("_hex", 1, 2), 16, 10).cast("int")
        )
        .withColumn(
            "_v16", F.conv(F.substring("_hex", 3, 4), 16, 10).cast("int")
        )
        .withColumn(
            "_rho",
            F.when(F.col("_v16") == 0, F.lit(17)).otherwise(
                17 - F.length(F.bin("_v16"))
            ),
        )
        .groupBy("_d", "_reg")
        .agg(F.max("_rho").alias("_rho"))
    )
    days = daily.select(F.col("_d").alias(day_col)).distinct()
    contrib = daily.select(
        F.explode(
            F.sequence(F.col("_d"), F.date_add(F.col("_d"), window_days - 1))
        ).alias(day_col),
        "_reg",
        "_rho",
    )
    win_regs = (
        contrib.join(days, day_col)
        .groupBy(day_col, "_reg")
        .agg(F.max("_rho").alias("_rho"))
    )
    alpha = 0.7213 / (1.0 + 1.079 / 256.0)
    return (
        win_regs.groupBy(day_col)
        .agg(
            F.count(F.lit(1)).alias("n_regs"),
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 17 - _rho)"))
            .alias("_hit_num"),
        )
        .select(
            day_col,
            "n_regs",
            (256 - F.col("n_regs")).alias("zeros"),
            (F.col("_hit_num")
             + (256 - F.col("n_regs")).cast("long") * (1 << 17))
            .alias("harmonic_num"),
            F.round(
                F.lit(alpha * 256.0 * 256.0 * (1 << 17))
                / (F.col("_hit_num")
                   + (256 - F.col("n_regs")).cast("long") * (1 << 17))
                .cast("double"),
                4,
            ).alias("raw_est"),
        )
    )


def rolling_distinct_count_sketch(
    df,
    ts: str,
    id_col: str,
    window_days: int = 90,
    day_col: str = "day",
    out_col: str = "active_ids",
    lg_config_k: int = 12,
):
    """Sketch-based rolling distinct: same contract as
    :func:`rolling_distinct_count` but approximate (Datasketches HLL,
    error ~1.6% at the default ``lg_config_k=12``), built for LONG
    windows (90-day MAU at 100 TB).

    Why: the exact path explodes distinct (id, day) pairs into
    ``window_days`` future days — shuffle volume |id-days| x window,
    which at a 90-day window is 90x the id-day count. Here each day is
    first collapsed to ONE mergeable HLL sketch (shuffle volume = days x
    ~KB, independent of id cardinality), and only the tiny per-day
    sketch rows are exploded across the window and union-merged — the
    second shuffle is |days| x window sketch blobs, data-independent.
    Same semantics as maintaining :func:`~hybridbackend_spark.operators.
    structural.distinct_sketch_state` per day and merging a trailing
    window.
    """
    if window_days < 1:
        raise ValueError("window_days must be >= 1")
    daily = (
        df.select(F.to_date(ts).alias("_d"), F.col(id_col).alias("_id"))
        .groupBy("_d")
        .agg(F.hll_sketch_agg("_id", F.lit(lg_config_k)).alias("_sk"))
    )
    days = daily.select(F.col("_d").alias(day_col))
    contrib = daily.select(
        F.explode(
            F.sequence(F.col("_d"), F.date_add(F.col("_d"), window_days - 1))
        ).alias(day_col),
        "_sk",
    )
    return (
        contrib.join(days, day_col)
        .groupBy(day_col)
        .agg(F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias(out_col))
    )
