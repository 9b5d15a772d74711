"""Product/event analytics: cohort retention, funnels, equi-depth
binning, per-group trend fitting, and contingency testing.

These are the reporting-side queries a training-data platform runs over
its own event exhaust (reference parity target: the metric streams in
``tensorflow/metrics`` cover model-quality metrics; this module covers
the dataset/product analytics the reference leaves to downstream OLAP).

Scale shapes (all verified by plan tests):
- ``cohort_retention``: two shuffles on ``user`` (first-touch agg, then
  activity join back) — both hash-partition on the same key, so AQE
  reuses the exchange; the final (cohort, offset) agg is tiny.
- ``funnel``: k-1 co-partitioned joins on ``user`` for a k-step funnel;
  every join key is the same column, so one shuffle's partitioning is
  reused. No per-user event list is ever collected.
- ``equidepth_bins``: exact interpolated percentiles (single fused agg)
  broadcast as ONE row; bin assignment is a map-side CASE — no global
  sort, no single-partition window (the classic ntile() scale mistake).
- ``ols_trend`` / ``chi_square`` / ``corr_pairs``: single partial+final
  aggregations over exact integer (decimal) sufficient statistics;
  the closed forms are evaluated on scalars after aggregation, so
  float summation order can never flip a value hash.

The rank statistics (MWU, KS and their mergeable state, Spearman,
robust stats, quantile normalization, log-rank, Gini, weighted
quantiles) and the cents-valued DiD / IPS readouts share one set of
private kernels, so each exactness argument lives in one place:

- ``_fixed.grid``: values quantize to the integer cents grid (the
  oracles' ``round(x * 100)``) before any rank, histogram or sum, so
  every statistic is integer arithmetic with one final division.
- ``structural._group_prefix``: the running sum (and total) per group,
  walked over a per-group distinct-value histogram — never the raw
  rows, never a global sort.
- ``_grid_hist`` / ``_ranked_hist``: the (group, value, count, count
  strictly below, group size) histogram behind every positional
  selection.
- ``_tie_rank2``: the doubled average rank ``2b + c + 1`` of a tied
  block — an integer, so rank sums never go through float ranks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .._fixed import CENTS, MICRO, grid, grid_nonneg, grid_sum, ungrid
from .._materialize import materialize
from .structural import _group_prefix, merge_partial_aggregates

__all__ = [
    "cohort_retention",
    "funnel",
    "equidepth_bins",
    "percentile_bounds_dist",
    "ols_trend",
    "chi_square",
    "corr_pairs",
    "touch_attribution",
    "kaplan_meier",
    "nelson_aalen",
    "logrank_test",
    "eb_shrink_rates",
    "assoc_rules",
    "diff_in_diff",
    "quantile_normalize",
    "weighted_quantiles",
    "psi_bits",
    "cuped_adjust",
    "mann_whitney_u",
    "ks_two_sample",
    "spearman_corr",
    "robust_stats",
    "rank_histogram_state",
    "merge_rank_histograms",
    "mann_whitney_u_from_state",
    "ks_from_state",
    "bh_fdr",
    "fleiss_kappa",
    "gini_coefficient",
    "offpolicy_ips",
]


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_offset: int | None = None,
) -> DataFrame:
    """Weekly cohort retention matrix.

    A user's cohort is the ISO week (Monday-truncated) of their first
    event; for every (cohort_week, week_offset) cell, count the distinct
    cohort users active in that week. Returns
    (cohort_week DATE, week_offset INT, n_active, cohort_size).

    100 TB shape: ``first`` is one partial+final min-agg on user;
    ``active`` is a distinct on (user, week) — both hash-partition on
    ``user``, so the join is co-located; the output agg is bounded by
    weeks x offsets, not users.
    """
    u, t = F.col(user_col), F.col(ts_col)
    first = events.groupBy(u.alias("_u")).agg(
        F.date_trunc("week", F.min(t)).cast("date").alias("cohort_week")
    )
    active = (
        events.select(u.alias("_u"), F.date_trunc("week", t).cast("date").alias("_w"))
        .distinct()
    )
    cells = (
        active.join(first, "_u")
        .withColumn(
            "week_offset",
            (F.datediff(F.col("_w"), F.col("cohort_week")) / 7).cast("int"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("_u").alias("n_active"))
    )
    sizes = first.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    out = cells.join(sizes, "cohort_week")
    if max_offset is not None:
        out = out.filter(F.col("week_offset") <= max_offset)
    return out.select("cohort_week", "week_offset", "n_active", "cohort_size")


def funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel completion: a user completes step i at the EARLIEST
    event of type ``steps[i]`` that is strictly after their step-(i-1)
    completion time. Returns one row per step:
    (step INT, step_name, n_users, conversion_pct from step 1).

    100 TB shape: k-1 equi-joins, all keyed on ``user_col`` — the first
    shuffle's hash partitioning serves every subsequent join and agg, and
    each stage's left side only shrinks (users still in the funnel). No
    collect_list of per-user histories.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    u, t, ty = F.col(user_col), F.col(ts_col), F.col(type_col)
    reached = [
        events.filter(ty == steps[0])
        .groupBy(u.alias("_u"))
        .agg(F.min(t).alias("_t"))
    ]
    for s in steps[1:]:
        prev = reached[-1].select("_u", F.col("_t").alias("_pt"))
        step_ev = events.filter(ty == s).select(u.alias("_u"), t.alias("_st"))
        reached.append(
            step_ev.join(prev, "_u")
            .filter(F.col("_st") > F.col("_pt"))
            .groupBy("_u")
            .agg(F.min("_st").alias("_t"))
        )
    counts = [df.groupBy().agg(F.count(F.lit(1)).alias("n")) for df in reached]
    rows = None
    for i, (name, c) in enumerate(zip(steps, counts)):
        row = c.select(
            F.lit(i + 1).alias("step"),
            F.lit(name).alias("step_name"),
            F.col("n").alias("n_users"),
        )
        rows = row if rows is None else rows.unionByName(row)
    base = counts[0].select(F.col("n").alias("_base"))
    return (
        rows.crossJoin(F.broadcast(base))
        .select(
            "step",
            "step_name",
            "n_users",
            F.round(
                F.when(
                    F.col("_base") > 0,
                    F.col("n_users") * 100.0 / F.col("_base"),
                ),
                4,
            ).alias("conversion_pct"),
        )
    )


def percentile_bounds_dist(
    df: DataFrame, value_col: str, fracs: list[float]
) -> DataFrame:
    """Exact interpolated percentiles of ``value_col`` at ``fracs`` as a
    ONE-ROW DataFrame with an ``array<double>`` column ``_b`` — the same
    contract as ``df.agg(F.expr("percentile(v, array(...))"))`` but
    computed with a fully DISTRIBUTED merge (round-13, guide §2.5/§2.2).

    Why: the builtin exact ``percentile()`` partial-aggregates per-value
    count maps map-side, then funnels EVERY partition's map through ONE
    reduce task for the merge + sort. For a continuous column that task
    receives ~all distinct values of the table — the classic
    single-reduce-task scale killer. This operator replaces it with:

    1. ``groupBy(value).count()`` — parallel, map-side combined; from
       here on everything is bounded by DISTINCT values, never rows.
    2. range-repartition by value; per-range running count via a window
       PARTITIONED by ``spark_partition_id()`` (parallel; ranges stay
       contiguous under AQE coalescing, which only merges adjacent
       ranges).
    3. per-range totals (|partitions| rows) -> global offsets via a tiny
       triangular self-join (no unpartitioned window, no driver
       collect); global cumulative count = local + offset.
    4. each target rank ``floor/ceil(frac * (n-1))`` finds its value by
       a broadcast range join against the cumulative counts; the
       interpolation uses Spark's own formula
       ``(hi - pos) * lo_val + (pos - lo) * hi_val``.

    EXACTNESS CONTRACT: bit-identical to the builtin ``percentile`` when
    the values sit on an integer grid below 2^46 and the fractions are
    dyadic with <= 7 fractional bits (every intermediate is then exact
    in double, so BOTH implementations compute the same rational number
    exactly — ``tests`` pin this vs the builtin across layouts). For
    arbitrary float data the result can differ from the builtin in the
    last ulp; callers needing that parity keep the builtin.

    NULLs are ignored (builtin behavior); an empty/all-NULL input yields
    one row with a NULL ``_b`` (builtin: NULL array).
    """
    nf = len(fracs)
    vals = df.select(F.col(value_col).alias("_v")).where(
        F.col("_v").isNotNull()
    )
    # cut lineage BEFORE the range repartition: its boundary-sampling
    # pass re-executes the child plan once, so without the cut the
    # scan + partial agg run twice (sample + real exchange). Bounded:
    # one row per DISTINCT value.
    cnt = materialize(
        vals.groupBy("_v")
        .agg(F.count(F.lit(1)).alias("_c")),
        eager=False,
    )
    rng = cnt.repartitionByRange(F.col("_v"))
    w_run = (
        Window.partitionBy("_pid")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # read twice below (range totals + the rank join); cut so the scan
    # -> agg -> range subtree runs once (bounded: one row per DISTINCT
    # value)
    loc = materialize(
        rng.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lcum", F.sum("_c").over(w_run)),
        eager=False,
    )
    ptot = loc.groupBy("_pid").agg(F.sum("_c").alias("_pc"))
    # offsets: sum of all STRICTLY-LOWER range totals — a triangular
    # self-join over |partitions| rows (tiny), not an unpartitioned
    # window and not a driver collect
    offs = (
        ptot.alias("a")
        .join(
            F.broadcast(ptot.alias("b")),
            F.col("b._pid") < F.col("a._pid"),
            "left",
        )
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("b._pc"), F.lit(0)).alias("_off"))
    )
    n1 = ptot.agg(F.sum("_pc").alias("_n"))
    # target ranks: pos = frac * (n - 1) per Spark's Percentile; carry
    # (i, frac, pos, lo, hi) and explode the 1-2 distinct indexes each
    tgt = (
        n1.where(F.col("_n") > 0)
        .select(
            F.col("_n"),
            F.posexplode(
                F.array(*[F.lit(float(f)) for f in fracs])
            ).alias("_i", "_f"),
        )
        .select(
            "_i",
            "_f",
            (F.col("_f") * (F.col("_n") - 1).cast("double")).alias("_pos"),
        )
        .select(
            "_i",
            "_f",
            "_pos",
            F.floor("_pos").alias("_lo"),
            F.ceil("_pos").alias("_hi"),
        )
        .select(
            "_i",
            "_pos",
            "_lo",
            "_hi",
            F.explode(
                F.array_distinct(F.array(F.col("_lo"), F.col("_hi")))
            ).alias("_idx"),
        )
    )
    gl = loc.join(F.broadcast(offs), "_pid").select(
        F.col("_v").cast("double").alias("_val"),
        "_c",
        (F.col("_lcum") + F.col("_off")).alias("_gcum"),
    )
    # rank _idx (0-based) belongs to value v iff gcum - c <= idx < gcum
    vat = gl.join(
        F.broadcast(tgt),
        (F.col("_idx") >= F.col("_gcum") - F.col("_c"))
        & (F.col("_idx") < F.col("_gcum")),
    )
    per = vat.groupBy("_i", "_pos", "_lo", "_hi").agg(
        F.min(F.struct("_idx", "_val")).alias("_lo_s"),
        F.max(F.struct("_idx", "_val")).alias("_hi_s"),
    )
    interp = F.when(
        F.col("_lo") == F.col("_hi"), F.col("_lo_s._val")
    ).otherwise(
        (F.col("_hi").cast("double") - F.col("_pos"))
        * F.col("_lo_s._val")
        + (F.col("_pos") - F.col("_lo").cast("double"))
        * F.col("_hi_s._val")
    )
    return (
        per.select(F.struct(F.col("_i"), interp.alias("_q")).alias("_s"))
        .agg(F.array_sort(F.collect_list("_s")).alias("_sl"))
        .select(
            F.when(
                F.size("_sl") == nf,
                F.transform(F.col("_sl"), lambda s: s["_q"]),
            ).alias("_b")
        )
    )


def equidepth_bins(
    df: DataFrame,
    value_col: str,
    n_bins: int = 8,
    value_dp: int = 2,
) -> DataFrame:
    """Equi-depth histogram WITHOUT a global sort: compute the exact
    interpolated percentile boundaries (one fused agg, broadcast as a
    single row), then assign each row's bin with a map-side comparison
    chain (value > boundary_i). Ties land in the lower bin. Returns
    (bin INT, n_rows, min_v, max_v, sum_v rounded).

    The naive ntile() version funnels the whole table through ONE
    partition; the builtin percentile agg still merges every partition's
    value-count map in ONE reduce task — round 13 replaced it with the
    fully distributed :func:`percentile_bounds_dist` (bit-identical on
    the integer-grid + dyadic-fraction inputs this operator documents).
    """
    v = F.col(value_col)
    fracs = [i / n_bins for i in range(1, n_bins)]
    bounds = percentile_bounds_dist(df, value_col, fracs)
    binned = df.crossJoin(F.broadcast(bounds)).withColumn(
        "bin",
        (
            F.lit(1)
            + F.aggregate(
                F.col("_b"),
                F.lit(0),
                lambda acc, b: acc + F.when(v > b, 1).otherwise(0),
            )
        ).cast("int"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min(v), value_dp).alias("min_v"),
        F.round(F.max(v), value_dp).alias("max_v"),
        (F.sum(F.round(v * 100).cast("long")) / F.lit(100.0)).alias("sum_v"),
    )


def _dec(c: Column) -> Column:
    return c.cast("decimal(38,0)")


def _tie_rank2(b: Column, c: Column) -> Column:
    """Doubled average rank of a tied block of ``c`` equal values above
    ``b`` strictly smaller ones: the block holds ranks ``b+1 .. b+c``,
    whose mean doubled is the integer ``2b + c + 1`` — so rank sums are
    exact integers, with no float ranks and no summation-order drift."""
    return 2 * b + c + 1


def _ranked_hist(hist: DataFrame, v: str) -> DataFrame:
    """(_g, v, _c) histogram -> (_g, v, _c, _b, _n): ``_b`` counts the
    group's values strictly below ``v``, ``_n`` is the group size, so
    value ``v`` holds positional ranks ``_b+1 .. _b+_c`` of ``_n``."""
    b, n = _group_prefix("_c", "_g", v, exclusive=True)
    return hist.select("_g", v, "_c", b.alias("_b"), n.alias("_n"))


def _grid_hist(
    df: DataFrame, group_col: str, value_col: str
) -> tuple[DataFrame, DataFrame]:
    """``(base, hist)``: the non-NULL gridded values (_g, _v) and their
    per-group :func:`_ranked_hist` (_g, _v, _c, _b, _n)."""
    base = df.select(
        F.col(group_col).alias("_g"), grid(value_col, CENTS).alias("_v")
    ).filter(F.col("_v").isNotNull())
    hist = base.groupBy("_g", "_v").agg(F.count(F.lit(1)).alias("_c"))
    return base, _ranked_hist(hist, "_v")


def ols_trend(
    df: DataFrame,
    group_cols: list[str],
    x_col: Column,
    y_col: Column,
    dp: int = 8,
) -> DataFrame:
    """Per-group simple linear regression (y = a + b*x) via exact integer
    sufficient statistics. ``x_col``/``y_col`` must already be quantized
    to integer grids (e.g. epoch days, money cents) so every sum is an
    exact DECIMAL(38,0) — overflow-proof at fact scale and identical in
    any summation order. The closed-form slope/intercept are evaluated
    on the aggregated scalars in double, so both engines see the same
    finite float expression tree. Returns group cols + (n, slope,
    intercept) rounded to ``dp``.
    """
    x, y = x_col.cast("long"), y_col.cast("long")
    stats = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec(x)).alias("sx"),
        F.sum(_dec(y)).alias("sy"),
        F.sum(_dec(x * y)).alias("sxy"),
        F.sum(_dec(x * x)).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    den = n * sxx - sx * sx
    # constant-x group: slope is undefined -> NULL, never a /0 abort
    slope = F.when(den != 0, (n * sxy - sx * sy) / den)
    intercept = (sy - slope * sx) / n
    return stats.select(
        *group_cols,
        F.col("n"),
        F.round(slope, dp).alias("slope"),
        F.round(intercept, dp).alias("intercept"),
    )


def chi_square(
    df: DataFrame,
    row_col: str,
    col_col: Column,
    dp: int = 6,
    max_cells: int | None = 1_000_000,
) -> DataFrame:
    """Chi-square test of independence over the ``row_col`` x ``col_col``
    contingency table. Observed counts are exact integers; each cell's
    (o-e)^2/e term is quantized to integer micro-units before the final
    sum (the money-sum trick), so the statistic is identical across
    engines and partitionings. Returns ONE row (statistic, dof, n).

    100 TB shape: one partial+final count agg produces the contingency
    table (bounded by the category product, not the data); everything
    after operates on that tiny table. That bound is EXECUTABLE, not
    assumed: the densified grid is ``|rows| x |cols|`` cells, so
    ``max_cells`` (one cheap agg on the already-aggregated marginals)
    raises on high-cardinality "categories" instead of silently
    building a huge cross product.
    """
    cells = df.groupBy(F.col(row_col).alias("r"), col_col.alias("c")).agg(
        F.count(F.lit(1)).alias("o")
    )
    if max_cells is not None:
        # materialize the (tiny) contingency table once: the guard and
        # the statistic both read it without re-scanning the input
        cells = materialize(cells)
        nr, nc = cells.agg(
            F.count_distinct("r"), F.count_distinct("c")
        ).first()
        if nr * nc > max_cells:
            raise ValueError(
                f"chi_square: contingency grid {nr} x {nc} = {nr * nc} "
                f"cells exceeds max_cells={max_cells}; these columns are "
                "not categorical at this cardinality — bin them first"
            )
    # densify: ZERO cells still contribute (0-e)^2/e = e to the statistic,
    # so the grid is the full cross product of the (tiny) marginals
    row_t = cells.groupBy("r").agg(F.sum("o").alias("row_t"))
    col_t = cells.groupBy("c").agg(F.sum("o").alias("col_t"))
    grand = cells.agg(F.sum("o").alias("grand"))
    terms = (
        row_t.crossJoin(col_t)
        .crossJoin(F.broadcast(grand))
        .join(cells, ["r", "c"], "left")
        .select(
            "r",
            "c",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            "grand",
            (
                F.col("row_t").cast("double")
                * F.col("col_t").cast("double")
                / F.col("grand").cast("double")
            ).alias("e"),
        )
    )
    term = (F.col("o").cast("double") - F.col("e")) * (
        F.col("o").cast("double") - F.col("e")
    ) / F.col("e")
    return (
        terms.groupBy()
        .agg(
            grid_sum(term, MICRO).alias("_stat"),
            F.count_distinct("r").alias("_nr"),
            F.count_distinct("c").alias("_nc"),
            F.max("grand").alias("n"),
        )
        .select(
            F.round(F.col("_stat"), dp).alias("statistic"),
            ((F.col("_nr") - 1) * (F.col("_nc") - 1)).cast("long").alias("dof"),
            F.col("n"),
        )
    )


def corr_pairs(
    df: DataFrame,
    cols: dict[str, Column],
    dp: int = 8,
) -> DataFrame:
    """Pairwise Pearson correlation over pre-quantized integer columns
    (``cols`` maps name -> integer-grid Column, e.g. cents). All
    sufficient statistics are exact DECIMAL(38,0) sums from ONE fused
    scan-agg; correlations are computed from the scalars in double.
    A CONSTANT column yields NULL corr for its pairs (undefined — and
    never a divide-by-zero abort under ANSI mode). Returns one row per
    pair (x, y, n, corr).
    """
    names = list(cols)
    aggs = [F.count(F.lit(1)).alias("n")]
    for a in names:
        ca = cols[a].cast("long")
        aggs.append(F.sum(_dec(ca)).alias(f"s_{a}"))
        aggs.append(F.sum(_dec(ca * ca)).alias(f"ss_{a}"))
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            aggs.append(
                F.sum(_dec(cols[a].cast("long") * cols[b].cast("long"))).alias(
                    f"sp_{a}_{b}"
                )
            )
    stats = df.groupBy().agg(*aggs)
    n = F.col("n").cast("double")

    def _corr(a: str, b: str) -> Column:
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        ssa, ssb = F.col(f"ss_{a}").cast("double"), F.col(f"ss_{b}").cast("double")
        sp = F.col(f"sp_{a}_{b}").cast("double")
        num = n * sp - sa * sb
        va = n * ssa - sa * sa
        vb = n * ssb - sb * sb
        # constant column: correlation undefined -> NULL, not a /0 abort
        return F.round(
            F.when((va > 0) & (vb > 0), num / (F.sqrt(va) * F.sqrt(vb))), dp
        )

    rows = None
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            row = stats.select(
                F.lit(a).alias("x"),
                F.lit(b).alias("y"),
                F.col("n"),
                _corr(a, b).alias("corr"),
            )
            rows = row if rows is None else rows.unionByName(row)
    return rows


def touch_attribution(
    events: DataFrame,
    touch_types: list[str],
    conversion_type: str = "purchase",
    window_seconds: int = 7 * 86400,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Multi-touch attribution: split each conversion's value across the
    user's preceding touches within the lookback window, under two
    standard models at once — linear (1/n each) and U-shaped (40% first
    touch, 40% last touch, 20% split across the middle; 100%/50-50 when
    n is 1/2). Returns per-channel (channel, n_touches,
    linear_credit, ushape_credit).

    Complements the session-scoped ``attribution_last_touch`` query
    (single-touch model) with the fractional models.

    Scale shape: one equi-join on ``user_col`` with a time-range
    residual (fan-out bounded by per-user activity in the window, the
    same bound any attribution system carries), one partial-agg per
    conversion for (n, first, last), then a channel rollup. Credits are
    quantized to integer micro-units before the channel sum, so the
    totals are exact under any partitioning. Conversions with no
    in-window touch are dropped (inner join) — they have no channel to
    credit.
    """
    u, t, ty = F.col(user_col), F.col(ts_col), F.col(type_col)
    conv = events.filter(ty == conversion_type).select(
        u.alias("_u"),
        t.alias("_pt"),
        F.col(id_col).alias("_cid"),
        F.col(value_col).alias("_val"),
    )
    touch = events.filter(ty.isin(touch_types)).select(
        u.alias("_u"),
        t.alias("_tt"),
        F.col(id_col).alias("_tid"),
        ty.alias("channel"),
    )
    j = conv.join(touch, "_u").filter(
        (F.col("_tt") < F.col("_pt"))
        & (F.col("_tt") >= F.col("_pt") - F.expr(f"INTERVAL {window_seconds} SECOND"))
    )
    per_conv = j.groupBy("_cid").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(F.struct(F.col("_tt"), F.col("_tid"))).alias("_first"),
        F.max(F.struct(F.col("_tt"), F.col("_tid"))).alias("_last"),
    )
    jj = j.join(per_conv, "_cid")
    is_first = (F.col("_tt") == F.col("_first._tt")) & (
        F.col("_tid") == F.col("_first._tid")
    )
    is_last = (F.col("_tt") == F.col("_last._tt")) & (
        F.col("_tid") == F.col("_last._tid")
    )
    n, val = F.col("_n"), F.col("_val")
    linear = val / n.cast("double")
    ushape = (
        F.when(n == 1, val)
        .when(n == 2, val / F.lit(2.0))
        .otherwise(
            F.when(is_first | is_last, val * F.lit(0.4)).otherwise(
                val * F.lit(0.2) / (n - 2).cast("double")
            )
        )
    )
    return (
        jj.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.round(grid_sum(linear, MICRO), 4).alias("linear_credit"),
            F.round(grid_sum(ushape, MICRO), 4).alias("ushape_credit"),
        )
    )


def _risk_table(
    subjects: DataFrame,
    duration_col: str,
    event_col: str,
    max_durations: int | None,
    what: str,
) -> DataFrame:
    """Shared survival-analysis scaffolding for :func:`kaplan_meier`
    and :func:`nelson_aalen`: compress subjects to one row per distinct
    duration (n_events / n_censored), enforce the EXECUTABLE bound that
    keeps the downstream sequential fold safe, and attach the reverse-
    cumulative risk set. Keeping both estimators on one code path
    guarantees they share the engine-exactness contract instead of
    mirroring it by hand."""
    t, e = F.col(duration_col), F.col(event_col)
    counts = subjects.groupBy(t.alias("t")).agg(
        F.sum(F.when(e == 1, 1).otherwise(0)).alias("n_events"),
        F.sum(F.when(e == 1, 0).otherwise(1)).alias("n_censored"),
    )
    if max_durations is not None:
        # materialize the per-duration table once: guard + curve share it
        counts = materialize(counts)
        n_dur = counts.count()
        if n_dur > max_durations:
            raise ValueError(
                f"{what}: {n_dur} distinct durations exceed "
                f"max_durations={max_durations}; the fold is sequential "
                "by construction — quantize durations first"
            )
    w = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
    return counts.withColumn(
        "n_risk", F.sum(F.col("n_events") + F.col("n_censored")).over(w)
    )


def kaplan_meier(
    subjects: DataFrame,
    duration_col: str,
    event_col: str,
    dp: int = 8,
    max_durations: int | None = 100_000,
) -> DataFrame:
    """Kaplan-Meier survival curve from (duration, event) per subject
    (event=1 observed, 0 right-censored). Returns one row per distinct
    event time: (t, n_risk, n_events, n_censored, survival).

    S(t) = prod over event times u <= t of (1 - d_u / n_u). Each factor
    is one identical double division; the cumulative product folds the
    ordered factor list LEFT-TO-RIGHT (Spark ``aggregate`` over a sorted
    array == DuckDB ``list_reduce``), so every survival value is
    bit-identical across engines — the same sequential-fold contract as
    ``timeseries.ewma``.

    Scale shape: the risk table is one agg per distinct duration (tiny);
    n_risk comes from a reverse cumulative sum. The factor list is
    bounded by distinct event times, never by subjects — and that bound
    is EXECUTABLE: the global window and broadcast factor list run over
    one row per distinct duration, so ``max_durations`` raises (count on
    the already-aggregated table) when durations are effectively
    continuous; quantize them first (e.g. to days).
    """
    risk = _risk_table(
        subjects, duration_col, event_col, max_durations, "kaplan_meier"
    )
    factor = F.lit(1.0) - F.col("n_events").cast("double") / F.col(
        "n_risk"
    ).cast("double")
    with_f = risk.withColumn("_f", factor)
    # ordered factor list over ALL rows (bounded by distinct durations)
    folded = with_f.select(
        F.struct(F.col("t").alias("u"), F.col("_f").alias("f")).alias("_s")
    ).agg(F.array_sort(F.collect_list("_s")).alias("_fs"))
    out = with_f.crossJoin(F.broadcast(folded)).withColumn(
        "survival",
        F.round(
            F.expr(
                "aggregate(filter(_fs, s -> s.u <= t), CAST(1.0 AS DOUBLE), "
                "(acc, s) -> acc * s.f)"
            ),
            dp,
        ),
    )
    return out.select("t", "n_risk", "n_events", "n_censored", "survival")


def psi_bits(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    n_bins: int = 8,
    dp: int = 6,
) -> DataFrame:
    """Population-stability-index drift monitor in WHOLE BITS: bin the
    current population by the REFERENCE population's equi-depth
    boundaries (dyadic fractions — exact interpolation on integer
    grids, see ``feature.winsorize``), then per bin
    ``psi_term = (p_ref - p_cur) * woe_bits`` with the integer-bit
    log-ratio ``bits(ref_n) + bits(cur_t) - bits(cur_n) - bits(ref_t)``
    (same arithmetic as ``feature.woe_iv``). Returns one row per bin:
    (bin, ref_n, cur_n, ref_pct, cur_pct, woe_bits, psi_term); the PSI
    is the caller's sum. Bins empty on either side get NULL woe and a
    zero term.

    Two count aggs bounded by n_bins; the boundary row broadcasts. The
    monitoring question ("did this feature's distribution move between
    training and serving?") answered with engine-exact arithmetic.
    """
    if n_bins & (n_bins - 1):
        raise ValueError("n_bins must be a power of two (dyadic fractions)")
    v = F.col(value_col)
    fracs = [i / n_bins for i in range(1, n_bins)]
    bounds = ref.agg(
        F.expr(
            f"percentile({value_col}, array({', '.join(repr(f) for f in fracs)}))"
        ).alias("_b")
    )

    def binned(df: DataFrame) -> DataFrame:
        return (
            df.crossJoin(F.broadcast(bounds))
            .select(
                (
                    F.lit(1)
                    + F.aggregate(
                        F.col("_b"),
                        F.lit(0),
                        lambda acc, b: acc + F.when(v > b, 1).otherwise(0),
                    )
                ).cast("int").alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    spark = ref.sparkSession
    bins = spark.range(1, n_bins + 1).select(F.col("id").cast("int").alias("bin"))
    r = binned(ref).withColumnRenamed("n", "ref_n")
    c = binned(cur).withColumnRenamed("n", "cur_n")
    cells = (
        bins.join(r, "bin", "left")
        .join(c, "bin", "left")
        .select(
            "bin",
            F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
            F.coalesce("cur_n", F.lit(0)).alias("cur_n"),
        )
    )
    tot = cells.agg(
        F.sum("ref_n").alias("_rt"), F.sum("cur_n").alias("_ct")
    )
    bits = lambda col: F.length(F.bin(col)) - 1
    woe = (bits(F.col("ref_n")) + bits(F.col("_ct"))) - (
        bits(F.col("cur_n")) + bits(F.col("_rt"))
    )
    p_ref = F.col("ref_n").cast("double") / F.col("_rt").cast("double")
    p_cur = F.col("cur_n").cast("double") / F.col("_ct").cast("double")
    defined = (F.col("ref_n") > 0) & (F.col("cur_n") > 0)
    term = F.when(
        defined,
        ungrid(grid((p_ref - p_cur) * woe.cast("double"), MICRO), MICRO),
    ).otherwise(0.0)
    return cells.crossJoin(F.broadcast(tot)).select(
        "bin",
        "ref_n",
        "cur_n",
        F.round(F.when(F.col("_rt") > 0, p_ref * 100.0), dp).alias("ref_pct"),
        F.round(F.when(F.col("_ct") > 0, p_cur * 100.0), dp).alias("cur_pct"),
        F.when(defined, woe.cast("long")).alias("woe_bits"),
        F.round(term, dp).alias("psi_term"),
    )


def cuped_adjust(
    subjects: DataFrame,
    variant_col: str,
    pre_col: str,
    post_col: str,
    dp: int = 6,
) -> DataFrame:
    """CUPED variance reduction for experiments (Deng et al. 2013):
    adjust each subject's post-period metric with its pre-period
    covariate, ``adj = post - theta * (pre - mean_pre)`` with the pooled
    ``theta = cov(pre, post) / var(pre)``, then report per-variant means
    and the variance-reduction ratio. ``pre_col``/``post_col`` must be
    integer-grid columns (e.g. cents).

    Engine-exact: theta and mean_pre come from exact integer sufficient
    statistics (one fused agg, identical doubles); each subject's
    adjusted value is then an identical double, which is micro-quantized
    BEFORE the per-variant sums, so means and variances cannot drift
    with partitioning. Returns one row per variant:
    (variant, n, mean_post, mean_adj, var_post, var_adj,
    var_reduction_pct).
    """
    pre, post = F.col(pre_col).cast("long"), F.col(post_col).cast("long")
    stats = subjects.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec(pre)).alias("sx"),
        F.sum(_dec(post)).alias("sy"),
        F.sum(_dec(pre * post)).alias("sxy"),
        F.sum(_dec(pre * pre)).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    den = n * sxx - sx * sx
    # zero-variance covariate (all-new users): fall back to theta = 0,
    # i.e. the unadjusted readout, instead of a /0 abort
    theta = F.when(den != 0, (n * sxy - sx * sy) / den).otherwise(F.lit(0.0))
    xbar = sx / n
    adj_micro = grid(
        post.cast("double") - F.col("_theta") * (pre.cast("double") - F.col("_xbar")),
        MICRO,
    )
    per = (
        subjects.crossJoin(
            F.broadcast(stats.select(theta.alias("_theta"), xbar.alias("_xbar")))
        )
        .select(
            F.col(variant_col).alias("variant"),
            post.alias("_y"),
            adj_micro.alias("_a"),
        )
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec(F.col("_y"))).alias("vy"),
            F.sum(_dec(F.col("_y") * F.col("_y"))).alias("vyy"),
            F.sum(_dec(F.col("_a"))).alias("va"),
            # micros squared exceed long range: promote BEFORE multiplying
            F.sum(_dec(F.col("_a")) * _dec(F.col("_a"))).alias("vaa"),
        )
    )
    vn = F.col("n").cast("double")
    my = F.col("vy").cast("double") / vn
    ma = F.col("va").cast("double") / vn / 1000000.0
    var_y = F.col("vyy").cast("double") / vn - my * my
    mad = F.col("va").cast("double") / vn
    var_a = (F.col("vaa").cast("double") / vn - mad * mad) / 1.0e12
    return per.select(
        "variant",
        "n",
        F.round(my / 100.0, dp).alias("mean_post"),
        F.round(ma / 100.0, dp).alias("mean_adj"),
        F.round(var_y / 10000.0, dp).alias("var_post"),
        F.round(var_a / 10000.0, dp).alias("var_adj"),
        # NULL (not a /0 abort under ANSI mode) when a variant's post
        # metric is constant — var_y = 0 makes the reduction undefined
        F.when(
            var_y != 0, F.round((F.lit(1.0) - var_a / var_y) * 100.0, dp)
        ).alias("var_reduction_pct"),
    )


def rank_histogram_state(
    df: DataFrame,
    group_col: str,
    variant_col: str,
    value_col: str,
    control: str = "A",
    treatment: str = "B",
) -> DataFrame:
    """MERGEABLE partial state for the rank/ECDF two-sample test family
    (Mann-Whitney U, Kolmogorov-Smirnov): the per-(group, quantized
    value) histogram with per-variant counts — the complete sufficient
    statistic for both tests. Mirrors the reference metrics' partial/
    merge discipline (hybridbackend metrics/auc.py:169-170 merges
    per-worker confusion partials before the final sweep): compute this
    state per batch/partition/day, ADD states with
    :func:`merge_rank_histograms`, finalize with
    :func:`mann_whitney_u_from_state` / :func:`ks_from_state` —
    incremental is exactly equal to batch because histogram addition is
    associative and both finalizers are pure functions of the histogram.

    Returns (group_col, q, n_control, n_treatment): one row per distinct
    quantized value per group — aggregate-sized, never fact-sized.
    Rows in other variants and NULL values carry no rank/ECDF mass and
    are excluded here once, so every downstream consumer agrees.
    """
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(variant_col).alias("_v"),
        grid(value_col, CENTS).alias("_q"),
    ).filter(F.col("_v").isin(control, treatment) & F.col("_q").isNotNull())
    return (
        base.groupBy("_g", "_q")
        .agg(
            F.sum(F.when(F.col("_v") == control, 1).otherwise(0)).alias(
                "n_control"
            ),
            F.sum(F.when(F.col("_v") == treatment, 1).otherwise(0)).alias(
                "n_treatment"
            ),
        )
        .select(
            F.col("_g").alias(group_col),
            F.col("_q").alias("q"),
            "n_control",
            "n_treatment",
        )
    )


def merge_rank_histograms(
    state: DataFrame, delta: DataFrame, group_col: str
) -> DataFrame:
    """Merge two rank-histogram states (null-safe per-key counter add —
    delegates to :func:`~..operators.structural.merge_partial_
    aggregates`). Associative and commutative, so states can be merged
    in any tree order across workers/batches."""
    return merge_partial_aggregates(
        state, delta, keys=[group_col, "q"],
        counters=["n_control", "n_treatment"],
    )


def mann_whitney_u_from_state(
    state: DataFrame, group_col: str, dp: int = 6
) -> DataFrame:
    """Finalize Mann-Whitney U from a :func:`rank_histogram_state`
    table (the final phase of :func:`mann_whitney_u`, split out so
    merged incremental states finalize identically to a one-shot batch
    run)."""
    per_val = state.select(
        F.col(group_col).alias("_g"),
        F.col("q").alias("_q"),
        (F.col("n_control") + F.col("n_treatment")).alias("c"),
        F.col("n_control").alias("c1"),
    )
    ranked = per_val.withColumn(
        "b", _group_prefix("c", "_g", "_q", exclusive=True)[0]
    )
    agg = ranked.groupBy("_g").agg(
        F.sum("c1").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).alias("n2"),
        F.sum(
            _dec(F.col("c1")) * _dec(_tie_rank2(F.col("b"), F.col("c")))
        ).alias("r1x2"),
        F.sum(
            _dec(F.col("c")) * _dec(F.col("c")) * _dec(F.col("c"))
            - _dec(F.col("c"))
        ).alias("ties"),
    )
    u_x2 = (F.col("r1x2") - _dec(F.col("n1") * (F.col("n1") + 1))).cast(
        "long"
    )
    stats = agg.select(
        F.col("_g").alias(group_col),
        F.col("n1").cast("long").alias("n_a"),
        F.col("n2").cast("long").alias("n_b"),
        u_x2.alias("u_x2"),
        # decimal -> double directly (no long hop): sum(c^3) can pass
        # 2^63 for mega-row tie groups while still being float-exact
        # enough for the correction term; the oracle mirrors ::DOUBLE
        F.col("ties").cast("double").alias("_tiesd"),
    )
    n1d = F.col("n_a").cast("double")
    n2d = F.col("n_b").cast("double")
    nd = (F.col("n_a") + F.col("n_b")).cast("double")
    tiesd = F.col("_tiesd")
    var = (
        n1d * n2d / F.lit(12.0)
        * ((nd + F.lit(1.0)) - tiesd / (nd * (nd - F.lit(1.0))))
    )
    du = (F.col("u_x2").cast("double") - n1d * n2d) / F.lit(2.0)
    return stats.select(
        group_col,
        "n_a",
        "n_b",
        "u_x2",
        F.when(
            (F.col("n_a") > 0)
            & (F.col("n_b") > 0)
            & ((F.col("n_a") + F.col("n_b")) > 1)
            & (var > 0),
            F.round(du / F.sqrt(var), dp),
        ).alias("z"),
    )


def ks_from_state(
    state: DataFrame, group_col: str, dp: int = 6
) -> DataFrame:
    """Finalize the two-sample KS distance from a
    :func:`rank_histogram_state` table (the final phase of
    :func:`ks_two_sample`, split out for incremental == batch)."""
    per_val = state.select(
        F.col(group_col).alias("_g"),
        F.col("q").alias("_q"),
        F.col("n_control").alias("ca"),
        F.col("n_treatment").alias("cb"),
    )
    fa, n1 = _group_prefix("ca", "_g", "_q")
    fb, n2 = _group_prefix("cb", "_g", "_q")
    cum = per_val.select(
        "_g", fa.alias("fa"), fb.alias("fb"), n1.alias("n1"), n2.alias("n2")
    )
    agg = cum.groupBy("_g").agg(
        F.max("n1").alias("n_a"),
        F.max("n2").alias("n_b"),
        F.max(
            F.abs(F.col("fa") * F.col("n2") - F.col("fb") * F.col("n1"))
        ).alias("d_num"),
    )
    n1d = F.col("n_a").cast("double")
    n2d = F.col("n_b").cast("double")
    d = F.col("d_num").cast("double") / (n1d * n2d)
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("d_num").cast("long").alias("d_num"),
        F.when(ok, F.round(d, dp)).alias("d"),
        F.when(
            ok,
            F.round(d * F.sqrt(n1d * n2d / (n1d + n2d)), dp),
        ).alias("lam"),
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    variant_col: str,
    value_col: str,
    control: str = "A",
    treatment: str = "B",
    dp: int = 6,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test per experiment group —
    the non-parametric companion to :func:`~hybridbackend_spark.
    functions.metrics.ab_ztest` for heavy-tailed metrics where a mean
    difference is the wrong readout (revenue, latency).

    Engine-exact rank arithmetic: on the cents grid (:func:`grid`)
    each distinct value's doubled tie rank is the integer
    :func:`_tie_rank2`, so the doubled control rank sum ``r1x2`` and the
    doubled U statistic ``u_x2 = r1x2 - n1*(n1+1)`` are exact integers.
    The tie-corrected normal approximation ``z = (U - n1*n2/2) /
    sqrt(n1*n2/12 * ((n+1) - T/(n*(n-1))))`` with ``T = sum(c^3 - c)``
    is a fixed-shape scalar expression of those integers, identical
    across engines.

    Scale shape: one (group, value) partial+final aggregation compresses
    the fact table to the distinct-value histogram, a window partitioned
    by ``group_col`` walks that histogram (never the raw rows), and the
    final per-group fold is tiny. ``c^3`` and rank products accumulate
    as DECIMAL(38,0); ``u_x2`` is returned as BIGINT (exact while
    ``2*R1 < 2^63``, i.e. group sizes < ~2^31 rows — beyond that read
    ``z`` only). Groups missing a variant return NULL ``z``. Rows in
    OTHER variants and NULL values carry no rank information and are
    excluded (a third arm must not silently pool into treatment).

    Structured as :func:`rank_histogram_state` (the mergeable partial)
    + :func:`mann_whitney_u_from_state` (the finalizer), so a one-shot
    batch run is BY CONSTRUCTION the same computation as merged
    incremental states.
    """
    return mann_whitney_u_from_state(
        rank_histogram_state(
            df, group_col, variant_col, value_col, control, treatment
        ),
        group_col,
        dp,
    )


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    variant_col: str,
    value_col: str,
    control: str = "A",
    treatment: str = "B",
    dp: int = 6,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance per group: the maximum
    gap between the two variants' empirical CDFs — the standard
    whole-distribution shift detector (vs the mean-only z-test and the
    binned-only PSI).

    Engine-exact: on the cents grid (:func:`grid`), the cumulative
    variant counts ``fa, fb`` per distinct value come from one ordered
    window over the (group, value) histogram, and the KS numerator
    ``d_num = max|fa*n_b - fb*n_a|`` is pure BIGINT (the true distance
    is the rational ``d_num / (n_a*n_b)`` — reported both as the exact
    integer and as a rounded double, plus the asymptotic test statistic
    ``lambda = d * sqrt(n_a*n_b/(n_a+n_b))``). Exact while
    ``n_a*n_b < 2^63`` (~3e9 rows per variant per group).

    Scale shape: the raw table compresses to the per-group distinct-
    value histogram in one partial+final agg; the window walks the
    histogram partitioned by group (never a global sort); the final
    per-group max is tiny.

    Structured as :func:`rank_histogram_state` (the mergeable partial,
    SHARED with :func:`mann_whitney_u`) + :func:`ks_from_state`, so a
    one-shot batch run is by construction the same computation as
    merged incremental states.
    """
    return ks_from_state(
        rank_histogram_state(
            df, group_col, variant_col, value_col, control, treatment
        ),
        group_col,
        dp,
    )


def robust_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    trim_pct: int = 10,
    k_mad: int = 3,
    dp: int = 6,
) -> DataFrame:
    """Per-group robust location/spread/outlier summary — the
    data-cleaning readout (median, MAD, trimmed mean, Hampel-style
    outlier count) for heavy-tailed metrics where mean/stddev are
    dominated by the very rows being hunted:

        median        positional (dual-rank) median
        MAD           median of |x - median|
        trimmed mean  mean after dropping floor(trim_pct*n/100) rows
                      from EACH tail (positionally)
        n_outliers    rows with |x - median| > k_mad * MAD

    Engine-exact, zero float ranks: each positional selection works on
    the per-group cents-grid histogram (:func:`_grid_hist`), and
    medians are kept DOUBLED (lo-rank value + hi-rank value) so
    half-grid medians stay integers. The absolute deviations ``a = |2x - 2*median|`` and
    their doubled median ``m2a = 4*MAD`` are integers too, so the
    outlier test is the pure-integer comparison ``2a > k_mad * m2a``
    and every emitted double is one final division.

    Scale shape: two aggregate-sized histograms per group (values,
    then deviations) with group-partitioned windows; the per-group
    median rides back onto the histogram (aggregate-sized join), never
    onto raw rows. No global sort, no per-row window.

    Returns (group, n, median, mad, trimmed_mean, n_trimmed,
    n_outliers).
    """
    if not 0 <= trim_pct < 50:
        raise ValueError("trim_pct must be in [0, 50)")
    _, h = _grid_hist(df, group_col, value_col)

    def dual_rank_median(hh: DataFrame, vcol: str) -> DataFrame:
        """Doubled positional median: value_at(floor((n+1)/2)) +
        value_at(floor(n/2)+1) from a (_g, value, _c, _b, _n) table."""
        lo = F.floor((F.col("_n") + 1) / 2)
        hi = F.floor(F.col("_n") / 2) + 1
        hit = F.when((lo > F.col("_b")) & (lo <= F.col("_b") + F.col("_c")), 1).otherwise(0) + \
            F.when((hi > F.col("_b")) & (hi <= F.col("_b") + F.col("_c")), 1).otherwise(0)
        return hh.groupBy("_g").agg(
            F.sum(F.col(vcol) * hit).cast("long").alias("_d2"),
            F.max("_n").cast("long").alias("_n"),
        )

    med = dual_rank_median(h, "_v")  # (_g, _d2 = 2*median_cents, _n)
    # deviations histogram: a = |2v - d2| per value row, counts re-agg
    dev = (
        h.join(med.select("_g", "_d2"), "_g")
        .select(
            "_g",
            F.abs(2 * F.col("_v") - F.col("_d2")).alias("_a"),
            "_c",
        )
        .groupBy("_g", "_a")
        .agg(F.sum("_c").alias("_c"))
    )
    mad2 = dual_rank_median(_ranked_hist(dev, "_a"), "_a").select(
        "_g", F.col("_d2").alias("_m2a")
    )  # m2a = 4*MAD_cents
    # outliers: integer comparison 2a > k * m2a, counted on the
    # deviation histogram (aggregate-sized)
    outs = (
        dev.join(mad2, "_g")
        .groupBy("_g")
        .agg(
            F.sum(
                F.when(2 * F.col("_a") > k_mad * F.col("_m2a"), F.col("_c"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_outliers")
        )
    )
    # trimmed mean: keep positional ranks [t+1, n-t]
    t = F.expr(f"(_n * {int(trim_pct)}) div 100")
    keep_lo = t
    keep_hi = F.col("_n") - t
    c_eff = F.greatest(
        F.lit(0),
        F.least(F.col("_b") + F.col("_c"), keep_hi)
        - F.greatest(F.col("_b"), keep_lo),
    )
    trim = h.groupBy("_g").agg(
        F.sum(_dec(c_eff * F.col("_v"))).alias("_tsum"),
        F.sum(c_eff).cast("long").alias("_tn"),
    )
    fs = float(CENTS)
    out = (
        med.join(mad2, "_g").join(outs, "_g").join(trim, "_g")
    )
    return out.select(
        F.col("_g").alias(group_col),
        F.col("_n").alias("n"),
        F.round(F.col("_d2").cast("double") / (2.0 * fs), dp).alias("median"),
        F.round(F.col("_m2a").cast("double") / (4.0 * fs), dp).alias("mad"),
        F.when(
            F.col("_tn") > 0,
            F.round(
                F.col("_tsum").cast("double")
                / (F.col("_tn").cast("double") * fs),
                dp,
            ),
        ).alias("trimmed_mean"),
        (F.col("_n") - F.col("_tn")).cast("long").alias("n_trimmed"),
        "n_outliers",
    )


def spearman_corr(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    dp: int = 6,
) -> DataFrame:
    """Per-group Spearman rank correlation — the monotone-association
    companion to Pearson :func:`corr_pairs` (robust to outliers and
    nonlinearity; the standard readout when either metric is
    heavy-tailed).

    Engine-exact rank arithmetic: both variables quantize to the cents
    grid (:func:`grid`); each value's doubled tie rank
    (:func:`_tie_rank2`) comes from the per-group value histogram, and
    Spearman = Pearson over those doubled ranks (the x2 scaling cancels
    in the correlation). All sufficient statistics (rank sums, squares,
    cross products) accumulate as DECIMAL(38,0), so rho is one
    fixed-shape expression of exact integers.

    Scale shape: two (group, value)-keyed histograms with partitioned
    windows (never a global sort), one fact-side broadcast-or-shuffle
    join per variable to attach ranks, one final agg. NULL in either
    variable drops the row (no rank information). rho is NULL when
    either variable is constant (zero variance, ANSI-guarded).

    Returns (group, n, rho).
    """
    base = df.select(
        F.col(group_col).alias("_g"),
        grid(x_col, CENTS).alias("_x"),
        grid(y_col, CENTS).alias("_y"),
    ).filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())

    def ranks(col: str, out: str) -> DataFrame:
        hist = base.groupBy("_g", col).agg(F.count(F.lit(1)).alias("_c"))
        b, _ = _group_prefix("_c", "_g", col, exclusive=True)
        return hist.select("_g", col, _tie_rank2(b, F.col("_c")).alias(out))

    rx = ranks("_x", "_rx")
    ry = ranks("_y", "_ry")
    ranked = base.join(rx, ["_g", "_x"]).join(ry, ["_g", "_y"])
    agg = ranked.groupBy("_g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec(F.col("_rx"))).alias("sx"),
        F.sum(_dec(F.col("_ry"))).alias("sy"),
        F.sum(_dec(F.col("_rx")) * _dec(F.col("_rx"))).alias("sxx"),
        F.sum(_dec(F.col("_ry")) * _dec(F.col("_ry"))).alias("syy"),
        F.sum(_dec(F.col("_rx")) * _dec(F.col("_ry"))).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    cov = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    vx = nd * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    vy = nd * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.when(
            (vx > 0) & (vy > 0), F.round(cov / F.sqrt(vx * vy), dp)
        ).alias("rho"),
    )


def bh_fdr(
    df: DataFrame,
    key_col: str,
    p_col: str,
    alpha: float = 0.05,
    dp: int = 6,
) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control over a battery
    of hypotheses (one row per hypothesis with its p-value) — the
    multiple-testing step every per-segment test family (chi-square /
    MWU / KS per group) needs before anyone acts on "significant":
    rank p ascending, reject ranks 1..k* where k* = max{k : p_(k) <=
    alpha*k/m}, and report the step-up adjusted q-value
    ``q_(r) = min_{j>=r} p_(j)*m/j`` (clamped to 1).

    The input is by contract ALREADY hypothesis-level (one row per
    test, m = a few dozen segments), so the global rank window runs
    over a bounded aggregate — callers must never feed fact-level rows
    (same discipline as the other allowlisted global windows; the plan
    gate in tests/test_plan_scale.py enforces the allowlist).

    Ties in p are ranked deterministically by (p, key); rejection uses
    the exact comparison ``p*m <= alpha*rank`` so engines agree bit-wise.

    Returns (key, p, rank, m, reject, q).
    """
    w_rank = Window.orderBy(F.col("_p").asc(), F.col("_k").asc())
    w_all = Window.partitionBy()
    w_tail = Window.orderBy(F.col("rank").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    # NULL p means "no test ran" (a degenerate cell upstream), not
    # "most significant" — but Spark sorts NULLs FIRST ascending, so an
    # unfiltered NULL row would take rank 1 and inflate m, shifting
    # every rank, k*, and q-value. Exclude, matching the NULL-exclusion
    # discipline of the other test operators.
    base = df.select(
        F.col(key_col).alias("_k"), F.col(p_col).cast("double").alias("_p")
    ).filter(F.col("_p").isNotNull())
    ranked = base.select(
        "_k",
        "_p",
        F.row_number().over(w_rank).alias("rank"),
        F.count(F.lit(1)).over(w_all).alias("m"),
    )
    flagged = ranked.select(
        "_k",
        "_p",
        "rank",
        "m",
        F.max(
            F.when(
                F.col("_p") * F.col("m") <= F.lit(alpha) * F.col("rank"),
                F.col("rank"),
            )
        )
        .over(w_all)
        .alias("_kstar"),
        F.min(
            F.col("_p") * F.col("m") / F.col("rank").cast("double")
        )
        .over(w_tail)
        .alias("_qraw"),
    )
    return flagged.select(
        F.col("_k").alias(key_col),
        F.round(F.col("_p"), dp).alias("p"),
        F.col("rank").cast("long").alias("rank"),
        F.col("m").cast("long").alias("m"),
        F.coalesce(
            F.col("rank") <= F.col("_kstar"), F.lit(False)
        ).alias("reject"),
        F.round(F.least(F.col("_qraw"), F.lit(1.0)), dp).alias("q"),
    )


def fleiss_kappa(
    df: DataFrame,
    group_col: str,
    item_col: str,
    category_col: str,
    n_ratings: int,
    dp: int = 6,
) -> DataFrame:
    """Fleiss' kappa inter-annotator agreement per group — the label-QC
    readout for any human/model-annotated training set (RLHF preference
    labels, quality tags): how much the ``n_ratings`` raters of each
    item agree on a category beyond chance.

        P_i  = (sum_c n_ic^2 - n) / (n(n-1))         per item
        Pbar = mean_i P_i ;  P_e = sum_c p_c^2 ;  p_c = S_c / (N n)
        kappa = (Pbar - P_e) / (1 - P_e)

    Items with a rating count != ``n_ratings`` are excluded (Fleiss'
    statistic is defined for a constant panel size; the excluded count
    is reported so the filter is visible, not silent). Engine-exact:
    ``sum_c n_ic^2`` and the category sums ``S_c`` are exact integers
    (DECIMAL(38,0) against mega-corpus overflow), so Pbar and P_e are
    single fixed-shape divisions; kappa is NULL when P_e == 1 (all
    raters always pick one category — agreement is undefined, and ANSI
    mode would otherwise abort on the 0/0).

    Scale shape: two (group,item[,category])-keyed partial aggs then a
    per-group fold — no pairwise rater work (Fleiss needs none).

    Returns (group, n_items, n_excluded, p_bar, p_e, kappa).
    """
    if n_ratings < 2:
        raise ValueError("n_ratings must be >= 2")
    nic = df.groupBy(
        F.col(group_col).alias("_g"),
        F.col(item_col).alias("_i"),
        F.col(category_col).alias("_c"),
    ).agg(F.count(F.lit(1)).alias("_n"))
    itot = nic.groupBy("_g", "_i").agg(
        F.sum("_n").alias("_ni"),
        F.sum(_dec(F.col("_n") * F.col("_n"))).alias("_sq"),
    )
    kept = itot.filter(F.col("_ni") == n_ratings)
    # category sums over kept items only: re-aggregate nic joined to
    # the kept item set (aggregate-sized semi join)
    kept_items = kept.select("_g", "_i")
    sc = (
        nic.join(kept_items, ["_g", "_i"], "left_semi")
        .groupBy("_g", "_c")
        .agg(F.sum("_n").alias("_sc"))
        .groupBy("_g")
        .agg(F.sum(_dec(F.col("_sc")) * _dec(F.col("_sc"))).alias("_ssq"))
    )
    stats = (
        itot.groupBy("_g")
        .agg(
            F.sum(F.when(F.col("_ni") == n_ratings, 1).otherwise(0)).alias(
                "_nitems"
            ),
            F.sum(F.when(F.col("_ni") != n_ratings, 1).otherwise(0)).alias(
                "_nexcl"
            ),
            F.sum(
                F.when(F.col("_ni") == n_ratings, F.col("_sq"))
            ).alias("_sumsq"),
        )
        .join(sc, "_g", "left")
    )
    n = float(n_ratings)
    nitems = F.col("_nitems").cast("double")
    p_bar = (F.col("_sumsq").cast("double") - nitems * n) / (
        nitems * n * (n - 1.0)
    )
    p_e = F.col("_ssq").cast("double") / (nitems * n * nitems * n)
    ok = F.col("_nitems") > 0
    return stats.select(
        F.col("_g").alias(group_col),
        F.col("_nitems").cast("long").alias("n_items"),
        F.col("_nexcl").cast("long").alias("n_excluded"),
        F.when(ok, F.round(p_bar, dp)).alias("p_bar"),
        F.when(ok, F.round(p_e, dp)).alias("p_e"),
        F.when(ok & (p_e != 1.0), F.round((p_bar - p_e) / (1.0 - p_e), dp))
        .alias("kappa"),
    )


def nelson_aalen(
    subjects: DataFrame,
    duration_col: str,
    event_col: str,
    dp: int = 8,
    max_durations: int | None = 100_000,
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard curve from (duration, event) per
    subject — the non-parametric hazard companion to
    :func:`kaplan_meier` (H(t) rises where churn concentrates; its
    increments are per-time hazard rates):

        H(t)   = sum over event times u <= t of d_u / n_u
        Var(t) = sum over event times u <= t of d_u / n_u^2

    Same engine-exactness contract as ``kaplan_meier``: each increment
    is one identical double division, and the cumulative sum folds the
    time-ordered increment list left-to-right (Spark ``aggregate`` ==
    DuckDB ``list_reduce``), so every value is bit-identical across
    engines and partitionings. Same EXECUTABLE bound: the fold list is
    one row per distinct duration, and ``max_durations`` raises when
    durations are effectively continuous (quantize first).

    Returns (t, n_risk, n_events, n_censored, cum_hazard, var_hazard).
    """
    risk = _risk_table(
        subjects, duration_col, event_col, max_durations, "nelson_aalen"
    )
    nd = F.col("n_events").cast("double")
    nr = F.col("n_risk").cast("double")
    with_i = risk.withColumn("_h", nd / nr).withColumn(
        "_v", nd / (nr * nr)
    )
    folded = with_i.select(
        F.struct(
            F.col("t").alias("u"), F.col("_h").alias("h"), F.col("_v").alias("v")
        ).alias("_s")
    ).agg(F.array_sort(F.collect_list("_s")).alias("_is"))
    out = (
        with_i.crossJoin(F.broadcast(folded))
        .withColumn(
            "cum_hazard",
            F.round(
                F.expr(
                    "aggregate(filter(_is, s -> s.u <= t), "
                    "CAST(0.0 AS DOUBLE), (acc, s) -> acc + s.h)"
                ),
                dp,
            ),
        )
        .withColumn(
            "var_hazard",
            F.round(
                F.expr(
                    "aggregate(filter(_is, s -> s.u <= t), "
                    "CAST(0.0 AS DOUBLE), (acc, s) -> acc + s.v)"
                ),
                dp,
            ),
        )
    )
    return out.select(
        "t", "n_risk", "n_events", "n_censored", "cum_hazard", "var_hazard"
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 1024,
    grid_col: str | None = None,
) -> DataFrame:
    """Cross-slice quantile normalization — the batch-effect correction
    that maps every slice's value distribution onto the POOLED
    distribution (microarray quantile normalization generalized to
    unequal slice sizes): a row at within-slice rank r maps to the
    pooled value at the nearest-rank quantile ``ceil(r*k/n_slice)`` of
    a ``k``-point pooled grid. After the transform every slice has the
    same marginal distribution (up to grid resolution), so cross-slice
    comparisons stop measuring acquisition artifacts.

    Engine-exactness: within-slice ranks are POSITIONAL from the
    (slice, value) histogram (:func:`_grid_hist`; ties share their
    group's upper rank, the standard tie rule), and the pooled grid
    comes from ONE fused ``percentile`` aggregate at the DYADIC
    fractions j/k with k a power of two — on the integer cents grid the
    interpolation ``a + (b-a)*f`` is exact in double for dyadic f (the
    equidepth_bins argument), so both engines produce bit-identical
    grid values. The per-row map is the integer index
    ``ceil(rank*k/n_slice)`` into the broadcast k-element grid.

    Scale shape: one aggregate-sized histogram per slice (partitioned
    windows only), one fused pooled-percentile agg broadcast as a
    single row, and a co-keyed histogram join + O(1) array lookup per
    row — no per-slice sort, no global window, no unbounded state.

    Returns per-row (group, value, normalized). BOTH value columns are
    QUANTIZED to cents (value = round(input*100)/100; normalized = grid
    value/100) — callers with finer-grained data carry the original
    column themselves. When ``grid_col`` is set, the raw interpolated
    grid value in CENTS (a double) is also returned under that name, so
    integer-exact downstream comparisons can round ONCE on the grid
    unit instead of round-tripping through ``/100`` (a division that can
    land 1 ulp below a .5 tie and flip the rounded integer).
    """
    if k < 2 or (k & (k - 1)) != 0:
        raise ValueError("k must be a power of two >= 2 (dyadic grid)")
    base, h = _grid_hist(df, group_col, value_col)
    fracs = ", ".join(repr(j / k) for j in range(1, k + 1))
    pooled = base.agg(
        F.expr(f"percentile(_v, array({fracs}))").alias("_grid")
    )
    # per-row: upper tie rank b+c -> grid index ceil(rank*k/n), in 1..k
    ranked = base.join(h, ["_g", "_v"])
    idx = F.least(
        F.lit(k),
        F.expr(f"((_b + _c) * {k} + _n - 1) div _n"),
    ).cast("int")
    gval = F.element_at(F.col("_grid"), idx).cast("double")
    cols = [
        F.col("_g").alias(group_col),
        (F.col("_v").cast("double") / CENTS).alias(value_col),
        (gval / CENTS).alias("normalized"),
    ]
    if grid_col is not None:
        cols.append(gval.alias(grid_col))
    return ranked.crossJoin(F.broadcast(pooled)).select(*cols)


def diff_in_diff(
    df: DataFrame,
    group_col: str,
    treated_col: Column,
    post_col: Column,
    value_col: str,
    dp: int = 6,
) -> DataFrame:
    """Difference-in-differences estimator per group — the workhorse
    quasi-experimental readout when treatment was NOT randomized (a
    feature shipped to one cohort; a policy change at a date):

        DiD = (ȳ_treated,post − ȳ_treated,pre)
            − (ȳ_control,post − ȳ_control,pre)

    with the large-sample standard error from the four cell variances,
    ``SE = sqrt(Σ s²_cell / n_cell)``, and ``z = DiD / SE`` (the
    parallel-trends assumption is the caller's to defend — this is the
    arithmetic, stated exactly).

    Engine-exactness: values quantize to cents (:func:`grid`); each
    cell's n / sum / sum-of-squares accumulate as BIGINT / DECIMAL(38,0)
    in ONE conditional-aggregation pass, so DiD is exact integer-cents
    arithmetic divided once, and SE/z are fixed-shape expressions of
    exact sums. DiD is NULL when any cell is empty; z additionally
    needs every cell to carry variance (n >= 2) and SE > 0 —
    ANSI-guarded, no 0/0 abort.

    Returns (group, n_tp, n_tq, n_cp, n_cq, did, se, z) where
    t/c = treated/control and p/q = post/pre.
    """
    base = df.select(
        F.col(group_col).alias("_g"),
        treated_col.cast("boolean").alias("_tr"),
        post_col.cast("boolean").alias("_po"),
        grid(value_col, CENTS).alias("_v"),
    ).filter(
        F.col("_v").isNotNull()
        & F.col("_tr").isNotNull()
        & F.col("_po").isNotNull()
    )

    def cell(tr: bool, po: bool, tag: str):
        m = (F.col("_tr") == tr) & (F.col("_po") == po)
        return [
            F.sum(F.when(m, 1).otherwise(0)).cast("long").alias(f"n_{tag}"),
            F.sum(F.when(m, F.col("_v")).otherwise(0))
            .cast("long")
            .alias(f"s_{tag}"),
            F.sum(F.when(m, _dec(F.col("_v")) * _dec(F.col("_v"))))
            .alias(f"q_{tag}"),
        ]

    agg = base.groupBy("_g").agg(
        *cell(True, True, "tp"),
        *cell(True, False, "tq"),
        *cell(False, True, "cp"),
        *cell(False, False, "cq"),
    )
    fs = float(CENTS)

    def mean(tag: str):
        return F.col(f"s_{tag}").cast("double") / (
            F.col(f"n_{tag}").cast("double") * fs
        )

    def var_over_n(tag: str):
        n = F.col(f"n_{tag}").cast("double")
        s = F.col(f"s_{tag}").cast("double")
        q = F.col(f"q_{tag}").cast("double")
        return (q - s * s / n) / ((n - 1.0) * n * fs * fs)

    all_nonempty = (
        (F.col("n_tp") > 0) & (F.col("n_tq") > 0)
        & (F.col("n_cp") > 0) & (F.col("n_cq") > 0)
    )
    all_var = (
        (F.col("n_tp") > 1) & (F.col("n_tq") > 1)
        & (F.col("n_cp") > 1) & (F.col("n_cq") > 1)
    )
    did = (mean("tp") - mean("tq")) - (mean("cp") - mean("cq"))
    se2 = (
        var_over_n("tp") + var_over_n("tq")
        + var_over_n("cp") + var_over_n("cq")
    )
    return agg.select(
        F.col("_g").alias(group_col),
        "n_tp", "n_tq", "n_cp", "n_cq",
        F.when(all_nonempty, F.round(did, dp)).alias("did"),
        F.when(all_var & (se2 > 0), F.round(F.sqrt(se2), dp)).alias("se"),
        F.when(
            all_nonempty & all_var & (se2 > 0),
            F.round(did / F.sqrt(se2), dp),
        ).alias("z"),
    )


def assoc_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support_pct_x100: int = 100,
    max_basket_items: int | None = 1000,
    dp: int = 6,
) -> DataFrame:
    """Pairwise association rules (support / confidence / lift) over
    (basket, item) rows — classic market-basket mining, and in a
    training-data pipeline the co-occurrence miner for tags, domains,
    or labels per document:

        support(a=>b)    = n_ab / N          (fraction of baskets)
        confidence(a=>b) = n_ab / n_a
        lift(a=>b)       = N * n_ab / (n_a * n_b)

    Both rule directions are emitted for each qualifying pair.
    ``min_support_pct_x100`` is hundredths of a percent (100 = 1%);
    the support cut is the exact integer cross-multiplication
    ``n_ab * 10000 >= min * N`` — no float thresholds.

    Scale shape: distinct (basket, item) pairs self-join on the BASKET
    key, so fan-out per basket is its item-degree squared —
    ``max_basket_items`` RAISES on baskets above the cap (the
    item_similarity / blocking-guard discipline: a degenerate basket
    must fail loudly, not explode quadratically). Then one (a, b)
    partial-agg count, two aggregate-sized item-count joins, and pure
    fixed-shape divisions.

    Returns (antecedent, consequent, n_pair, n_antecedent,
    n_consequent, n_baskets, support, confidence, lift).
    """
    # materialize the distinct basket-item set ONCE (round-12 session 4,
    # guide §1.2 remove passes): it feeds five consumers — the basket
    # guard's collect (an action anyway, so the eager cut adds no job),
    # the basket count, the item counts, and both sides of the pair
    # self-join — which otherwise each re-evaluate the caller's join +
    # distinct. Two narrow columns, same discipline as the setsim index
    # cut (change 14). Building this DataFrame therefore RUNS a job.
    bi = materialize(df.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
    ).distinct())
    if max_basket_items is not None:
        big = (
            bi.groupBy("_b")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") > max_basket_items)
            .limit(1)
            .collect()
        )
        if big:
            raise ValueError(
                f"assoc_rules: basket {big[0]['_b']!r} holds "
                f"{big[0]['_d']} items (> max_basket_items="
                f"{max_basket_items}); cap or re-bucket baskets first"
            )
    nb = bi.select("_b").distinct().agg(F.count(F.lit(1)).alias("_nb"))
    ic = bi.groupBy("_i").agg(F.count(F.lit(1)).alias("_ci"))
    a = bi.select(F.col("_b"), F.col("_i").alias("_ia"))
    b = bi.select(F.col("_b"), F.col("_i").alias("_ib"))
    pairs = (
        a.join(b, "_b")
        .filter(F.col("_ia") < F.col("_ib"))
        .groupBy("_ia", "_ib")
        .agg(F.count(F.lit(1)).alias("_cab"))
    )
    both = (
        pairs.join(F.broadcast(nb))
        .filter(F.col("_cab") * 10000 >= min_support_pct_x100 * F.col("_nb"))
        .join(
            F.broadcast(ic.select(F.col("_i").alias("_ia"),
                                  F.col("_ci").alias("_ca"))), "_ia"
        )
        .join(
            F.broadcast(ic.select(F.col("_i").alias("_ib"),
                                  F.col("_ci").alias("_cb"))), "_ib"
        )
    )
    # emit both directions from the undirected pair count
    directed = both.select(
        F.col("_ia").alias("antecedent"), F.col("_ib").alias("consequent"),
        "_cab", F.col("_ca").alias("_cx"), F.col("_cb").alias("_cy"), "_nb",
    ).unionAll(
        both.select(
            F.col("_ib").alias("antecedent"), F.col("_ia").alias("consequent"),
            "_cab", F.col("_cb").alias("_cx"), F.col("_ca").alias("_cy"),
            "_nb",
        )
    )
    return directed.select(
        "antecedent",
        "consequent",
        F.col("_cab").cast("long").alias("n_pair"),
        F.col("_cx").cast("long").alias("n_antecedent"),
        F.col("_cy").cast("long").alias("n_consequent"),
        F.col("_nb").cast("long").alias("n_baskets"),
        F.round(
            F.col("_cab").cast("double") / F.col("_nb").cast("double"), dp
        ).alias("support"),
        F.round(
            F.col("_cab").cast("double") / F.col("_cx").cast("double"), dp
        ).alias("confidence"),
        F.round(
            F.col("_nb").cast("double") * F.col("_cab").cast("double")
            / (F.col("_cx").cast("double") * F.col("_cy").cast("double")),
            dp,
        ).alias("lift"),
    )


def eb_shrink_rates(
    df: DataFrame,
    key_col: str,
    success_col: Column,
    trial_col: Column,
    dp: int = 6,
    min_trials: int = 1,
) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-key rates — the
    standard fix for small-sample rate ranking (a 1/1 key must not
    outrank a 9800/10000 key): fit a Beta(alpha, beta) prior to the
    observed per-key rates by method of moments, then report each key's
    posterior mean ``(k + alpha) / (n + alpha + beta)``.

        m = mean of observed rates      v = variance of observed rates
        alpha+beta = m(1-m)/v - 1       alpha = m*(alpha+beta)

    Engine-exactness: each observed rate quantizes to the 1e-6 integer
    grid BEFORE the cross-key moment sums (the micro-quantization
    discipline), so m and v are fixed-shape expressions of exact BIGINT
    sums; alpha/beta and every posterior mean are then single fixed
    divisions. When the moment fit degenerates (v = 0: all rates equal,
    or v >= m(1-m): over-dispersed beyond Beta) the prior is undefined
    and the raw rate is reported with NULL shrunken values — never a
    silently wrong prior.

    Scale shape: one key-level aggregation, one 2-row broadcast of the
    fitted prior back onto the key table. Keys with fewer than
    ``min_trials`` trials are excluded from BOTH the fit and the output.

    Returns (key, successes, trials, rate, alpha, beta, shrunk_rate).
    """
    per = (
        df.groupBy(F.col(key_col).alias("_k"))
        .agg(
            F.sum(success_col).cast("long").alias("_s"),
            F.sum(trial_col).cast("long").alias("_n"),
        )
        .filter(F.col("_n") >= min_trials)
    )
    # micro-quantized observed rate (integer in [0, 1e6])
    ru = F.round(F.lit(1e6) * F.col("_s").cast("double") / F.col("_n").cast("double")).cast("long")
    rates = per.select("_k", "_s", "_n", ru.alias("_ru"))
    mom = rates.agg(
        F.count(F.lit(1)).alias("_m0"),
        F.sum("_ru").alias("_m1"),
        F.sum(_dec(F.col("_ru")) * _dec(F.col("_ru"))).alias("_m2"),
    )
    m0 = F.col("_m0").cast("double")
    m = F.col("_m1").cast("double") / (m0 * 1e6)
    # population variance of the micro-quantized rates (plain products,
    # no pow() — keeps the IEEE op tree identical across engines)
    v = F.col("_m2").cast("double") / (m0 * 1e12) - m * m
    ab = m * (1 - m) / v - 1
    prior = mom.select(
        F.when((v > 0) & (ab > 0), m * ab).alias("_alpha"),
        F.when((v > 0) & (ab > 0), (1 - m) * ab).alias("_beta"),
    )
    out = rates.crossJoin(F.broadcast(prior))
    shrunk = (F.col("_s").cast("double") + F.col("_alpha")) / (
        F.col("_n").cast("double") + F.col("_alpha") + F.col("_beta")
    )
    return out.select(
        F.col("_k").alias(key_col),
        F.col("_s").alias("successes"),
        F.col("_n").alias("trials"),
        F.round(ungrid(F.col("_ru").cast("double"), MICRO), dp).alias("rate"),
        F.round(F.col("_alpha"), dp).alias("alpha"),
        F.round(F.col("_beta"), dp).alias("beta"),
        F.round(shrunk, dp).alias("shrunk_rate"),
    )


def logrank_test(
    subjects: DataFrame,
    group_col: str,
    variant_col: str,
    duration_col: str,
    event_col: str,
    control: str = "A",
    treatment: str = "B",
    dp: int = 6,
    max_durations: int | None = 100_000,
) -> DataFrame:
    """Two-sample log-rank test per group — the survival-curve
    COMPARISON that completes the :func:`kaplan_meier` /
    :func:`nelson_aalen` family (do the two variants churn at the same
    hazard?):

        O1 = sum_t d1t          E1 = sum_t dt*n1t/nt
        V  = sum_t dt*(n1t/nt)*(n2t/nt)*(nt-dt)/(nt-1)
        z  = (O1 - E1)/sqrt(V),  chi2 = z^2

    summed over distinct event times t (hypergeometric mean/variance of
    the control's event count conditional on the margins).

    Engine-exactness: per-time E and V terms are each ONE fixed-shape
    double expression of exact integers, micro-quantized to 1e-6 BEFORE
    the cross-time sums (the cuped_adjust / CMH discipline), so the
    accumulated sums are BIGINT and immune to summation order. The
    at-risk counts come from one descending-time cumulative window per
    group over the per-duration table (aggregate-sized; bound enforced
    by ``max_durations`` exactly like the KM fold). V terms with
    ``nt = 1`` are zero (no variance in a one-subject risk set);
    z is NULL when V degenerates to 0. Rows in other variants / NULL
    durations are excluded.

    Returns (group, n_a, n_b, o1, e1, v1, z, chi2).
    """
    t, e = F.col(duration_col), F.col(event_col)
    base = subjects.select(
        F.col(group_col).alias("_g"),
        F.col(variant_col).alias("_v"),
        t.alias("_t"),
        e.alias("_e"),
    ).filter(F.col("_v").isin(control, treatment) & F.col("_t").isNotNull())
    is_c = F.col("_v") == control
    counts = base.groupBy("_g", "_t").agg(
        F.sum(F.when(is_c & (F.col("_e") == 1), 1).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("_e") == 1, 1).otherwise(0)).alias("d"),
        F.sum(F.when(is_c, 1).otherwise(0)).alias("r1"),
        F.count(F.lit(1)).alias("r"),
    )
    if max_durations is not None:
        counts = materialize(counts)
        n_dur = counts.groupBy("_g").count().agg(F.max("count")).collect()[0][0]
        if n_dur is not None and n_dur > max_durations:
            raise ValueError(
                f"logrank_test: {n_dur} distinct durations exceed "
                f"max_durations={max_durations}; quantize durations first"
            )
    # at-risk counts: everyone whose duration is >= t
    n1, _ = _group_prefix("r1", "_g", F.desc("_t"))
    n, _ = _group_prefix("r", "_g", F.desc("_t"))
    risk = counts.select(
        "_g", "_t", "d1", "d", n1.alias("n1"), n.alias("n")
    ).filter(F.col("d") > 0)
    n1d = F.col("n1").cast("double")
    nd = F.col("n").cast("double")
    n2d = (F.col("n") - F.col("n1")).cast("double")
    dd = F.col("d").cast("double")
    e1u = F.round(F.lit(1e6) * dd * n1d / nd).cast("long")
    vu = F.when(
        F.col("n") > 1,
        F.round(
            F.lit(1e6)
            * dd * n1d * n2d * (nd - dd)
            / (nd * nd * (nd - F.lit(1.0)))
        ).cast("long"),
    ).otherwise(F.lit(0))
    agg = risk.groupBy("_g").agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum(e1u).alias("_e1u"),
        F.sum(vu).alias("_vu"),
    )
    sizes = base.groupBy("_g").agg(
        F.sum(F.when(is_c, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~is_c, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    e1 = ungrid(F.col("_e1u").cast("double"), MICRO)
    v1 = ungrid(F.col("_vu").cast("double"), MICRO)
    z = (F.col("o1").cast("double") - e1) / F.sqrt(v1)
    return sizes.join(agg, "_g", "left").select(
        F.col("_g").alias(group_col),
        "n_a",
        "n_b",
        F.coalesce(F.col("o1"), F.lit(0)).alias("o1"),
        F.round(e1, dp).alias("e1"),
        F.round(v1, dp).alias("v1"),
        F.when(F.col("_vu") > 0, F.round(z, dp)).alias("z"),
        F.when(F.col("_vu") > 0, F.round(z * z, dp)).alias("chi2"),
    )


def gini_coefficient(
    df: DataFrame,
    group_col: str,
    value_col: str,
    dp: int = 6,
) -> DataFrame:
    """Per-group Gini coefficient of a non-negative value — the
    standard concentration/inequality readout (revenue concentration,
    data-source share skew):

        G = (2 * S1 - (n + 1) * S0) / (n * S0)

    with ``S0 = sum(x)`` and ``S1 = sum(rank_i * x_i)`` over the
    ascending sort. Ties make S1 well-defined without a tie rule: a
    tied block contributes (sum of its ranks) * x, which no intra-block
    permutation can change.

    Engine-exact: on the cents grid (:func:`grid`) the fact table
    compresses to the per-group distinct-value histogram, where a tied
    block's doubled rank sum is the exact integer ``c`` times its
    :func:`_tie_rank2`, so S0/S1 and the Gini numerator are pure
    DECIMAL(38,0) — one final division.

    Values must be non-negative: a negative value raises (an executable
    guard on the raw value, so one that rounds to 0 cents is caught
    too). Returns (group, n, total, gini); gini is NULL when n = 0 or
    S0 = 0 (all-zero values — undefined share distribution).
    """
    q = grid_nonneg(value_col, CENTS, "gini_coefficient")
    # NULL values hold no share: excluded from n as well as S0/S1 (else
    # n counts rows the sums skip, skewing G)
    base = df.select(F.col(group_col).alias("_g"), q.alias("_q")).filter(
        F.col("_q").isNotNull()
    )
    per_val = base.groupBy("_g", "_q").agg(F.count(F.lit(1)).alias("c"))
    ranked = per_val.withColumn(
        "b", _group_prefix("c", "_g", "_q", exclusive=True)[0]
    )
    # c * (2b + c + 1) = 2 * (the block's rank sum), integral
    rs2 = _dec(F.col("c")) * _dec(_tie_rank2(F.col("b"), F.col("c")))
    agg = ranked.groupBy("_g").agg(
        F.sum("c").alias("n"),
        F.sum(_dec(F.col("c")) * _dec(F.col("_q"))).alias("s0"),
        F.sum(rs2 * _dec(F.col("_q"))).alias("s1x2"),
    )
    n = F.col("n")
    s0d = F.col("s0").cast("double")
    # G = (S1x2 - (n+1)*S0) / (n*S0)   [S1x2 = 2*S1]
    num = (F.col("s1x2") - _dec(n + 1) * F.col("s0")).cast("double")
    gini = num / (n.cast("double") * s0d)
    return agg.select(
        F.col("_g").alias(group_col),
        n.cast("long").alias("n"),
        (s0d / F.lit(float(CENTS))).alias("total"),
        F.when((n > 0) & (F.col("s0") != 0), F.round(gini, dp)).alias(
            "gini"
        ),
    )


def offpolicy_ips(
    logs: DataFrame,
    action_col: str,
    reward_col: str,
    propensity_w60: Column,
    policies: dict[str, Column],
    dp: int = 6,
) -> DataFrame:
    """Off-policy evaluation of target policies from logged bandit
    feedback: inverse-propensity scoring (Horvitz-Thompson) and its
    self-normalized variant (SNIPS), the counterfactual "what would
    policy pi have earned" readout — the evaluation-side complement to
    :func:`bandit replay <..queries.bandit_replay_events>` (which
    simulates a LEARNER; this scores FIXED policies):

        IPS   = (1/n) * sum_i  1[pi(x_i) = a_i] * r_i / p_i
        SNIPS = sum_i w_i r_i / sum_i w_i,   w_i = 1[pi(x_i)=a_i]/p_i

    Engine-exactness contract: the caller supplies ``propensity_w60``
    = 60/p_i as an exact INTEGER column (any logged propensity on the
    1/60 grid — e.g. uniform-over-K or the 1/15..5/15 family — has an
    integer 60/p), and rewards quantize to cents (:func:`grid`), so both
    numerators and the SNIPS denominator accumulate as DECIMAL(38,0);
    each estimate is one final division. ``policies`` maps a policy
    name to a Column holding the action that policy would take.

    Scale shape: ONE pass — each log row explodes into |policies|
    tagged rows (constant fan-out), then a single partial+final agg per
    policy. No per-policy rescan.

    Returns (policy, n, n_matched, ips_value, snips_value); SNIPS is
    NULL when no logged action matches the policy.
    """
    if not policies:
        raise ValueError("policies must be non-empty")
    r = grid(reward_col, CENTS)
    # Integrality gate: a propensity off the 1/60 grid would silently
    # truncate under cast('long') and bias IPS/SNIPS — raise instead
    # (NULL propensities also raise; they have no valid weight).
    w60d = propensity_w60.cast("double")
    w60 = F.when(w60d == F.floor(w60d), propensity_w60.cast("long")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "offpolicy_ips: propensity_w60 must be an exact "
                    "integer (60/p on the 1/60 grid); got "
                ),
                F.coalesce(propensity_w60.cast("string"), F.lit("NULL")),
            )
        )
    )
    tagged = logs.select(
        F.col(action_col).alias("_a"),
        r.alias("_r"),
        w60.alias("_w60"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("p"), col.alias("pa")
                    )
                    for name, col in policies.items()
                ]
            )
        ).alias("_pol"),
    ).select(
        F.col("_pol.p").alias("policy"),
        (F.col("_pol.pa") == F.col("_a")).alias("_m"),
        "_r",
        "_w60",
    )
    agg = tagged.groupBy("policy").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("_m"), 1).otherwise(0)).alias("n_matched"),
        F.sum(
            F.when(F.col("_m"), _dec(F.col("_r") * F.col("_w60"))).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("_num"),
        F.sum(
            F.when(F.col("_m"), _dec(F.col("_w60"))).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("_den"),
    )
    fs = float(CENTS)
    ips = F.col("_num").cast("double") / (
        F.lit(60.0) * fs * F.col("n").cast("double")
    )
    snips = F.col("_num").cast("double") / (
        F.col("_den").cast("double") * fs
    )
    return agg.select(
        "policy",
        F.col("n").cast("long").alias("n"),
        F.col("n_matched").cast("long").alias("n_matched"),
        F.round(ips, dp).alias("ips_value"),
        F.when(F.col("_den") != 0, F.round(snips, dp)).alias("snips_value"),
    )


def weighted_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Per-group EXACT weighted quantiles (p25/p50/p75) by the
    lower-weighted-quantile rule: the smallest value v whose inclusive
    cumulative weight reaches q of the total. The weighted median is
    THE robust center when rows carry unequal mass (a price weighted by
    quantity, a latency weighted by request count) — the unweighted
    median silently re-weights every row to 1.

    Engine-exactness: values quantize to cents (:func:`grid`),
    weights cast to BIGINT, one (group, value)-keyed histogram agg, one
    partitioned cumulative window over the histogram, and the quantile
    comparisons stay in integers (``4*cum >= W`` for p25, ``2*cum >= W``
    for p50, ``4*cum >= 3*W`` for p75) — no float thresholds, so any
    engine selects the identical grid values.

    Scale shape: the window runs over the per-group HISTOGRAM (bounded
    by distinct values on the cents grid), never the raw rows; the only
    fact-sized pass is the partial-agg histogram build.

    Weights must be non-negative (a negative weight silently corrupts
    the cumulative selection — guarded with an executable raise); they
    are ROUNDED to the nearest integer before the BIGINT cast so
    fractional weights agree with ANSI CAST semantics (DuckDB rounds,
    Spark's bare cast truncates toward zero). Zero-weight rows are
    harmless: they add no mass and can never be uniquely selected.

    Returns (group, total_weight, wp25, wp50, wp75) on the value scale.
    """
    v = grid(value_col, CENTS)
    # guard the RAW weight, not the rounded one: weights in (-0.5, 0)
    # round to 0 and would silently bypass a post-rounding check
    wraw = F.col(weight_col).cast("double")
    wr = F.round(wraw).cast("long")
    w = F.when(
        wraw < 0,
        F.raise_error(
            F.concat(
                F.lit("weighted_quantiles: negative weight "),
                wraw.cast("string"),
                F.lit(f" in column {weight_col!r}"),
            )
        ).cast("long"),
    ).otherwise(wr)
    hist = (
        df.select(F.col(group_col).alias("_g"), v.alias("_v"), w.alias("_w"))
        .filter(F.col("_v").isNotNull() & F.col("_w").isNotNull())
        .groupBy("_g", "_v")
        .agg(F.sum("_w").alias("_wv"))
    )
    cw, tw = _group_prefix("_wv", "_g", "_v")
    cum = hist.select("_g", "_v", cw.alias("_cw"), tw.alias("_tw"))
    c, t = F.col("_cw"), F.col("_tw")
    pick = lambda cond: F.min(F.when(cond, F.col("_v")))  # noqa: E731
    return cum.groupBy(F.col("_g").alias(group_col)).agg(
        F.max(t).cast("long").alias("total_weight"),
        (pick(4 * c >= t).cast("double") / CENTS).alias("wp25"),
        (pick(2 * c >= t).cast("double") / CENTS).alias("wp50"),
        (pick(4 * c >= 3 * t).cast("double") / CENTS).alias("wp75"),
    )
