"""Evaluation metrics as distributed aggregations: mean, accuracy,
AUC, grouped AUC (GAUC).

The reference computes these as streaming accumulators merged across
workers with allreduce (``metrics/mean.py:36-128``, ``metrics/accuracy.py``,
``metrics/auc.py:38-186``, ``metrics/gauc.cc:39-66``). In Spark the
partial/final split of ``AggregateExec`` IS the allreduce: every metric
below is a plain aggregation with map-side partial combine, no driver-side
loops, no UDFs.

AUC uses the exact rank statistic rather than the reference's
thresholded confusion-matrix approximation: group by distinct score,
cumulative-count sweep, ties credited 1/2 (equivalent to the trapezoidal
ROC integral over all distinct thresholds — the limit the reference's
``num_thresholds`` histogram approximates). A histogram variant matching
the reference's bucketed estimate is provided for parity
(``auc_histogram``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .._fixed import CENTS, MICRO, grid, grid_moments, ungrid
from ..operators.structural import _group_prefix, _range_prefix

__all__ = ["streaming_mean", "accuracy", "auc", "auc_histogram", "gauc"]


def streaming_mean(df: DataFrame, col: str, alias: str = "mean") -> DataFrame:
    """Distributed mean (reference ``metrics/mean.py``): local sum/count
    partials merged at final — exactly Spark's avg."""
    return df.agg(F.avg(F.col(col)).alias(alias))


def accuracy(df: DataFrame, label: str, pred: str, alias: str = "accuracy") -> DataFrame:
    """Fraction of rows where pred == label (reference
    ``metrics/accuracy.py:29-86``)."""
    return df.agg(
        F.avg((F.col(pred) == F.col(label)).cast("double")).alias(alias)
    )


def _score_histogram(df: DataFrame, label: str, score: str) -> DataFrame:
    """Per-distinct-score (pos, neg) counts — the exact sufficient
    statistic for ROC."""
    return df.groupBy(F.col(score).alias("_s")).agg(
        F.sum(F.col(label).cast("double")).alias("_p"),
        F.sum(F.lit(1.0) - F.col(label).cast("double")).alias("_n"),
    )


def auc(df: DataFrame, label: str, score: str, alias: str = "auc") -> DataFrame:
    """Exact ROC AUC: P(score_pos > score_neg) + 0.5*P(tie).

    Plan shape: one partial+final aggregation on distinct scores (map-side
    combine shrinks the shuffle to |distinct scores|), then a DISTRIBUTED
    exclusive prefix sum of negatives over the score histogram
    (``structural._range_prefix``: range-partition by score,
    partition-local cumulative sums, plus per-partition offsets — one tiny
    driver collect bounded by the partition count, not data size). A naive
    global-order window would drag the whole histogram through a single
    partition — the classic scale trap this avoids; at 100 TB with
    continuous scores the histogram is row-count-sized.
    """
    hist = _score_histogram(df, label, score)
    swept, _ = _range_prefix(hist, ["_s"], F.col("_n"), "_n_below", exclusive=True)
    return swept.agg(
        (
            F.sum(F.col("_p") * (F.col("_n_below") + F.col("_n") / 2))
            / (F.sum("_p") * F.sum("_n"))
        ).alias(alias)
    )


def auc_histogram(
    df: DataFrame,
    label: str,
    score: str,
    num_thresholds: int = 200,
    curve: str = "ROC",
    alias: str = "auc",
) -> DataFrame:
    """Reference-parity bucketed AUC (``metrics/auc.py:38-186``): scores in
    [0,1] are bucketed into ``num_thresholds`` bins, confusion counts
    accumulated per bin (partial per partition, merged at final — the
    allreduce analog at ``metrics/auc.py:169-170``), then integrated.

    ``curve="ROC"``: trapezoidal TPR/FPR integral; converges to
    :func:`auc` as thresholds grow. ``curve="PR"``: the reference's
    ``interpolate_pr_auc`` (``metrics/auc.py:281-344``, the
    Davis-Goadrich careful interpolation): between consecutive
    thresholds, precision is integrated in closed form assuming TP and
    FP grow linearly — each interval contributes
    ``slope * (dTP + intercept * ln(p_hi/p_lo)) / P``.

    The windows here order at most ``num_thresholds`` histogram rows —
    a bounded single-partition sort by construction, not a scale trap."""
    if curve not in ("ROC", "PR"):
        raise NotImplementedError(f"unsupported curve {curve!r}")
    b = F.least(
        F.lit(num_thresholds - 1),
        F.floor(F.col(score) * num_thresholds).cast("int"),
    )
    hist = df.groupBy(b.alias("_b")).agg(
        F.sum(F.col(label).cast("double")).alias("_p"),
        F.sum(F.lit(1.0) - F.col(label).cast("double")).alias("_n"),
    )
    w_desc = Window.orderBy(F.col("_b").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    swept = (
        hist.withColumn("_tp", F.sum("_p").over(w_desc))
        .withColumn("_fp", F.sum("_n").over(w_desc))
    )
    total = swept.agg(
        F.sum("_p").alias("_P"), F.sum("_n").alias("_N")
    ).collect()[0]
    # degenerate inputs: an EMPTY frame sums to NULL (float(None) would
    # TypeError), and a single-class frame makes the curve undefined —
    # PR needs positives, ROC needs both classes. Return a 1-row NULL
    # instead of letting the /P (or /N) ANSI-abort the job downstream.
    P, N = float(total["_P"] or 0.0), float(total["_N"] or 0.0)
    if P <= 0 or (curve == "ROC" and N <= 0):
        return df.sparkSession.range(1).select(
            F.lit(None).cast("double").alias(alias)
        )
    if curve == "PR":
        # pair each non-empty bucket with the next higher one (empty
        # buckets have zero deltas and contribute nothing, so skipping
        # them is exact); beyond the top bucket tp = fp = 0
        w_asc = Window.orderBy("_b")
        pairs = swept.select(
            F.col("_tp").alias("_tp1"),
            (F.col("_tp") + F.col("_fp")).alias("_p1"),
            F.coalesce(F.lead("_tp").over(w_asc), F.lit(0.0)).alias("_tp2"),
            F.coalesce(
                F.lead(F.col("_tp") + F.col("_fp")).over(w_asc), F.lit(0.0)
            ).alias("_p2"),
        )
        dtp = F.col("_tp1") - F.col("_tp2")
        dp = F.col("_p1") - F.col("_p2")
        slope = F.when(dp > 0, dtp / dp).otherwise(F.lit(0.0))
        intercept = F.col("_tp2") - slope * F.col("_p2")
        log_ratio = F.when(
            (F.col("_p1") > 0) & (F.col("_p2") > 0),
            F.log(F.col("_p1") / F.col("_p2")),
        ).otherwise(F.lit(0.0))
        term = slope * (dtp + intercept * log_ratio) / F.lit(P)
        return pairs.agg(F.sum(term).alias(alias))
    pts = (
        swept.select(
            (F.col("_tp") / P).alias("tpr"), (F.col("_fp") / N).alias("fpr")
        )
        .orderBy("fpr", "tpr")
    )
    w = Window.orderBy("fpr", "tpr")
    trap = pts.select(
        (
            (F.col("fpr") - F.coalesce(F.lag("fpr").over(w), F.lit(0.0)))
            * (F.col("tpr") + F.coalesce(F.lag("tpr").over(w), F.lit(0.0)))
            / 2
        ).alias("_a")
    )
    return trap.agg(F.sum("_a").alias(alias))


def gauc(
    df: DataFrame,
    group: str,
    label: str,
    score: str,
    weight: str = "count",
    alias: str = "gauc",
    tie_mode: str = "half",
    order_col: str | None = None,
) -> DataFrame:
    """Grouped AUC (reference ``metrics/gauc.cc:39-80``, ``gauc.py:32-71``):
    exact AUC per group, then weighted mean over groups that contain both
    classes. ``weight``: 'count' (group row count, the reference's
    impression weighting) or 'uniform'; any other ``weight`` or
    ``tie_mode`` raises ``ValueError``.

    Single shuffle on (group, score); the per-group sweep is a window
    within the group — no applyInPandas, no per-group collect.

    Tie handling (``tie_mode``):

    - ``"half"`` (default): tied predictions get the standard half
      credit — the textbook Mann-Whitney estimator, order-independent.
    - ``"reference"``: bit-exact replica of the reference kernel's sweep
      (``metrics/gauc.cc:40-55``): rows are processed one at a time in
      ascending prediction order and ``auc += (fp2-fp1)*(tp2+tp1)`` is
      accumulated per ROW, so tied predictions contribute in sweep
      order. The C++ kernel's ``std::sort`` leaves tied order
      unspecified; ``order_col`` pins it (ascending) to make the
      replica deterministic — required for this mode. Works with
      fractional labels exactly as the kernel does (labels accumulate
      into tp/fp as probabilities). Single-class groups are dropped in
      both modes, mirroring the kernel's ``-0.5`` marker / caller-side
      ``auc >= 0`` filter (``gauc.cc:56-60, gauc.py:57-63``).
    """
    if weight not in ("count", "uniform"):
        raise ValueError(f"weight must be 'count' or 'uniform', got {weight!r}")
    if tie_mode not in ("half", "reference"):
        raise ValueError(
            f"tie_mode must be 'half' or 'reference', got {tie_mode!r}"
        )
    if tie_mode == "reference":
        if order_col is None:
            raise ValueError(
                "tie_mode='reference' needs order_col to pin the sweep "
                "order of tied predictions (the C++ kernel's sort leaves "
                "it unspecified)"
            )
        lab = F.col(label).cast("double")
        order = (F.col(score).asc(), F.col(order_col).asc())
        tp2, _ = _group_prefix(lab, group, *order)
        fp2, _ = _group_prefix(F.lit(1.0) - lab, group, *order)
        swept = df.select(
            F.col(group).alias("_g"),
            lab.alias("_l"),
            tp2.alias("_tp2"),
            fp2.alias("_fp2"),
        )
        # per-row trapezoid: (fp2-fp1)*(tp2+tp1) with fp1/tp1 the
        # previous row's totals == current minus this row's contribution
        term = (F.lit(1.0) - F.col("_l")) * (
            F.col("_tp2") + F.col("_tp2") - F.col("_l")
        )
        per_group = swept.groupBy("_g").agg(
            F.sum(term).alias("_raw"),
            F.max("_tp2").alias("_pos"),
            F.max("_fp2").alias("_neg"),
            F.count(F.lit(1)).alias("_cnt"),
        )
        valid = per_group.filter(
            # kernel: tp2 > n-1e-3 or fp2 > n-1e-3 -> -0.5 (dropped);
            # tp2*fp2 == 0 -> no value. Both reduce to: keep both-class.
            (F.col("_pos") > 0)
            & (F.col("_neg") > 0)
            & (F.col("_pos") <= F.col("_cnt") - 1e-3)
            & (F.col("_neg") <= F.col("_cnt") - 1e-3)
        ).withColumn(
            "_auc",
            F.lit(1.0) - F.col("_raw") / (2.0 * F.col("_pos") * F.col("_neg")),
        )
    else:
        hist = df.groupBy(
            F.col(group).alias("_g"), F.col(score).alias("_s")
        ).agg(
            F.sum(F.col(label).cast("double")).alias("_p"),
            F.sum(F.lit(1.0) - F.col(label).cast("double")).alias("_n"),
        )
        swept = hist.withColumn(
            "_n_below", _group_prefix("_n", "_g", "_s", exclusive=True)[0]
        )
        per_group = swept.groupBy("_g").agg(
            (
                F.sum(F.col("_p") * (F.col("_n_below") + F.col("_n") / 2))
                / (F.sum("_p") * F.sum("_n"))
            ).alias("_auc"),
            (F.sum("_p") + F.sum("_n")).alias("_cnt"),
            F.sum("_p").alias("_pos"),
            F.sum("_n").alias("_neg"),
        )
        valid = per_group.filter((F.col("_pos") > 0) & (F.col("_neg") > 0))
    w_expr = F.col("_cnt") if weight == "count" else F.lit(1.0)
    return valid.agg(
        (F.sum(F.col("_auc") * w_expr) / F.sum(w_expr)).alias(alias)
    )


def ab_ztest(
    df,
    group_col: str,
    variant_col: str,
    value_col: str,
    control: str = "A",
    treatment: str = "B",
    dp: int = 6,
):
    """Two-sample z-test per experiment group: mean difference between
    ``treatment`` and ``control`` variants with its pooled standard
    error and z statistic — the workhorse readout of large-scale A/B
    analytics.

    ONE conditional-aggregation pass computes both variants' n / sum /
    sum-of-squares together (map-side combine; no pivot, no second
    scan). Sums and squares accumulate on the integer cents grid
    (:mod:`hybridbackend_spark._fixed`, as in
    :func:`~hybridbackend_spark.functions.feature.standard_scale`), so
    means and variances are bit-identical across engines/partitionings.
    Population variances (divide by n), Welch-style unpooled SE.

    Returns (group, n_a, n_b, mean_a, mean_b, diff, se, z) rounded to
    ``dp``.
    """
    from pyspark.sql import functions as F

    q = grid(value_col, CENTS)
    is_a = F.col(variant_col) == control
    is_b = F.col(variant_col) == treatment

    def _sums(cond):
        return [
            F.sum(F.when(cond, 1).otherwise(0)).alias("n"),
            F.sum(F.when(cond, q).otherwise(0)).alias("s"),
            F.sum(F.when(cond, (q * q).cast("decimal(38,0)")).otherwise(
                F.lit(0).cast("decimal(38,0)"))).alias("ss"),
        ]

    na, sa, ssa = _sums(is_a)
    nb, sb, ssb = _sums(is_b)
    agg = df.groupBy(group_col).agg(
        na.alias("_na"), sa.alias("_sa"), ssa.alias("_ssa"),
        nb.alias("_nb"), sb.alias("_sb"), ssb.alias("_ssb"),
    )
    ma, va = grid_moments(F.col("_na"), F.col("_sa"), F.col("_ssa"), CENTS)
    mb, vb = grid_moments(F.col("_nb"), F.col("_sb"), F.col("_ssb"), CENTS)
    se = F.sqrt(va / F.col("_na").cast("double") + vb / F.col("_nb").cast("double"))
    return agg.select(
        F.col(group_col),
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        F.round(ma, dp).alias("mean_a"),
        F.round(mb, dp).alias("mean_b"),
        F.round(mb - ma, dp).alias("diff"),
        F.round(se, dp).alias("se"),
        F.when(se > 0, F.round((mb - ma) / se, dp)).alias("z"),
    )


def calibration_bins(
    df,
    label: str = "y",
    score: str = "p",
    bins: int = 10,
    dp: int = 6,
):
    """Reliability diagram + expected-calibration-error terms: scores in
    [0, 1] bucket into ``bins`` equal-width bins; each bin reports its
    count, mean predicted confidence, observed positive rate, and its
    ECE contribution ``n_b / N * |acc_b - conf_b|`` (sum the column for
    the scalar ECE). Confidence means are exact sums on the integer
    micro grid (:mod:`hybridbackend_spark._fixed`), so the curve is
    engine-identical.
    One partial-agg shuffle on the bin id — |bins| rows out regardless
    of scale."""
    from pyspark.sql import functions as F

    s = F.col(score).cast("double")
    y = F.col(label).cast("double")
    b = F.least(
        F.floor(s * bins).cast("int"), F.lit(bins - 1)
    )
    q = grid(s, MICRO)
    agg = (
        df.select(b.alias("bin"), q.alias("_q"), y.alias("_y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_q").alias("_sq"),
            F.sum("_y").cast("long").alias("_pos"),
        )
    )
    total = agg.agg(F.sum("n").alias("_tot"))
    conf = ungrid(F.col("_sq"), MICRO) / F.col("n").cast("double")
    acc = F.col("_pos").cast("double") / F.col("n").cast("double")
    return (
        agg.join(F.broadcast(total))
        .select(
            "bin",
            "n",
            F.round(conf, dp).alias("confidence"),
            F.round(acc, dp).alias("accuracy"),
            F.round(
                F.col("n").cast("double")
                / F.col("_tot").cast("double")
                * F.abs(acc - conf),
                dp,
            ).alias("ece_term"),
        )
    )


def ndcg_at_k(
    df,
    group_col: str,
    rel_col: str,
    rank_col: str,
    k: int = 10,
    dp: int = 6,
):
    """NDCG@k per group: DCG with the standard ``1 / log2(rank + 1)``
    position discounts, normalized by the ideal DCG of the group's own
    relevance multiset. The discounts enter the plan as PYTHON-computed
    literals (one per position <= k), so no runtime ``log`` call exists
    to differ between engines — the oracle embeds the identical
    constants; sums run over the ordered rank key.

    Expects one row per (group, rank) with graded relevance. Groups
    with zero total relevance yield NDCG null (0/0 guarded).
    """
    import math

    from pyspark.sql import Window, functions as F

    w = {i: 1.0 / math.log2(i + 1) for i in range(1, k + 1)}
    disc = F.create_map(
        *[F.lit(x) for pair in w.items() for x in pair]
    )
    top = df.filter(F.col(rank_col) <= k)
    dcg = F.sum(
        F.col(rel_col).cast("double") * F.element_at(disc, F.col(rank_col))
    )
    # ideal ordering of the SAME top-k relevance values
    iw = Window.partitionBy(group_col).orderBy(
        F.col(rel_col).desc(), F.col(rank_col)
    )
    ideal = top.withColumn("_irk", F.row_number().over(iw)).filter(
        F.col("_irk") <= k
    )
    idcg = ideal.groupBy(group_col).agg(
        F.sum(
            F.col(rel_col).cast("double")
            * F.element_at(disc, F.col("_irk"))
        ).alias("_idcg")
    )
    got = top.groupBy(group_col).agg(dcg.alias("_dcg"))
    return got.join(idcg, group_col).select(
        group_col,
        F.when(
            F.col("_idcg") > 0, F.round(F.col("_dcg") / F.col("_idcg"), dp)
        ).alias("ndcg"),
    )


def mrr_hitrate_at_k(
    df,
    group_col: str,
    rel_col: str,
    rank_col: str,
    k: int = 10,
    dp: int = 6,
):
    """Mean-reciprocal-rank and hit-rate@k per group: the retrieval
    companions to :func:`ndcg_at_k`. A row is a hit when its graded
    relevance is positive; RR is ``1/rank`` of the FIRST hit within the
    top ``k`` (0 when none). Reciprocals of integer ranks are exact
    binary-representable only for powers of two, so both engines
    compute the identical ``1.0 / rank`` double — same operand, same
    IEEE division — and the means run over exact hit counts.

    Returns (group, first_hit_rank nullable, rr, hit_at_k).
    """
    from pyspark.sql import functions as F

    top = df.filter(F.col(rank_col) <= k)
    agg = top.groupBy(group_col).agg(
        F.min(
            F.when(F.col(rel_col) > 0, F.col(rank_col))
        ).alias("first_hit_rank")
    )
    return agg.select(
        group_col,
        "first_hit_rank",
        F.round(
            F.coalesce(
                F.lit(1.0) / F.col("first_hit_rank").cast("double"),
                F.lit(0.0),
            ),
            dp,
        ).alias("rr"),
        F.col("first_hit_rank").isNotNull().alias("hit_at_k"),
    )


def isotonic_fit_bins(
    df,
    label: str = "y",
    score: str = "p",
    bins: int = 16,
    dp: int = 6,
):
    """Isotonic (monotone non-decreasing) calibration over score bins —
    the post-hoc calibrator actually shipped with ranking models.

    The per-bin positive rates are pooled by the CLOSED-FORM min-max
    characterization of the PAVA solution:
    ``iso(k) = max over i <= k of ( min over j >= k of
    pooled_rate(i..j) )`` where ``pooled_rate(i..j)`` is the exact
    integer ratio sum(pos) / sum(n) over the bin range. This replaces
    the sequential pool-adjacent-violators loop with set algebra, so it
    runs as joins over the (tiny, parameter-bounded) bin table and a
    SQL oracle can replay it verbatim. All ratios are doubles derived
    from exact integer prefix sums — engine-identical.

    Returns one row per non-empty bin:
    (bin, n, pos, rate, iso_rate) with rates rounded to ``dp``.
    Complexity: the triple (i, k, j) range join is bins^3 rows —
    ``bins`` is validated <= 64 (the readout is parameter-bounded,
    never data-bounded).
    """
    from pyspark.sql import Window, functions as F

    if not 0 < bins <= 64:
        raise ValueError(
            f"isotonic_fit_bins: bins={bins} outside (0, 64] — the "
            "min-max pooling is bins^3 on a single partition by design"
        )
    s = F.col(score).cast("double")
    y = F.col(label).cast("double")
    b = F.least(F.floor(s * bins).cast("int"), F.lit(bins - 1))
    agg = (
        df.select(b.alias("bin"), y.alias("_y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_y").cast("long").alias("pos"),
        )
    )
    # prefix sums over the parameter-bounded bin table (<= bins rows)
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = agg.select(
        "bin", "n", "pos",
        F.sum("n").over(w).alias("_cn"),
        F.sum("pos").over(w).alias("_cp"),
    )
    lo = cum.select(
        F.col("bin").alias("_i"),
        (F.col("_cn") - F.col("n")).alias("_cn_lo"),
        (F.col("_cp") - F.col("pos")).alias("_cp_lo"),
    )
    hi = cum.select(
        F.col("bin").alias("_j"),
        F.col("_cn").alias("_cn_hi"),
        F.col("_cp").alias("_cp_hi"),
    )
    pair = lo.join(hi, F.col("_i") <= F.col("_j")).select(
        "_i", "_j",
        (
            (F.col("_cp_hi") - F.col("_cp_lo")).cast("double")
            / (F.col("_cn_hi") - F.col("_cn_lo")).cast("double")
        ).alias("_avg"),
    )
    ks = agg.select(F.col("bin").alias("_k"))
    inner = (
        pair.join(ks, (F.col("_i") <= F.col("_k")) & (F.col("_j") >= F.col("_k")))
        .groupBy("_k", "_i")
        .agg(F.min("_avg").alias("_m"))
    )
    iso = inner.groupBy("_k").agg(F.max("_m").alias("_iso"))
    return (
        agg.join(iso, agg.bin == iso._k)
        .select(
            "bin", "n", "pos",
            F.round(
                F.col("pos").cast("double") / F.col("n").cast("double"), dp
            ).alias("rate"),
            F.round(F.col("_iso"), dp).alias("iso_rate"),
        )
    )
