"""Feature-engineering scalar functions (SURVEY §2.9).

The reference's feature pipeline (``docs/tutorial/ranking/data.py:148-193``)
applies: sentinel imputation, log1p, min-max/constant normalization, cast,
modulo hash-bucketing, and hashing. All are pure Column expressions — they
stay in whole-stage codegen and cost nothing extra at scale.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, functions as F

from .._fixed import CENTS, MICRO, grid, grid_moments, ungrid

__all__ = [
    "impute",
    "log1p_feature",
    "normalize",
    "mod_bucket",
    "hash_bucket",
    "concat_features",
    "standard_scale",
    "target_encode",
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def impute(col: Column | str, default: Any, valid_min: Any = 0) -> Column:
    """Sentinel imputation: ``where(x >= valid_min, x, default)`` —
    reference ``data.py:151-156`` (missingness is encoded as negative
    sentinels, not nulls). Nulls also map to ``default``."""
    c = _c(col)
    return F.when(c.isNotNull() & (c >= F.lit(valid_min)), c).otherwise(F.lit(default))


def log1p_feature(col: Column | str) -> Column:
    """``log(1 + x)`` transform (reference ``data.py:158-160``)."""
    return F.log1p(_c(col).cast("double"))


def normalize(col: Column | str, norm: float) -> Column:
    """Constant normalization ``x / norm`` (reference ``data.py:161-163``)."""
    return _c(col).cast("double") / F.lit(float(norm))


def mod_bucket(col: Column | str, num_buckets: int) -> Column:
    """Non-negative modulo bucketing ``id % n`` (reference ``data.py:179``;
    the partitioner behind sharded lookup, ``partition_by_modulo_ops.cc``)."""
    return F.pmod(_c(col), F.lit(num_buckets))


def hash_bucket(col: Column | str, num_buckets: int, seed: int = 42) -> Column:
    """Hash bucketing via xxhash64 (stand-in for the reference's murmur3
    GPU hash, ``common/murmur3.cu.h``): uniform even for skewed id spaces."""
    return F.pmod(F.xxhash64(_c(col), F.lit(seed)), F.lit(num_buckets))


def concat_features(*cols: Column | str) -> Column:
    """Dense-feature concat into one array (reference keras layer,
    ``keras/layers/__init__.py:29-46``)."""
    return F.array(*[_c(c).cast("double") for c in cols])


def standard_scale(df, cols, dp: int = 6):
    """Fitted z-score scaling ``(x - mean) / std`` with ENGINE-EXACT
    statistics: sum and sum-of-squares accumulate on the integer cents
    grid (:mod:`hybridbackend_spark._fixed`), so the fitted mean/std are
    bit-identical across partitionings and engines.

    Plan shape: ONE fused aggregation job for all columns' stats (tiny
    1-row result), broadcast cross-joined back — the standard fit/apply
    split without a driver round trip inside the plan. Appends
    ``<col>_z`` columns rounded to ``dp``.

    Population std (divide by n), matching the reference's feature
    normalization convention. Columns with zero variance yield null z
    (0/0) rather than exploding.
    """
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        q = grid(c, CENTS)
        aggs.append(F.sum(q).alias(f"_s_{c}"))
        aggs.append(F.sum((q * q).cast("decimal(38,0)")).alias(f"_ss_{c}"))
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        mean, var = grid_moments(
            F.col("_n"), F.col(f"_s_{c}"), F.col(f"_ss_{c}"), CENTS
        )
        out = out.withColumn(
            f"{c}_z",
            F.when(
                var > 0,
                F.round((F.col(c).cast("double") - mean) / F.sqrt(var), dp),
            ),  # zero variance -> null (ANSI mode forbids the 0/0)
        )
    return out.drop("_n", *[f"_s_{c}" for c in cols], *[f"_ss_{c}" for c in cols])


def target_encode(
    df,
    cat_col: str,
    target_col: str,
    smoothing: float = 10.0,
    loo: bool = True,
    out_col: str | None = None,
    dp: int = 6,
):
    """Smoothed target (mean) encoding of a categorical column — the
    high-cardinality-categorical workhorse the reference handles with
    embedding tables, available here as a closed-form statistic:

        enc = (sum_cat - own + prior * m) / (n_cat - own_n + m)

    with ``prior`` the global target mean and ``m = smoothing``.
    ``loo=True`` (leave-one-out) excludes the row's OWN target from its
    category statistic — the standard leakage guard for training-time
    encoding; ``loo=False`` gives the plain smoothed category mean for
    serving.

    All sums are exact integers on the cents grid (as in
    :func:`standard_scale`), so encodings are bit-identical across
    engines and layouts. One category aggregate + one scalar prior,
    both broadcast back; the fact table never reshuffles.
    """
    from pyspark.sql import functions as F

    out_col = out_col or f"{cat_col}_te"
    q = grid(target_col, CENTS)
    cat = df.groupBy(cat_col).agg(
        F.sum(q).alias("_cs"), F.count(F.lit(1)).alias("_cn")
    )
    tot = df.agg(
        F.sum(q).alias("_ts"), F.count(F.lit(1)).alias("_tn")
    )
    joined = df.join(F.broadcast(cat), cat_col).join(F.broadcast(tot))
    prior = ungrid(F.col("_ts"), CENTS) / F.col("_tn").cast("double")
    if loo:
        num = ungrid(F.col("_cs") - q, CENTS) + prior * smoothing
        den = (F.col("_cn") - 1).cast("double") + F.lit(smoothing)
    else:
        num = ungrid(F.col("_cs"), CENTS) + prior * smoothing
        den = F.col("_cn").cast("double") + F.lit(smoothing)
    return joined.withColumn(out_col, F.round(num / den, dp)).drop(
        "_cs", "_cn", "_ts", "_tn"
    )


def woe_iv(
    df,
    cat_col: str,
    label_col,
    dp: int = 6,
):
    """Weight-of-evidence / information-value profile of a categorical
    feature against a binary label — the credit-scoring / feature-
    selection standard.

    WOE is computed in WHOLE BITS with exact integer arithmetic
    (``floor(log2 .)`` = binary digit count, the same trick as
    ``corpus.unigram_surprisal``):

        woe_bits = [bits(pos_c) + bits(neg_total)]
                 - [bits(neg_c) + bits(pos_total)]

    which is the floor-log2 form of log2((pos_c/pos_t)/(neg_c/neg_t))
    (each floor taken per factor, so products never overflow). The IV
    term multiplies the exact rate difference by that integer — micro-
    quantized before any cross-category sum a caller does. Categories
    with a zero class count get NULL woe (undefined in the standard
    definition) and a 0 IV term. Exact on any engine and partitioning.

    One partial+final count aggregation; the two class totals broadcast
    as a single row. Returns (category, pos_c, neg_c, woe_bits,
    iv_term).
    """
    from pyspark.sql import functions as F

    lab = label_col if not isinstance(label_col, str) else F.col(label_col)
    counts = df.groupBy(F.col(cat_col).alias("category")).agg(
        F.sum(F.when(lab, 1).otherwise(0)).cast("long").alias("pos_c"),
        F.sum(F.when(lab, 0).otherwise(1)).cast("long").alias("neg_c"),
    )
    totals = counts.agg(
        F.sum("pos_c").alias("pos_t"), F.sum("neg_c").alias("neg_t")
    )
    bits = lambda c: F.length(F.bin(c)) - 1
    woe = (bits(F.col("pos_c")) + bits(F.col("neg_t"))) - (
        bits(F.col("neg_c")) + bits(F.col("pos_t"))
    )
    rate_diff = F.col("pos_c").cast("double") / F.col("pos_t").cast(
        "double"
    ) - F.col("neg_c").cast("double") / F.col("neg_t").cast("double")
    defined = (F.col("pos_c") > 0) & (F.col("neg_c") > 0)
    iv_term = F.when(
        defined,
        ungrid(grid(rate_diff * woe.cast("double"), MICRO), MICRO),
    ).otherwise(0.0)
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "category",
            "pos_c",
            "neg_c",
            F.when(defined, woe.cast("long")).alias("woe_bits"),
            F.round(iv_term, dp).alias("iv_term"),
        )
    )


def winsorize(
    df,
    value_col: str,
    lo_128: int = 1,
    hi_128: int = 127,
    out_col: str = "clipped",
):
    """Winsorize (clip) an INTEGER-GRID value column at dyadic quantile
    fractions ``lo_128/128`` and ``hi_128/128``.

    Why dyadic fractions: linear quantile interpolation
    ``a + (b - a) * frac`` between integer-grid data points is EXACT in
    double when ``frac`` has <= 7 fractional bits (every term is a
    multiple of 2^-7 below 2^53) — so the clip boundaries, and therefore
    every clipped value, are bit-identical across engines and
    partitionings. Arbitrary fractions (0.01/0.99) cannot make that
    guarantee. Boundaries come from the fully distributed
    :func:`~..operators.analytics.percentile_bounds_dist` (round 13 —
    the builtin percentile merges every partition's value buffer in ONE
    reduce task; the distributed form is bit-identical on this
    operator's integer-grid + dyadic-fraction contract), broadcast as a
    single row; the clip itself is a map-side ``least/greatest``.
    """
    from pyspark.sql import functions as F

    from ..operators.analytics import percentile_bounds_dist

    lo, hi = lo_128 / 128.0, hi_128 / 128.0
    bounds = percentile_bounds_dist(df, value_col, [lo, hi])
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            out_col,
            F.least(
                F.greatest(F.col(value_col).cast("double"), F.element_at("_b", 1)),
                F.element_at("_b", 2),
            ),
        )
        .drop("_b")
    )


def target_encode_loo(
    df,
    cat_col: str,
    label_col: str,
    alpha: int = 20,
    out_prefix: str = "te",
):
    """Leave-one-out target encoding with additive smoothing — the
    high-cardinality categorical encoder of gradient-boosting / CTR
    training pipelines (reference parity: the embedding-lookup family
    solves the same high-cardinality problem with learned vectors;
    target encoding is its closed-form statistical sibling).

    For row i in category c with binary label y_i:

        enc_i = (pos_c - y_i + alpha * prior) / (n_c - 1 + alpha),
        prior = pos_total / n_total

    Leaving the row's own label out kills the single-row leakage that
    makes naive target encoding overfit; ``alpha`` shrinks rare
    categories toward the prior.

    Exact by construction: with integer ``alpha`` the encode is the
    single division of two int64s

        num_i = (pos_c - y_i) * n_total + alpha * pos_total
        den_i = (n_c - 1 + alpha) * n_total

    both emitted alongside the double, so the result hash-checks
    cross-engine. Plan shape: one groupBy on the category (partial
    aggs), one 1-row global agg broadcast, one co-partitioned join back
    on the category key — no window, no per-row state. At 100 TB the
    category agg is the only shuffle and it is map-combined.
    """
    from pyspark.sql import functions as F

    y = F.col(label_col).cast("long")
    cat_stats = df.groupBy(cat_col).agg(
        F.count(F.lit(1)).alias(f"{out_prefix}_n_cat"),
        F.sum(y).alias(f"{out_prefix}_pos_cat"),
    )
    glob = df.agg(
        F.count(F.lit(1)).alias("_n_total"),
        F.sum(y).alias("_pos_total"),
    )
    n_cat = F.col(f"{out_prefix}_n_cat")
    pos_cat = F.col(f"{out_prefix}_pos_cat")
    num = (pos_cat - y) * F.col("_n_total") + alpha * F.col("_pos_total")
    den = (n_cat - 1 + alpha) * F.col("_n_total")
    return (
        df.join(cat_stats, cat_col)
        .crossJoin(F.broadcast(glob))
        .withColumn(f"{out_prefix}_num", num.cast("long"))
        .withColumn(f"{out_prefix}_den", den.cast("long"))
        .withColumn(
            out_prefix,
            F.col(f"{out_prefix}_num").cast("double")
            / F.col(f"{out_prefix}_den").cast("double"),
        )
        .drop("_n_total", "_pos_total")
    )
