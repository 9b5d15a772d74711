"""Mergeable frequency sketches: count-min (CMS) build / query / merge.

Why at 100 TB: exact per-key counts of an unbounded key space (tokens,
URLs, user agents) shuffle one row per distinct key; a CMS compresses the
whole distribution into a fixed (depth x width) integer matrix that
merges associatively across partitions, days, or datasets — the
frequency analog of the HLL distinct sketches in
``operators/structural.py``. Estimates are upper bounds: overestimate
only (by collision mass ~ N/width per row, min over depth rows).

Everything is exact integer arithmetic over portable md5 bucket hashes
(``operators/corpus.hash_bucket``), so sketch contents — not just
behavior — are reproducible in any engine; the DuckDB oracle rebuilds
the identical matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .._fixed import CENTS, grid_nonneg, ungrid
from .corpus import hash_bucket

__all__ = [
    "cms_build",
    "cms_query",
    "cms_merge",
    "cms_join_size",
    "kmv_build",
    "kmv_jaccard",
    "quantile_sketch_build",
    "quantile_sketch_merge",
    "quantile_sketch_estimate",
]


def cms_build(
    df: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    seed: int = 0,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the CMS counts matrix (row, bucket, cnt) from a key stream.

    One explode (depth small structs per input row) + one partial-agg
    groupBy((row, bucket)) — shuffle volume is bounded by depth x width
    rows after map-side combine, REGARDLESS of input size or key
    cardinality. ``weight_col`` accumulates weighted counts (defaults
    to 1 per row).
    """
    cells = F.array(
        *[
            F.struct(
                F.lit(d).alias("row"),
                hash_bucket(F.col(key_col), width, seed=seed * 1000 + d).alias(
                    "bucket"
                ),
            )
            for d in range(depth)
        ]
    )
    w = (
        F.col(weight_col).cast("long")
        if weight_col
        else F.lit(1).cast("long")
    )
    return (
        df.select(F.explode(cells).alias("_c"), w.alias("_w"))
        .select("_c.row", "_c.bucket", "_w")
        .groupBy("row", "bucket")
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_query(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    seed: int = 0,
) -> DataFrame:
    """Point-query the sketch for each key: estimate = min over depth
    rows of the key's bucket counts (absent cells are 0). The sketch is
    depth x width tiny, so it broadcasts; the probe never shuffles.
    Returns the keys plus ``cms_estimate`` (an upper bound on the true
    count)."""
    probes = keys.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("row"),
                        hash_bucket(
                            F.col(key_col), width, seed=seed * 1000 + d
                        ).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("_c"),
    ).select(key_col, "_c.row", "_c.bucket")
    joined = probes.join(F.broadcast(cms), ["row", "bucket"], "left").select(
        key_col, F.coalesce("cnt", F.lit(0)).alias("_cell")
    )
    return joined.groupBy(key_col).agg(
        F.min("_cell").alias("cms_estimate")
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two sketches built with the same (width, depth, seed):
    cell-wise addition — associative and commutative, so partial
    sketches from any partitioning of the data combine exactly."""
    return (
        a.unionAll(b)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def quantile_sketch_build(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Mergeable quantile sketch: per group, exact counts in power-of-two
    buckets of the value in cents (``bucket = floor(log2(cents))`` via
    the binary-digit-count trick — pure integer arithmetic,
    engine-portable). At most ~64 buckets per group regardless of data
    volume, so the sketch shuffles a fixed few rows per group and merges
    by cell-wise addition, like the CMS/HLL states. Estimation error is
    bounded by the bucket width (a factor-2 relative band, interpolated
    inside).

    Non-negative values only (quantile screens on money/duration/size
    columns): a negative value raises, since ``bin()`` of a negative
    BIGINT is its two's complement and would land in bucket 63.
    """
    c = grid_nonneg(value_col, CENTS, "quantile_sketch_build")
    bucket = F.length(F.bin(c)) - 1
    return (
        df.select(*group_cols, bucket.alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def quantile_sketch_merge(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Cell-wise addition — associative, so partial sketches from any
    split of the data combine exactly."""
    return (
        a.unionAll(b)
        .groupBy(*group_cols, "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def quantile_sketch_estimate(
    sketch: DataFrame,
    group_cols: list[str],
    q: float,
    dp: int = 4,
) -> DataFrame:
    """Estimate the q-quantile per group from the sketch: find the
    bucket containing rank ``ceil(q * n)`` on the cumulative counts and
    interpolate linearly inside its [2^b, 2^(b+1)) range. All rank
    arithmetic is integer-exact; only the final interpolation divides —
    in a fixed expression order, so estimates are engine-identical."""
    w = Window.partitionBy(*group_cols).orderBy("bucket")
    wall = Window.partitionBy(*group_cols)
    cum = sketch.select(
        *group_cols,
        "bucket",
        "cnt",
        F.sum("cnt").over(w).alias("_cum"),
        F.sum("cnt").over(wall).alias("_n"),
    )
    rank = F.greatest(
        F.ceil(F.lit(q) * F.col("_n")).cast("long"), F.lit(1)
    )
    hit = cum.filter(F.col("_cum") >= rank).withColumn(
        "_rn",
        F.row_number().over(w),
    ).filter(F.col("_rn") == 1)
    # shiftleft with a COLUMN bit count only exists in SQL form
    lo = ungrid(
        F.expr(
            "cast(if(bucket >= 1, shiftleft(cast(1 as bigint), bucket), 0) as double)"
        ),
        CENTS,
    )
    hi = ungrid(
        F.expr("cast(shiftleft(cast(1 as bigint), bucket + 1) as double)"), CENTS
    )
    prev = F.col("_cum") - F.col("cnt")
    frac = (rank - prev).cast("double") / F.col("cnt").cast("double")
    return hit.select(
        *group_cols,
        F.round(lo + (hi - lo) * frac, dp).alias(f"q{int(q * 100)}_est"),
        F.col("_n").alias("n"),
    )


def cms_join_size(cms_a: DataFrame, cms_b: DataFrame) -> DataFrame:
    """Estimate an equi-join's output cardinality WITHOUT running the
    join: for sketches of the two key streams built with the same
    (width, depth, seed), the inner product of each depth row
    sum_b a[d,b] * b[d,b] upper-bounds sum_k f_a(k) * f_b(k) = |A join B|;
    the min over depth rows is the estimate (AGMS/count-min inner
    product). Returns one row: (est_pairs BIGINT).

    Why at 100 TB: join-size estimation is the planning question behind
    shuffle sizing, skew salting, and broadcast decisions; this answers
    it from two depth x width integer matrices that were built with one
    map-side-combined pass per table — no shuffle of the tables, no
    join. Exact integer arithmetic end to end, so the estimate is
    engine-reproducible (oracled), unlike sampled estimators.
    """
    a = cms_a.select("row", "bucket", F.col("cnt").alias("_ca"))
    b = cms_b.select("row", "bucket", F.col("cnt").alias("_cb"))
    joined = (
        a.join(b, ["row", "bucket"])
        .groupBy("row")
        .agg(
            F.sum(
                (F.col("_ca") * F.col("_cb")).cast("decimal(38,0)")
            ).alias("_dot")
        )
    )
    # a depth row with NO shared bucket has dot 0 — it must win the min
    # (disjoint key sets estimate 0), so rebuild the full row list and
    # coalesce before taking the min
    rows = cms_a.select("row").distinct()
    per_row = rows.join(joined, "row", "left").select(
        F.coalesce(F.col("_dot"), F.lit(0).cast("decimal(38,0)")).alias("_dot")
    )
    return per_row.agg(F.min("_dot").cast("long").alias("est_pairs"))


def _kmv_hash(col) -> "F.Column":
    # 60-bit positive integer from md5 — deterministic and identical in
    # any engine with md5 (same trick as corpus.hash_bucket)
    return F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def kmv_build(df: DataFrame, key_col: str, k: int = 256) -> DataFrame:
    """K-minimum-values (bottom-k) sketch of a key SET: the k smallest
    60-bit md5 hashes of the distinct keys. Returns (h) rows, at most k.

    The KMV synopsis supports distinct-count estimation and — unlike
    HLL — set-overlap estimates between sketches (union via merge,
    intersection via the shared-members trick in :func:`kmv_jaccard`).
    Deterministic md5 hashing means the sketch CONTENT is reproducible
    in any engine, so estimates are oracle-checkable, unlike sampled
    or randomized synopses.

    One distinct + one top-k (Spark's TakeOrdered — per-partition heap,
    merge of k-sized heads; never a global sort of all keys).
    """
    return (
        df.select(_kmv_hash(key_col).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_jaccard(a: DataFrame, b: DataFrame, k: int = 256) -> DataFrame:
    """Jaccard similarity estimate between two KMV sketches built with
    the same k: take the k smallest hashes of the sketch UNION; the
    fraction of those present in BOTH input sketches estimates
    |A intersect B| / |A union B| (Beyer et al. 2007). Returns one row
    (k_used, n_shared, est_jaccard).

    Everything is exact integer arithmetic on <= 3k hash values, so two
    corpora's overlap is estimated without ever joining their full key
    sets — the sketch answer to "how much does this crawl overlap the
    last one" at 100 TB.
    """
    union_k = (
        a.select("h").union(b.select("h")).distinct().orderBy("h").limit(k)
    )
    shared = union_k.join(a.select("h"), "h", "left_semi").join(
        b.select("h"), "h", "left_semi"
    )
    nk = union_k.agg(F.count(F.lit(1)).alias("k_used"))
    ns = shared.agg(F.count(F.lit(1)).alias("n_shared"))
    return nk.crossJoin(ns).select(
        "k_used",
        "n_shared",
        F.round(
            F.when(
                F.col("k_used") > 0,
                F.col("n_shared").cast("double") / F.col("k_used").cast("double"),
            ),
            6,
        ).alias("est_jaccard"),
    )
