from pyspark.sql import functions as F

from hybridbackend_spark.operators.sketch import cms_build, cms_merge, cms_query


def _stream(spark):
    # zipf-ish: token i appears (40 - i) times
    rows = []
    for i in range(40):
        rows += [(f"tok{i}",)] * (40 - i)
    return spark.createDataFrame(rows, "k: string")


def test_cms_upper_bound_and_heavy_hitter_accuracy(spark):
    df = _stream(spark)
    cms = cms_build(df, "k", width=64, depth=4)
    keys = df.distinct()
    est = {r["k"]: r["cms_estimate"] for r in
           cms_query(cms, keys, "k", width=64, depth=4).collect()}
    exact = {r["k"]: r["n"] for r in
             df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    # CMS never underestimates
    assert all(est[k] >= exact[k] for k in exact)
    # with width >> heavy mass the top token is exact or near-exact
    assert est["tok0"] <= exact["tok0"] + sum(exact.values()) // 64 * 4


def test_cms_merge_equals_full_build(spark):
    df = _stream(spark)
    a = df.filter(F.xxhash64("k") % 2 == 0)
    b = df.filter(F.xxhash64("k") % 2 != 0)
    merged = cms_merge(
        cms_build(a, "k", width=32, depth=3),
        cms_build(b, "k", width=32, depth=3),
    )
    full = cms_build(df, "k", width=32, depth=3)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_cms_weighted_counts(spark):
    df = spark.createDataFrame([("a", 5), ("a", 7), ("b", 1)], ["k", "w"])
    cms = cms_build(df, "k", width=16, depth=2, weight_col="w")
    est = {r["k"]: r["cms_estimate"] for r in
           cms_query(cms, df.select("k").distinct(), "k", width=16, depth=2).collect()}
    assert est["a"] >= 12 and est["b"] >= 1


def test_quantile_sketch_accuracy_and_merge(spark):
    import random

    from hybridbackend_spark.operators.sketch import (
        quantile_sketch_build,
        quantile_sketch_estimate,
        quantile_sketch_merge,
    )

    rng = random.Random(3)
    rows = [("g", rng.uniform(1.0, 1000.0)) for _ in range(2000)]
    df = spark.createDataFrame(rows, "g: string, v: double")
    sk = quantile_sketch_build(df, ["g"], "v")
    est = quantile_sketch_estimate(sk, ["g"], 0.9).collect()[0]
    exact = sorted(v for _, v in rows)[int(0.9 * 2000) - 1]
    # log-bucket sketch: factor-2 relative band around the true quantile
    assert exact / 2 <= est["q90_est"] <= exact * 2
    assert est["n"] == 2000

    # merge of halves == full build (exact integer cells)
    a = spark.createDataFrame(rows[:1000], "g: string, v: double")
    b = spark.createDataFrame(rows[1000:], "g: string, v: double")
    merged = quantile_sketch_merge(
        quantile_sketch_build(a, ["g"], "v"),
        quantile_sketch_build(b, ["g"], "v"),
        ["g"],
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, sk.collect())
    )


def test_quantile_sketch_within_bucket_interpolation(spark):
    from hybridbackend_spark.operators.sketch import (
        quantile_sketch_build,
        quantile_sketch_estimate,
    )

    # all values in one bucket [1.28, 2.56): estimate interpolates inside
    df = spark.createDataFrame(
        [("g", 1.30 + 0.01 * i) for i in range(100)], "g: string, v: double"
    )
    sk = quantile_sketch_build(df, ["g"], "v")
    assert sk.count() == 1
    est = quantile_sketch_estimate(sk, ["g"], 0.5).collect()[0]["q50_est"]
    assert 1.28 <= est <= 2.56


def test_quantile_sketch_rejects_negative_values(spark):
    import pytest

    from hybridbackend_spark.operators.sketch import quantile_sketch_build

    # bin() of a negative BIGINT is its two's complement: (-5, -3, -1, 2)
    # used to land in bucket 63 and estimate q50 as -6.1e16
    neg = spark.createDataFrame(
        [("g", v) for v in (-5.0, -3.0, -1.0, 2.0)], "g: string, v: double"
    )
    with pytest.raises(Exception, match="quantile_sketch_build: negative value"):
        quantile_sketch_build(neg, ["g"], "v").collect()
    # NULL passes the guard and keeps its NULL bucket
    nul = spark.createDataFrame([("g", None), ("g", 2.0)], "g: string, v: double")
    got = sorted(
        (r.bucket is None, r.cnt)
        for r in quantile_sketch_build(nul, ["g"], "v").collect()
    )
    assert got == [(False, 1), (True, 1)]


def test_kmv_jaccard_estimates_overlap(spark):
    from pyspark.sql import functions as F
    from hybridbackend_spark.operators.sketch import kmv_build, kmv_jaccard

    # |A|=2000, |B|=2000, overlap 1000 -> true J = 1000/3000 = 1/3
    a = spark.range(0, 2000).select(F.col("id").alias("k"))
    b = spark.range(1000, 3000).select(F.col("id").alias("k"))
    est = kmv_jaccard(kmv_build(a, "k", 256), kmv_build(b, "k", 256), 256)
    row = est.collect()[0]
    assert row.k_used == 256
    assert abs(row.est_jaccard - 1 / 3) < 0.12  # sketch error band


def test_kmv_identical_and_disjoint_sets(spark):
    from pyspark.sql import functions as F
    from hybridbackend_spark.operators.sketch import kmv_build, kmv_jaccard

    a = spark.range(0, 500).select(F.col("id").alias("k"))
    same = kmv_jaccard(kmv_build(a, "k", 128), kmv_build(a, "k", 128), 128)
    assert same.collect()[0].est_jaccard == 1.0
    b = spark.range(10000, 10500).select(F.col("id").alias("k"))
    disj = kmv_jaccard(kmv_build(a, "k", 128), kmv_build(b, "k", 128), 128)
    assert disj.collect()[0].est_jaccard == 0.0


def test_kmv_build_bounded_and_sorted(spark):
    from pyspark.sql import functions as F
    from hybridbackend_spark.operators.sketch import kmv_build

    df = spark.range(0, 10000).select(F.col("id").alias("k"))
    rows = [r.h for r in kmv_build(df, "k", 64).collect()]
    assert len(rows) == 64
    assert all(h >= 0 for h in rows)  # 60-bit positive


def test_k_anonymize_suppresses_small_groups(spark):
    from pyspark.sql import functions as F
    from hybridbackend_spark.operators.quality import k_anonymize

    rows = [(100.0 + i, "A") for i in range(10)] + [(5000.0, "B")]
    df = spark.createDataFrame(rows, "bal double, seg string")
    out = k_anonymize(
        df,
        {"band": F.floor(F.col("bal") / 1000.0).cast("long"), "seg": F.col("seg")},
        k=5,
    ).collect()
    assert len(out) == 1  # the lone B row is suppressed
    assert out[0].band == 0 and out[0].seg == "A" and out[0].n_group == 10
