import random

import pytest

from hybridbackend_spark.functions.metrics import (
    accuracy,
    auc,
    auc_histogram,
    gauc,
    streaming_mean,
)


def _sklearn_free_auc(pairs):
    """Exact rank AUC oracle in pure python (ties get half credit)."""
    pos = [s for y, s in pairs if y == 1]
    neg = [s for y, s in pairs if y == 0]
    total = 0.0
    for p in pos:
        for n in neg:
            total += 1.0 if p > n else (0.5 if p == n else 0.0)
    return total / (len(pos) * len(neg))


def test_streaming_mean(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (6.0,)], "x: double")
    assert streaming_mean(df, "x").collect()[0]["mean"] == 3.0


def test_accuracy(spark):
    df = spark.createDataFrame([(1, 1), (0, 1), (0, 0), (1, 1)], "y: int, p: int")
    assert accuracy(df, "y", "p").collect()[0]["accuracy"] == 0.75


def test_auc_exact(spark):
    random.seed(0)
    pairs = [(random.randint(0, 1), round(random.random(), 2)) for _ in range(300)]
    df = spark.createDataFrame(pairs, "y: int, s: double")
    got = auc(df, "y", "s").collect()[0]["auc"]
    assert got == pytest.approx(_sklearn_free_auc(pairs), abs=1e-12)


def test_auc_perfect_and_inverted(spark):
    df = spark.createDataFrame([(0, 0.1), (0, 0.2), (1, 0.8), (1, 0.9)], "y: int, s: double")
    assert auc(df, "y", "s").collect()[0]["auc"] == 1.0
    inv = spark.createDataFrame([(1, 0.1), (0, 0.9)], "y: int, s: double")
    assert auc(inv, "y", "s").collect()[0]["auc"] == 0.0


def test_auc_histogram_converges(spark):
    random.seed(1)
    pairs = [(random.randint(0, 1), random.random()) for _ in range(2000)]
    df = spark.createDataFrame(pairs, "y: int, s: double")
    exact = _sklearn_free_auc(pairs)
    approx = auc_histogram(df, "y", "s", num_thresholds=500).collect()[0]["auc"]
    assert approx == pytest.approx(exact, abs=0.01)


def test_auc_histogram_degenerate_single_class_and_empty(spark):
    """Single-class and empty inputs return a 1-row NULL instead of
    ANSI-aborting on the /P (or /N) normalization — PR needs positives,
    ROC needs both classes, and an empty frame sums to NULL totals."""
    from hybridbackend_spark.functions.metrics import auc_histogram

    all_neg = spark.createDataFrame(
        [(0, 0.2), (0, 0.7)], "y: int, s: double"
    )
    all_pos = spark.createDataFrame(
        [(1, 0.2), (1, 0.7)], "y: int, s: double"
    )
    empty = all_neg.filter("s > 10")
    for curve in ("ROC", "PR"):
        for df in (all_neg, empty):
            rows = auc_histogram(df, "y", "s", curve=curve).collect()
            assert len(rows) == 1 and rows[0]["auc"] is None
    # all-positive: PR is undefined-free (P > 0) but ROC lacks negatives
    rows = auc_histogram(all_pos, "y", "s", curve="ROC").collect()
    assert len(rows) == 1 and rows[0]["auc"] is None


def test_gauc(spark):
    random.seed(2)
    rows = []
    expect_num = expect_den = 0.0
    for g in range(5):
        pairs = [(random.randint(0, 1), round(random.random(), 2)) for _ in range(80)]
        rows += [(g, y, s) for y, s in pairs]
        pos = sum(1 for y, _ in pairs if y == 1)
        if 0 < pos < len(pairs):
            expect_num += _sklearn_free_auc(pairs) * len(pairs)
            expect_den += len(pairs)
    df = spark.createDataFrame(rows, "g: int, y: int, s: double")
    got = gauc(df, "g", "y", "s").collect()[0]["gauc"]
    assert got == pytest.approx(expect_num / expect_den, abs=1e-12)


def test_gauc_skips_single_class_groups(spark):
    rows = [(0, 1, 0.5), (0, 1, 0.6), (1, 1, 0.9), (1, 0, 0.1)]
    df = spark.createDataFrame(rows, "g: int, y: int, s: double")
    assert gauc(df, "g", "y", "s").collect()[0]["gauc"] == 1.0


def test_auc_histogram_pr_interpolated(spark):
    import math

    import pytest

    from hybridbackend_spark.functions.metrics import auc_histogram

    rows = [
        (1.0, 0.91), (1.0, 0.85), (0.0, 0.78), (1.0, 0.66), (0.0, 0.61),
        (1.0, 0.52), (0.0, 0.44), (0.0, 0.35), (1.0, 0.22), (0.0, 0.15),
    ]
    df = spark.createDataFrame(rows, "y: double, s: double")
    got = auc_histogram(df, "y", "s", num_thresholds=20, curve="PR").collect()[0][0]

    # independent reference implementation of careful interpolation
    T = 20
    hist = {}
    for y, s in rows:
        b = min(T - 1, int(s * T))
        p, n = hist.get(b, (0.0, 0.0))
        hist[b] = (p + y, n + (1.0 - y))
    P = sum(p for p, _ in hist.values())
    bs = sorted(hist)
    tp = fp = 0.0
    cum = {}
    for b in reversed(bs):
        tp += hist[b][0]
        fp += hist[b][1]
        cum[b] = (tp, fp)
    expect = 0.0
    for i, b in enumerate(bs):
        tp1, fp1 = cum[b]
        tp2, fp2 = cum[bs[i + 1]] if i + 1 < len(bs) else (0.0, 0.0)
        p1, p2 = tp1 + fp1, tp2 + fp2
        dtp, dp = tp1 - tp2, p1 - p2
        slope = dtp / dp if dp > 0 else 0.0
        intercept = tp2 - slope * p2
        lr = math.log(p1 / p2) if p1 > 0 and p2 > 0 else 0.0
        expect += slope * (dtp + intercept * lr) / P
    assert got == pytest.approx(expect, abs=1e-12)
    # PR-AUC of a decent ranker sits between prevalence (0.5) and 1
    assert 0.5 < got < 1.0

    with pytest.raises(NotImplementedError):
        auc_histogram(df, "y", "s", curve="XYZ")


def _reference_gauc_replica(rows, weight="count"):
    """Straight Python port of the reference kernel's semantics
    (metrics/gauc.cc:40-66 ComputeGauc + GaucCalcOp caller): per group,
    sort by (prediction, order), sweep auc += (fp2-fp1)*(tp2+tp1) per
    row, 1 - auc/(2*tp2*fp2); drop single-class groups; weighted mean
    by group size. ``rows`` = [(group, label, score, order)]."""
    from collections import defaultdict

    groups = defaultdict(list)
    for g, l, s, o in rows:
        groups[g].append((s, o, float(l)))
    aucs, weights = [], []
    for g, items in groups.items():
        items.sort(key=lambda t: (t[0], t[1]))
        fp1 = tp1 = fp2 = tp2 = auc = 0.0
        for s, o, lab in items:
            fp2 += 1.0 - lab
            tp2 += lab
            auc += (fp2 - fp1) * (tp2 + tp1)
            fp1, tp1 = fp2, tp2
        n = len(items)
        threshold = n - 1e-3
        if tp2 > threshold or fp2 > threshold:
            continue  # kernel returns -0.5, caller drops auc < 0
        if tp2 * fp2 > 0:
            aucs.append(1.0 - auc / (2.0 * tp2 * fp2))
            weights.append(n if weight == "count" else 1.0)
    return sum(a * w for a, w in zip(aucs, weights)) / sum(weights)


def test_gauc_reference_tie_mode_matches_cpp_replica(spark):
    # heavy ties: scores drawn from 3 distinct values per group
    rng = random.Random(7)
    rows = []
    order = 0
    for g in range(12):
        for _ in range(rng.randint(5, 30)):
            rows.append(
                (g, rng.randint(0, 1), rng.choice([0.1, 0.5, 0.9]), order)
            )
            order += 1
    # ensure at least one single-class group is present and dropped
    rows += [(97, 1, 0.3, order + 1), (97, 1, 0.7, order + 2)]
    expected = _reference_gauc_replica(rows)
    df = spark.createDataFrame(
        rows, "g: long, label: int, score: double, ord: long"
    )
    got = gauc(
        df, "g", "label", "score", tie_mode="reference", order_col="ord"
    ).collect()[0]["gauc"]
    assert got == pytest.approx(expected, abs=1e-12)


def test_gauc_reference_tie_mode_fractional_labels(spark):
    # the kernel accumulates fractional labels directly into tp/fp
    rng = random.Random(11)
    rows = [
        (g, round(rng.random(), 3), rng.choice([0.2, 0.8]), i)
        for i, (g, _) in enumerate((gg, 0) for gg in range(4) for _ in range(25))
    ]
    expected = _reference_gauc_replica(rows)
    df = spark.createDataFrame(
        rows, "g: long, label: double, score: double, ord: long"
    )
    got = gauc(
        df, "g", "label", "score", tie_mode="reference", order_col="ord"
    ).collect()[0]["gauc"]
    assert got == pytest.approx(expected, abs=1e-12)


def test_gauc_reference_mode_equals_half_mode_without_ties(spark):
    rng = random.Random(3)
    rows = []
    scores = rng.sample(range(100000), 200)  # all distinct
    for i, s in enumerate(scores):
        rows.append((i % 5, rng.randint(0, 1), s / 100000.0, i))
    df = spark.createDataFrame(
        rows, "g: long, label: int, score: double, ord: long"
    )
    half = gauc(df, "g", "label", "score").collect()[0]["gauc"]
    ref = gauc(
        df, "g", "label", "score", tie_mode="reference", order_col="ord"
    ).collect()[0]["gauc"]
    assert ref == pytest.approx(half, abs=1e-9)


def test_gauc_reference_mode_requires_order_col(spark):
    df = spark.createDataFrame(
        [(0, 1, 0.5, 0)], "g: long, label: int, score: double, ord: long"
    )
    with pytest.raises(ValueError, match="order_col"):
        gauc(df, "g", "label", "score", tie_mode="reference")


def test_gauc_rejects_unknown_options(spark):
    # a typo used to fall through to uniform weighting / half credit
    df = spark.createDataFrame(
        [(0, 1, 0.5, 0)], "g: long, label: int, score: double, ord: long"
    )
    for kw in ({"weight": "counts"}, {"weight": "uniform "}):
        with pytest.raises(ValueError, match="weight must be"):
            gauc(df, "g", "label", "score", **kw)
    for kw in ({"tie_mode": "ref"}, {"tie_mode": "Half", "order_col": "ord"}):
        with pytest.raises(ValueError, match="tie_mode must be"):
            gauc(df, "g", "label", "score", **kw)


def test_ab_ztest_matches_numpy(spark):
    import math

    from hybridbackend_spark.functions.metrics import ab_ztest

    a_vals = [10.0, 12.0, 11.0, 13.0, 9.0]
    b_vals = [14.0, 15.0, 13.5, 16.0]
    rows = [("g", "A", v) for v in a_vals] + [("g", "B", v) for v in b_vals]
    df = spark.createDataFrame(rows, "g: string, v: string, x: double")
    r = ab_ztest(df, "g", "v", "x").collect()[0]

    def stats(vals):
        n = len(vals)
        m = sum(vals) / n
        var = sum((x - m) ** 2 for x in vals) / n
        return n, m, var

    na, ma, va = stats(a_vals)
    nb, mb, vb = stats(b_vals)
    se = math.sqrt(va / na + vb / nb)
    assert r["n_a"] == na and r["n_b"] == nb
    assert abs(r["mean_a"] - ma) < 1e-6
    assert abs(r["mean_b"] - mb) < 1e-6
    assert abs(r["diff"] - (mb - ma)) < 1e-6
    assert abs(r["se"] - se) < 1e-6
    assert abs(r["z"] - (mb - ma) / se) < 1e-4


def test_ab_ztest_zero_variance_null_z(spark):
    from hybridbackend_spark.functions.metrics import ab_ztest

    rows = [("g", "A", 5.0)] * 3 + [("g", "B", 5.0)] * 3
    df = spark.createDataFrame(rows, "g: string, v: string, x: double")
    r = ab_ztest(df, "g", "v", "x").collect()[0]
    assert r["z"] is None and r["se"] == 0.0


def test_calibration_bins_perfect_and_off(spark):
    from hybridbackend_spark.functions.metrics import calibration_bins

    # perfectly calibrated bin: p=0.25 with 1/4 positives; badly
    # calibrated bin: p=0.95 with 0 positives
    rows = [(0.25, 1.0)] + [(0.25, 0.0)] * 3 + [(0.95, 0.0)] * 4
    df = spark.createDataFrame(rows, "p: double, y: double")
    out = {r["bin"]: r for r in calibration_bins(df, "y", "p").collect()}
    assert out[2]["confidence"] == 0.25 and out[2]["accuracy"] == 0.25
    assert out[2]["ece_term"] == 0.0
    assert out[9]["confidence"] == 0.95 and out[9]["accuracy"] == 0.0
    assert abs(out[9]["ece_term"] - 0.5 * 0.95) < 1e-6
    # ECE = sum of terms
    ece = sum(r["ece_term"] for r in out.values())
    assert abs(ece - 0.475) < 1e-6


def test_calibration_bins_edge_scores(spark):
    from hybridbackend_spark.functions.metrics import calibration_bins

    df = spark.createDataFrame(
        [(0.0, 0.0), (1.0, 1.0)], "p: double, y: double"
    )
    out = {r["bin"]: r["n"] for r in calibration_bins(df, "y", "p").collect()}
    assert out == {0: 1, 9: 1}  # p=1.0 clamps into the last bin


def test_ndcg_perfect_and_inverted(spark):
    import math

    from hybridbackend_spark.functions.metrics import ndcg_at_k

    # group a: relevance already in ideal order -> ndcg 1
    # group b: relevance inverted -> ndcg < 1, equals hand computation
    rows = [("a", 1, 3.0), ("a", 2, 2.0), ("a", 3, 1.0),
            ("b", 1, 0.0), ("b", 2, 1.0), ("b", 3, 2.0)]
    df = spark.createDataFrame(rows, "g: string, rk: int, rel: double")
    out = {r["g"]: r["ndcg"] for r in
           ndcg_at_k(df, "g", "rel", "rk", k=3).collect()}
    assert out["a"] == 1.0
    w = [1.0 / math.log2(i + 1) for i in (1, 2, 3)]
    dcg_b = 0.0 * w[0] + 1.0 * w[1] + 2.0 * w[2]
    idcg_b = 2.0 * w[0] + 1.0 * w[1] + 0.0 * w[2]
    assert abs(out["b"] - round(dcg_b / idcg_b, 6)) < 1e-9
    assert out["b"] < 1.0


def test_ndcg_zero_relevance_null(spark):
    from hybridbackend_spark.functions.metrics import ndcg_at_k

    df = spark.createDataFrame(
        [("g", 1, 0.0), ("g", 2, 0.0)], "g: string, rk: int, rel: double"
    )
    assert ndcg_at_k(df, "g", "rel", "rk", k=2).collect()[0]["ndcg"] is None


def test_mrr_hitrate_semantics(spark):
    from hybridbackend_spark.functions.metrics import mrr_hitrate_at_k

    rows = [
        ("a", 1, 0.0), ("a", 2, 1.0), ("a", 3, 2.0),  # first hit rank 2
        ("b", 1, 0.0), ("b", 2, 0.0),                  # no hit
        ("c", 1, 3.0),                                 # immediate hit
        ("d", 6, 5.0),                                 # hit outside k=5
    ]
    df = spark.createDataFrame(rows, "g: string, rk: int, rel: double")
    out = {r["g"]: r for r in
           mrr_hitrate_at_k(df, "g", "rel", "rk", k=5).collect()}
    assert out["a"]["first_hit_rank"] == 2 and out["a"]["rr"] == 0.5
    assert out["b"]["rr"] == 0.0 and out["b"]["hit_at_k"] is False
    assert out["c"]["rr"] == 1.0 and out["c"]["hit_at_k"] is True
    assert "d" not in out  # all rows filtered beyond k


def test_isotonic_fit_bins_hand_computed(spark):
    """PAVA on a known violator pattern: per-bin rates 0.8, 0.2 (bins 0,1)
    must pool to 0.5, 0.5; an already-monotone tail stays untouched."""
    from hybridbackend_spark.functions.metrics import isotonic_fit_bins

    rows = []
    # bin 0 (p in [0, .25)): 5 rows, 4 positive -> rate .8
    rows += [(1.0, 0.1)] * 4 + [(0.0, 0.1)]
    # bin 1 (p in [.25, .5)): 5 rows, 1 positive -> rate .2 (violation)
    rows += [(1.0, 0.3)] + [(0.0, 0.3)] * 4
    # bin 2: 5 rows, 3 positive -> rate .6 (monotone after pooling)
    rows += [(1.0, 0.6)] * 3 + [(0.0, 0.6)] * 2
    # bin 3: 5 rows, 5 positive -> rate 1.0
    rows += [(1.0, 0.9)] * 5
    df = spark.createDataFrame(rows, "y double, p double")
    out = {r.bin: r for r in
           isotonic_fit_bins(df, "y", "p", bins=4).collect()}
    assert [out[b].rate for b in range(4)] == [0.8, 0.2, 0.6, 1.0]
    assert [out[b].iso_rate for b in range(4)] == [0.5, 0.5, 0.6, 1.0]
    # monotone non-decreasing by construction
    iso = [out[b].iso_rate for b in range(4)]
    assert iso == sorted(iso)


def test_isotonic_fit_bins_bound_validated(spark):
    import pytest

    from hybridbackend_spark.functions.metrics import isotonic_fit_bins

    df = spark.createDataFrame([(1.0, 0.5)], "y double, p double")
    with pytest.raises(ValueError, match="bins"):
        isotonic_fit_bins(df, "y", "p", bins=256)
