import pytest
from pyspark.sql import functions as F

from hybridbackend_spark.operators.structural import (
    dedup_restore,
    pad_to_dense,
    populate_defaults,
    seeded_shuffle,
    unbatch,
    validate_fixed_shape,
    with_batch_id,
)
from hybridbackend_spark.schema import Field


def test_pad_to_dense(spark):
    df = spark.createDataFrame(
        [([1, 2],), ([1, 2, 3, 4, 5],), ([],)], "xs: array<int>"
    )
    out = [r[0] for r in df.select(pad_to_dense("xs", 3)).collect()]
    assert out == [[1, 2, 0], [1, 2, 3], [0, 0, 0]]


def test_pad_to_dense_fill(spark):
    df = spark.createDataFrame([(["a"],)], "xs: array<string>")
    out = df.select(pad_to_dense("xs", 3, fill="?")).collect()[0][0]
    assert out == ["a", "?", "?"]


def test_populate_defaults(spark):
    df = spark.createDataFrame([(1,)], "a: long")
    out = populate_defaults(df, [Field("a"), Field("b", "float64", default_value=0.5)])
    row = out.collect()[0]
    assert row["b"] == 0.5


def test_dedup_restore(spark):
    # block-dedup layout: unique values + inverse index per block
    df = spark.createDataFrame(
        [(["x", "y"], [0, 1, 1, 0])],
        "vals: array<string>, idx: array<int>",
    )
    out = dedup_restore(df, {"vals": "idx"}).collect()[0]["vals"]
    assert out == ["x", "y", "y", "x"]


def test_seeded_shuffle_deterministic(spark):
    df = spark.range(100)
    a = [r[0] for r in seeded_shuffle(df, seed=7).collect()]
    b = [r[0] for r in seeded_shuffle(df.repartition(13), seed=7).collect()]
    assert a == b  # identical order regardless of input partitioning
    assert a != list(range(100))
    c = [r[0] for r in seeded_shuffle(df, seed=8).collect()]
    assert a != c


def test_seeded_shuffle_epoch_reshuffle(spark):
    """reshuffle_each_iteration parity (reference
    data/rebatch/rebatch_dataset_v2.cc:46-88): seed = base + epoch gives
    every epoch an independent order, while the SAME epoch replays the
    identical order — reproducible without driver RNG state."""
    df, base = spark.range(200), 1234
    epochs = [
        [r[0] for r in seeded_shuffle(df, seed=base + e).collect()]
        for e in range(3)
    ]
    assert len({tuple(o) for o in epochs}) == 3  # all epochs differ
    for e, order in enumerate(epochs):  # each epoch replays exactly
        replay = [r[0] for r in seeded_shuffle(df, seed=base + e).collect()]
        assert replay == order
        assert sorted(order) == list(range(200))  # a permutation, no loss


def test_with_batch_id(spark):
    df = spark.range(10)
    out = with_batch_id(df, 4, order_by=["id"])
    counts = {r["batch_id"]: r["n"] for r in out.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {0: 4, 1: 4, 2: 2}
    dropped = with_batch_id(df, 4, order_by=["id"], drop_remainder=True)
    assert dropped.count() == 8


def test_batch_sizes_must_be_positive(spark):
    # rejected at call time, before any range-sample or collect job runs
    from hybridbackend_spark.operators.corpus import pack_sequences
    from hybridbackend_spark.operators.structural import (
        arrow_training_feed,
        block_dedup_encode,
    )

    df = spark.range(10).selectExpr("id", "id % 3 AS n")
    sc = spark.sparkContext
    sc.setJobGroup("bad_batch_sizes", "batch size validation")
    try:
        for size in (0, -1):
            for call in (
                lambda: with_batch_id(df, size, order_by=["id"]),
                lambda: block_dedup_encode(df, ["n"], size, order_by=["id"]),
                lambda: arrow_training_feed(df, size),
                lambda: pack_sequences(df, "id", "n", budget=size),
            ):
                with pytest.raises(ValueError, match=">= 1"):
                    call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("bad_batch_sizes") == []


def test_unbatch(spark):
    df = spark.createDataFrame(
        [(1, [10, 20], ["a", "b"])], "k: long, xs: array<int>, ys: array<string>"
    )
    rows = unbatch(df, ["xs", "ys"]).collect()
    assert [(r["k"], r["xs"], r["ys"]) for r in rows] == [(1, 10, "a"), (1, 20, "b")]


def test_validate_fixed_shape(spark):
    df = spark.createDataFrame([([1, 2],), ([1],)], "xs: array<int>")
    assert validate_fixed_shape(df, "xs", 2).count() == 1


def test_block_dedup_roundtrip(spark):
    from hybridbackend_spark.operators.structural import (
        block_dedup_decode,
        block_dedup_encode,
    )

    rows = [(i, i // 3, f"u{i % 2}") for i in range(12)]
    df = spark.createDataFrame(rows, "id: long, grp: long, user: string")
    enc = block_dedup_encode(df, ["user"], block_size=4, order_by=["id"])
    assert enc.count() == 3
    # compression: unique arrays shorter than block arrays
    first = enc.orderBy("batch_id").first()
    assert len(first["user"]) == 2 and len(first["user_idx"]) == 4
    dec = block_dedup_decode(enc, ["user"], ["id", "grp"])
    got = sorted(map(tuple, dec.select("id", "grp", "user").collect()))
    assert got == sorted(rows)


def test_block_dedup_nulls_stay_aligned(spark):
    # nulls in any column must not shift sibling values within a block
    # (struct-per-row collect keeps columns aligned; per-column
    # collect_list would silently drop nulls)
    from hybridbackend_spark.operators.structural import (
        block_dedup_decode,
        block_dedup_encode,
    )

    rows = [
        (0, None, "u0"),
        (1, 10, None),
        (2, None, "u0"),
        (3, 30, "u1"),
        (4, 40, "u1"),
        (5, None, None),
    ]
    df = spark.createDataFrame(rows, "id: long, grp: long, user: string")
    enc = block_dedup_encode(df, ["user"], block_size=3, order_by=["id"])
    dec = block_dedup_decode(enc, ["user"], ["id", "grp"])
    got = sorted(
        dec.select("id", "grp", "user").collect(), key=lambda r: r["id"]
    )
    assert [(r["id"], r["grp"], r["user"]) for r in got] == rows


def test_block_dedup_encode_reproducible(spark):
    # encoded in-block layout is order-stable regardless of input layout
    from hybridbackend_spark.operators.structural import block_dedup_encode

    rows = [(i, f"u{i % 3}") for i in range(12)]
    df = spark.createDataFrame(rows, "id: long, user: string")
    a = block_dedup_encode(df, ["user"], 4, order_by=["id"]).orderBy("batch_id")
    b = block_dedup_encode(df.repartition(7), ["user"], 4, order_by=["id"]).orderBy(
        "batch_id"
    )
    assert [r.asDict() for r in a.collect()] == [r.asDict() for r in b.collect()]


def test_arrow_training_feed_exact_batches(spark):
    from hybridbackend_spark.operators.structural import arrow_training_feed
    from hybridbackend_spark.plans.inspect import count_exchanges

    df = spark.range(1000).repartition(4)
    fed = arrow_training_feed(df, 64)
    sizes = (
        fed.groupBy("feed_part", "feed_batch")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    # every batch is exactly 64 rows except at most one remainder per part
    by_part = {}
    for r in sizes:
        by_part.setdefault(r["feed_part"], []).append(r["n"])
    for ns in by_part.values():
        assert sum(1 for n in ns if n != 64) <= 1
        assert all(n <= 64 for n in ns)
    assert fed.count() == 1000
    # zero shuffle beyond the explicit repartition input
    assert count_exchanges(arrow_training_feed(spark.range(100), 10)) == 0

    dropped = arrow_training_feed(df, 64, drop_remainder=True)
    assert all(
        r["n"] == 64
        for r in dropped.groupBy("feed_part", "feed_batch")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )


def test_changelog_compact_latest_wins(spark):
    from hybridbackend_spark.operators.structural import changelog_compact

    rows = [
        # key (1,'a'): three versions, latest ts=30
        (1, "a", 10, 100, 1.0), (1, "a", 30, 101, 3.0), (1, "a", 20, 102, 2.0),
        # key (1,'b'): ts tie -> higher event_id wins
        (1, "b", 10, 200, 5.0), (1, "b", 10, 201, 6.0),
        (2, "a", 5, 300, 9.0),
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "event_type", "ts", "event_id", "value"]
    )
    got = {
        (r["user_id"], r["event_type"]): (r["event_id"], r["value"])
        for r in changelog_compact(
            df, ["user_id", "event_type"], ["ts", "event_id"]
        ).collect()
    }
    assert got == {(1, "a"): (101, 3.0), (1, "b"): (201, 6.0), (2, "a"): (300, 9.0)}
    # layout-independent
    got2 = {
        (r["user_id"], r["event_type"]): (r["event_id"], r["value"])
        for r in changelog_compact(
            df.repartition(7), ["user_id", "event_type"], ["ts", "event_id"]
        ).collect()
    }
    assert got2 == got


def test_scd2_intervals_versions_and_currency(spark):
    from hybridbackend_spark.operators.structural import scd2_intervals

    rows = [
        # user 1: A,A,B,A -> 3 intervals
        (1, "A", 10, 1), (1, "A", 20, 2), (1, "B", 30, 3), (1, "A", 40, 4),
        # user 2: single state -> one current interval
        (2, "C", 5, 5),
    ]
    df = spark.createDataFrame(rows, ["user_id", "state", "ts", "event_id"])
    out = scd2_intervals(df, ["user_id"], ["ts", "event_id"], ["state"])
    got = {
        (r["user_id"], r["version"]): (
            r["state"], r["valid_from"], r["valid_to"], r["is_current"]
        )
        for r in out.collect()
    }
    assert got == {
        (1, 1): ("A", 10, 30, False),
        (1, 2): ("B", 30, 40, False),
        (1, 3): ("A", 40, None, True),
        (2, 1): ("C", 5, None, True),
    }
    # intervals tile the timeline: next valid_from == previous valid_to
    assert got[(1, 1)][2] == got[(1, 2)][1]


def test_scd2_intervals_null_state_runs(spark):
    from hybridbackend_spark.operators.structural import scd2_intervals

    rows = [(1, None, 10, 1), (1, None, 20, 2), (1, "X", 30, 3)]
    df = spark.createDataFrame(rows, ["user_id", "state", "ts", "event_id"])
    out = scd2_intervals(df, ["user_id"], ["ts", "event_id"], ["state"]).collect()
    # null==null is NOT a change (eqNullSafe): two intervals, not three
    assert len(out) == 2


def test_merge_partial_aggregates_equals_full_recompute(spark):
    from pyspark.sql import functions as F

    from hybridbackend_spark.operators.structural import merge_partial_aggregates

    rows = [("a", i) for i in range(10)] + [("b", i) for i in range(5)] + [
        ("c", 100)
    ]
    df = spark.createDataFrame(rows, ["k", "v"])

    def agg(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )

    # split so some keys exist on only one side
    base = agg(df.filter(F.col("v") < 3))      # a:3, b:3 (c absent)
    delta = agg(df.filter(F.col("v") >= 3))    # a:7, b:2, c:1
    merged = {
        r["k"]: (r["n"], r["s"])
        for r in merge_partial_aggregates(base, delta, ["k"], ["n", "s"]).collect()
    }
    full = {r["k"]: (r["n"], r["s"]) for r in agg(df).collect()}
    assert merged == full


def test_distinct_sketch_merge_approximates_exact(spark):
    from pyspark.sql import functions as F

    from hybridbackend_spark.operators.structural import (
        distinct_sketch_state,
        merge_distinct_sketches,
    )

    df = spark.range(60000).select(
        (F.col("id") % 3).alias("g"),
        (F.col("id") % 7000).alias("u"),
        F.col("id").alias("half_key"),
    )
    base = df.filter(F.col("half_key") < 30000)
    delta = df.filter(F.col("half_key") >= 30000)
    s1 = distinct_sketch_state(base, ["g"], {"users": "u"})
    s2 = distinct_sketch_state(delta, ["g"], {"users": "u"})
    merged = {
        r["g"]: r["users"]
        for r in merge_distinct_sketches(
            s1, s2, ["g"], ["users"], estimate=True
        ).collect()
    }
    exact = {
        r["g"]: r["n"]
        for r in df.groupBy("g").agg(F.count_distinct("u").alias("n")).collect()
    }
    for g, est in merged.items():
        assert abs(est - exact[g]) / exact[g] < 0.05
    # a key present on only one side survives the merge
    s3 = distinct_sketch_state(
        base.withColumn("g", F.col("g") + 10), ["g"], {"users": "u"}
    )
    only = merge_distinct_sketches(s1, s3, ["g"], ["users"], estimate=True)
    assert only.count() == 6


def test_scd2_random_changelogs_tile_and_match_compaction(spark):
    import random

    from hybridbackend_spark.operators.structural import (
        changelog_compact,
        scd2_intervals,
    )

    rng = random.Random(11)
    rows = []
    eid = 0
    for key in range(6):
        for ts in sorted(rng.sample(range(100), rng.randrange(1, 12))):
            rows.append((key, rng.choice("ABC"), ts, eid))
            eid += 1
    df = spark.createDataFrame(rows, ["k", "state", "ts", "event_id"])
    out = scd2_intervals(df, ["k"], ["ts", "event_id"], ["state"]).collect()

    # python reference: run-length compress each key's ordered states
    expected = {}
    by_key = {}
    for k, state, ts, e in sorted(rows, key=lambda r: (r[0], r[2], r[3])):
        by_key.setdefault(k, []).append((state, ts))
    for k, seq in by_key.items():
        runs = []
        for state, ts in seq:
            if not runs or runs[-1][0] != state:
                runs.append((state, ts))
        expected[k] = runs

    for k, runs in expected.items():
        mine = sorted(
            [r for r in out if r["k"] == k], key=lambda r: r["version"]
        )
        assert [(r["state"], r["valid_from"]) for r in mine] == runs
        # intervals tile: each valid_to equals the next valid_from
        for a, b in zip(mine, mine[1:]):
            assert a["valid_to"] == b["valid_from"] and not a["is_current"]
        assert mine[-1]["is_current"] and mine[-1]["valid_to"] is None

    # the current SCD2 row agrees with changelog compaction's latest state
    latest = {
        r["k"]: r["state"]
        for r in changelog_compact(df, ["k"], ["ts", "event_id"]).collect()
    }
    current = {r["k"]: r["state"] for r in out if r["is_current"]}
    assert current == latest


def test_merge_partial_aggregates_random_splits(spark):
    import random

    from pyspark.sql import functions as F

    from hybridbackend_spark.operators.structural import merge_partial_aggregates

    rng = random.Random(5)
    rows = [(rng.randrange(8), rng.randrange(1000)) for _ in range(400)]
    df = spark.createDataFrame(rows, ["k", "v"])

    def agg(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )

    full = {r["k"]: (r["n"], r["s"]) for r in agg(df).collect()}
    for cut in (0, 137, 999):
        base = agg(df.filter(F.col("v") < cut))
        delta = agg(df.filter(F.col("v") >= cut))
        merged = {
            r["k"]: (r["n"], r["s"])
            for r in merge_partial_aggregates(
                base, delta, ["k"], ["n", "s"]
            ).collect()
        }
        assert merged == full, f"cut {cut}"


def test_changelog_compact_tombstones(spark):
    from pyspark.sql import functions as F

    from hybridbackend_spark.operators.structural import changelog_compact

    rows = [
        # key 1: upsert then delete -> gone
        (1, "U", 10, 1, 1.0), (1, "D", 20, 2, 0.0),
        # key 2: delete then upsert -> latest upsert wins
        (2, "D", 10, 3, 0.0), (2, "U", 20, 4, 5.0),
        # key 3: plain upserts -> latest
        (3, "U", 10, 5, 7.0), (3, "U", 30, 6, 9.0),
    ]
    df = spark.createDataFrame(rows, ["k", "op", "ts", "eid", "v"])
    got = {
        r["k"]: r["v"]
        for r in changelog_compact(
            df, ["k"], ["ts", "eid"], tombstone=F.col("op") == "D"
        ).collect()
    }
    assert got == {2: 5.0, 3: 9.0}


def test_table_diff_detects_all_change_types(spark):
    from hybridbackend_spark.operators.structural import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, None, 40.0)],
        "k: long, s: string, v: double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),        # unchanged -> dropped
         (2, "b", 21.0),        # changed value
         (4, "", 40.0),         # null -> empty string must count as change
         (5, "e", 50.0)],       # added
        "k: long, s: string, v: double",
    )
    out = {r["k"]: r["change_type"] for r in table_diff(old, new, ["k"]).collect()}
    assert out == {2: "changed", 3: "removed", 4: "changed", 5: "added"}


def test_table_diff_compare_subset(spark):
    from hybridbackend_spark.operators.structural import table_diff

    old = spark.createDataFrame([(1, 10.0, "x")], "k: long, v: double, meta: string")
    new = spark.createDataFrame([(1, 10.0, "y")], "k: long, v: double, meta: string")
    # restricted comparison ignores the meta column -> no diff rows
    assert table_diff(old, new, ["k"], compare_cols=["v"]).count() == 0
    assert table_diff(old, new, ["k"]).count() == 1


def test_incremental_join_update_equals_full_recompute(spark):
    """dV = dL(x)R + L(x)dR + dL(x)dR under insert-only deltas: the
    maintained view must equal the full join as a BAG (duplicates
    preserved), including keys that appear only in the delta and
    many-to-many key fan-out."""
    from hybridbackend_spark.operators.structural import (
        incremental_join_update,
    )

    import pytest as _pt

    left = [(1, "l1"), (1, "l1b"), (2, "l2"), (3, "l3"), (5, "l5")]
    right = [(1, "r1"), (2, "r2"), (2, "r2b"), (4, "r4"), (5, "r5")]
    ldf = spark.createDataFrame(left, "k long, lv string")
    rdf = spark.createDataFrame(right, "k long, rv string")
    # split: old/delta by tag position (5 only in deltas on both sides)
    lo = ldf.filter(F.col("lv").isin("l1", "l2"))
    ld = ldf.subtract(lo)
    ro = rdf.filter(F.col("rv").isin("r1", "r2"))
    rd = rdf.subtract(ro)
    view = lo.join(ro, ["k"]).unionAll(
        incremental_join_update(lo, ro, ld, rd, ["k"])
    )
    full = ldf.join(rdf, ["k"])
    assert sorted(map(tuple, view.collect())) == sorted(
        map(tuple, full.collect())
    )
    with _pt.raises(ValueError):
        incremental_join_update(lo, ro, ld, rd, [])
