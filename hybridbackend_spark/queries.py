"""Query registry: every implemented operator exposed as a named query
over the driver's test tables, each paired with an ANSI-SQL oracle that
DuckDB can run on the same parquet files.

Conventions (driver contract):
- each query fn takes (spark, sf_dir) and returns a DataFrame;
- every computed column is aliased identically in Spark and SQL;
- double-typed aggregates are rounded (2-6 dp) in BOTH engines so that
  floating-point summation-order differences cannot flip the value hash;
- deterministic tie-breaks everywhere an order matters.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ._fixed import CENTS, DYADIC, MICRO, grid, grid_moments, grid_sum, ungrid
from ._materialize import materialize
from .functions.feature import log1p_feature, mod_bucket
from .functions.metrics import auc as _auc
from .functions.metrics import gauc as _gauc
from .functions.windows import (
    ordered_collect,
    run_length_ids,
    sessionize,
    sliding_time_window,
)
from .operators.joins import asof_join, left_join_with_default, lookup_join, pooled_lookup
from .sources.tabular import _load, _stamp

_SQL_MONEY = "sum(CAST(round(({expr}) * 100) AS BIGINT)) / 100.0"

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        # A duplicate name silently REPLACES an already-verified query
        # (and resets its driver-verification history) — fail loudly at
        # import time instead.
        if name in QUERIES:
            raise ValueError(f"query name already registered: {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_UTC_PINNED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def _pin_utc(spark: SparkSession) -> None:
    """Pin ``spark.sql.session.timeZone=UTC`` ONCE per session. The
    driver (and any embedding application) passes its own SparkSession,
    and a non-UTC session zone would silently shift every hour/date
    bucket against the DuckDB oracles' naive timestamps — so the query
    surface pins it itself rather than trusting get_session. Memoized
    per session (round-6 A/B item: the round-5 per-table-load
    ``conf.set`` added a py4j round trip to every load across all
    queries); callers that re-set the zone mid-session are out of
    contract."""
    if spark not in _UTC_PINNED:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        _UTC_PINNED.add(spark)


def _event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts``, written as Parquet TIMESTAMP(NANOS).
    Depending on the Spark build that arrives as either a long of nanos
    (legacy ``nanosAsLong``) or a ``timestamp_ntz`` truncated to micros;
    map both to a session-zone TIMESTAMP (session TZ is pinned to UTC via
    :func:`_pin_utc`, so the NTZ wall clock maps 1:1 and values match
    DuckDB's naive timestamps truncated to Spark's microsecond precision).
    Works on batch and streaming frames alike."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a test table through the package loader
    (``sources.tabular._load``): the first load of a file in a session
    infers its schema from the footer (one Spark job), later loads of the
    same ``(abspath, st_mtime_ns, st_size)`` stamp reuse it and submit
    none. Each call still builds a fresh relation, so self-joins keep
    distinct attribute ids; a rewritten file gets a new stamp and is
    re-inferred; a non-local ``sf_dir`` bypasses the memo. Changing a
    Parquet-inference conf mid-session is out of contract (as the time
    zone is for :func:`_pin_utc`). ``events`` goes through
    :func:`_event_ts`."""
    _pin_utc(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return _event_ts(_load(spark, path))
    return _load(spark, path)


# ---------------------------------------------------------------------------
# Relational core (SURVEY §2.1-§2.6: scan, filter, project, join, agg, sort)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0   AS sum_base_price,
           sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) / 100.0
                                                                       AS sum_disc_price,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_discount), 4)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan -> pushed filter -> hash agg (partial+final)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            grid_sum("l_extendedprice", CENTS).alias("sum_base_price"),
            grid_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), CENTS).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_top_orders",
    """
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT))
             / 100.0 AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: size-aware star join + agg + top-k. Only the
    selectively-filtered customer side carries an explicit broadcast hint;
    orders is fact-proportional (billions of rows at 100 TB) so its join
    strategy is left to Catalyst's size estimate / AQE — broadcast at small
    SF, sort-merge at scale — rather than forced with a hint that would OOM
    executors. Plan-gated in tests/test_plan_scale.py."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            grid_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), CENTS
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_nation_revenue",
    """
    SELECT n.n_name, r.r_name,
           sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT))
             / 100.0 AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way star join. Only the constant-size dims
    (nation: 25 rows, region: 5 rows) carry explicit broadcast hints;
    orders and customer scale with the fact table, so their join strategy
    is left to Catalyst/AQE — they broadcast at small SF and degrade to
    sort-merge joins at 100 TB instead of OOMing a hinted broadcast.
    Plan-gated in tests/test_plan_scale.py."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            grid_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), CENTS
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "scan_filter_project",
    """
    SELECT l_orderkey, l_partkey, l_quantity
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_quantity > 45
    """,
)
def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/P1/P4: projection + predicate, both pushed into the Parquet scan
    (verify with .explain: PushedFilters + 3-column ReadSchema)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_shipdate")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_quantity") > 45)
        )
        .drop("l_shipdate")
    )


@register(
    "rollup_sales",
    """
    SELECT l_returnflag, l_linestatus,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_price,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: hierarchical rollup aggregation (free from Catalyst)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            grid_sum("l_extendedprice", CENTS).alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "distinct_counts",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A10: multi-distinct aggregation (expand + two-phase agg).
    The scale path for ballpark cardinality is approx_count_distinct
    (HLL, no expand) — not oracle-comparable, so the exact form is the
    correctness query."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "topk_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rnk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders
    )
    WHERE rnk <= 3
    """,
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4/W4: top-k per group via ranking window; single shuffle on the
    group key, no global sort."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# Lookup joins (SURVEY §2.3 — the embedding-lookup family)
# ---------------------------------------------------------------------------


@register(
    "lookup_join_dedup",
    """
    SELECT e.event_id, emb.vec_id, emb.label
    FROM (SELECT event_id, ((event_id % 500) + 500) % 500 AS vec_id FROM events) e
    JOIN embeddings emb ON e.vec_id = emb.vec_id
    """,
)
def lookup_join_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: sharded-embedding-lookup as a relational join with
    dedup-before-shuffle (unique keys probe the dim once, then fan back
    out). Mirrors reference ``embedding/sharding.py:168-205``."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", mod_bucket(F.col("event_id"), 500).alias("vec_id")
    )
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    return lookup_join(ev, emb, "vec_id", dedup_keys=True, broadcast_threshold_rows=1)


@register(
    "pooled_lookup_sum",
    """
    SELECT l.l_orderkey,
           round(sum(list_sum(list_transform(emb.embedding, x -> x::DOUBLE))), 3)
             + 0.0 AS pooled_checksum
    FROM (SELECT l_orderkey, ((l_partkey % 500) + 500) % 500 AS vec_id FROM lineitem) l
    JOIN embeddings emb ON l.vec_id = emb.vec_id
    GROUP BY l.l_orderkey
    """,
)
def pooled_lookup_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: pooled sparse lookup (embedding_lookup_sparse, sum combiner):
    per order, sum the looked-up vectors element-wise; checksum = sum of
    elements so the oracle compares scalars, not float arrays."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", mod_bucket(F.col("l_partkey"), 500).alias("vec_id")
    )
    # round-12 found the checksum on a +-0.0 rounding knife edge
    # (round(-0.000177, 3) = -0.0 vs +0.0 depending on collect_list
    # partial-merge order), which made ANY partitioning change on this
    # float-fold path hash-unsafe and forced a revert of the
    # parallelism fix. Round 13 de-fuses it: `+ 0.0` in the final
    # projection canonicalizes -0.0 to +0.0 (IEEE: -0.0 + 0.0 = +0.0;
    # every other value incl. NaN/NULL unchanged) in BOTH the engine
    # and the oracle SQL, so the result no longer depends on the sign
    # of a zero. With the fuse out, the round-12 straggler fix lands
    # (guide §2.5/§2.6): AQE coalesces the collect_list agg shuffle by
    # BYTES (a few MB -> 4 partitions) while the downstream pooling
    # (explode + lookup + element-wise vector fold) is compute-dense —
    # 4 tasks x ~0.8 s on an idle 32-core box. A keyed repartition to
    # the session parallelism after the agg spreads the pooling stage;
    # scale-adaptive (defaultParallelism, not a constant), and at
    # cluster scale the agg output is large enough that AQE would not
    # over-coalesce it — the pin only matters where bytes-based
    # coalescing misjudges compute-dense rows. The repartition sits
    # BEFORE the groupBy: a user-specified numPartitions exchange is
    # exempt from AQE coalescing, and the agg reuses its partitioning
    # (one exchange total) — placed after the agg, Catalyst removes it
    # as statically redundant and AQE re-coalesces the agg exchange.
    li = li.repartition(
        spark.sparkContext.defaultParallelism, "l_orderkey"
    )
    ids = li.groupBy("l_orderkey").agg(F.collect_list("vec_id").alias("ids"))
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pooled = pooled_lookup(ids, emb, "ids", "l_orderkey", "embedding", combiner="sum")
    return pooled.select(
        "l_orderkey",
        (
            F.round(
                F.aggregate(
                    F.col("embedding"), F.lit(0.0), lambda a, x: a + x
                ),
                3,
            )
            + F.lit(0.0)
        ).alias("pooled_checksum"),
    )


@register(
    "left_join_defaults",
    """
    SELECT o.o_orderkey,
           coalesce(sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100)
                             AS BIGINT)) / 100.0, 0.0) AS revenue,
           count(l.l_orderkey) AS n_items
    FROM orders o
    LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey
    """,
)
def left_join_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: left join with default fill for unmatched rows (reference
    history-merge: missing history -> empty/zero)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    li = _t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        grid_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), CENTS
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return left_join_with_default(
        o,
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "o_orderkey",
        defaults={"revenue": F.lit(0.0), "n_items": F.lit(0)},
    )


@register(
    "asof_prior_click",
    """
    SELECT p.event_id, c.ts AS prior_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_prior_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: as-of join — for each purchase, the latest click at-or-before it
    by the same user. Union + window implementation (one shuffle on the
    key; no range cross-join)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="click_ts"
    )
    return out.select("event_id", F.col("click_ts").alias("prior_click_ts"))


# ---------------------------------------------------------------------------
# Window / ordering operators (SURVEY §2.5-§2.6)
# ---------------------------------------------------------------------------


@register(
    "window_rank_lag",
    """
    SELECT event_id,
           row_number() OVER w AS rn,
           round(lag(value) OVER w, 2) AS prev_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_rank_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: ranking + lag analytics per user, deterministic tie-break."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.round(F.lag("value").over(w), 2).alias("prev_value"),
    )


@register(
    "sliding_window_1h",
    """
    SELECT event_id,
           count(*) OVER w - 1 AS cnt_1h,
           round(coalesce(sum(value) OVER w - value, 0.0), 2) AS sum_1h
    FROM (SELECT *, floor(epoch(ts))::BIGINT AS tsec FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY tsec
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def sliding_window_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: per-row sliding event-time window — activity of the same user in
    the trailing hour (excluding the row itself via subtraction, which keeps
    RANGE-peer semantics identical across engines)."""
    ev = _t(spark, sf_dir, "events")
    out = sliding_time_window(
        ev,
        key="user_id",
        ts="ts",
        lower=-3600,
        upper=0,
        aggs={
            "_cnt": F.count(F.lit(1)),
            "_sum": F.sum("value"),
        },
    )
    return out.select(
        "event_id",
        (F.col("_cnt") - 1).alias("cnt_1h"),
        F.round(F.coalesce(F.col("_sum") - F.col("value"), F.lit(0.0)), 2).alias(
            "sum_1h"
        ),
    )


@register(
    "run_length_events",
    """
    SELECT event_id,
           CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS run_id
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type IS DISTINCT FROM
                       lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  THEN 1 ELSE 0 END AS chg
      FROM events
    )
    """,
)
def run_length_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: contiguous-run segmentation (GAUC indicator runs /
    run-length encoding): run id increments when event_type changes."""
    ev = _t(spark, sf_dir, "events")
    out = run_length_ids(
        ev, key="user_id", order=["ts", "event_id"], indicator="event_type"
    )
    return out.select("event_id", "run_id")


@register(
    "sessionize_30m",
    """
    SELECT event_id,
           CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS session_id
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN floor(epoch(ts)) - floor(epoch(lag(ts) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id))) > 1800
                       OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    )
    """,
)
def sessionize_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap starts a new session."""
    ev = _t(spark, sf_dir, "events")
    out = sessionize(ev, key="user_id", ts="ts", gap_seconds=1800, tiebreak="event_id")
    return out.select("event_id", "session_id")


@register(
    "ordered_history",
    """
    SELECT user_id,
           string_agg(event_type, ',' ORDER BY ts, event_type) AS history
    FROM events
    GROUP BY user_id
    """,
)
def ordered_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/W1: order-stable per-key collect_list (the reference's user
    behavior-sequence construction), serialized to a string so the oracle
    compares scalars."""
    ev = _t(spark, sf_dir, "events")
    out = ordered_collect(ev, key="user_id", order="ts", value="event_type")
    return out.select("user_id", F.array_join("items", ",").alias("history"))


# ---------------------------------------------------------------------------
# Metrics (SURVEY §2.4 A5-A8)
# ---------------------------------------------------------------------------


@register(
    "metric_mean_accuracy",
    """
    SELECT round(avg(label), 6) AS mean_label,
           round(avg(CASE WHEN ((vec_id % 10) + 10) % 10 = label
                          THEN 1.0 ELSE 0.0 END), 6) AS acc
    FROM embeddings
    """,
)
def metric_mean_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6: streaming mean + accuracy as one partial+final aggregation."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "pred", mod_bucket(F.col("vec_id"), 10)
    )
    return emb.agg(
        F.round(F.avg("label"), 6).alias("mean_label"),
        F.round(
            F.avg((F.col("pred") == F.col("label")).cast("double")), 6
        ).alias("acc"),
    )


_AUC_ORACLE = """
    WITH scored AS (
      SELECT CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y,
             embedding[1]::DOUBLE AS s
      FROM embeddings
    ), hist AS (
      SELECT s, sum(y) AS p, sum(1.0 - y) AS n
      FROM scored GROUP BY s
    ), swept AS (
      SELECT p, n,
             coalesce(sum(n) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS n_below
      FROM hist
    )
    SELECT round(sum(p * (n_below + n / 2)) / (sum(p) * sum(n)), 6) AS auc
    FROM swept
"""


@register("metric_auc", _AUC_ORACLE)
def metric_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: exact ROC AUC as a distributed rank statistic (reference
    ``metrics/auc.py`` histogram in the num_thresholds->inf limit)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        (F.col("label") >= 5).cast("double").alias("y"),
        F.element_at("embedding", 1).cast("double").alias("s"),
    )
    out = _auc(emb, label="y", score="s", alias="_auc_raw")
    return out.select(F.round("_auc_raw", 6).alias("auc"))


_AUC_PR_ORACLE = """
    WITH scored AS (
      SELECT CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y,
             1.0 / (1.0 + exp(-(embedding[1]::DOUBLE))) AS s
      FROM embeddings
    ), hist AS (
      SELECT least(199, floor(s * 200)::INT) AS b,
             sum(y)::DOUBLE AS p, sum(1.0 - y)::DOUBLE AS n
      FROM scored GROUP BY 1
    ), swept AS (
      SELECT b,
             sum(p) OVER (ORDER BY b DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(n) OVER (ORDER BY b DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
      FROM hist
    ), pairs AS (
      SELECT tp AS tp1, tp + fp AS p1,
             coalesce(lead(tp) OVER (ORDER BY b), 0.0) AS tp2,
             coalesce(lead(tp + fp) OVER (ORDER BY b), 0.0) AS p2
      FROM swept
    ), terms AS (
      SELECT tp1 - tp2 AS dtp, p1 - p2 AS dp, tp1, tp2, p1, p2 FROM pairs
    )
    SELECT round(
      sum(CASE WHEN dp > 0 THEN
            (dtp / dp) * (dtp + (tp2 - (dtp / dp) * p2)
              * CASE WHEN p1 > 0 AND p2 > 0 THEN ln(p1 / p2) ELSE 0.0 END)
          ELSE 0.0 END) / (SELECT sum(p) FROM hist), 6) AS pr_auc
    FROM terms
"""


@register("metric_auc_pr", _AUC_PR_ORACLE)
def metric_auc_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 (PR branch): bucketed precision-recall AUC with the reference's
    careful interpolation (``interpolate_pr_auc``, reference
    ``metrics/auc.py:281-344``). Scores are squashed to [0,1] with a
    sigmoid (monotone, so ranking semantics are unchanged) before the
    200-bucket histogram."""
    from .functions.metrics import auc_histogram

    emb = _t(spark, sf_dir, "embeddings").select(
        (F.col("label") >= 5).cast("double").alias("y"),
        (
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-F.element_at("embedding", 1).cast("double")))
        ).alias("s"),
    )
    out = auc_histogram(emb, "y", "s", num_thresholds=200, curve="PR", alias="_pr")
    return out.select(F.round("_pr", 6).alias("pr_auc"))


_GAUC_ORACLE = """
    WITH scored AS (
      SELECT ((vec_id % 20) + 20) % 20 AS g,
             CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y,
             embedding[1]::DOUBLE AS s
      FROM embeddings
    ), hist AS (
      SELECT g, s, sum(y) AS p, sum(1.0 - y) AS n
      FROM scored GROUP BY g, s
    ), swept AS (
      SELECT g, p, n,
             coalesce(sum(n) OVER (PARTITION BY g ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS n_below
      FROM hist
    ), per_group AS (
      SELECT g,
             sum(p * (n_below + n / 2)) / (sum(p) * sum(n)) AS auc_g,
             sum(p) + sum(n) AS cnt, sum(p) AS pos, sum(n) AS neg
      FROM swept GROUP BY g
    )
    SELECT round(sum(auc_g * cnt) / sum(cnt), 6) AS gauc
    FROM per_group WHERE pos > 0 AND neg > 0
"""


@register("metric_gauc", _GAUC_ORACLE)
def metric_gauc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: grouped AUC — exact per-group AUC, impression-weighted mean
    (reference ``metrics/gauc.cc:39-80``)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        mod_bucket(F.col("vec_id"), 20).alias("g"),
        (F.col("label") >= 5).cast("double").alias("y"),
        F.element_at("embedding", 1).cast("double").alias("s"),
    )
    out = _gauc(emb, group="g", label="y", score="s", weight="count", alias="_g")
    return out.select(F.round("_g", 6).alias("gauc"))


# ---------------------------------------------------------------------------
# Feature pipeline (SURVEY §2.9)
# ---------------------------------------------------------------------------


@register(
    "feature_transform",
    """
    SELECT event_id,
           round(ln(1 + value), 6) AS log_value,
           ((user_id % 16) + 16) % 16 AS bucket,
           round(value / 1000.0, 6) AS norm_value,
           CASE WHEN value IS NOT NULL AND value >= 0 THEN value ELSE -1.0 END
             AS imputed
    FROM events
    """,
)
def feature_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F5: imputation, log1p, normalization, modulo bucketing as pure
    Column expressions (whole-stage codegen; zero extra cost at scale)."""
    from .functions.feature import impute, normalize

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.round(log1p_feature("value"), 6).alias("log_value"),
        mod_bucket(F.col("user_id"), 16).alias("bucket"),
        F.round(normalize("value", 1000.0), 6).alias("norm_value"),
        impute("value", default=-1.0).alias("imputed"),
    )


# The driver's correctness artifact verifies the FIRST ~50 registered
# queries per round; the union over r01-r07 covers every query
# registered through round 7 (280/280). Names listed here come first
# (in this order); everything else keeps its original registration
# order. Validated against the registry in
# tests/test_sources_and_queries.py.
_DRIVER_WINDOW_FIRST = [
    # Round-12 window (tools/plan_window.py --stale 50, re-run after
    # this round's two registrations): the 2 never-verified additions
    # lead, then the 25 cones genuinely CHANGED by this round's churn
    # (dedup/similarity/spec/corpus — r06-r11 vintage, locally-unproven
    # at rotation time, re-proven by the close gate), then the stalest
    # locally-re-proven r07 arithmetic residue. Real stale-and-changed
    # at rotation time: 69; a green r12 window leaves ~21 (the
    # arithmetic tail) plus any later re-staling — the burn-down's
    # final stretch.
    "stream_minhash_dedup_docs",
    "corpus_spec_curation_docs",
    "dataspec_transform",  # changed since last green (r06)
    "setsim_join_docs",  # changed since last green (r07)
    "entity_linkage_customers",  # changed since last green (r07)
    "rrf_hybrid_docs",  # changed since last green (r07)
    "exact_dedup_docs",  # changed since last green (r08)
    "ngram_jaccard_pairs_docs",  # changed since last green (r08)
    "minhash_lsh_dedup_docs",  # changed since last green (r08)
    "simhash_docs",  # changed since last green (r08)
    "cosine_near_dup_pairs",  # changed since last green (r08)
    "cosine_near_dup_bucketed",  # changed since last green (r08)
    "cosine_topk_bruteforce",  # changed since last green (r08)
    "corpus_curation_pipeline",  # changed since last green (r08)
    "ann_recall_lsh_docs",  # changed since last green (r08)
    "cosine_topk_lsh_docs",  # changed since last green (r09)
    "cosine_topk_ivf_docs",  # changed since last green (r09)
    "ivf_train_centroids",  # changed since last green (r09)
    "decontaminate_docs",  # changed since last green (r09)
    "quantize_embeddings_int8",  # changed since last green (r09)
    "semantic_dedup_docs",  # changed since last green (r09)
    "pq_topk_docs",  # changed since last green (r09)
    "lsh_linkage_docs",  # changed since last green (r09)
    "minhash_dedup_keep_longest_docs",  # changed since last green (r10)
    "text_ann_pipeline",  # changed since last green (r10)
    "kcenter_select_embeddings",  # changed since last green (r10)
    "split_leakage_docs",  # changed since last green (r11)
    "mannwhitney_events",  # changed since last green (r07) local-green
    "ks_test_orders",  # changed since last green (r07) local-green
    "mwu_incremental_events",  # changed since last green (r07) local-green
    "ks_incremental_orders",  # changed since last green (r07) local-green
    "quantile_normalize_events",  # changed since last green (r07) local-green
    "kendall_tau_events",  # changed since last green (r07) local-green
    "did_events",  # changed since last green (r07) local-green
    "incremental_join_orders",  # changed since last green (r07) local-green
    "assoc_rules_brands",  # changed since last green (r07) local-green
    "ipf_rake_docs",  # changed since last green (r07) local-green
    "eb_shrink_parts",  # changed since last green (r07) local-green
    "logrank_users",  # changed since last green (r07) local-green
    "robust_stats_orders",  # changed since last green (r07) local-green
    "spearman_events",  # changed since last green (r07) local-green
    "quality_classifier_docs",  # changed since last green (r07) local-green
    "distinct_ngrams_docs",  # changed since last green (r07) local-green
    "bh_fdr_events",  # changed since last green (r07) local-green
    "fleiss_kappa_lineitem",  # changed since last green (r07) local-green
    "token_budget_mix_docs",  # changed since last green (r07) local-green
    "pmi_bigrams_docs",  # changed since last green (r07) local-green
    "kneser_ney_bigram_docs",  # changed since last green (r07) local-green
    "dsir_select_docs",  # changed since last green (r07) local-green
    "holt_trend_events",  # changed since last green (r07) local-green
]


def _windowed(reg: dict) -> dict:
    first = {n: reg[n] for n in _DRIVER_WINDOW_FIRST if n in reg}
    rest = {n: v for n, v in reg.items() if n not in first}
    return {**first, **rest}


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _windowed(QUERIES)


def get_oracles() -> dict[str, str]:
    return _windowed(ORACLES)


# ---------------------------------------------------------------------------
# Text analysis (driver north-star; documents table)
# ---------------------------------------------------------------------------

_TOKS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"


@register(
    "text_stats",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks, trim(text) AS txt FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks), 6)
             AS mean_token_len,
           round(length(regexp_replace(txt, '[^0-9]', '', 'g'))::DOUBLE / length(txt), 6)
             AS digit_ratio,
           round(len(list_filter(toks, x -> list_contains(
             ['the','and','of','to','a','in','is','for','on','with'], x)))::DOUBLE
             / len(toks), 6) AS stopword_ratio
    FROM t
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality signals (length/digit/stopword ratios) as
    pure expressions over the documents table."""
    from .operators.text import quality_signals

    docs = _t(spark, sf_dir, "documents")
    s = quality_signals(F.col("text"))
    return docs.select(
        "doc_id",
        s["n_tokens"].alias("n_tokens"),
        F.round(s["mean_token_len"], 6).alias("mean_token_len"),
        F.round(s["digit_ratio"], 6).alias("digit_ratio"),
        F.round(s["stopword_ratio"], 6).alias("stopword_ratio"),
    )


@register(
    "lang_id_distribution",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    h AS (
      SELECT doc_id,
        len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','von','mit','für','auf','ein'], x))) AS h_de,
        len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','for','on','with'], x))) AS h_en,
        len(list_filter(toks, x -> list_contains(['el','la','los','y','de','un','una','es','para','en'], x))) AS h_es,
        len(list_filter(toks, x -> list_contains(['le','la','les','et','de','un','une','est','pour','dans'], x))) AS h_fr
      FROM t
    )
    SELECT CASE WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de > 0 THEN 'de'
                WHEN h_en >= h_es AND h_en >= h_fr AND h_en > 0 THEN 'en'
                WHEN h_es >= h_fr AND h_es > 0 THEN 'es'
                WHEN h_fr > 0 THEN 'fr'
                ELSE 'und' END AS lang_pred,
           count(*) AS n_docs
    FROM h GROUP BY 1
    """,
)
def lang_id_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword profiles, argmax with alphabetical
    tie-break) aggregated to a distribution."""
    from .operators.text import lang_id

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "fingerprint_docs",
    """
    SELECT doc_id,
           sum(((i - 1) % 64 + 1) * ascii(ch))::BIGINT AS fp
    FROM (
      SELECT doc_id,
             unnest(string_split(lower(trim(text)), '')) AS ch,
             generate_subscripts(string_split(lower(trim(text)), ''), 1) AS i
      FROM documents
    )
    GROUP BY doc_id
    """,
)
def fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling document fingerprint (position-weighted
    char-code sum)."""
    from .operators.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


# ---------------------------------------------------------------------------
# Deduplication (driver north-star; documents + embeddings)
# ---------------------------------------------------------------------------


@register(
    "exact_dedup_docs",
    """
    SELECT min(doc_id) AS doc_id, count(*) AS dup_count
    FROM documents
    GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized content hash-groupBy (keep min id)."""
    from .operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


@register(
    "ngram_jaccard_pairs_docs",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len({_TOKS_SQL}) - 2),
               i -> array_to_string(({_TOKS_SQL})[i:i+2], ' '))) AS s
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.s, b.s))::DOUBLE
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
    FROM t a, t b
    WHERE a.doc_id < b.doc_id
      AND len(list_intersect(a.s, b.s))::DOUBLE
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.3
    """,
)
def ngram_jaccard_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (threshold 0.3 isolates the
    planted near-duplicates in the synthetic corpus)."""
    from .operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "text", "doc_id", shingle_n=3, threshold=0.3)


def _minhash_dedup_oracle(keep: str = "min_id") -> str:
    """Full SQL replica of the MinHash+LSH dedup pipeline: portable md5
    base hash -> 64 affine mins -> 16-band tuple equality -> exact
    Jaccard verify -> transitive closure via recursive CTE -> survivors.
    The affine constants are the operator's own (seed 42)."""
    from .operators.dedup import _MERSENNE_P, _affine_coeffs

    coeffs = _affine_coeffs(64, 42)
    mins = ",\n             ".join(
        f"min((h * {a} + {b}) % {_MERSENNE_P}) AS mh{k}"
        for k, (a, b) in enumerate(coeffs)
    )
    bands = " OR ".join(
        "("
        + " AND ".join(f"a.mh{b * 4 + j} = b.mh{b * 4 + j}" for j in range(4))
        + ")"
        for b in range(16)
    )
    return f"""
    WITH RECURSIVE t AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len({_TOKS_SQL}) - 2),
               i -> array_to_string(({_TOKS_SQL})[i:i+2], ' '))) AS s
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             (('0x' || substr(md5(u.g), 1, 8))::BIGINT % {_MERSENNE_P}) AS h
      FROM t, unnest(s) u(g) WHERE len(s) > 0
    ),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM h GROUP BY doc_id
    ),
    cand AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({bands})
    ),
    ver AS (
      SELECT ia, ib FROM cand
      JOIN t ta ON ta.doc_id = ia
      JOIN t tb ON tb.doc_id = ib
      WHERE (len(ta.s) + len(tb.s) - len(list_intersect(ta.s, tb.s))) > 0
        AND len(list_intersect(ta.s, tb.s))::DOUBLE
            / (len(ta.s) + len(tb.s) - len(list_intersect(ta.s, tb.s))) >= 0.8
    ),
    edges AS (SELECT ia AS a, ib AS b FROM ver
              UNION ALL SELECT ib, ia FROM ver),
    reach(src, dst) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src)
    """ + (_MINHASH_FINAL_LONGEST if keep == "longest" else _MINHASH_FINAL_MIN_ID)


_MINHASH_FINAL_MIN_ID = """
    SELECT doc_id FROM (SELECT DISTINCT doc_id FROM documents)
    WHERE doc_id NOT IN (SELECT id FROM comp WHERE component < id)
"""

# keep-longest canonicalization: per component keep the longest document
# (ties to the smaller id); docs in no component survive untouched
_MINHASH_FINAL_LONGEST = """
    , win AS (
      SELECT id FROM (
        SELECT c.id,
               row_number() OVER (PARTITION BY c.component
                                  ORDER BY length(trim(d.text)) DESC, c.id)
                 AS rn
        FROM comp c JOIN documents d ON d.doc_id = c.id
      ) WHERE rn = 1
    )
    SELECT doc_id FROM (SELECT DISTINCT doc_id FROM documents)
    WHERE doc_id NOT IN (SELECT id FROM comp)
       OR doc_id IN (SELECT id FROM win)
"""


@register("minhash_lsh_dedup_docs", _minhash_dedup_oracle())
def minhash_lsh_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64)+LSH(16 bands) near-dup dedup at Jaccard>=0.8: surviving
    doc ids. Portable md5 base hash, so the oracle recomputes the exact
    signatures, candidate bands, Jaccard verification, and transitive
    closure (recursive CTE) — the whole pipeline is hash-checked, not
    rows-only. Also verified in tests against exact-Jaccard ground truth."""
    from .operators.dedup import minhash_lsh_dedup

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_dedup(docs, "text", "doc_id", threshold=0.8, portable=True)


@register("stream_minhash_dedup_docs", _minhash_dedup_oracle())
def stream_minhash_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming INCREMENTAL MinHash+LSH dedup (round-12): the documents
    table replayed as a multi-file stream through the foreachBatch
    incremental pipeline (``streaming.dedup_stream`` — append-only LSH
    index probed per batch, component labels maintained with
    bridge-retraction), whose final survivor set is bit-identical to
    the batch operator for ANY batch split — so the SAME recursive-CTE
    oracle as ``minhash_lsh_dedup_docs`` value-checks the whole
    incremental path end-to-end. Prefix-parity (equality after every
    batch, including a survivor retracted by a later bridging doc) is
    pinned in tests/test_streaming.py. The survivors are materialized
    before the scratch directory (source copy, state, stream checkpoint)
    is removed."""
    import shutil
    import tempfile

    from .streaming.dedup_stream import (
        run_minhash_dedup_stream,
        stream_survivors,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="hb_stream_mhdedup_")
    try:
        src = os.path.join(base, "src")
        docs.repartition(3).write.parquet(src)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        state = os.path.join(base, "state")
        run_minhash_dedup_stream(
            spark, stream, state, "text", "doc_id",
            checkpoint_dir=os.path.join(base, "ckpt"),
            threshold=0.8, portable=True,
        )
        return materialize(stream_survivors(spark, state, "doc_id"))
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "simhash_docs",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS w FROM documents
               WHERE length(trim(text)) > 0),
    h AS (SELECT doc_id, ('0x' || substr(md5(u.t), 1, 15))::BIGINT AS h
          FROM t, unnest(w) u(t)),
    v AS (SELECT doc_id, b.j AS j,
                 sum(CASE WHEN (h >> b.j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM h, unnest(range(0, 48)) b(j) GROUP BY doc_id, b.j),
    s AS (SELECT doc_id,
                 CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << j)
                               ELSE 0 END) AS BIGINT) AS sketch
          FROM v GROUP BY doc_id)
    SELECT d.doc_id, coalesce(s.sketch, 0) AS sketch
    FROM (SELECT doc_id FROM documents) d LEFT JOIN s USING (doc_id)
    """,
)
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 48-bit SimHash sketch. Portable md5-derived base hash
    (60 usable bits), so the oracle rebuilds the identical bit votes and
    sketch values — hash-checked, not rows-only."""
    from .operators.dedup import simhash_sketches

    docs = _t(spark, sf_dir, "documents")
    return simhash_sketches(docs, "text", "doc_id", num_bits=48, portable=True)


@register(
    "cosine_near_dup_pairs",
    """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(
             list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
             / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS cos
    FROM e a, e b
    WHERE a.vec_id < b.vec_id
      AND list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
          / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
             * sqrt(list_sum(list_transform(b.v, x -> x * x)))) >= 0.35
    """,
)
def cosine_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact all-pairs mode (the verify
    path; :func:`cosine_near_dup_bucketed` is the demonstrated scale
    path)."""
    from .operators.dedup import cosine_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, "embedding", "vec_id", threshold=0.35)


def _plane_sql_literals(bits: int, seed: int, dim: int) -> list[str]:
    """The SAME deterministic hyperplanes the Spark operator folds into its
    plan, rendered as DuckDB list literals (repr round-trips doubles
    exactly), so the oracle reproduces the bucketing bit-for-bit."""
    from .operators.similarity import _hyperplanes

    return [
        "[" + ", ".join(repr(x) for x in p) + "]"
        for p in _hyperplanes(dim, bits, seed)
    ]


def _bucket_sql(bits: int, seed: int, dim: int) -> str:
    return " + ".join(
        f"""(CASE WHEN list_sum(list_transform(list_zip(v, {plane}),
             p -> p[1] * p[2])) >= 0 THEN {1 << i} ELSE 0 END)"""
        for i, plane in enumerate(_plane_sql_literals(bits, seed, dim))
    )


_N_TABLES = 4
_BUCKET_COLS = ", ".join(
    f"{_bucket_sql(bits=8, seed=7 + t, dim=64)} AS bkt{t}" for t in range(_N_TABLES)
)
_BUCKET_MATCH = " OR ".join(f"x.bkt{t} = y.bkt{t}" for t in range(_N_TABLES))


@register(
    "cosine_near_dup_bucketed",
    f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    b AS (SELECT vec_id, v, {_BUCKET_COLS} FROM e)
    SELECT x.vec_id AS id_a, y.vec_id AS id_b,
           round(
             list_sum(list_transform(list_zip(x.v, y.v), p -> p[1] * p[2]))
             / (sqrt(list_sum(list_transform(x.v, q -> q * q)))
                * sqrt(list_sum(list_transform(y.v, q -> q * q)))), 6) AS cos
    FROM b x, b y
    WHERE ({_BUCKET_MATCH}) AND x.vec_id < y.vec_id
      AND list_sum(list_transform(list_zip(x.v, y.v), p -> p[1] * p[2]))
          / (sqrt(list_sum(list_transform(x.v, q -> q * q)))
             * sqrt(list_sum(list_transform(y.v, q -> q * q)))) >= 0.35
    """,
)
def cosine_near_dup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs on the BUCKETED scale path: 4
    independent sign-LSH tables of 8 hyperplane bits each; only pairs
    sharing a bucket in some table are compared — equi-joins on the
    bucket keys, never the quadratic cross join. The oracle embeds the
    identical plane constants, so this row proves the scale path
    end-to-end (recall vs exact is asserted subset-wise in tests)."""
    from .operators.dedup import cosine_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(
        emb,
        "embedding",
        "vec_id",
        threshold=0.35,
        bucket_bits=8,
        seed=7,
        dim=64,
        n_tables=_N_TABLES,
    )


# ---------------------------------------------------------------------------
# Similarity search (driver north-star; embeddings)
# ---------------------------------------------------------------------------


@register(
    "cosine_topk_bruteforce",
    """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
             round(
               list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(c.v, x -> x * x)))), 6) AS cos
      FROM q, e c WHERE c.vec_id != q.vec_id
    )
    SELECT vec_id, neighbor_id, cos, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for 10 query vectors (the ANN
    baseline; broadcast queries, corpus never shuffled)."""
    from .operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return cosine_topk(q, emb, "vec_id", "vec_id", "embedding", "embedding", k=5)


_LSH_TOPK_TABLES = 6
_LSH_TOPK_BUCKET_COLS = ", ".join(
    f"{_bucket_sql(bits=6, seed=7 + t, dim=64)} AS b{t}"
    for t in range(_LSH_TOPK_TABLES)
)
_LSH_TOPK_MATCH = " OR ".join(
    f"q.b{t} = c.b{t}" for t in range(_LSH_TOPK_TABLES)
)

_COS_SQL = """
    round(
      list_sum(list_transform(list_zip(qv, cv), p -> p[1] * p[2]))
      / (sqrt(list_sum(list_transform(qv, z -> z * z)))
         * sqrt(list_sum(list_transform(cv, z -> z * z)))), 6)
"""


@register(
    "cosine_topk_lsh_docs",
    f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    b AS (SELECT vec_id, v, {_LSH_TOPK_BUCKET_COLS} FROM e),
    cand AS (
      SELECT DISTINCT q.vec_id AS vec_id, q.v AS qv, c.vec_id AS neighbor_id,
             c.v AS cv
      FROM b q, b c
      WHERE q.vec_id < 10 AND c.vec_id != q.vec_id AND ({_LSH_TOPK_MATCH})
    ),
    scored AS (SELECT vec_id, neighbor_id, {_COS_SQL} AS cos FROM cand)
    SELECT vec_id, neighbor_id, cos, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
)
def cosine_topk_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate cosine top-5 (sign random projections,
    6 tables x 6 bits). The oracle embeds the identical hyperplane
    constants, so the approximate result itself is hash-checked — not
    just its row count; recall vs brute force is asserted in tests."""
    from .operators.similarity import cosine_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return cosine_topk_lsh(
        q, emb, "vec_id", "vec_id", "embedding", "embedding", k=5, bits=6, n_tables=6
    )


# ---------------------------------------------------------------------------
# Remaining relational coverage (SURVEY §2.3 J6, §2.8 set ops, pivot)
# ---------------------------------------------------------------------------


@register(
    "semi_anti_join",
    """
    SELECT
      (SELECT count(*) FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
        AS n_with_orders,
      (SELECT count(*) FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
        AS n_without_orders
    """,
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: left-semi (EXISTS) and left-anti (NOT EXISTS) joins."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    semi = c.join(o, "c_custkey", "left_semi").agg(
        F.count(F.lit(1)).alias("n_with_orders")
    )
    anti = c.join(o, "c_custkey", "left_anti").agg(
        F.count(F.lit(1)).alias("n_without_orders")
    )
    return semi.crossJoin(anti)


@register(
    "set_ops_orders",
    """
    WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 200000),
         urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT
      (SELECT count(*) FROM (SELECT o_custkey FROM hi UNION SELECT o_custkey FROM urgent))
        AS n_union,
      (SELECT count(*) FROM (SELECT o_custkey FROM hi INTERSECT SELECT o_custkey FROM urgent))
        AS n_intersect,
      (SELECT count(*) FROM (SELECT o_custkey FROM hi EXCEPT SELECT o_custkey FROM urgent))
        AS n_except
    """,
)
def set_ops_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8: union / intersect / except (distinct semantics)."""
    o = _t(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 200000).select("o_custkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    u = hi.union(urgent).distinct().agg(F.count(F.lit(1)).alias("n_union"))
    i = hi.intersect(urgent).agg(F.count(F.lit(1)).alias("n_intersect"))
    e = hi.subtract(urgent).agg(F.count(F.lit(1)).alias("n_except"))
    return u.crossJoin(i).crossJoin(e)


@register(
    "pivot_returns",
    """
    SELECT l_returnflag,
           round(coalesce(sum(l_quantity) FILTER (l_linestatus = 'O'), 0), 2) AS qty_O,
           round(coalesce(sum(l_quantity) FILTER (l_linestatus = 'F'), 0), 2) AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation) with fixed pivot values."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.coalesce(F.sum("l_quantity"), F.lit(0.0)), 2))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
    )


# ---------------------------------------------------------------------------
# Streaming (SURVEY §2.10 + driver north-star): executed via availableNow
# so the bounded result is oracle-comparable; identical code serves the
# live stream.
# ---------------------------------------------------------------------------


@register(
    "stream_tumbling_counts",
    """
    SELECT (floor(epoch(ts) / 3600) * 3600)::BIGINT AS window_start_sec,
           event_type,
           count(*) AS n_events,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window aggregation with watermark,
    executed synchronously (availableNow trigger -> memory sink). The
    bounded replay of the stream must equal the batch SQL aggregation."""
    from .streaming.ops import read_event_stream, run_available_now, tumbling_agg

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    agg = tumbling_agg(stream, "ts", "1 hour", keys=["event_type"])
    out = run_available_now(agg)
    return out.select(
        F.unix_timestamp("window_start").alias("window_start_sec"),
        "event_type",
        "n_events",
        "sum_value",
    )


# ---------------------------------------------------------------------------
# Scalar-function coverage (SURVEY §2.9 F7/F10: string/date/json built-ins)
# and correlated-subquery decorrelation (§4.1 — free from Catalyst)
# ---------------------------------------------------------------------------


@register(
    "string_functions",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_upper,
           substr(p_name, 1, 8) AS name_prefix,
           length(p_name) AS name_len,
           concat(p_brand, ':', p_type) AS brand_type,
           CASE WHEN p_name LIKE '%green%' THEN 1 ELSE 0 END AS is_green
    FROM part
    WHERE p_size >= 10
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: string built-ins (upper/substr/length/concat/like) — free from
    Spark; demonstrated for API-surface parity."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 10)
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.when(F.col("p_name").like("%green%"), 1).otherwise(0).alias("is_green"),
    )


@register(
    "date_functions",
    """
    SELECT year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month,
           count(*) AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_price
    FROM orders
    GROUP BY 1, 2
    """,
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: date part extraction + aggregation."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        grid_sum("o_totalprice", CENTS).alias("total_price"),
    )


@register(
    "json_functions",
    """
    SELECT event_id,
           json_extract_string(props, '$.k')::BIGINT AS k_value
    FROM events
    WHERE json_extract_string(props, '$.k')::BIGINT > 50
    """,
)
def json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: JSON field extraction from a string column with a pushed
    numeric filter on the extracted value."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select("event_id", k.alias("k_value")).filter(F.col("k_value") > 50)


@register(
    "q17_small_quantity",
    """
    SELECT sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) / 100.0 / 7.0
             AS avg_yearly
    FROM lineitem l
    JOIN (SELECT l_partkey, 0.5 * avg(l_quantity) AS half_avg_qty
          FROM lineitem GROUP BY l_partkey) t
      ON l.l_partkey = t.l_partkey
    WHERE l.l_quantity < t.half_avg_qty
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated aggregate subquery, decorrelated to a
    self-join on the per-part average). The per-part aggregate has one row
    per part key — partkey-proportional, billions of rows at 100 TB — so
    it carries NO broadcast hint: both sides hash-partition on l_partkey
    (one co-located shuffle), and AQE broadcasts only when the aggregate
    actually fits."""
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy("l_partkey").agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg_qty")
    )
    joined = li.join(avg_qty, "l_partkey").filter(
        F.col("l_quantity") < F.col("half_avg_qty")
    )
    return joined.agg(
        (grid_sum("l_extendedprice", CENTS) / 7.0).alias("avg_yearly")
    )


def _ivf_centroids() -> list[list[float]]:
    cents = []
    for i in range(8):
        c = [0.0] * 64
        c[i * 8 : i * 8 + 8] = [1.0] * 8
        cents.append(c)
    return cents


def _ivf_dist_structs() -> str:
    """Per-centroid squared-distance structs, element-for-element the
    same arithmetic the Spark operator folds into its plan."""
    parts = []
    for i, cent in enumerate(_ivf_centroids()):
        lit = "[" + ", ".join(repr(x) for x in cent) + "]"
        parts.append(
            f"""struct_pack(d := list_sum(list_transform(list_zip(v, {lit}),
                 p -> (p[1] - p[2]) * (p[1] - p[2]))), i := {i})"""
        )
    return "[" + ", ".join(parts) + "]"


@register(
    "cosine_topk_ivf_docs",
    f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    assigned AS (
      SELECT vec_id, v, (list_sort({_ivf_dist_structs()}))[1].i AS cell
      FROM e
    ),
    probed AS (
      SELECT vec_id, v, unnest(list_transform(
               (list_sort({_ivf_dist_structs()}))[1:2], s -> s.i)) AS cell
      FROM e WHERE vec_id < 10
    ),
    cand AS (
      SELECT q.vec_id AS vec_id, q.v AS qv, c.vec_id AS neighbor_id, c.v AS cv
      FROM probed q JOIN assigned c ON q.cell = c.cell
      WHERE c.vec_id != q.vec_id
    ),
    scored AS (SELECT vec_id, neighbor_id, {_COS_SQL} AS cos FROM cand)
    SELECT vec_id, neighbor_id, cos, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
)
def cosine_topk_ivf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate cosine top-5: corpus bucketed by nearest of 8 fixed
    axis-aligned centroids (deterministic stand-in for trained centroids),
    queries probe their 2 nearest cells. The oracle replicates the
    assignment and probing with the identical centroid constants, so the
    approximate result is hash-checked; recall vs brute force is
    asserted in tests."""
    from .operators.similarity import cosine_topk_ivf

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return cosine_topk_ivf(
        q, emb, "vec_id", "vec_id", "embedding", "embedding",
        centroids=_ivf_centroids(), k=5, n_probe=2,
    )


@register(
    "corpus_curation_pipeline",
    f"""
    WITH sig AS (
      SELECT doc_id, source, n_chars,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm_text,
             len({_TOKS_SQL}) AS n_tokens,
             list_sum(list_transform({_TOKS_SQL}, x -> length(x)))::DOUBLE
               / len({_TOKS_SQL}) AS mtl,
             length(regexp_replace(trim(text), '[^0-9]', '', 'g'))::DOUBLE
               / length(trim(text)) AS digit_ratio,
             length(regexp_replace(trim(text), '[^.,;:!?''"]', '', 'g'))::DOUBLE
               / length(trim(text)) AS punct_ratio,
             len(list_filter({_TOKS_SQL}, x -> list_contains(
               ['the','and','of','to','a','in','is','for','on','with'], x)))::DOUBLE
               / len({_TOKS_SQL}) AS stop_ratio
      FROM documents
    ), scored AS (
      SELECT *,
             round(0.4 * (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000
                          AND mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.0 END)
             + 0.3 * least(stop_ratio * 5, 1.0)
             + 0.2 * (1 - least(digit_ratio * 5, 1.0))
             + 0.1 * (1 - least(punct_ratio * 5, 1.0)), 6) AS q
      FROM sig
    ), kept AS (
      SELECT * FROM scored WHERE q >= 0.5
    ), survivors AS (
      SELECT min(doc_id) AS doc_id FROM kept GROUP BY norm_text
    )
    SELECT k.source, count(*) AS n_docs, round(avg(k.n_chars), 2) AS avg_chars
    FROM kept k JOIN survivors s ON k.doc_id = s.doc_id
    GROUP BY k.source
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composition: quality-score filter -> exact
    dedup (survivor = min doc_id per normalized text) -> per-source stats.
    The shape of a real 100 TB pre-training data pipeline, built entirely
    from the engine's operators."""
    from .operators.dedup import exact_dedup_keep
    from .operators.text import quality_score, spread_small_scan

    # round-12: spread the single-file scan before the regex-heavy
    # scoring (guide §2.5 input skew — a no-op on many-file inputs at
    # scale), and keep survivors with ONE content-hash window instead of
    # the dedup-groupBy + join-back (guide §2.4), which evaluated the
    # scoring twice (once per join side) and paid two extra exchanges.
    # The lazy cut is a predicate-pushdown barrier: without it Catalyst
    # pushes the score>=0.5 filter through the repartition back into
    # the single scan task, un-doing the spread (measured — the scoring
    # then runs serially at ~0.5 s/rep).
    docs = materialize(
        spread_small_scan(_t(spark, sf_dir, "documents")), eager=False
    )
    kept = docs.withColumn("q", quality_score(F.col("text"))).filter(
        F.col("q") >= 0.5
    )
    return (
        exact_dedup_keep(kept, "text", "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


@register(
    "pad_to_dense_embeddings",
    """
    SELECT vec_id,
           len(list_concat(embedding, [0.0::FLOAT for _ in range(8)])[1:72]) AS padded_len,
           round(list_sum(list_transform(embedding, x -> x::DOUBLE)), 3) AS checksum
    FROM embeddings
    """,
)
def pad_to_dense_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 parse/pad-to-dense: pad each embedding to 72 elements with zeros
    (output: padded length + value checksum, scalar-comparable)."""
    from .operators.structural import pad_to_dense

    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size(pad_to_dense(F.col("embedding"), 72, fill=0.0)).alias("padded_len"),
        F.round(
            F.aggregate(
                F.transform(F.col("embedding"), lambda x: x.cast("double")),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            3,
        ).alias("checksum"),
    )


@register(
    "block_dedup_roundtrip",
    """
    SELECT c_custkey, c_nationkey, c_mktsegment FROM customer
    """,
)
def block_dedup_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+A3: dictionary-compress customer rows into 64-row blocks
    (mktsegment deduplicated per block with inverse indices) then restore.
    The oracle is the identity — the roundtrip must reproduce the table."""
    from .operators.structural import block_dedup_decode, block_dedup_encode

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    enc = block_dedup_encode(
        c, ["c_mktsegment"], block_size=64, order_by=["c_custkey"]
    )
    return block_dedup_decode(enc, ["c_mktsegment"], ["c_custkey", "c_nationkey"])


@register(
    "percentiles_orders",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
           count(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def percentiles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (ordered-statistics
    aggregation; the approximate scale path is percentile_approx /
    t-digest, not oracle-comparable across engines)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Nested-ragged (rank-2) scan: SURVEY data-model claim, reference
# parquet_dataset_ragged_nested_test.py:43-75
# ---------------------------------------------------------------------------

_NESTED_FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures",
    "nested_ragged.parquet",
)


@register(
    "nested_ragged_scan",
    f"""
    SELECT id,
           len(matrix)::INT AS n_outer,
           len(flatten(matrix))::INT AS n_inner,
           CAST(coalesce(list_sum(flatten(matrix)), 0) AS BIGINT) AS total,
           round(coalesce(list_sum(flatten(weights)), 0), 2) AS wsum
    FROM read_parquet('{_NESTED_FIXTURE}')
    """,
)
def nested_ragged_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-2 ragged read end-to-end: a pyarrow-written (foreign)
    list<list<int64>> / list<list<float64>> parquet file is read through
    read_tabular with declared rank-2 Fields, then reduced per row
    (outer size, flattened size, flattened sums) — proving the nested
    data model through the scan, the type mapping, and expression-level
    nested reductions. Fixture: tools/make_fixtures.py (committed)."""
    from .schema import Field
    from .sources import read_tabular

    df = read_tabular(
        spark,
        _NESTED_FIXTURE,
        fields=[
            Field("id", "int64"),
            Field("matrix", "int64", ragged_rank=2),
            Field("weights", "float64", ragged_rank=2),
        ],
    )
    flat_m = F.flatten("matrix")
    return df.select(
        "id",
        F.size("matrix").alias("n_outer"),
        F.size(flat_m).alias("n_inner"),
        F.aggregate(flat_m, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "total"
        ),
        F.round(
            F.aggregate(F.flatten("weights"), F.lit(0.0), lambda a, x: a + x), 2
        ).alias("wsum"),
    )


@register(
    "orc_scan_suppliers",
    """
    SELECT s_suppkey, s_nationkey, round(s_acctbal, 2) AS acctbal
    FROM supplier
    """,
)
def orc_scan_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: ORC scan through read_orc, oracled against the SAME rows in the
    parquet-backed DuckDB view — the ORC copy is converted once per sf
    from the parquet table with pyarrow (a foreign ORC writer, so Spark's
    ORC reader faces a file it didn't produce)."""
    import pyarrow.orc as po
    import pyarrow.parquet as pq

    from .schema import Field
    from .sources import read_orc

    gen_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures",
        "generated",
    )
    os.makedirs(gen_dir, exist_ok=True)
    tag = os.path.basename(os.path.normpath(sf_dir))
    orc_path = os.path.join(gen_dir, f"supplier_{tag}.orc")
    if not os.path.exists(orc_path):
        po.write_table(pq.read_table(f"{sf_dir}/supplier.parquet"), orc_path)
    df = read_orc(
        spark,
        orc_path,
        fields=[
            Field("s_suppkey", "int64"),
            Field("s_nationkey", "int32"),
            Field("s_acctbal", "float64"),
        ],
    )
    return df.select(
        "s_suppkey", "s_nationkey", F.round("s_acctbal", 2).alias("acctbal")
    )


_JSONL_N_CORRUPT = 5


@register(
    "jsonl_scan_docs",
    f"""
    SELECT source,
           count(*)::BIGINT AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(length(text)) AS BIGINT) AS sum_len
    FROM documents GROUP BY source
    UNION ALL
    SELECT '_quarantined', {_JSONL_N_CORRUPT}, NULL, NULL
    """,
)
def jsonl_scan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/JSONL: corpus interchange roundtrip THROUGH the quarantine
    path. The documents table is serialized once per sf to newline-
    delimited JSON (a foreign writer — python json.dumps, not Spark)
    with {_JSONL_N_CORRUPT} deliberately malformed lines interleaved;
    read_jsonl (sources/tabular.py) parses it PERMISSIVE with a corrupt
    column, the clean subset aggregates per source, and the quarantined
    line count is reported as its own row. The oracle aggregates the
    parquet documents view (clean rows must round-trip exactly — string
    escapes, unicode, lengths) and pins the quarantine count to the
    fixture constant — proving malformed lines land in quarantine
    instead of failing the job or polluting the clean rows."""
    import json

    from .sources.tabular import read_jsonl

    gen_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures",
        "generated",
    )
    os.makedirs(gen_dir, exist_ok=True)
    tag = os.path.basename(os.path.normpath(sf_dir))
    jsonl_path = os.path.join(gen_dir, f"documents_{tag}.jsonl")
    src_path = f"{sf_dir}/documents.parquet"
    # regenerate when the parquet source is NEWER than the cached JSONL
    # (a regenerated fixture must not be silently served stale)
    stale = os.path.exists(jsonl_path) and os.path.getmtime(
        src_path
    ) > os.path.getmtime(jsonl_path)
    if not os.path.exists(jsonl_path) or stale:
        import pyarrow.parquet as pq

        rows = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
        step = max(1, len(rows) // _JSONL_N_CORRUPT)
        tmp = jsonl_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            written = 0
            for i, r in enumerate(rows):
                if i % step == 0 and written < _JSONL_N_CORRUPT:
                    # truncated object: unclosed string -> parse error
                    f.write('{"doc_id": -1, "text": "oops\n')
                    written += 1
                f.write(json.dumps(r, ensure_ascii=False) + "\n")
            while written < _JSONL_N_CORRUPT:
                f.write("not json at all\n")
                written += 1
        os.replace(tmp, jsonl_path)
    df = read_jsonl(
        spark,
        jsonl_path,
        schema="doc_id long, text string, lang string, source string, "
        "n_chars long",
        corrupt_column="_bad",
    )
    # ONE conditional aggregation (not clean/quarantine subqueries):
    # Spark refuses plans whose pruned column set is only the corrupt
    # column, and a single pass reads the file once anyway. Corrupt
    # rows have every declared field null, so their sums are NULL by
    # construction — exactly the quarantine row the oracle pins.
    tag = F.when(F.col("_bad").isNull(), F.col("source")).otherwise(
        F.lit("_quarantined")
    )
    return df.groupBy(tag.alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.length("text")).alias("sum_len"),
    )


# ---------------------------------------------------------------------------
# Corpus-prep operators (LLM pipeline: splits, repetition, packing, chunking)
# ---------------------------------------------------------------------------

# portable deterministic bucket: first 8 md5 hex digits as an int.
# Spark: conv(substring(md5(x),1,8),16,10)  ==  DuckDB: ('0x'||substr(md5(x),1,8))::BIGINT
_BUCKET_SQL = (
    "(('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 8))::BIGINT % 1000000)"
)


@register(
    "hash_split_documents",
    f"""
    WITH s AS (
      SELECT n_chars,
             CASE WHEN {_BUCKET_SQL} < 980000 THEN 'train'
                  WHEN {_BUCKET_SQL} < 990000 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM s GROUP BY split
    """,
)
def hash_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leakage-safe train/val/test split by md5 of doc_id
    (98/1/1). The oracle recomputes the identical hash arithmetic, so the
    assignment itself is hash-checked, not just the counts' plausibility.
    Zero shuffle for the assignment; one partial-agg shuffle for the
    distribution summary."""
    from .operators.corpus import hash_split

    docs = _t(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id", seed=0)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


@register(
    "repetition_signals_docs",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS w FROM documents),
    words AS (SELECT doc_id, unnest(w) AS g, 1 AS kind FROM t),
    bigr AS (
      SELECT doc_id, w[u.i] || ' ' || w[u.i + 1] AS g, 2 AS kind
      FROM t, unnest(range(1, len(w))) u(i)
    ),
    cnt AS (
      SELECT doc_id, kind, g, count(*) AS c
      FROM (SELECT * FROM words UNION ALL SELECT * FROM bigr)
      GROUP BY doc_id, kind, g
    ),
    agg AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN kind = 1 THEN c END) AS BIGINT) AS n_words,
             count(CASE WHEN kind = 1 THEN 1 END) AS n_distinct_words,
             CAST(max(CASE WHEN kind = 1 THEN c END) AS BIGINT) AS top_word,
             CAST(coalesce(sum(CASE WHEN kind = 2 THEN c END), 0) AS BIGINT) AS n_bigrams,
             count(CASE WHEN kind = 2 THEN 1 END) AS n_distinct_bigrams
      FROM cnt GROUP BY doc_id
    )
    SELECT doc_id, n_words, n_distinct_words,
           round(n_distinct_words::DOUBLE / n_words, 6) AS distinct_word_ratio,
           round(top_word::DOUBLE / n_words, 6) AS top_word_frac,
           CASE WHEN n_bigrams = 0 THEN 0.0
                ELSE round((n_bigrams - n_distinct_bigrams)::DOUBLE / n_bigrams, 6)
           END AS dup_bigram_frac
    FROM agg
    """,
)
def repetition_signals_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-family repetition filters per document: distinct-word
    ratio, top-word fraction, duplicate-bigram fraction. Explode grams ->
    two map-side-combining aggregations; shuffle bytes scale with
    distinct grams, not corpus bytes."""
    from .operators.corpus import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


@register(
    "pack_sequences_docs",
    f"""
    WITH t AS (SELECT doc_id, len({_TOKS_SQL})::BIGINT AS n_tok FROM documents),
    c AS (
      SELECT doc_id, n_tok,
             CAST(sum(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM t
    )
    SELECT doc_id, n_tok, cum_tokens,
           (cum_tokens - n_tok) // 2048 AS bin_id,
           (cum_tokens - n_tok) % 2048 AS bin_offset
    FROM c
    """,
)
def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing into 2048-token bins (a doc's
    bin is where its first token lands). The global running token total
    is a distributed prefix sum — range partition + local window +
    per-partition offsets, never a single-partition window."""
    from .operators.corpus import pack_sequences
    from .operators.text import token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("long").alias("n_tok")
    )
    return pack_sequences(docs, "doc_id", "n_tok", budget=2048)


@register(
    "chunk_documents_docs",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS w FROM documents)
    SELECT doc_id,
           u.s // 24 AS chunk_id,
           u.s AS start,
           array_to_string(list_slice(w, u.s + 1, u.s + 32), ' ') AS chunk_text,
           least(32, len(w) - u.s)::BIGINT AS n_chunk_tokens
    FROM t, unnest(range(0, len(w), 24)) u(s)
    WHERE len(w) > 0
    """,
)
def chunk_documents_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token chunks, stride 24) for
    retrieval indexing / context prep. Per-row array expressions + one
    explode — no shuffle."""
    from .operators.corpus import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, stride=24
    )


# ---------------------------------------------------------------------------
# Streaming coverage beyond tumbling (SURVEY §2.10 north-star: sliding,
# session, stateful dedup) — each replayed availableNow vs a batch oracle
# ---------------------------------------------------------------------------


@register(
    "stream_sliding_counts",
    """
    SELECT ((floor(epoch(ts) / 900) - u.k) * 900)::BIGINT AS window_start_sec,
           count(*) AS n_events
    FROM events, unnest([0, 1, 2, 3]) u(k)
    GROUP BY 1
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1h wide, every 15m): each event lands
    in exactly 4 overlapping windows. The oracle materializes the same 4
    window starts per event arithmetically."""
    from .streaming.ops import read_event_stream, run_available_now, sliding_agg

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    agg = sliding_agg(stream, "ts", "1 hour", "15 minutes")
    out = run_available_now(agg)
    return out.select(
        F.unix_timestamp("window_start").alias("window_start_sec"), "n_events"
    )


@register(
    "stream_session_user",
    """
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT)
               AS sid
      FROM o
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts) + INTERVAL 10 MINUTE) AS session_end_us,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (session_window, 10m gap) per
    user. A session closes after 10 minutes of inactivity; its end is
    last-event + gap — the oracle sessionizes the batch table with the
    identical semantics (new session when the gap is >= 10m)."""
    from .streaming.ops import read_event_stream, run_available_now, session_agg

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    agg = session_agg(stream, "ts", "10 minutes", keys=["user_id"])
    out = run_available_now(agg)
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )


@register(
    "stream_dedup_keys",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (dropDuplicatesWithinWatermark) on
    (user_id, event_type): duplicates within the watermark horizon are
    dropped with bounded state. Only the key columns are emitted — which
    physical row survives is not part of the contract."""
    from .streaming.ops import read_event_stream, run_available_now, stream_dedup

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    out = run_available_now(
        stream_dedup(stream, ["user_id", "event_type"], "ts")
    )
    return out.select("user_id", "event_type")


# ---------------------------------------------------------------------------
# Vector centroids + skew-mitigated aggregation (scale-shape demonstrations)
# ---------------------------------------------------------------------------


@register(
    "label_centroid_embeddings",
    """
    WITH e AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings
    ),
    per AS (
      SELECT label, pos,
             CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS BIGINT) AS s,
             count(*) AS n
      FROM e GROUP BY label, pos
    )
    SELECT label, pos, round(s / (1000000.0 * n), 6) AS c, n AS n_vectors
    FROM per
    """,
)
def label_centroid_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (element-wise mean) in the relational
    scale shape: posexplode -> groupBy(label, dim) partial+final avg ->
    reassemble sorted array. Shuffle volume is |labels| x dim doubles, not
    the embedding table; this is the IVF-centroid / class-prototype
    building block. Elements are summed as exact scaled integers so the
    mean is reproducible across engines and partition orders."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos", "x"),
    )
    per = e.groupBy("label", "pos").agg(
        F.sum(grid("x", MICRO)).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    cent = per.select(
        "label",
        "pos",
        F.round(F.col("s") / (F.lit(1_000_000.0) * F.col("n")), 6).alias("c"),
        "n",
    )
    # One scalar row per (label, dim): the driver's canonicalizer cannot
    # hash array cells, so the centroid stays exploded (reassembly into an
    # array is a trivial collect_list for callers that want it).
    return cent.select("label", "pos", "c", F.col("n").alias("n_vectors"))


@register(
    "salted_agg_events",
    f"""
    SELECT event_type,
           count(*) AS n_events,
           {_SQL_MONEY.format(expr="value")} AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def salted_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated two-stage aggregation: partial agg on a salted key
    (hot keys spread over 8 sub-keys), final agg on the bare key. The
    result equals a plain GROUP BY — the salt only reshapes the shuffle
    so no single reducer owns a hot key's entire row set (reference
    analog: modulo re-partition before reduction,
    distribute/partition/partition_by_modulo_ops.cc:46-124). Money-exact
    sums make the two-stage float total reproducible."""
    from .operators.exchange import salted_key

    ev = _t(spark, sf_dir, "events")
    salted = ev.withColumn("_sk", salted_key("event_type", 8)).withColumn(
        "_cents", grid("value", CENTS)
    )
    partial = salted.groupBy("_sk").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_cents").alias("_s")
    )
    return (
        partial.groupBy(F.col("_sk.key").alias("event_type"))
        .agg(
            F.sum("_n").alias("n_events"),
            ungrid(F.sum("_s"), CENTS).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Spec-driven feature pipeline (reference DataSpec, docs/tutorial/ranking/
# data.py:39-199) — config-as-code transform application
# ---------------------------------------------------------------------------

_LINEITEM_SPEC = [
    {"name": "l_quantity", "dtype": "float64", "default": 0, "log": True},
    {"name": "l_extendedprice", "dtype": "float64", "norm": 10000.0},
    {
        "name": "l_partkey",
        "dtype": "int64",
        "default": 0,
        "embedding": {"size": 1000, "dimension": 16},
    },
]


@register(
    "dataspec_transform",
    """
    SELECT l_orderkey, l_linenumber,
           round(ln(1 + CASE WHEN l_quantity IS NOT NULL AND l_quantity >= 0
                             THEN l_quantity ELSE 0 END), 6) AS l_quantity,
           round(l_extendedprice / 10000.0, 6) AS l_extendedprice,
           ((CASE WHEN l_partkey IS NOT NULL AND l_partkey >= 0
                  THEN l_partkey ELSE 0 END % 1000) + 1000) % 1000
             AS l_partkey
    FROM lineitem
    """,
)
def dataspec_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's JSON DataSpec applied declaratively: numeric
    features impute -> log1p -> normalize, categorical features impute ->
    mod-bucket to embedding id space. One spec drives every column; all
    transforms are codegen expressions (the oracle spells out the same
    recipe column by column)."""
    from .functions.spec import DataSpec

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_partkey"
    )
    out = DataSpec(_LINEITEM_SPEC).apply(li)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity", 6).alias("l_quantity"),
        F.round("l_extendedprice", 6).alias("l_extendedprice"),
        "l_partkey",
    )


# ---------------------------------------------------------------------------
# IVF centroid training (distributed Lloyd k-means) — closes the "centroids
# are offline constants" gap: the coarse quantizer is trained IN the engine
# ---------------------------------------------------------------------------


def _kmeans_oracle(iters: int = 2) -> str:
    """Unrolled Lloyd iterations in SQL: assignment by lexicographic
    (distance, cell) struct-min — identical tie-break to the Spark
    argmin — and exact scaled-integer means, so every iteration's
    centroids are bit-equal across engines."""
    assign = (
        "SELECT e.vec_id, e.v, (min(struct_pack("
        "d := list_sum(list_transform(list_zip(e.v, c.c), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))), i := c.cell))).i AS cell "
        "FROM e, {src} c GROUP BY e.vec_id, e.v"
    )
    update = """
    u{i} AS (
      SELECT cell, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x
      FROM a{i}
    ),
    s{i} AS (
      SELECT cell, pos,
             CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS BIGINT) AS s,
             count(*) AS n
      FROM u{i} GROUP BY cell, pos
    ),
    cu{i} AS (
      SELECT cell, list(s / (1000000.0 * n) ORDER BY pos) AS c
      FROM s{i} GROUP BY cell
    ),
    c{j} AS (
      SELECT c{i}.cell, coalesce(cu{i}.c, c{i}.c) AS c
      FROM c{i} LEFT JOIN cu{i} USING (cell)
    )"""
    parts = [
        """
    WITH RECURSIVE e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ),
    c0 AS (SELECT vec_id::INT AS cell, v AS c FROM e WHERE vec_id < 8)"""
    ]
    for i in range(iters):
        parts.append(f",\n    a{i} AS ({assign.format(src=f'c{i}')})")
        parts.append("," + update.format(i=i, j=i + 1))
    parts.append(f",\n    af AS ({assign.format(src=f'c{iters}')})")
    parts.append(
        f"""
    , agg AS (SELECT af.cell, count(*) AS n_members FROM af GROUP BY af.cell)
    SELECT agg.cell, agg.n_members,
           generate_subscripts(c{iters}.c, 1) - 1 AS pos,
           unnest(list_transform(c{iters}.c, x -> round(x, 6))) AS value
    FROM agg JOIN c{iters} USING (cell)
    """
    )
    return "".join(parts)


@register("ivf_train_centroids", _kmeans_oracle())
def ivf_train_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the IVF coarse quantizer with 2 distributed Lloyd
    iterations (deterministic init: 8 smallest vec_ids), then assign the
    corpus. Assignment is a per-row argmin over centroid literals (zero
    shuffle); each update is one bounded groupBy(cell, dim). The oracle
    unrolls identical iterations in SQL — centroids and assignments are
    bit-checked, not spot-checked."""
    from .operators.similarity import _consts, ivf_assign, kmeans_train

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans_train(emb, "embedding", k=8, iters=2, id_col="vec_id")
    assigned = ivf_assign(emb, "embedding", cents, "cell")
    counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_members"))
    cent_lookup = F.element_at(_consts(cents), F.col("cell") + 1)
    return counts.select(
        "cell",
        "n_members",
        F.posexplode(
            F.transform(cent_lookup, lambda x: F.round(x, 6))
        ).alias("pos", "value"),
    )


# ---------------------------------------------------------------------------
# Decorrelated-subquery suite (TPC-H Q4/Q7/Q10/Q16/Q18/Q22 shapes) — the
# relational patterns a reference user's ad-hoc analytics would hit next:
# EXISTS / IN / NOT IN / scalar subqueries, expressed so Catalyst
# decorrelates them into semi/anti/broadcast joins (J6 family).
# ---------------------------------------------------------------------------


@register(
    "q4_order_priority",
    """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS decorrelated into a left-semi
    join with a non-equi residual (l_shipdate > o_orderdate). The probe
    side carries only (l_orderkey, l_shipdate) — at 100 TB the semi join
    shuffles two columns, never the lineitem payload."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q7_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l.l_shipdate) AS l_year,
           sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT))
             / 100.0 AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
       OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: 6-way join with a cross-dimension OR predicate.
    Both nation legs broadcast, and the nation-reduced supplier side is
    hinted (supplier is the reference's sharded dimension — small enough
    after the 2-of-25-nation semi-reduction). Orders and the nation-reduced
    customer remain fact-proportional, so they carry NO hint: Catalyst/AQE
    broadcasts them at small SF and falls back to sort-merge at 100 TB.
    Plan-gated in tests/test_plan_scale.py."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    pair = ("NATION_3", "NATION_7")
    n1 = n.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    sn = s.join(F.broadcast(n1), s.s_nationkey == n1.s_nk).select(
        "s_suppkey", "supp_nation"
    )
    cn = c.join(F.broadcast(n2), c.c_nationkey == n2.c_nk).select(
        "c_custkey", "cust_nation"
    )
    return (
        li.join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cn, o.o_custkey == cn.c_custkey)
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            grid_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), CENTS).alias(
                "revenue"
            )
        )
    )


@register(
    "q10_returned_items",
    """
    WITH rev AS (
      SELECT c.c_custkey, c.c_name, n.n_name,
             round(c.c_acctbal, 2) AS c_acctbal,
             sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT))
               AS revenue_cents
      FROM customer c
      JOIN orders o   ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
      WHERE l.l_returnflag = 'R'
      GROUP BY c.c_custkey, c.c_name, n.n_name, round(c.c_acctbal, 2)
    )
    SELECT c_custkey, c_name, n_name, c_acctbal,
           revenue_cents / 100.0 AS revenue
    FROM rev
    ORDER BY revenue_cents DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue, top 20 customers. The
    top-k cutoff orders by EXACT integer cents (then custkey), so the
    selected set is identical across engines and partition orders; Spark
    runs it as a TakeOrderedAndProject (no global sort materialized).
    Only nation (25 rows) is hint-broadcast; orders and customer are
    fact-proportional, so Catalyst/AQE picks their strategy — broadcast
    at small SF, sort-merge at 100 TB. Plan-gated in
    tests/test_plan_scale.py."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "c_custkey", "c_name", "n_name", F.round("c_acctbal", 2).alias("c_acctbal")
        )
        .agg(
            F.sum(
                grid(F.col("l_extendedprice") * (1 - F.col("l_discount")), CENTS)
            ).alias("revenue_cents")
        )
    )
    return (
        rev.orderBy(F.desc("revenue_cents"), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "c_acctbal",
            ungrid(F.col("revenue_cents"), CENTS).alias("revenue"),
        )
    )


@register(
    "q16_supplier_counts",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND ps.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct (part, supplier) pairs from the fact
    table stand in for partsupp; NOT IN over a filtered supplier list is
    a broadcast anti join (the exclusion list is tiny by construction),
    then a distinct-count per (brand, type, size)."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q18_large_orders",
    """
    WITH big AS (
      SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS BIGINT)) > 250
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           round(o.o_totalprice, 2) AS o_totalprice, big.total_qty
    FROM big
    JOIN orders o   ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-qualified IN subquery as a pre-aggregated
    join. The quantity sum runs as exact BIGINTs (quantities are
    integral), so the >250 cutoff cannot ulp-flip; the survivors (~1% of
    orders) then join orders/customer. Customer is fact-proportional, so
    it carries no broadcast hint — AQE sees the tiny post-HAVING survivor
    set at runtime and broadcasts THAT side instead, which stays correct
    at 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


@register(
    "q22_idle_rich_customers",
    """
    WITH stats AS (
      SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS s, count(*) AS n
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment, count(*) AS numcust,
           sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) / 100.0 AS totacctbal
    FROM customer c, stats
    WHERE c.c_acctbal > 0
      AND CAST(round(c.c_acctbal * 100) AS BIGINT) * stats.n > stats.s
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY c.c_mktsegment
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold + NOT EXISTS anti join.
    The 'above average balance' comparison is cross-multiplied into pure
    integer arithmetic (cents * count > sum_cents) — no double division,
    so the boundary set is bit-identical across engines. The scalar
    aggregate broadcasts as a single row; the anti join streams orders
    keys only."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    cents = grid("c_acctbal", CENTS)
    stats = c.agg(
        F.sum(cents).alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        c.withColumn("cents", cents)
        .join(F.broadcast(stats))
        .filter(F.col("cents") * F.col("n") > F.col("s"))
        .join(o, F.col("c_custkey") == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            ungrid(F.sum("cents"), CENTS).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Range join + stratified sampling (scale-shaped corpus/event primitives)
# ---------------------------------------------------------------------------


@register(
    "interval_join_shipwindows",
    """
    WITH iv AS (
      SELECT l_orderkey AS w_orderkey, l_linenumber AS w_line,
             l_shipdate AS w_start, l_shipdate + INTERVAL 7 DAY AS w_end
      FROM lineitem WHERE l_quantity > 49
    ),
    pts AS (
      SELECT o_orderkey, o_orderdate FROM orders WHERE o_totalprice > 400000
    )
    SELECT w_orderkey, w_line, o_orderkey, o_orderdate
    FROM iv JOIN pts
      ON pts.o_orderdate >= iv.w_start AND pts.o_orderdate < iv.w_end
    """,
)
def interval_join_shipwindows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join: which big orders were placed inside
    each high-quantity shipment's 7-day window. The naive non-equi join
    is a cartesian; :func:`interval_join` buckets time at the interval
    width so it runs as a hash equi-join on bucket id with the range
    predicate residual (plan-gated: no CartesianProduct)."""
    from .operators.joins import interval_join

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    iv = li.filter(F.col("l_quantity") > 49).select(
        F.col("l_orderkey").alias("w_orderkey"),
        F.col("l_linenumber").alias("w_line"),
        F.col("l_shipdate").alias("w_start"),
        (F.col("l_shipdate") + F.expr("INTERVAL 7 DAY")).alias("w_end"),
    )
    pts = o.filter(F.col("o_totalprice") > 400000).select(
        "o_orderkey", "o_orderdate"
    )
    return interval_join(
        pts, iv, "o_orderdate", "w_start", "w_end", bucket_width_s=7 * 86400
    ).select("w_orderkey", "w_line", "o_orderkey", "o_orderdate")


@register(
    "stratified_sample_docs",
    """
    SELECT doc_id, lang FROM documents
    WHERE (('0x' || substr(md5(doc_id::VARCHAR || ':1'), 1, 8))::BIGINT % 10000)
          < CASE WHEN lang = 'en' THEN 1500 ELSE 6000 END
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing downsample: keep 15% of the dominant 'en'
    stratum and 60% of everything else, as a deterministic map-only
    filter (zero shuffle; membership is re-derivable row-by-row — the
    oracle recomputes the identical md5 arithmetic, so the SELECTED SET
    is hash-checked, not just its size)."""
    from .operators.corpus import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "lang", "doc_id", {"en": 0.15}, default_fraction=0.6, seed=1
    ).select("doc_id", "lang")


@register(
    "stratified_topn_docs",
    """
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(doc_id::VARCHAR || ':0'), doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, source FROM r WHERE rn <= 5
    """,
)
def stratified_topn_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota sampling: exactly 5 documents per source, chosen by
    deterministic md5 order — one shuffle on the stratum key, per-stratum
    top-n window. The companion to the shuffle-free rate sampler when
    the contract is an exact per-stratum count."""
    from .operators.corpus import stratified_topn

    docs = _t(spark, sf_dir, "documents")
    return stratified_topn(docs, "source", "doc_id", n=5).select(
        "doc_id", "source"
    )


@register(
    "bm25_rank_docs",
    f"""
    WITH toked AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    stats AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl FROM toked),
    post AS (
      SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM toked
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
      FROM post WHERE term IN ('hash', 'join', 'spark', 'vector')
      GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    sc AS (
      SELECT t.doc_id,
             round(sum(
               ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (t.tf * 2.2)
               / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl
                                / (s.sum_dl::DOUBLE / s.n_docs)))
             ), 6) AS score,
             count(*) AS n_hits
      FROM tf t JOIN dfreq d USING (term), stats s
      GROUP BY t.doc_id
    )
    SELECT doc_id, score, n_hits FROM sc ORDER BY score DESC, doc_id LIMIT 15
    """,
)
def bm25_rank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 for a 4-term query over the documents corpus. The
    postings are filtered to the query terms before any shuffle; corpus
    stats and per-term document frequencies broadcast. The oracle
    replicates the identical score arithmetic (same association order),
    so the ranking itself is hash-checked."""
    from .operators.ranking import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(
        docs, "doc_id", "text", ["hash", "join", "spark", "vector"], k=15
    )


@register(
    "stream_running_counter",
    """
    SELECT user_id, count(*) AS n_events,
           sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT)) / 100.0
             AS sum_value
    FROM events GROUP BY user_id
    """,
)
def stream_running_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-
    user running (count, sum) with explicit state, replayed availableNow.
    The accumulator keeps exact integer cents, so the final emission per
    key is bit-equal to the batch aggregate no matter how the stream was
    micro-batched — hash-checked against the batch SQL oracle."""
    from .streaming.ops import read_event_stream, run_available_now
    from .streaming.stateful import running_counter

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    out = run_available_now(running_counter(stream))
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@register(
    "funnel_events",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT v.user_id, min(e.ts) AS t2
      FROM v JOIN events e
        ON e.user_id = v.user_id AND e.event_type = 'click'
       AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 1 HOUR
      GROUP BY v.user_id
    ),
    p AS (
      SELECT c.user_id, min(e.ts) AS t3
      FROM c JOIN events e
        ON e.user_id = c.user_id AND e.event_type = 'purchase'
       AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 1 HOUR
      GROUP BY c.user_id
    )
    SELECT 1 AS stage_idx, 'view' AS stage, (SELECT count(*) FROM v) AS n_users
    UNION ALL
    SELECT 2, 'click', (SELECT count(*) FROM c)
    UNION ALL
    SELECT 3, 'purchase', (SELECT count(*) FROM p)
    """,
)
def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-match conversion funnel view -> click -> purchase with a
    1-hour step window: per stage, how many users converted. Every step
    is a user-key min-aggregation + equi-join (all shuffles on user_id);
    per-stage state is one row per surviving user."""
    from .functions.windows import funnel_min_times

    ev = _t(spark, sf_dir, "events")
    stages = ["view", "click", "purchase"]
    dfs = funnel_min_times(ev, "user_id", "ts", "event_type", stages)
    parts = [
        df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i + 1).alias("stage_idx"),
            F.lit(stage).alias("stage"),
            "n_users",
        )
        for i, (stage, df) in enumerate(zip(stages, dfs))
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@register(
    "heavy_hitter_tokens",
    f"""
    WITH t AS (
      SELECT unnest({_TOKS_SQL}) AS term FROM documents
    )
    SELECT term, count(*) AS n
    FROM t GROUP BY term
    ORDER BY n DESC, term LIMIT 20
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: top-20 tokens by frequency
    (deterministic tie-break on the token). Explode -> partial-agg
    count: shuffle volume is the distinct vocabulary, not the corpus;
    the top-k is a TakeOrderedAndProject, not a global sort."""
    from .operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(20)
    )


_SHINGLES3_SQL = (
    f"list_distinct(list_transform(generate_series(1, len({_TOKS_SQL}) - 2),"
    f" i -> array_to_string(({_TOKS_SQL})[i:i+2], ' ')))"
)


@register(
    "decontaminate_docs",
    f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES3_SQL} AS s FROM documents
    ),
    ev AS (SELECT doc_id AS eval_id, unnest(s) AS g FROM sh WHERE doc_id % 10 = 0),
    cp AS (SELECT doc_id AS corpus_id, unnest(s) AS g FROM sh WHERE doc_id % 10 <> 0)
    SELECT corpus_id, eval_id, count(*) AS n_common
    FROM cp JOIN ev USING (g)
    GROUP BY corpus_id, eval_id
    HAVING count(*) >= 5
    """,
)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag corpus documents sharing >= 5
    distinct word 3-grams with any eval document (here: every 10th doc
    plays the eval set). Eval shingles broadcast; the corpus is one
    map-side pass into a broadcast join — no corpus shuffle before the
    match filter."""
    from .operators.dedup import contamination_check

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    cp = docs.filter(F.col("doc_id") % 10 != 0)
    return contamination_check(cp, ev, "text", "doc_id", 3, 5)


@register(
    "quantize_embeddings_int8",
    """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) AS scale
      FROM v
    )
    SELECT vec_id, round(scale, 6) AS scale6,
           generate_subscripts(qa, 1) - 1 AS pos,
           unnest(qa) AS q
    FROM (
      SELECT vec_id, scale,
             CASE WHEN scale = 0 THEN list_transform(e, x -> 0)
                  ELSE list_transform(e, x -> CAST(round(x / scale * 127) AS INT))
             END AS qa
      FROM s
    )
    """,
)
def quantize_embeddings_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding corpus
    (4x storage reduction for ANN at scale) as pure array expressions —
    the quantized codes themselves are hash-checked against the oracle's
    identical arithmetic."""
    from .operators.similarity import quantize_int8

    emb = _t(spark, sf_dir, "embeddings")
    return quantize_int8(emb, "embedding").select(
        "vec_id",
        F.round("scale", 6).alias("scale6"),
        F.posexplode("q").alias("pos", "q"),
    )


@register(
    "cube_sales",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: full CUBE aggregation (all grouping-set combinations) —
    native Catalyst expand + single shuffle."""
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "order_date_gaps",
    """
    WITH bounds AS (SELECT min(o_orderdate) AS mn, max(o_orderdate) AS mx
                    FROM orders),
    spine AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS d
              FROM bounds),
    od AS (SELECT DISTINCT o_orderdate AS d FROM orders)
    SELECT s.d AS missing_day
    FROM spine s LEFT JOIN od ON s.d = od.d
    WHERE od.d IS NULL
    """,
)
def order_date_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap detection: generate the full day spine between
    the first and last order date (sequence + explode — rows from
    expressions, no data read) and anti-join the observed dates. The
    spine is bounded by the date range, never by table size."""
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_orderdate").alias("mn"), F.max("o_orderdate").alias("mx")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))
        ).alias("missing_day")
    )
    observed = o.select(F.col("o_orderdate").alias("d")).distinct()
    return spine.join(
        observed, spine.missing_day == observed.d, "left_anti"
    )


@register(
    "retention_cohorts",
    """
    WITH f AS (
      SELECT user_id, min(date_trunc('week', ts)) AS w0
      FROM events GROUP BY user_id
    ),
    a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
    SELECT f.w0 AS cohort_week,
           CAST(epoch(a.w) - epoch(f.w0) AS BIGINT) // 604800 AS week_offset,
           count(*) AS n_users
    FROM a JOIN f USING (user_id)
    GROUP BY cohort_week, week_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-active week,
    counted at each later active week offset. Two user-key aggregations
    + one user-key join — all shuffles on user_id — then a small
    (cohort, offset) rollup."""
    ev = _t(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    first = ev.groupBy("user_id").agg(F.min(wk).alias("w0"))
    active = ev.select("user_id", wk.alias("w")).distinct()
    return (
        active.join(first, "user_id")
        .select(
            # DuckDB's date_trunc('week') yields DATE; align the output type
            F.col("w0").cast("date").alias("cohort_week"),
            F.expr("(unix_seconds(w) - unix_seconds(w0)) div 604800").alias(
                "week_offset"
            ),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "stream_click_purchase_join",
    """
    SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts, p.value AS purchase_value
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join: each click paired with same-user
    purchases in the following 30 minutes. Both sides are independent
    file streams; watermarks + the event-time bound let Spark evict join
    state, so per-key state is window-bounded. Replayed availableNow and
    hash-checked against the batch non-equi join."""
    from .streaming.ops import (
        read_event_stream,
        run_available_now,
        stream_stream_join,
    )

    clicks = (
        read_event_stream(spark, f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "click")
        .select("user_id", "ts")
    )
    purchases = (
        read_event_stream(spark, f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), "value")
    )
    out = run_available_now(
        stream_stream_join(
            clicks, purchases, "user_id", "ts", "p_ts",
            "INTERVAL 30 MINUTES",
        )
    )
    return out.select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("p_ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )


@register(
    "latest_state_per_key",
    """
    WITH r AS (
      SELECT user_id, event_type, ts, event_id, value,
             row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    )
    SELECT user_id, event_type, ts AS last_ts, event_id AS last_event_id,
           value AS last_value
    FROM r WHERE rn = 1
    """,
)
def latest_state_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/changelog compaction: the current state of every
    (user, event_type) after replaying the event log — latest row per
    key with a unique-id tie-break. One key shuffle + top-1 window."""
    from .operators.structural import changelog_compact

    ev = _t(spark, sf_dir, "events")
    return changelog_compact(
        ev, ["user_id", "event_type"], ["ts", "event_id"]
    ).select(
        "user_id",
        "event_type",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


@register(
    "unpivot_lineitem_metrics",
    """
    WITH w AS (
      SELECT l_returnflag,
             round(sum(l_quantity), 2) AS sum_qty,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
               AS sum_price
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM w
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, sum_price AS val FROM w
    """,
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-flag aggregates back to long
    (flag, metric, value) via ``stack`` — the inverse of
    `pivot_returns`, zero extra shuffle beyond the aggregation."""
    wide = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            grid_sum("l_extendedprice", CENTS).alias("sum_price"),
        )
    )
    return wide.selectExpr(
        "l_returnflag",
        "stack(2, 'sum_qty', sum_qty, 'sum_price', sum_price) AS (metric, val)",
    )


# ---------------------------------------------------------------------------
# TPC-H completion batch (Q6/Q8/Q9/Q13/Q14/Q15/Q19/Q21 shapes) — the
# remaining canonical relational patterns: ultra-selective scan-agg,
# case-ratio market share, profit rollup, outer-join distribution,
# scalar-ratio, argmax-by-scalar-subquery, disjunctive brackets, and
# double-correlated EXISTS. (Q2/Q11/Q20 need a partsupp table the test
# schema does not have; their subquery shapes are covered by Q15/Q16/Q22.)
# ---------------------------------------------------------------------------


@register(
    "q6_forecast_revenue",
    """
    SELECT sum(CAST(round((l_extendedprice * l_discount) * 100) AS BIGINT)) / 100.0
             AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: ultra-selective scan + global agg, no joins, no
    groupBy — the pure pushdown benchmark. The discount band compares
    exact integer percents (round(d*100)), so the boundary rows cannot
    ulp-flip between engines; all three filters push to the parquet scan
    and the single-row aggregate needs one tiny shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & grid("l_discount", CENTS).between(5, 7)
            & (F.col("l_quantity") < 24)
        ).agg(
            grid_sum(F.col("l_extendedprice") * F.col("l_discount"), CENTS).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q8_market_share",
    """
    SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
           round(
             sum(CASE WHEN n1.n_name = 'NATION_5'
                      THEN CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT)
                      ELSE 0 END)
             * 1.0 /
             sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT)),
             6) AS mkt_share
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n2.n_regionkey
    WHERE p.p_type = 'PROMO'
      AND r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — an 8-way star join where
    the measure is a conditional-sum ratio. The true dims broadcast
    (filtered part keys, nation-tagged supplier, nation, region); the
    supplier-nation name rides along as a flag so the share is one pass.
    Orders and the region-reduced customer are fact-proportional and carry
    NO hint — Catalyst/AQE broadcasts them at small SF and degrades to
    sort-merge at 100 TB. Both engines divide the same two exact cent
    BIGINTs, so round(.,6) is bit-stable. Plan-gated in
    tests/test_plan_scale.py."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = _t(spark, sf_dir, "supplier")
    sn = s.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    asia_nations = n.join(
        F.broadcast(r.select("r_regionkey")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("asia_nk"))
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(asia_nations), F.col("c_nationkey") == F.col("asia_nk")
    ).select("c_custkey")
    cents = grid(F.col("l_extendedprice") * (1 - F.col("l_discount")), CENTS)
    return (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(o.select("o_orderkey", "o_orderdate", "o_custkey"),
              li.l_orderkey == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == c.c_custkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", cents).otherwise(
                        F.lit(0)
                    )
                )
                * 1.0
                / F.sum(cents),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "q9_product_profit",
    """
    SELECT n.n_name AS nation, EXTRACT(year FROM l.l_shipdate) AS o_year,
           sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT))
             / 100.0 AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (partsupp-free): profit per supplier-nation per
    year over parts matching a name pattern. The LIKE filter reduces
    part BEFORE it broadcasts; lineitem is the only table that moves,
    and only into its aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    sn = s.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("nation"))),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "nation")
    return (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .groupBy("nation", F.year("l_shipdate").alias("o_year"))
        .agg(
            grid_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), CENTS).alias(
                "sum_profit"
            )
        )
    )


@register(
    "q13_customer_distribution",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey
       AND o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c.c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customers-per-order-count histogram. The outer
    join keeps zero-order customers (count(o_orderkey) counts non-null
    matches only — the LEFT JOIN's null row contributes 0); the second
    aggregate is over one row per customer, so the big shuffle happens
    exactly once, on the join key."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q14_promo_revenue",
    """
    SELECT round(
             100.0 *
             sum(CASE WHEN p.p_type = 'PROMO'
                      THEN CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT)
                      ELSE 0 END)
             / sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT)),
             6) AS promo_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue percentage for one ship month —
    part join + conditional-sum ratio collapsed to one row. The part
    table is partkey-proportional (not a constant-size dim), so it carries
    no broadcast hint — the one-month lineitem filter makes the fact side
    small and Catalyst/AQE picks broadcast vs shuffle from actual sizes.
    Exact-cents numerator/denominator; identical division order in both
    engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = grid(F.col("l_extendedprice") * (1 - F.col("l_discount")), CENTS)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0)))
                / F.sum(cents),
                6,
            ).alias("promo_revenue")
        )
    )


@register(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT))
               AS rc
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, rev.rc / 100.0 AS total_revenue
    FROM rev
    JOIN supplier s ON s.s_suppkey = rev.l_suppkey
    WHERE rev.rc = (SELECT max(rc) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: argmax via scalar subquery — quarterly revenue
    per supplier, keep the max. The max is taken over exact integer
    cents, so ties and the cutoff are deterministic; the single-row max
    broadcasts back against the per-supplier aggregate (no second pass
    over lineitem)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            grid(F.col("l_extendedprice") * (1 - F.col("l_discount")), CENTS)
        ).alias("rc")
    )
    best = rev.agg(F.max("rc").alias("best_rc"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(best), rev.rc == F.col("best_rc"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey", "s_name", ungrid(F.col("rc"), CENTS).alias("total_revenue")
        )
    )


@register(
    "q19_bracket_predicates",
    """
    SELECT sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT))
             / 100.0 AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#3'  AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1  AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#24' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
)
def q19_bracket_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive bracket predicates spanning both join
    sides. The part side pre-filters to the union of the three brand/size
    brackets (a superset pushdown that keeps the broadcast tiny); the OR
    across (brand, size, quantity) brackets is evaluated as the join
    residual, exactly as written."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15))
        | ((F.col("p_brand") == "Brand#15") & F.col("p_size").between(1, 25))
        | ((F.col("p_brand") == "Brand#24") & F.col("p_size").between(1, 35))
    ).select("p_partkey", "p_brand", "p_size")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    bracket = (
        (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(1, 25)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#24")
            & F.col("p_size").between(1, 35)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 30)
        )
    )
    return joined.filter(bracket).agg(
        grid_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), CENTS).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q21_sole_late_supplier",
    """
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 10
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (receiptdate-free): suppliers who were the ONLY
    late shipper (>60 days after order date) in a multi-supplier order —
    EXISTS + NOT EXISTS, decorrelated into a left-semi and a left-anti
    join on the order key with a supplier-inequality residual. Both probe
    sides carry two columns; the anti side is the already-filtered late
    set, so neither correlated scan rereads lineitem payloads. The
    orders⋈lineitem pair carries no broadcast hint (orders is
    fact-proportional); only the supplier dim is hinted. Plan-gated in
    tests/test_plan_scale.py."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    others = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("y_orderkey"), F.col("l_suppkey").alias("y_suppkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    sole_late = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("x_orderkey"))
            & (F.col("l_suppkey") != F.col("x_suppkey")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("y_orderkey"))
            & (F.col("l_suppkey") != F.col("y_suppkey")),
            "left_anti",
        )
    )
    return (
        sole_late.join(F.broadcast(s), sole_late.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Curation batch 3: PII redaction, corpus source mix, recency-decayed user
# features, deterministic negative sampling.
# ---------------------------------------------------------------------------


@register(
    "redact_pii_docs",
    """
    WITH p AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com from 10.'
                  || (doc_id % 200) || '.0.' || (doc_id % 250)
                  || ' or +1 555-' || (1000 + doc_id % 9000) || '-'
                  || (100 + doc_id % 900)
                  || ' ssn 123-45-' || (1000 + doc_id % 9000) AS pii_text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(pii_text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(pii_text,
               '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS n_ipv4,
           len(regexp_extract_all(pii_text,
               '\\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ][0-9]{3,4}')) AS n_phone,
           len(regexp_extract_all(pii_text,
               '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS n_ssn_like,
           md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               pii_text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
               '\\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ][0-9]{3,4}', '<PHONE>', 'g'),
               '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<ID>', 'g')) AS redacted_md5
    FROM p
    """,
)
def redact_pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents: deterministic synthetic PII (email,
    IP, phone, SSN-style id derived from doc_id) is appended to each
    document, then scrubbed by `text.redact_pii` — pure JVM regexp
    expressions, counts taken on the pre-redaction text, output verified
    by md5 of the redacted string. Zero shuffles: a map-only pipeline."""
    from .operators.text import redact_pii

    docs = _t(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".0."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(" or +1 555-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        F.lit("-"),
        (F.lit(100) + F.col("doc_id") % 900).cast("string"),
        F.lit(" ssn 123-45-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
    )
    r = redact_pii(pii_text)
    return docs.select(
        "doc_id",
        r["n_email"].cast("long").alias("n_email"),
        r["n_ipv4"].cast("long").alias("n_ipv4"),
        r["n_phone"].cast("long").alias("n_phone"),
        r["n_ssn_like"].cast("long").alias("n_ssn_like"),
        F.md5(r["redacted"]).alias("redacted_md5"),
    )


@register(
    "source_mix_report",
    f"""
    WITH t AS (
      SELECT source, lang, len({_TOKS_SQL}) AS n_toks, n_chars FROM documents
    ),
    agg AS (
      SELECT source, lang, count(*) AS n_docs,
             CAST(sum(CAST(n_toks AS BIGINT)) AS BIGINT) AS total_tokens,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM t GROUP BY source, lang
    ),
    tot AS (SELECT sum(total_tokens) AS grand FROM agg)
    SELECT source, lang, n_docs, total_tokens, total_chars,
           round(total_tokens * 1.0 / tot.grand, 6) AS token_share
    FROM agg, tot
    """,
)
def source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mix report: per (source, lang) document/token/char totals
    and each cell's share of all tokens — the table a data-mixture
    curator reads before setting sampling weights. One shuffle for the
    group-by; the grand total is a single-row broadcast back onto the
    (tiny) aggregate, not a second corpus pass."""
    from .operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    agg = (
        docs.select(
            "source", "lang", token_count(F.col("text")).alias("n_toks"), "n_chars"
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_toks").cast("long")).alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
    tot = agg.agg(F.sum("total_tokens").alias("grand"))
    return agg.join(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "total_tokens",
        "total_chars",
        F.round(F.col("total_tokens") * 1.0 / F.col("grand"), 6).alias("token_share"),
    )


@register(
    "user_value_decay",
    """
    WITH e AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(max(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS DATE)
               AS d_last,
             CAST(round(value * 100) AS BIGINT) AS cents,
             ts
      FROM events
    )
    SELECT user_id,
           round(sum(cents * (CASE WHEN date_diff('day', d, d_last) <= 30
                  THEN (1::BIGINT << (30 - date_diff('day', d, d_last)))
                  ELSE 0 END)) / (1073741824 * 100.0), 6) AS decayed_value,
           epoch_us(max(ts)) AS last_ts_us
    FROM e
    GROUP BY user_id
    """,
)
def user_value_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted user feature: exponentially time-decayed value sum
    (half-life 1 day, 30-day horizon) anchored at each user's last event.
    The decay weight is an integer power-of-two shift and the value is
    quantized to cents, so the aggregate is exact integer arithmetic with
    ONE final division — bit-identical across engines and partition
    orders, with a single shuffle on user_id."""
    from .functions.windows import time_decayed_sum

    ev = _t(spark, sf_dir, "events")
    out = time_decayed_sum(
        ev, key="user_id", ts="ts", value="value", horizon_days=30
    )
    return out.select(
        "user_id",
        "decayed_value",
        F.unix_micros("last_ts").alias("last_ts_us"),
    )


@register(
    "negative_samples_orders",
    """
    WITH pos AS (
      SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item_id
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey < 300
    ),
    cand AS (
      SELECT user_id, item_id, slot,
             CAST(('0x' || substr(md5(
               user_id || '|' || item_id || '|' || slot || ':0'
             ), 1, 8)) AS BIGINT) % 2000 AS neg_item
      FROM pos, (SELECT unnest([0, 1]) AS slot)
    )
    SELECT c.user_id, c.item_id, c.slot, c.neg_item
    FROM cand c
    WHERE NOT EXISTS (
      SELECT 1 FROM pos p
      WHERE p.user_id = c.user_id AND p.item_id = c.neg_item
    )
    """,
)
def negative_samples_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling over purchase history: for each
    (customer, purchased part) pair, two md5-derived candidate parts,
    minus any the customer actually bought (anti join on the positive
    set). The negatives are reproducible across engines — the oracle
    recomputes the identical hash arithmetic, so the sampled SET (not
    just its size) is hash-checked."""
    from .operators.corpus import negative_samples

    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pos = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item_id")
    )
    return negative_samples(
        pos, user_col="user_id", item_col="item_id", n_items=2000, k=2, seed=0
    )


# ---------------------------------------------------------------------------
# Curation batch 4: line-level dedup, URL/domain analytics, unigram-LM
# quality scoring, temperature mixture sampling, vocabulary encoding.
# ---------------------------------------------------------------------------


@register(
    "line_dedup_docs",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS w FROM documents),
    l AS (
      SELECT doc_id,
             ((len(w) + 2) // 3)::BIGINT AS n_lines,
             (u.s // 3)::BIGINT AS pos,
             array_to_string(list_slice(w, u.s + 1, u.s + 3), ' ') AS line
      FROM t, unnest(range(0, len(w), 3)) u(s)
      WHERE len(w) > 0
    ),
    k AS (
      SELECT doc_id, n_lines, pos, line,
             row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
      FROM l
    )
    SELECT doc_id, max(n_lines) AS n_lines, count(*) AS n_kept,
           string_agg(line, ' ' ORDER BY pos) AS dedup_text
    FROM k WHERE rn = 1
    GROUP BY doc_id
    """,
)
def line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level exact dedup: 3-token lines, global first-
    occurrence-wins, documents rebuilt from surviving lines. Two
    partial-agg shuffles (line text, then doc id); no windows over data,
    no driver collect."""
    from .operators.corpus import line_dedup

    return line_dedup(
        _t(spark, sf_dir, "documents"), "doc_id", "text", line_tokens=3
    )


@register(
    "url_domains_docs",
    """
    WITH p AS (
      SELECT doc_id,
             text || ' see https://w' || (doc_id % 5) || '.site'
                  || (doc_id % 17) || '.com/p/' || doc_id
                  || ' and http://ads.tracker' || (doc_id % 11)
                  || '.net/x' AS t
      FROM documents
    ),
    u AS (
      SELECT doc_id, unnest(regexp_extract_all(t,
               'https?://[A-Za-z0-9.-]+(?:/[A-Za-z0-9._/%-]*)?')) AS url
      FROM p
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(string_split(host, '.')) <= 2 THEN host
                  ELSE string_split(host, '.')[-2] || '.'
                       || string_split(host, '.')[-1]
             END AS domain
      FROM (SELECT doc_id,
                   regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1) AS host
            FROM u)
    )
    SELECT domain, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs,
           (domain LIKE 'tracker%') AS blocked
    FROM g GROUP BY domain
    """,
)
def url_domains_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL analytics with blocklist flagging: deterministic
    synthetic URLs appended per doc, extracted by the cross-engine regex,
    reduced to registrable domains (eTLD+1 approximation), aggregated.
    One shuffle on the (low-cardinality) domain key."""
    from .operators.text import extract_urls, registrable_domain, url_host

    docs = _t(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" see https://w"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".site"),
        (F.col("doc_id") % 17).cast("string"),
        F.lit(".com/p/"),
        F.col("doc_id").cast("string"),
        F.lit(" and http://ads.tracker"),
        (F.col("doc_id") % 11).cast("string"),
        F.lit(".net/x"),
    )
    urls = docs.select(
        "doc_id", F.explode(extract_urls(pii_text)).alias("url")
    )
    doms = urls.select(
        "doc_id", registrable_domain(url_host(F.col("url"))).alias("domain")
    )
    return doms.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.max(F.col("domain").startswith("tracker")).alias("blocked"),
    )


@register(
    "unigram_surprisal_docs",
    f"""
    WITH w AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    v AS (SELECT tok, count(*)::BIGINT AS c FROM w GROUP BY tok),
    tot AS (SELECT sum(c)::BIGINT AS n FROM v),
    b AS (
      SELECT w.doc_id,
             (length(bin(tot.n)) - length(bin(v.c)))::BIGINT AS bits
      FROM w JOIN v USING (tok), tot
    )
    SELECT doc_id, count(*)::BIGINT AS n_toks,
           round(sum(bits) * 1.0 / count(*), 6) AS avg_surprisal_bits
    FROM b GROUP BY doc_id
    """,
)
def unigram_surprisal_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score: per-token surprisal in whole bits from
    exact integer log2 (binary digit count) of corpus frequencies — the
    cheap perplexity-filter stand-in, bit-identical across engines. Vocab
    built in one partial-agg pass and broadcast back; one doc-key
    aggregation scores."""
    from .operators.corpus import unigram_surprisal

    return unigram_surprisal(_t(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "temperature_mixture_docs",
    """
    WITH s AS (SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY source),
    t AS (SELECT sum(n)::BIGINT AS total FROM s),
    w AS (
      SELECT source, n,
             CAST(floor(sqrt(n * 1000000000000.0 / total)) AS BIGINT) AS wq
      FROM s, t
    ),
    ws AS (SELECT sum(wq)::BIGINT AS wsum FROM w),
    r AS (
      SELECT source,
             least(1.0, ((wq / wsum) * (0.5 * total)) / n) AS rate
      FROM w, ws, t
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN r USING (source)
    WHERE CAST(('0x' || substr(md5(d.doc_id || ':0'), 1, 8)) AS BIGINT) % 1048576
          < CAST(floor(rate * 1048576) AS BIGINT)
    """,
)
def temperature_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-0.5 source rebalancing at 50% overall volume: per-
    source keep rates from integer-quantized sqrt weights (deterministic
    across engines), membership by pure md5 filter. The corpus is never
    shuffled — one tiny source aggregate joins back broadcast. The
    sampled SET itself is hash-checked, not just its size."""
    from .operators.corpus import temperature_sample

    docs = _t(spark, sf_dir, "documents")
    return temperature_sample(
        docs, "source", F.col("doc_id"), target_frac=0.5, seed=0
    ).select("doc_id", "source")


@register(
    "vocab_encode_docs",
    f"""
    WITH w AS (
      SELECT doc_id, u.i - 1 AS pos, toks[u.i] AS tok
      FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) t,
           unnest(range(1, len(toks) + 1)) u(i)
    ),
    v AS (SELECT tok, count(*) AS c FROM w GROUP BY tok),
    ids AS (
      SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS id
      FROM (SELECT * FROM v ORDER BY c DESC, tok LIMIT 1000)
    )
    SELECT w.doc_id, pos, coalesce(ids.id, 0) AS token_id
    FROM w LEFT JOIN ids USING (tok)
    """,
)
def vocab_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary (count desc, token asc; ids from 1)
    and per-document token-id encoding, OOV=0 — tokenizer-training plus
    corpus-encoding minus the BPE merges. Ranking sorts only the
    aggregated vocab (bounded by top_v); ids broadcast back; one doc-key
    rebuild aggregation."""
    from .operators.corpus import vocab_encode

    enc = vocab_encode(
        _t(spark, sf_dir, "documents"), "doc_id", "text", top_v=1000
    )
    # Exploded to one scalar row per (doc_id, token position) — the
    # driver's canonicalizer cannot hash array cells.
    return enc.select(
        "doc_id", F.posexplode("token_ids").alias("pos", "token_id")
    )


# ---------------------------------------------------------------------------
# Round-2 continuation: graph analytics, dimension history, rolling
# distincts, weighted sampling, profiling, semantic dedup
# ---------------------------------------------------------------------------

_PR_ITER = 3


def _pagerank_oracle() -> str:
    """Unrolled integer-exact PageRank iterations (identical arithmetic to
    operators/graph.py::pagerank: rank div degree, 85/100 damping in
    integer div, scale 1e9)."""
    ctes = [
        """
        edges AS (SELECT DISTINCT o_custkey * 10 AS a, l_suppkey * 10 + 1 AS b
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
        deg AS (SELECT a AS s, count(*) AS d FROM sym GROUP BY a),
        nodes AS (SELECT DISTINCT a AS node FROM sym),
        r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes)
        """
    ]
    for i in range(1, _PR_ITER + 1):
        ctes.append(
            f"""
        s{i} AS (SELECT e.b AS node, CAST(sum(r.r // d.d) AS BIGINT) AS m
                 FROM sym e JOIN r{i - 1} r ON r.node = e.a
                            JOIN deg d ON d.s = e.a
                 GROUP BY e.b),
        r{i} AS (SELECT n.node,
                        CAST(150000000 + (85 * coalesce(s.m, 0)) // 100 AS BIGINT) AS r
                 FROM nodes n LEFT JOIN s{i} s ON s.node = n.node)
            """
        )
    return (
        "WITH " + ",".join(ctes)
        + f" SELECT node, r AS rank FROM r{_PR_ITER}"
    )


def _ppr_oracle() -> str:
    """Unrolled integer-exact PERSONALIZED PageRank (identical arithmetic
    to operators/graph.py::personalized_pagerank: seed-only restart,
    rank div degree, 85/100 integer damping, scale 1e9)."""
    ctes = [
        """
        edges AS (SELECT DISTINCT o_custkey * 10 AS a, l_suppkey * 10 + 1 AS b
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
        deg AS (SELECT a AS s, count(*) AS d FROM sym GROUP BY a),
        allnodes AS (SELECT DISTINCT node FROM (
            SELECT a AS node FROM sym UNION ALL SELECT b FROM sym)),
        seedset AS (SELECT c_custkey * 10 AS node FROM customer
                    WHERE c_custkey % 40 = 0),
        nodes AS (SELECT allnodes.node,
                         CASE WHEN seedset.node IS NULL THEN 0 ELSE 1 END
                           AS seed
                  FROM allnodes LEFT JOIN seedset USING (node)),
        r0 AS (SELECT node, CAST(seed * 1000000000 AS BIGINT) AS r
               FROM nodes)
        """
    ]
    for i in range(1, _PR_ITER + 1):
        ctes.append(
            f"""
        s{i} AS (SELECT e.b AS node, CAST(sum(r.r // d.d) AS BIGINT) AS m
                 FROM sym e JOIN r{i - 1} r ON r.node = e.a
                            JOIN deg d ON d.s = e.a
                 GROUP BY e.b),
        r{i} AS (SELECT n.node,
                        CAST(n.seed * 150000000
                             + (85 * coalesce(s.m, 0)) // 100 AS BIGINT) AS r
                 FROM nodes n LEFT JOIN s{i} s ON s.node = n.node)
            """
        )
    return (
        "WITH " + ",".join(ctes)
        + f" SELECT node, r AS rank FROM r{_PR_ITER}"
    )


@register("ppr_customer_supplier", _ppr_oracle())
def ppr_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a seed cohort (every 40th customer)
    over the symmetrized trade graph: rank = proximity to the seeds,
    the related-entity / recommendation primitive. 3 exact-integer
    iterations; the oracle unrolls the identical seed-restart updates,
    so every rank is bit-checked. Same per-round join+agg shuffle shape
    as pagerank — |edges| bytes per round, node-key partitioned."""
    from .operators.graph import personalized_pagerank

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 10).alias("a"),
            (F.col("l_suppkey") * 10 + 1).alias("b"),
        )
        .distinct()
    )
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    seeds = c.filter(F.col("c_custkey") % 40 == 0).select(
        (F.col("c_custkey") * 10).alias("id")
    )
    return personalized_pagerank(
        sym, seeds, "a", "b", seed_col="id", iterations=_PR_ITER
    )


@register(
    "sort_advisor_lineitem",
    """
    WITH li AS (
      SELECT extract(month FROM l_shipdate) AS ship_month,
             l_returnflag, l_linestatus, l_quantity
      FROM lineitem
    ),
    stats AS (
      SELECT 'l_returnflag' AS candidate, count(*) AS n,
             count(DISTINCT l_linestatus) AS d1,
             count(DISTINCT l_quantity) AS d2
      FROM li GROUP BY l_returnflag
      UNION ALL
      SELECT 'ship_month', count(*),
             count(DISTINCT l_linestatus), count(DISTINCT l_quantity)
      FROM li GROUP BY ship_month
    ),
    agg AS (
      SELECT candidate, CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(sum(d1) AS BIGINT) AS r1, CAST(sum(d2) AS BIGINT) AS r2
      FROM stats GROUP BY candidate
    )
    SELECT candidate, col AS "column", n_rows,
           CAST(CASE col WHEN 'l_linestatus' THEN r1
                ELSE r2 END AS BIGINT) AS min_runs,
           round(CAST(CASE col WHEN 'l_linestatus' THEN r1 ELSE r2 END
                      AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS runs_ratio
    FROM agg CROSS JOIN (SELECT unnest(['l_linestatus', 'l_quantity'])
                         AS col) cols
    """,
)
def sort_advisor_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-key advisor readout over lineitem: for each candidate sort
    key, the exact lower bound on post-sort value runs of the measured
    columns (sum of per-group distincts) — the layout-decision input
    for run-length compression and min/max skipping at 100 TB, computed
    WITHOUT any global sort (one partial+final agg per candidate).
    Complements zorder_key_lineitem on the physical-design surface."""
    from .operators.layout import sort_key_advisor

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_month", F.month("l_shipdate").cast("long")
    )
    return sort_key_advisor(
        li,
        candidates=["l_returnflag", "ship_month"],
        measure_cols=["l_linestatus", "l_quantity"],
    )


@register("pagerank_customer_supplier", _pagerank_oracle())
def pagerank_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite customer-supplier trade graph (edge =
    some order by the customer includes a lineitem from the supplier),
    symmetrized so every node has out-degree. 3 iterations of exact
    integer arithmetic (ranks at 1e9 scale), so both engines agree
    bit-for-bit — the oracle unrolls the identical iterations in SQL."""
    from .operators.graph import pagerank

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 10).alias("a"),
            (F.col("l_suppkey") * 10 + 1).alias("b"),
        )
        .distinct()
    )
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    return pagerank(sym, "a", "b", iterations=_PR_ITER)


@register(
    "scd2_user_state",
    """
    WITH s AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) = 1
                       OR lag(event_type) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)
                          IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
    ),
    st AS (SELECT user_id, event_type, ts, event_id FROM s WHERE chg = 1)
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           row_number() OVER w AS version,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM st
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history from the events changelog: one
    versioned validity interval per run of equal event_type per user —
    the inverse of changelog compaction (latest_state_per_key)."""
    from .operators.structural import scd2_intervals

    ev = _t(spark, sf_dir, "events")
    return scd2_intervals(
        ev, keys=["user_id"], order_by=["ts", "event_id"],
        state_cols=["event_type"],
    )


@register(
    "rolling_active_users",
    """
    WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    days AS (SELECT DISTINCT d AS day FROM ud),
    contrib AS (
      SELECT u.user_id, dd.day
      FROM ud u JOIN days dd ON dd.day BETWEEN u.d AND u.d + 6
    )
    SELECT day, count(DISTINCT user_id) AS active_ids
    FROM contrib GROUP BY day
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per observed day (the WAU
    curve). Distinct counts don't decompose over sliding windows, so each
    distinct (user, day) is exploded into the days it keeps the user
    active for — shuffle volume |user-days| x 7, not raw events."""
    from .functions.windows import rolling_distinct_count

    ev = _t(spark, sf_dir, "events")
    return rolling_distinct_count(
        ev, ts="ts", id_col="user_id", window_days=7,
        day_col="day", out_col="active_ids",
    )


@register(
    "rolling_active_users_sketch",
    """
    WITH ev AS (
      SELECT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    h AS (
      SELECT d,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 2))::INT AS reg,
             ('0x' || substr(md5(user_id::VARCHAR), 3, 4))::INT AS v16
      FROM ev
    ),
    daily AS (
      SELECT d, reg,
             max(CASE WHEN v16 = 0 THEN 17
                      ELSE 17 - length(bin(v16)) END) AS rho
      FROM h GROUP BY d, reg
    ),
    days AS (SELECT DISTINCT d AS day FROM daily),
    contrib AS (
      SELECT CAST(daily.d + to_days(CAST(x.x AS INT)) AS DATE) AS day,
             reg, rho
      FROM daily CROSS JOIN (SELECT unnest(range(0, 90)) AS x) x
    ),
    win AS (
      SELECT c.day, c.reg, max(c.rho) AS rho
      FROM contrib c JOIN days USING (day)
      GROUP BY c.day, c.reg
    )
    SELECT day,
           count(*) AS n_regs,
           CAST(256 - count(*) AS BIGINT) AS zeros,
           CAST(sum(1::BIGINT << (17 - rho))
                + (256 - count(*)) * (1::BIGINT << 17) AS BIGINT)
             AS harmonic_num,
           round((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
                 * 131072.0
                 / CAST(sum(1::BIGINT << (17 - rho))
                        + (256 - count(*)) * (1::BIGINT << 17) AS DOUBLE),
                 4) AS raw_est
    FROM win GROUP BY day
    """,
)
def rolling_active_users_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based rolling 90-day distinct active users — the scale
    path for long windows: each day collapses to <= 256 HLL register
    rows (shuffle independent of id cardinality), then a trailing-window
    register-max merge. Rebuilt in round 6 on the md5-register
    replayable-HLL design that `mau_hll_events` proved out: registers,
    ranks, the integer harmonic numerator, and the uncorrected double
    estimate (pure rational arithmetic — a sum of 2^(17-rho) terms is a
    dyadic rational, exact in double) are all hash-verifiable
    cross-engine, so the LAST rows-only query of the surface now
    carries a full value oracle. The opaque Datasketches variant
    remains available as functions/windows.py:
    rolling_distinct_count_sketch with its accuracy bound pinned in
    tests/test_windows_features.py."""
    from .functions.windows import rolling_distinct_count_hll_md5

    ev = _t(spark, sf_dir, "events")
    return rolling_distinct_count_hll_md5(
        ev, ts="ts", id_col="user_id", window_days=90, day_col="day"
    )


@register(
    "weighted_sample_docs",
    """
    WITH p AS (
      SELECT doc_id, n_chars,
             (('0x' || substr(md5(doc_id::VARCHAR || ':5'), 1, 10))::BIGINT
              * 100000) // n_chars AS priority
      FROM documents
    )
    SELECT doc_id, n_chars, priority
    FROM p ORDER BY priority, doc_id LIMIT 100
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-biased sampling without replacement: 100
    documents drawn favoring longer ones (monotone in length, not exactly
    proportional — see operators/corpus.py:weighted_sample for the bias
    semantics). Selection is md5-derived integer arithmetic — the oracle
    recomputes the exact sample, so membership itself is hash-checked."""
    from .operators.corpus import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, key="doc_id", weight="n_chars", k=100, seed=5)


_PROFILE_COLS = [
    "l_orderkey",
    "l_quantity",
    "l_extendedprice",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
]
_PROFILE_NUMERIC = {"l_orderkey", "l_quantity", "l_extendedprice"}


def _profile_oracle() -> str:
    blocks = []
    for c in _PROFILE_COLS:
        mean = (
            f"round(avg({c}), 4)::DOUBLE" if c in _PROFILE_NUMERIC
            else "NULL::DOUBLE"
        )
        blocks.append(
            f"""
        SELECT '{c}' AS column_name,
               count(*) AS n_rows,
               count(CASE WHEN {c} IS NULL THEN 1 END) AS n_null,
               count(DISTINCT {c}) AS n_distinct,
               min({c})::VARCHAR AS min_value,
               max({c})::VARCHAR AS max_value,
               {mean} AS mean_value
        FROM lineitem
            """
        )
    return " UNION ALL ".join(blocks)


@register("profile_lineitem", _profile_oracle())
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data profiling of lineitem (counts, nulls, exact
    distincts, min/max, means) in long format — value-level validation
    companion to the reference's schema validate CLI
    (data/validate.py:40-75)."""
    from .operators.profile import profile_columns

    li = _t(spark, sf_dir, "lineitem")
    # the sf-scale files arrive as ~3 splits on a 32-core box; project +
    # repartition restores parallelism (see profile_columns docstring)
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return profile_columns(li, cols=_PROFILE_COLS, repartition_to=parts)


def _semantic_dedup_oracle() -> str:
    cos = """
      list_sum(list_transform(list_zip(x.v, y.v), p -> p[1] * p[2]))
      / (sqrt(list_sum(list_transform(x.v, q -> q * q)))
         * sqrt(list_sum(list_transform(y.v, q -> q * q))))
    """
    return f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ),
    a0 AS (
      SELECT vec_id, v, (list_sort({_ivf_dist_structs()}))[1].i AS cell
      FROM e
    ),
    cn AS (SELECT cell, count(*) AS cnt FROM a0 GROUP BY cell),
    a AS (
      SELECT a0.vec_id, a0.v, a0.cell,
             ('0x' || substr(md5(a0.vec_id::VARCHAR), 1, 4))::INT
               % CAST((cn.cnt + 249) // 250 AS INT) AS shard
      FROM a0 JOIN cn USING (cell)
    ),
    p AS (
      SELECT x.vec_id AS ia, y.vec_id AS ib
      FROM a x JOIN a y
        ON x.cell = y.cell AND x.shard = y.shard AND x.vec_id < y.vec_id
      WHERE round({cos}, 6) >= 0.35
    ),
    ed AS (SELECT ia AS ea, ib AS eb FROM p UNION ALL SELECT ib, ia FROM p),
    reach(src, dst) AS (
      SELECT ea, ea FROM (SELECT DISTINCT ea FROM ed)
      UNION
      SELECT r.src, e2.eb FROM reach r JOIN ed e2 ON r.dst = e2.ea
    ),
    comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src)
    SELECT vec_id, cell FROM a
    WHERE vec_id NOT IN (SELECT id FROM comp WHERE component < id)
    """


@register("semantic_dedup_docs", _semantic_dedup_oracle())
def semantic_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: embeddings clustered to the 8 fixed
    IVF centroids, cosine>=0.35 pairs found ONLY within a cell (cells
    over 250 rows sub-split by a replayable md5 shard hash — the
    round-6 linearity bound added after the scale sweep measured 3.1x
    super-linear growth at 10x data; work is now <= n * 250 / 2 pair
    scores), true connected components, smallest id survives. The
    oracle replicates assignment (identical centroid constants), the
    shard split, in-cell pair scoring, and the closure as a recursive
    CTE — survivors are hash-checked. At sf0.01 every cell is under
    the bound (shards == 1), so the split is also a no-op there."""
    from .operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "embedding", "vec_id", centroids=_ivf_centroids(),
        threshold=0.35, max_cell_rows=250,
    )


@register(
    "incremental_sales_state",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def incremental_sales_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the pre-1997 base
    is aggregated once, the 1997+ delta separately, and the two partial
    states merged key-wise (full-outer join + null-safe add). The oracle
    recomputes the aggregate over ALL orders from scratch — hash equality
    proves incremental == batch, the property that lets a 100 TB rollup
    be maintained by aggregating only the new partition."""
    from .operators.structural import merge_partial_aggregates

    orders = _t(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01 00:00:00").cast("timestamp")

    def _agg(d: DataFrame) -> DataFrame:
        return d.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(grid("o_totalprice", CENTS)).alias("total_cents"),
        )

    base = _agg(orders.filter(F.col("o_orderdate") < cut))
    delta = _agg(orders.filter(F.col("o_orderdate") >= cut))
    return merge_partial_aggregates(
        base, delta, keys=["o_orderpriority"], counters=["n_orders", "total_cents"]
    )



def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part co-purchase edge list (pa < pb, co-occurring in >= 2
    orders) — shared by the wedge-join graph family
    (triangle_count_parts / clustering_coeff_parts /
    link_predict_parts) so the graph definition cannot drift between
    the global count, the per-node coefficient, and link prediction."""
    li = _t(spark, sf_dir, "lineitem")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count_distinct(F.col("a.l_orderkey")).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("pa", "pb")
    )


@register(
    "triangle_count_parts",
    """
    WITH pp AS (
      SELECT a.l_orderkey AS ok, a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (SELECT pa, pb FROM pp GROUP BY pa, pb
          HAVING count(DISTINCT ok) >= 2)
    SELECT count(*) AS n_triangles
    FROM e e1 JOIN e e2 ON e2.pa = e1.pb
              JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    """,
)
def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the part co-purchase graph (edge = two parts
    co-occurring in >= 2 orders): ordered wedge join, each triangle
    counted once — the classic join-only distributed graph metric
    (clustering-coefficient numerator)."""
    from .operators.graph import triangle_count

    pairs = _copurchase_pairs(spark, sf_dir)
    return triangle_count(pairs, "pa", "pb")


@register(
    "source_token_drift",
    f"""
    WITH w AS (SELECT source, unnest({_TOKS_SQL}) AS tok FROM documents),
    gt AS (SELECT source, tok, count(*)::BIGINT AS cg
           FROM w GROUP BY source, tok),
    corpus AS (SELECT tok, CAST(sum(cg) AS BIGINT) AS cc FROM gt GROUP BY tok),
    totals AS (SELECT source, CAST(sum(cg) AS BIGINT) AS tg
               FROM gt GROUP BY source),
    grand AS (SELECT CAST(sum(cc) AS BIGINT) AS t FROM corpus),
    j AS (
      SELECT gt.source, gt.cg, totals.tg,
             ((length(bin(grand.t)) - length(bin(corpus.cc)))
              - (length(bin(totals.tg)) - length(bin(gt.cg)))) AS db
      FROM gt JOIN corpus USING (tok) JOIN totals USING (source), grand
    )
    SELECT source, max(tg) AS n_tokens,
           round(sum(cg * db) * 1.0 / max(tg), 6) AS drift_bits
    FROM j GROUP BY source
    """,
)
def source_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift of each source vs the whole corpus, in
    exact integer floor(log2) bits (no float log — engine-identical): the
    data-drift monitor for source mix shifts. Shuffles scale with
    |sources x vocab|, not corpus bytes."""
    from .operators.corpus import distribution_drift

    docs = _t(spark, sf_dir, "documents")
    return distribution_drift(docs, "source", "text")


@register(
    "asof_next_purchase",
    """
    SELECT c.event_id, min(p.ts) AS next_purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id AND p.ts >= c.ts
    GROUP BY c.event_id
    """,
)
def asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 forward direction: for each click, the EARLIEST purchase
    at-or-after it by the same user — the same union + window
    implementation as the backward as-of (one shuffle on the key, no
    range cross-join), scanned in descending time."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    out = asof_join(
        clicks, purchases, on="user_id", left_ts="ts",
        right_ts="purchase_ts", direction="forward",
    )
    return out.select(
        "event_id", F.col("purchase_ts").alias("next_purchase_ts")
    )


@register(
    "value_deciles_by_priority",
    """
    WITH d AS (
      SELECT o_orderpriority, o_totalprice,
             ntile(10) OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT o_orderpriority, decile, count(*) AS n,
           CAST(round(min(o_totalprice) * 100) AS BIGINT) AS min_cents,
           CAST(round(max(o_totalprice) * 100) AS BIGINT) AS max_cents
    FROM d GROUP BY o_orderpriority, decile
    """,
)
def value_deciles_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile bucketing (ntile deciles) of order value WITHIN each
    priority class — the windows partition on the group key, so no
    global single-partition sort; ties broken by o_orderkey for
    engine-identical bucket edges."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return (
        orders.withColumn("decile", F.ntile(10).over(w))
        .groupBy("o_orderpriority", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            grid(F.min("o_totalprice"), CENTS).alias("min_cents"),
            grid(F.max("o_totalprice"), CENTS).alias("max_cents"),
        )
    )


@register(
    "order_value_histogram",
    """
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 600000 THEN 25
                ELSE CAST(floor(o_totalprice / 25000.0) AS BIGINT) + 1
           END AS bucket,
           count(*) AS n
    FROM orders GROUP BY bucket
    """,
)
def order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound value histogram (width_bucket): a pure map expression
    + one partial-agg shuffle of at most 26 bucket rows — the profiling
    histogram that costs one scan at any scale. Integer bounds with a
    clean bucket width keep edge assignment engine-exact."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(24)).alias(
                "bucket"
            )
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "stream_segment_counts",
    """
    SELECT (floor(epoch(e.ts) / 86400) * 86400)::BIGINT AS window_start_sec,
           c.c_mktsegment AS segment,
           count(*) AS n_events,
           sum(CAST(round(e.value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
)
def stream_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joined per micro-batch
    against a broadcast static dimension (customer segment), then a
    watermarked daily tumbling aggregation. The static side is loaded
    once and broadcast — no stream-side state beyond the window
    aggregation. Bounded replay must equal the batch join+aggregate."""
    from .streaming.ops import read_event_stream, run_available_now, tumbling_agg

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    enriched = stream.join(
        F.broadcast(cust), stream.user_id == cust.c_custkey
    )
    agg = tumbling_agg(enriched, "ts", "1 day", keys=["segment"])
    out = run_available_now(agg)
    return out.select(
        F.unix_timestamp("window_start").alias("window_start_sec"),
        "segment",
        "n_events",
        "sum_value",
    )


@register(
    "grouping_sets_lineitem",
    """
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
           count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: explicit non-hierarchical GROUPING SETS (neither a rollup
    prefix chain nor a full cube) with grouping() markers disambiguating
    aggregation NULLs from data NULLs — one pass, Catalyst expands to a
    single Expand + hash aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
               count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "latest_state_with_tombstones",
    """
    WITH ranked AS (
      SELECT event_id, user_id, event_type, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT event_id, user_id, event_type, ts, round(value, 2) AS value
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
)
def latest_state_with_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction with delete semantics: the latest row per user
    wins, but a user whose latest record is a tombstone ('error' here)
    is dropped from the materialized state — the compacted-topic /
    upsert-with-deletes contract."""
    from .operators.structural import changelog_compact

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", F.round("value", 2).alias("value")
    )
    return changelog_compact(
        ev,
        keys=["user_id"],
        order_by=["ts", "event_id"],
        tombstone=F.col("event_type") == "error",
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 / Q11 / Q20 shapes over a DERIVED partsupp: the testdata lacks a
# partsupp table, so one is synthesized deterministically from lineitem's
# distinct (partkey, suppkey) with engine-portable integer arithmetic —
# the identical CTE runs in the DuckDB oracles, so the hash gate is exact.
# These close the last decorrelation shapes: correlated min-cost subquery
# (Q2), group HAVING against a global scalar (Q11), and semi join over an
# aggregated correlated subquery (Q20).
# ---------------------------------------------------------------------------

_PARTSUPP_SQL = """
    partsupp AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             ((l_partkey * 37 + l_suppkey * 17) % 100000 + 100)
               AS ps_supplycost_cents,
             ((l_partkey * 31 + l_suppkey * 7) % 9999 + 1) AS ps_availqty
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    )
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp: distinct (l_partkey, l_suppkey) pairs with
    ps_supplycost_cents / ps_availqty synthesized by pure BIGINT
    arithmetic (mirrors ``_PARTSUPP_SQL`` exactly). One shuffle for the
    distinct; at scale it partitions on the pair key, the same key the
    consuming joins group on."""
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
    )
    return pairs.select(
        "ps_partkey",
        "ps_suppkey",
        ((F.col("ps_partkey") * 37 + F.col("ps_suppkey") * 17) % 100000 + 100)
        .alias("ps_supplycost_cents"),
        ((F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 7) % 9999 + 1)
        .alias("ps_availqty"),
    )


@register(
    "q2_min_cost_supplier",
    f"""
    WITH {_PARTSUPP_SQL},
    rs AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA'
    ),
    ps_r AS (
      SELECT ps.ps_partkey, ps.ps_supplycost_cents,
             rs.s_name, rs.s_acctbal, rs.n_name
      FROM partsupp ps JOIN rs ON rs.s_suppkey = ps.ps_suppkey
    ),
    mc AS (
      SELECT ps_partkey, min(ps_supplycost_cents) AS min_cents
      FROM ps_r GROUP BY ps_partkey
    )
    SELECT p.p_partkey, p.p_name, ps_r.s_name, ps_r.n_name,
           round(ps_r.s_acctbal, 2) AS s_acctbal,
           ps_r.ps_supplycost_cents / 100.0 AS supplycost
    FROM ps_r
    JOIN mc ON mc.ps_partkey = ps_r.ps_partkey
           AND ps_r.ps_supplycost_cents = mc.min_cents
    JOIN part p ON p.p_partkey = ps_r.ps_partkey
    WHERE p.p_size = 15 AND p.p_type = 'PROMO'
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the region-local
    supplier(s) offering the MINIMUM supply cost — a correlated min
    subquery decorrelated into a per-part min aggregate joined back on
    (partkey, min_cost). The min is over exact integer cents so cost
    ties keep all witnesses deterministically (no LIMIT needed). Scale
    plan: supplier⋈nation⋈region prune to one region AND the selective
    part filter (p_size=15 AND p_type='PROMO', ~1/50 of parts) are both
    applied BEFORE the min aggregate — min per partkey is unchanged by
    dropping other partkeys, so broadcast-joining the filtered part
    first cuts the agg + self-join input by the part selectivity; the
    min-agg and the join-back then share the ps_partkey partitioning."""
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "PROMO")
    )
    rs = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps_rp = (
        ps.join(F.broadcast(rs), ps.ps_suppkey == rs.s_suppkey)
        .join(F.broadcast(p.select("p_partkey", "p_name")),
              ps.ps_partkey == F.col("p_partkey"))
        .select(
            "ps_partkey", "ps_supplycost_cents",
            "s_name", "s_acctbal", "n_name", "p_partkey", "p_name",
        )
    )
    mc = (
        ps_rp.groupBy("ps_partkey")
        .agg(F.min("ps_supplycost_cents").alias("min_cents"))
        .withColumnRenamed("ps_partkey", "_mc_partkey")
    )
    return (
        ps_rp.join(
            mc,
            (F.col("ps_partkey") == F.col("_mc_partkey"))
            & (F.col("ps_supplycost_cents") == F.col("min_cents")),
        )
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            ungrid(F.col("ps_supplycost_cents"), CENTS).alias("supplycost"),
        )
    )


@register(
    "q11_important_stock",
    f"""
    WITH {_PARTSUPP_SQL},
    nps AS (
      SELECT ps.ps_partkey,
             ps.ps_supplycost_cents * ps.ps_availqty AS value_cents
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3'
    ),
    val AS (
      SELECT ps_partkey, sum(value_cents) AS value_cents
      FROM nps GROUP BY ps_partkey
    ),
    tot AS (SELECT sum(value_cents) AS total_cents FROM val)
    SELECT v.ps_partkey, v.value_cents / 100.0 AS part_value
    FROM val v, tot
    WHERE v.value_cents * 1000 > tot.total_cents
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value within one nation,
    keeping parts whose value exceeds a fraction of the nation's GLOBAL
    total — group HAVING against a global scalar subquery. The fraction
    compare is cross-multiplied into pure BIGINT arithmetic
    (value * 1000 > total), so the boundary set is bit-identical across
    engines. The scalar total is a single-row broadcast back onto the
    per-part aggregate; partsupp itself is aggregated once."""
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    val = (
        ps.join(F.broadcast(sn), ps.ps_suppkey == sn.s_suppkey)
        .select(
            "ps_partkey",
            (F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias("_vc"),
        )
        .groupBy("ps_partkey")
        .agg(F.sum("_vc").alias("value_cents"))
    )
    tot = val.agg(F.sum("value_cents").alias("total_cents"))
    return (
        val.join(F.broadcast(tot))
        .filter(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select("ps_partkey", ungrid(F.col("value_cents"), CENTS).alias("part_value"))
    )


@register(
    "q20_excess_stock_suppliers",
    f"""
    WITH {_PARTSUPP_SQL},
    shipped AS (
      SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS BIGINT)) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_partkey, l_suppkey
    ),
    excess AS (
      SELECT DISTINCT ps.ps_suppkey
      FROM partsupp ps
      JOIN part p ON p.p_partkey = ps.ps_partkey
      JOIN shipped sh ON sh.l_partkey = ps.ps_partkey
                     AND sh.l_suppkey = ps.ps_suppkey
      WHERE p.p_name LIKE 'small%'
        AND 2 * ps.ps_availqty > sh.qty
    )
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_3'
      AND EXISTS (SELECT 1 FROM excess e WHERE e.ps_suppkey = s.s_suppkey)
    """,
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation holding EXCESS stock of
    'small%' parts — availqty greater than half the quantity they
    actually shipped in a year. The correlated aggregated subquery
    (sum of shipped quantity per part+supplier) decorrelates into a
    pre-aggregation joined on the SAME (partkey, suppkey) pair key
    partsupp is built on; the half comparison is integer-exact
    (2*availqty > qty). The supplier membership test is a left-semi
    join (EXISTS), never a row-multiplying inner join."""
    ps = _partsupp(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    excess = (
        ps.join(F.broadcast(p.select("p_partkey")), ps.ps_partkey == F.col("p_partkey"))
        .join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .filter(2 * F.col("ps_availqty") > F.col("qty"))
        .select("ps_suppkey")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(excess, s.s_suppkey == excess.ps_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    )


@register(
    "cc_star_event_chains",
    """
    WITH RECURSIVE e AS (
      SELECT user_id, event_id,
             lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events
    ),
    e0 AS (SELECT prev AS a, event_id AS b FROM e WHERE prev IS NOT NULL),
    edges AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
    reach(src, dst) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT r.src, g.b FROM reach r JOIN edges g ON r.dst = g.a
    )
    SELECT src AS id, min(dst) AS component FROM reach GROUP BY src
    """,
)
def cc_star_event_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-contraction connected components on a DEEP graph: each
    user's events, ordered by time, form a chain (up to ~90 hops in the
    test data) — the shape where O(diameter) label propagation is at its
    worst and the large-star/small-star alternation
    (:func:`~hybridbackend_spark.operators.graph.
    connected_components_star`, O(log d) rounds) earns its keep. The
    oracle recomputes true transitive closure with a recursive CTE.
    Components are chain-order independent (any per-user ordering
    connects the same node set), so nanos-vs-micros timestamp tie-breaks
    cannot flip the result."""
    from .operators.graph import connected_components_star

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(
            "user_id",
            "event_id",
            F.lag("event_id").over(w).alias("prev"),
        )
        .filter(F.col("prev").isNotNull())
        .select("prev", "event_id")
    )
    return connected_components_star(edges, "prev", "event_id")


# ---------------------------------------------------------------------------
# TPC-H Q12 over DERIVED shipping columns: the testdata lineitem carries
# only l_shipdate, so shipmode / commit / receipt dates are synthesized
# deterministically with engine-portable BIGINT arithmetic (same idiom as
# the derived partsupp above); the identical CTE runs in the DuckDB oracle.
# ---------------------------------------------------------------------------

_SHIPPING_SQL = """
    shipping AS (
      SELECT l_orderkey,
             CASE (CAST(l_orderkey AS BIGINT) * 7 + l_linenumber) % 7
               WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'AIR'
               WHEN 3 THEN 'TRUCK' WHEN 4 THEN 'RAIL' WHEN 5 THEN 'FOB'
               ELSE 'REG AIR' END AS l_shipmode,
             l_shipdate
               + (((CAST(l_orderkey AS BIGINT) * 5 + l_linenumber * 3) % 60 - 29)
                  * INTERVAL 1 DAY) AS l_commitdate,
             l_shipdate
               + ((((CAST(l_orderkey AS BIGINT) * 5 + l_linenumber * 3) % 60 - 29)
                   + (CAST(l_orderkey AS BIGINT) * 11 + l_linenumber) % 30 - 9)
                  * INTERVAL 1 DAY) AS l_receiptdate,
             l_shipdate
      FROM lineitem
    )
"""


def _shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived shipping columns mirroring ``_SHIPPING_SQL`` exactly:
    pure BIGINT arithmetic for the mode index and day offsets, applied
    with make_interval. Zero shuffle — a projection on the lineitem
    scan."""
    li = _t(spark, sf_dir, "lineitem")
    okey = F.col("l_orderkey").cast("long")
    lnum = F.col("l_linenumber").cast("long")
    mode_idx = (okey * 7 + lnum) % 7
    commit_off = (okey * 5 + lnum * 3) % 60 - 29
    receipt_off = commit_off + (okey * 11 + lnum) % 30 - 9
    modes = ["MAIL", "SHIP", "AIR", "TRUCK", "RAIL", "FOB", "REG AIR"]
    mode = F.lit(modes[6])
    expr = None
    for i, m in enumerate(modes[:6]):
        cond = (mode_idx == i, F.lit(m))
        expr = F.when(*cond) if expr is None else expr.when(*cond)
    mode = expr.otherwise(mode)
    return li.select(
        "l_orderkey",
        mode.alias("l_shipmode"),
        F.expr(
            "l_shipdate + make_interval(0, 0, 0, "
            "cast((cast(l_orderkey as bigint) * 5 + l_linenumber * 3) % 60 - 29 as int))"
        ).alias("l_commitdate"),
        F.expr(
            "l_shipdate + make_interval(0, 0, 0, "
            "cast(((cast(l_orderkey as bigint) * 5 + l_linenumber * 3) % 60 - 29)"
            " + (cast(l_orderkey as bigint) * 11 + l_linenumber) % 30 - 9 as int))"
        ).alias("l_receiptdate"),
        "l_shipdate",
    )


@register(
    "q12_shipmode_priority",
    f"""
    WITH {_SHIPPING_SQL}
    SELECT s.l_shipmode,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM shipping s
    JOIN orders o ON o.o_orderkey = s.l_orderkey
    WHERE s.l_shipmode IN ('MAIL', 'SHIP')
      AND s.l_commitdate < s.l_receiptdate
      AND s.l_shipdate < s.l_commitdate
      AND s.l_receiptdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND s.l_receiptdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY s.l_shipmode
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode / order-priority correlation) —
    completes the 22-query TPC-H decorrelation sweep. Reference anchor:
    multi-predicate scan filtering + fact-fact join, the hot pattern of
    hybridbackend/tensorflow/data's filtered batch readers. Scale plan:
    all four shipping predicates are pure projections of the lineitem
    scan, so they filter BEFORE the join (~1/7th of rows per mode, then
    the date window); the surviving probe carries only (l_orderkey,
    l_shipmode) and joins orders on the natural o_orderkey key — a
    shuffle join on both facts' shared key, never a broadcast of a
    fact-proportional side. Conditional aggregation avoids a second
    pass."""
    s = _shipping(spark, sf_dir)
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        s.filter(
            F.col("l_shipmode").isin("MAIL", "SHIP")
            & (F.col("l_commitdate") < F.col("l_receiptdate"))
            & (F.col("l_shipdate") < F.col("l_commitdate"))
            & (F.col("l_receiptdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_receiptdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_shipmode")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN (similarity.py PQ family): encode the corpus to
# m=4 codes from seeded codebooks, score queries by asymmetric distance
# (per-query LUT + m lookups per pair). The oracle embeds the identical
# codebook literals and replays encode + LUT + ordered subspace sum, so
# codes, distances, and ranks are bit-checked across engines.
# ---------------------------------------------------------------------------

from .operators.similarity import pq_random_codebooks as _pq_books_fn

_PQ_BOOKS = _pq_books_fn(dim=64, m=4, ksub=8, seed=11)


def _pq_oracle(k: int = 5, n_queries: int = 4) -> str:
    m, ksub, dsub = 4, 8, 16
    rows = []
    for j, book in enumerate(_PQ_BOOKS):
        for c, cent in enumerate(book):
            lit = "[" + ", ".join(repr(x) for x in cent) + "]::DOUBLE[]"
            rows.append(f"({j}, {c}, {lit})")
    values = ",\n      ".join(rows)
    sq = (
        "list_sum(list_transform("
        "list_zip(list_slice(e.v, cb.j * 16 + 1, (cb.j + 1) * 16), cb.cent), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ),
    cb(j, c, cent) AS (VALUES
      {values}
    ),
    codes AS (
      SELECT e.vec_id, cb.j,
             (min(struct_pack(d := {sq}, i := cb.c))).i AS code
      FROM e, cb GROUP BY e.vec_id, cb.j
    ),
    lut AS (
      SELECT e.vec_id AS qid, cb.j, cb.c, {sq} AS d
      FROM e, cb WHERE e.vec_id < {n_queries}
    ),
    pairs AS (
      SELECT l.qid, codes.vec_id AS cid, l.j, l.d
      FROM codes JOIN lut l ON l.j = codes.j AND l.c = codes.code
      WHERE codes.vec_id <> l.qid
    ),
    scored AS (
      SELECT qid, cid, round(list_sum(list(d ORDER BY j)), 6) AS adist
      FROM pairs GROUP BY qid, cid
    )
    SELECT qid AS vec_id, cid AS neighbor_id, adist,
           row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rnk
    FROM scored
    QUALIFY rnk <= {k}
    """


@register("pq_topk_docs", _pq_oracle())
def pq_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN over the embeddings table: corpus encoded
    to 4 codes (a 64x memory cut at full scale — the probe side never
    sees float vectors), queries score by ADC LUT. Scale plan: encoding
    is a zero-shuffle projection; the query side (ids + 4x8 LUT doubles)
    broadcasts; per-pair cost is 4 array lookups. Reference anchor:
    embedding-table sharding/compression (tensorflow/embedding/
    sharding.py) — full-precision parameters stay put, only compact
    representations move."""
    from .operators.similarity import pq_encode, pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    enc = pq_encode(emb, "embedding", _PQ_BOOKS)
    q = emb.filter(F.col("vec_id") < 4)
    return pq_topk(
        q, enc, "vec_id", "vec_id", "embedding", _PQ_BOOKS, k=5
    )


@register(
    "boilerplate_prune_docs",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS w FROM documents),
    l AS (
      SELECT doc_id,
             ((len(w) + 2) // 3)::BIGINT AS n_lines,
             (u.s // 3)::BIGINT AS pos,
             array_to_string(list_slice(w, u.s + 1, u.s + 3), ' ') AS line
      FROM t, unnest(range(0, len(w), 3)) u(s)
      WHERE len(w) > 0
    ),
    dfc AS (
      SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY line
    ),
    k AS (
      SELECT l.doc_id, l.n_lines, l.pos, l.line
      FROM l JOIN dfc ON dfc.line = l.line
      WHERE dfc.df <= 2
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(line, ' ' ORDER BY pos) AS pruned_text
      FROM k GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_lines,
           coalesce(agg.n_kept, 0) AS n_kept,
           coalesce(agg.pruned_text, '') AS pruned_text
    FROM (SELECT DISTINCT doc_id, n_lines FROM l) b
    LEFT JOIN agg USING (doc_id)
    """,
)
def boilerplate_prune_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal by document frequency (CCNet/RefinedWeb
    recipe): 3-token lines occurring in more than 2 documents are
    dropped from EVERY document, rare text survives in order. Shuffle
    bytes scale with distinct lines (partial-agg both rounds), never
    corpus bytes; the join back is an equi-join on the line key."""
    from .operators.corpus import boilerplate_prune

    return boilerplate_prune(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        line_tokens=3, max_df=2,
    )


def _lsh_linkage_oracle() -> str:
    """SQL replica of the cross-corpus MinHash LSH linkage: portable
    signatures for both sides, band-tuple equality join, exact Jaccard
    verify — the full two-table pipeline is hash-checked."""
    from .operators.dedup import _MERSENNE_P, _affine_coeffs

    coeffs = _affine_coeffs(64, 42)
    mins = ",\n             ".join(
        f"min((h * {a} + {b}) % {_MERSENNE_P}) AS mh{k}"
        for k, (a, b) in enumerate(coeffs)
    )
    bands = " OR ".join(
        "("
        + " AND ".join(f"a.mh{b * 4 + j} = b.mh{b * 4 + j}" for j in range(4))
        + ")"
        for b in range(16)
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len({_TOKS_SQL}) - 2),
               i -> array_to_string(({_TOKS_SQL})[i:i+2], ' '))) AS s
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             (('0x' || substr(md5(u.g), 1, 8))::BIGINT % {_MERSENNE_P}) AS h
      FROM t, unnest(s) u(g) WHERE len(s) > 0
    ),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM h GROUP BY doc_id
    ),
    cand AS (
      SELECT a.doc_id AS id_left, b.doc_id AS id_right
      FROM sig a JOIN sig b ON b.doc_id % 7 = 0 AND ({bands})
    ),
    ver AS (
      SELECT id_left, id_right,
             round(len(list_intersect(ta.s, tb.s))::DOUBLE
                   / (len(ta.s) + len(tb.s) - len(list_intersect(ta.s, tb.s))),
                   6) AS jaccard
      FROM cand
      JOIN t ta ON ta.doc_id = id_left
      JOIN t tb ON tb.doc_id = id_right
      WHERE (len(ta.s) + len(tb.s) - len(list_intersect(ta.s, tb.s))) > 0
        AND len(list_intersect(ta.s, tb.s))::DOUBLE
            / (len(ta.s) + len(tb.s) - len(list_intersect(ta.s, tb.s))) >= 0.8
    )
    SELECT id_left, id_right, jaccard FROM ver
    """


def _split_leakage_oracle() -> str:
    """SQL replica of the train/holdout split-leakage audit: md5-parity
    split + the full banded-minhash cross-split linkage, verified at
    exact Jaccard >= 0.8 — same machinery as _lsh_linkage_oracle with
    the split predicates replacing the modulo corpus."""
    from .operators.dedup import _MERSENNE_P, _affine_coeffs

    coeffs = _affine_coeffs(64, 42)
    mins = ",\n             ".join(
        f"min((h * {a} + {b}) % {_MERSENNE_P}) AS mh{k}"
        for k, (a, b) in enumerate(coeffs)
    )
    bands = " OR ".join(
        "("
        + " AND ".join(f"a.mh{b * 4 + j} = b.mh{b * 4 + j}" for j in range(4))
        + ")"
        for b in range(16)
    )
    split = (
        "(('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 8))::BIGINT % 2)"
    )
    return f"""
    WITH t AS (
      SELECT doc_id, {split} AS bk,
             list_distinct(list_transform(
               generate_series(1, len({_TOKS_SQL}) - 2),
               i -> array_to_string(({_TOKS_SQL})[i:i+2], ' '))) AS s
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             (('0x' || substr(md5(u.g), 1, 8))::BIGINT % {_MERSENNE_P}) AS h
      FROM t, unnest(s) u(g) WHERE len(s) > 0
    ),
    sig AS (
      SELECT t.doc_id, t.bk,
             {mins}
      FROM h JOIN t ON t.doc_id = h.doc_id GROUP BY t.doc_id, t.bk
    ),
    cand AS (
      SELECT a.doc_id AS id_left, b.doc_id AS id_right
      FROM sig a JOIN sig b ON a.bk = 0 AND b.bk = 1 AND ({bands})
    ),
    ver AS (
      SELECT id_left, id_right,
             round(len(list_intersect(ta.s, tb.s))::DOUBLE
                   / (len(ta.s) + len(tb.s) - len(list_intersect(ta.s, tb.s))),
                   6) AS jaccard
      FROM cand
      JOIN t ta ON ta.doc_id = id_left
      JOIN t tb ON tb.doc_id = id_right
      WHERE (len(ta.s) + len(tb.s) - len(list_intersect(ta.s, tb.s))) > 0
        AND len(list_intersect(ta.s, tb.s))::DOUBLE
            / (len(ta.s) + len(tb.s) - len(list_intersect(ta.s, tb.s))) >= 0.8
    )
    SELECT id_left, id_right, jaccard FROM ver
    """


@register("split_leakage_docs", _split_leakage_oracle())
def split_leakage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/holdout SPLIT-LEAKAGE audit — the eval-integrity check
    every training-data pipeline needs: documents are split by
    deterministic md5 parity of doc_id (the hash_split discipline —
    leakage-safe assignment), then the train side is LSH-linked against
    the holdout side at Jaccard >= 0.8. Every surviving row is a
    near-duplicate that crossed the split boundary: exact-duplicate
    leakage is impossible under key-hash splitting, but NEAR-duplicates
    (reposts, boilerplate variants) still leak and inflate eval — this
    query counts and names them. Same banded two-table join as
    lsh_linkage_docs (nothing broadcasts, no all-pairs); oracle replays
    split, signatures, bands, and verified Jaccard bit-for-bit."""
    from .operators.corpus import hash_bucket
    from .operators.dedup import minhash_lsh_join

    docs = _t(spark, sf_dir, "documents")
    bk = hash_bucket(F.col("doc_id"), 2)
    train = docs.filter(bk == 0)
    holdout = docs.filter(bk == 1)
    return minhash_lsh_join(
        train, holdout, "text", "doc_id", threshold=0.8, portable=True
    )


@register("lsh_linkage_docs", _lsh_linkage_oracle())
def lsh_linkage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus MinHash LSH linkage: the full documents table joined
    against a second corpus (every 7th document — an incremental crawl
    stand-in) at Jaccard >= 0.8. A genuine two-table banded join — both
    sides stream through the (band, bucket) shuffle, nothing broadcasts,
    no all-pairs — the shape that links a new crawl or an eval set
    against a 100 TB corpus. Portable hashes, so signatures, bands, and
    verified Jaccard are all hash-checked by the oracle."""
    from .operators.dedup import minhash_lsh_join

    docs = _t(spark, sf_dir, "documents")
    right = docs.filter(F.col("doc_id") % 7 == 0)
    return minhash_lsh_join(
        docs, right, "text", "doc_id", threshold=0.8, portable=True
    )


@register(
    "fuzzy_join_customers",
    """
    WITH corr AS (
      -- greatest(length, 1): an empty name would make the corruption
      -- position a mod-by-zero ANSI abort (engine side matches)
      SELECT c_custkey AS corrupt_key,
             substr(c_name, 1, (c_custkey % greatest(length(c_name), 1))::INT)
               || substr(c_name, (c_custkey % greatest(length(c_name), 1))::INT + 2)
               AS cname
      FROM customer
    )
    SELECT c.c_custkey, corr.corrupt_key,
           levenshtein(c.c_name, corr.cname) AS distance
    FROM customer c, corr
    WHERE levenshtein(c.c_name, corr.cname) <= 1
    """,
)
def fuzzy_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: customer names matched against a
    deterministically corrupted copy (one char deleted at a key-derived
    position) within Levenshtein distance 1. The engine runs symmetric-
    delete blocking — exact-recall candidate generation on a variant-hash
    equi-join, ~len+1 keys per row, both sides streaming, no broadcast,
    no cross product; the oracle brute-forces the full |L|x|R| distance
    matrix, so the hash check PROVES the blocking loses nothing."""
    from .operators.joins import fuzzy_join

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    corrupted = c.select(
        F.col("c_custkey").alias("corrupt_key"),
        F.expr(
            "concat(substring(c_name, 1,"
            " cast(c_custkey % greatest(length(c_name), 1) as int)),"
            " substring(c_name,"
            " cast(c_custkey % greatest(length(c_name), 1) as int) + 2))"
        ).alias("cname"),
    )
    return fuzzy_join(
        c, corrupted, "c_name", "cname",
        max_distance=1, left_id="c_custkey", right_id="corrupt_key",
    )


def _zorder_oracle(bits: int = 8) -> str:
    """SQL replica of the Morton key: identical normalize-clamp-interleave
    integer arithmetic, so the layout key is hash-checked bit for bit."""
    cols = [("l_partkey", 0.0, 20000.0), ("l_suppkey", 0.0, 1000.0)]
    n = len(cols)
    top = (1 << bits) - 1
    scaled = {
        c: (
            f"least(greatest(CAST(floor(({c}::DOUBLE - {lo!r}) / {hi - lo!r}"
            f" * {top}) AS BIGINT), 0), {top})"
        )
        for (c, lo, hi) in cols
    }
    terms = []
    for i, (c, _, _) in enumerate(cols):
        for b in range(bits):
            terms.append(f"((({scaled[c]} >> {b}) & 1) << {b * n + i})")
    key = " + ".join(terms)
    return f"""
    SELECT l_orderkey, l_linenumber, ({key})::BIGINT AS zkey
    FROM lineitem
    """


@register("zorder_key_lineitem", _zorder_oracle())
def zorder_key_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over (l_partkey, l_suppkey): the
    engine-side half of lakehouse OPTIMIZE ZORDER BY. The key is pure
    integer arithmetic (zero shuffle) and feeds
    ``cluster_by_zorder``'s range repartition + in-partition sort so
    written row groups stay narrow on BOTH columns — multi-dimensional
    min/max pruning, measured in tests/test_layout.py. The oracle
    replays the identical normalize/clamp/interleave arithmetic."""
    from .operators.layout import zorder_key

    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        zorder_key(
            ["l_partkey", "l_suppkey"], [(0.0, 20000.0), (0.0, 1000.0)], bits=8
        ).alias("zkey"),
    )


@register(
    "resample_events_hourly",
    """
    WITH occ AS (
      SELECT event_type AS k,
             (floor(epoch(ts))::BIGINT // 3600) * 3600 AS b,
             round(sum(value), 6) AS v
      FROM events GROUP BY 1, 2
    ),
    nn AS (
      SELECT k, b, v,
             lead(b) OVER (PARTITION BY k ORDER BY b) AS nb,
             lead(v) OVER (PARTITION BY k ORDER BY b) AS nv
      FROM occ
    ),
    realrows AS (
      SELECT k AS event_type, b AS bucket_ts, round(v, 6) AS value,
             FALSE AS filled
      FROM nn
    ),
    gaps AS (
      SELECT k AS event_type, u.g AS bucket_ts,
             round(v + (nv - v) * ((u.g - b)::DOUBLE / (nb - b)::DOUBLE), 6)
               AS value,
             TRUE AS filled
      FROM nn, unnest(generate_series(b + 3600, nb - 3600, 3600)) u(g)
      WHERE nb IS NOT NULL AND nb > b + 3600
    )
    SELECT * FROM realrows UNION ALL SELECT * FROM gaps
    """,
)
def resample_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample of per-type event value sums with LINEAR
    interpolation across empty hours. Scale shape: one partial-agg
    groupBy((type, hour)) compresses the stream to occupied buckets; a
    per-key window finds successors; only the missing grid points
    explode (gap-proportional, never a dense calendar cross join)."""
    from .operators.timeseries import resample_fill

    ev = _t(spark, sf_dir, "events")
    # pre-round the occupied-bucket sums exactly like the oracle: the
    # operator interpolates on the ROUNDED neighbor values either way
    occ = ev.select("event_type", "ts", "value")
    out = resample_fill(
        occ, "event_type", "ts", "value",
        step_seconds=3600, how="linear", agg="sum",
    )
    return out.withColumnRenamed("event_type", "event_type")


@register(
    "standard_scale_lineitem",
    """
    WITH s AS (
      SELECT count(*) AS n,
             sum(CAST(round(l_quantity * 100) AS BIGINT)) AS s_q,
             sum(CAST(CAST(round(l_quantity * 100) AS BIGINT)
                      * CAST(round(l_quantity * 100) AS BIGINT)
                      AS DECIMAL(38,0))) AS ss_q,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS s_p,
             sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * CAST(round(l_extendedprice * 100) AS BIGINT)
                      AS DECIMAL(38,0))) AS ss_p
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           round((l_quantity::DOUBLE - (s_q / 100.0) / n)
                 / sqrt((ss_q::DOUBLE / 10000.0) / n
                        - ((s_q / 100.0) / n) * ((s_q / 100.0) / n)), 6)
             AS l_quantity_z,
           round((l_extendedprice::DOUBLE - (s_p / 100.0) / n)
                 / sqrt((ss_p::DOUBLE / 10000.0) / n
                        - ((s_p / 100.0) / n) * ((s_p / 100.0) / n)), 6)
             AS l_extendedprice_z
    FROM lineitem, s
    """,
)
def standard_scale_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fitted z-score scaling with engine-exact statistics: integer-cents
    sums, DECIMAL(38,0) sums of squares (overflow-proof at fact scale),
    one fused stats job broadcast back. The oracle recomputes the same
    quantized arithmetic, so fitted means/stds — and every scaled value —
    hash-match bit for bit."""
    from .functions.feature import standard_scale

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    out = standard_scale(li, ["l_quantity", "l_extendedprice"])
    return out.select(
        "l_orderkey", "l_linenumber", "l_quantity_z", "l_extendedprice_z"
    )


@register(
    "mad_outliers_events",
    """
    WITH m AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    d AS (
      SELECT e.event_id, e.event_type, e.value, m.med
      FROM events e JOIN m USING (event_type)
    ),
    md AS (
      SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
      FROM d GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, round(d.value, 2) AS value,
           (abs(d.value - d.med) > 3.0 * md.mad) AS is_outlier,
           round(d.med, 4) AS median, round(md.mad, 4) AS mad
    FROM d JOIN md USING (event_type)
    """,
)
def mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier screen on event values per type —
    exact interpolated order statistics (engine-identical), group-stats
    sides broadcast by size, fact side shuffled once on the group key."""
    from .operators.profile import mad_outliers

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = mad_outliers(ev, "event_type", "value", k=3.0)
    return out.select(
        "event_id", "event_type",
        F.round("value", 2).alias("value"),
        "is_outlier", "median", "mad",
    )


def _lpa_oracle(iters: int = 2) -> str:
    """Unrolled synchronous LPA rounds in SQL: per round, each node takes
    its neighbors' plurality label, ties to the smallest — the identical
    deterministic rule the operator applies, so full membership is
    hash-checked."""
    rounds = []
    for i in range(iters):
        rounds.append(
            f""",
    l{i + 1} AS (
      SELECT v, lab FROM (
        SELECT e.b AS v, l.lab, count(*) AS c,
               row_number() OVER (PARTITION BY e.b
                                  ORDER BY count(*) DESC, l.lab) AS rn
        FROM edges e JOIN l{i} l ON l.v = e.a
        GROUP BY e.b, l.lab
      ) WHERE rn = 1
    )"""
        )
    return f"""
    WITH pp AS (
      SELECT a.l_orderkey AS ok, a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e0 AS (SELECT pa, pb FROM pp GROUP BY pa, pb
           HAVING count(DISTINCT ok) >= 2),
    edges AS (SELECT pa AS a, pb AS b FROM e0
              UNION ALL SELECT pb, pa FROM e0),
    l0 AS (SELECT v, v AS lab FROM (SELECT DISTINCT a AS v FROM edges))
    {"".join(rounds)}
    SELECT v AS id, lab AS community FROM l{iters}
    """


@register("lpa_communities_parts", _lpa_oracle())
def lpa_communities_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the part co-purchase graph
    (edges = part pairs sharing >= 2 orders — the same graph the
    triangle counter uses). Deterministic plurality-vote rounds; the
    oracle unrolls identical rounds, so the full membership table is
    hash-checked, not spot-checked."""
    from .operators.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_orderkey").alias("ok"),
        F.col("a.l_partkey").alias("pa"),
        F.col("b.l_partkey").alias("pb"),
    )
    edges = (
        pairs.groupBy("pa", "pb")
        .agg(F.count_distinct("ok").alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("pa", "pb")
    )
    return label_propagation(edges, "pa", "pb", iters=2)


@register(
    "event_transition_matrix",
    """
    WITH s AS (
      SELECT event_type AS state,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_state
      FROM events
    ),
    c AS (
      SELECT state, next_state, count(*) AS n_transitions
      FROM s WHERE next_state IS NOT NULL GROUP BY state, next_state
    ),
    t AS (SELECT state, sum(n_transitions) AS tot FROM c GROUP BY state)
    SELECT c.state, c.next_state, c.n_transitions,
           round(c.n_transitions::DOUBLE / t.tot, 6) AS p
    FROM c JOIN t USING (state)
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — P(next event type | event type) as exact integer ratios.
    One ordered window on the user key, then state-pair partial
    aggregation; the matrix is |types|^2 tiny."""
    from .operators.timeseries import transition_matrix

    ev = _t(spark, sf_dir, "events")
    return transition_matrix(
        ev, "user_id", "ts", "event_type", tiebreak_col="event_id"
    )


@register(
    "bigram_surprisal_docs",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS w FROM documents),
    p AS (
      SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      FROM t, unnest(generate_series(1, len(w) - 1)) u(i)
    ),
    uni AS (
      SELECT u.t AS w1, count(*) AS n1
      FROM t, unnest(w) u(t) GROUP BY u.t
    ),
    bi AS (SELECT w1, w2, count(*) AS n12 FROM p GROUP BY w1, w2)
    SELECT p.doc_id, count(*)::BIGINT AS n_pairs,
           round(sum((length(bin(uni.n1)) - 1) - (length(bin(bi.n12)) - 1))::DOUBLE
                 / count(*), 6) AS avg_bits
    FROM p JOIN bi USING (w1, w2) JOIN uni USING (w1)
    GROUP BY p.doc_id
    """,
)
def bigram_surprisal_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-conditional surprisal per document in exact integer bits —
    the 2-gram LM quality score. Gram-keyed partial-agg shuffles only;
    the oracle recomputes identical binary-digit-count arithmetic."""
    from .operators.corpus import bigram_surprisal

    return bigram_surprisal(_t(spark, sf_dir, "documents"))


@register("minhash_dedup_keep_longest_docs", _minhash_dedup_oracle("longest"))
def minhash_dedup_keep_longest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup dedup with keep-LONGEST canonicalization:
    each transitive cluster keeps its longest document (curation
    pipelines keep the most complete variant, not the smallest id).
    Same portable signatures/bands/verify as ``minhash_lsh_dedup_docs``;
    the oracle adds the identical per-component argmax."""
    from .operators.dedup import minhash_lsh_dedup

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_dedup(
        docs, "text", "doc_id", threshold=0.8, portable=True, keep="longest"
    )


@register(
    "table_diff_orders",
    """
    WITH newt AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 31 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 113 = 0
    )
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_totalprice <> n.o_totalprice THEN 'changed'
           END AS change_type
    FROM orders o FULL OUTER JOIN newt n ON n.o_orderkey = o.o_orderkey
    WHERE (o.o_orderkey IS NULL OR n.o_orderkey IS NULL
           OR o.o_totalprice <> n.o_totalprice)
    """,
)
def table_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff of orders against a deterministically mutated
    version (1/97 removed, 1/31 repriced, 1/113 re-keyed as additions).
    Full-outer key join with per-side column fingerprints — the shuffled
    payload is key + one long regardless of table width; the oracle
    diffs columns directly, so fingerprint change detection is proven
    equivalent."""
    from .operators.structural import table_diff

    o = _t(spark, sf_dir, "orders")
    changed = F.when(
        F.col("o_orderkey") % 31 == 0, F.col("o_totalprice") + 1
    ).otherwise(F.col("o_totalprice"))
    newt = (
        o.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn("o_totalprice", changed)
        .unionAll(
            o.filter(F.col("o_orderkey") % 113 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10000000
            )
        )
    )
    return table_diff(o, newt, ["o_orderkey"])


def _cms_bucket_sql(expr: str, width: int, seed: int) -> str:
    return (
        f"(('0x' || substr(md5({expr} || ':{seed}'), 1, 8))::BIGINT % {width})"
    )


def _cms_oracle(width: int = 256, depth: int = 3) -> str:
    """Replica of the count-min build + point query: identical md5
    bucket arithmetic per depth row, cell-wise counts, min over rows —
    the sketch MATRIX and every estimate are hash-checked."""
    cells = " UNION ALL ".join(
        f"SELECT {d} AS row, {_cms_bucket_sql('u.t', width, d)} AS bucket "
        "FROM toks u"
        for d in range(depth)
    )
    probes = " UNION ALL ".join(
        f"SELECT t, {d} AS row, {_cms_bucket_sql('t', width, d)} AS bucket "
        "FROM keys"
        for d in range(depth)
    )
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS w FROM documents),
    toks AS (SELECT u.t FROM t, unnest(w) u(t)),
    cms AS (
      SELECT row, bucket, count(*) AS cnt
      FROM ({cells}) GROUP BY row, bucket
    ),
    keys AS (SELECT DISTINCT t FROM toks),
    probes AS ({probes}),
    est AS (
      SELECT p.t, min(coalesce(cms.cnt, 0)) AS cms_estimate
      FROM probes p LEFT JOIN cms USING (row, bucket)
      GROUP BY p.t
    ),
    exact AS (SELECT t, count(*) AS n FROM toks GROUP BY t)
    SELECT e.t AS token, x.n AS exact_count, e.cms_estimate
    FROM est e JOIN exact x USING (t)
    """


@register("cms_token_counts", _cms_oracle())
def cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the document token stream (width 256,
    depth 3 — deliberately tight so collisions are visible), point-
    queried for every distinct token alongside its exact count. The
    oracle rebuilds the identical matrix from the same md5 bucket
    hashes, so this checks the SKETCH CONTENT, not just behavior; the
    test suite separately asserts the estimate >= exact upper-bound
    property. Shuffle volume after map-side combine is depth x width
    cells regardless of corpus size."""
    from .operators.sketch import cms_build, cms_query

    docs = _t(spark, sf_dir, "documents")
    from .operators.text import tokens as _tok

    toks = docs.select(F.explode(_tok(F.col("text"))).alias("token"))
    cms = cms_build(toks, "token", width=256, depth=3, seed=0)
    keys = toks.distinct()
    est = cms_query(cms, keys, "token", width=256, depth=3, seed=0)
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_count"))
    return est.join(exact, "token").select(
        "token", "exact_count", "cms_estimate"
    )


@register(
    "customer_hierarchy_closure",
    """
    WITH RECURSIVE e AS (
      SELECT (c_custkey - 1) // 7 AS parent, c_custkey AS child
      FROM customer WHERE c_custkey >= 1
    ),
    reach(a, b, d) AS (
      SELECT parent, child, 1 FROM e
      UNION
      SELECT r.a, e.child, r.d + 1 FROM reach r JOIN e ON e.parent = r.b
    )
    SELECT a AS ancestor, b AS descendant, min(d) AS depth
    FROM reach GROUP BY a, b
    """,
)
def customer_hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy expansion over a synthetic 7-ary customer tree
    (parent = (custkey-1) div 7): full (ancestor, descendant, depth)
    closure via iterative doubling — ceil(log2 depth) Spark rounds where
    a recursive CTE needs depth rounds. The oracle recomputes with a
    true recursive CTE, so the complete closure is hash-checked."""
    from .operators.graph import transitive_closure

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") >= 1)
    edges = c.select(
        ((F.col("c_custkey") - 1) / F.lit(7)).cast("long").alias("parent"),
        F.col("c_custkey").alias("child"),
    )
    return transitive_closure(edges, "parent", "child")


@register(
    "quantile_sketch_orders",
    """
    WITH sk AS (
      SELECT o_orderpriority,
             length(bin(CAST(round(o_totalprice * 100) AS BIGINT))) - 1
               AS bucket,
             count(*) AS cnt
      FROM orders GROUP BY 1, 2
    ),
    cum AS (
      SELECT o_orderpriority, bucket, cnt,
             sum(cnt) OVER (PARTITION BY o_orderpriority
                            ORDER BY bucket) AS c,
             sum(cnt) OVER (PARTITION BY o_orderpriority) AS n
      FROM sk
    ),
    hit AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                                   ORDER BY bucket) AS rn
      FROM cum
      WHERE c >= greatest(CAST(ceil(0.9 * n) AS BIGINT), 1)
    )
    SELECT o_orderpriority,
           round(
             (CASE WHEN bucket >= 1 THEN (1::BIGINT << bucket)
                   ELSE 0 END)::DOUBLE / 100
             + ((1::BIGINT << (bucket + 1))::DOUBLE / 100
                - (CASE WHEN bucket >= 1 THEN (1::BIGINT << bucket)
                        ELSE 0 END)::DOUBLE / 100)
               * ((greatest(CAST(ceil(0.9 * n) AS BIGINT), 1)
                   - (c - cnt))::DOUBLE / cnt::DOUBLE),
             4) AS q90_est,
           CAST(n AS BIGINT) AS n
    FROM hit WHERE rn = 1
    """,
)
def quantile_sketch_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P90 order value per priority from the MERGEABLE log-bucket
    quantile sketch (<= ~64 exact integer cells per group — the
    incremental/mergeable path where exact percentile needs the full
    value multiset). The oracle replays identical bucket / rank /
    interpolation arithmetic, so estimates are bit-checked; accuracy vs
    exact percentiles is asserted in tests."""
    from .operators.sketch import quantile_sketch_build, quantile_sketch_estimate

    o = _t(spark, sf_dir, "orders")
    sk = quantile_sketch_build(o, ["o_orderpriority"], "o_totalprice")
    return quantile_sketch_estimate(sk, ["o_orderpriority"], 0.9)


@register(
    "substring_dedup_docs",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS w FROM documents
               WHERE len({_TOKS_SQL}) > 0),
    tok AS (
      SELECT doc_id, u.i - 1 AS pos, w[u.i] AS tk
      FROM t, unnest(generate_series(1, len(w))) u(i)
    ),
    win AS (
      SELECT doc_id, u.i - 1 AS pos,
             array_to_string(list_slice(w, u.i, u.i + 4), ' ') AS win
      FROM t, unnest(generate_series(1, len(w) - 4)) u(i)
      WHERE len(w) >= 5
    ),
    fst AS (
      SELECT win, min(struct_pack(doc_id := doc_id, pos := pos)) AS f,
             count(*) AS n
      FROM win GROUP BY win
    ),
    dups AS (
      SELECT w.doc_id, w.pos
      FROM win w JOIN fst ON fst.win = w.win
      WHERE fst.n > 1
        AND NOT (fst.f.doc_id = w.doc_id AND fst.f.pos = w.pos)
    ),
    mask AS (
      SELECT DISTINCT doc_id, pos + u.o AS pos
      FROM dups, unnest(generate_series(0, 4)) u(o)
    ),
    kept AS (
      SELECT tok.doc_id, tok.pos, tok.tk
      FROM tok ANTI JOIN mask USING (doc_id, pos)
    ),
    rebuilt AS (
      SELECT doc_id, count(*) AS kept_n,
             string_agg(tk, ' ' ORDER BY pos) AS dedup_text
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, len(t.w)::BIGINT AS n_tokens,
           (len(t.w) - coalesce(rebuilt.kept_n, 0))::BIGINT AS n_masked,
           coalesce(rebuilt.dedup_text, '') AS dedup_text
    FROM t LEFT JOIN rebuilt USING (doc_id)
    """,
)
def substring_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup at 5-token window granularity: duplicated
    spans keep their first occurrence corpus-wide; all other occurrences
    are masked and documents rebuilt. The full mask/rebuild pipeline is
    hash-checked by the oracle."""
    from .operators.corpus import substring_dedup

    return substring_dedup(
        _t(spark, sf_dir, "documents"), "doc_id", "text", window_tokens=5
    )


# Materialize-once item-item CF state, shared by item_similarity_parts
# (the recs table itself) and coverage_novelty_parts (its readout): in a
# deployment the recs table is computed once and consumed by many
# readouts, and at 100 TB re-paying the co-occurrence self-join per
# consumer doubles the most expensive non-iterative job in the suite.
# Keyed by Spark application id so a new session never sees another
# session's cached plan, and by the loader's file stamps of orders and
# lineitem (``sources.tabular._stamp``) so a rewritten table rebuilds the
# state instead of serving the old rows. Both consumers stay
# independently oracled — the DuckDB SQL recomputes from scratch by
# construction; only the ENGINE shares work. The cache holds AT MOST ONE
# entry (the most recent key): a long-lived session sweeping many
# sf_dirs or rewriting a table unpersists the evicted state instead of
# accumulating executor memory, and a lock serializes the first build so
# concurrent callers can't double-build and orphan a persisted pair.
_I2I_CACHE: dict = {}
_I2I_LOCK = __import__("threading").Lock()
_I2I_CAP, _I2I_K = 50, 5


def _i2i_state_cached(spark: SparkSession, sf_dir: str):
    """Returns (ui, sim): the degree-capped distinct interaction set and
    the top-_I2I_K item-item similarity table, both persisted."""
    from .operators.ranking import item_similarity

    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        _stamp(f"{sf_dir}/orders.parquet"),
        _stamp(f"{sf_dir}/lineitem.parquet"),
    )
    with _I2I_LOCK:
        state = _I2I_CACHE.get(key)
        if state is None:
            for old_key in list(_I2I_CACHE):
                old_ui, old_sim = _I2I_CACHE.pop(old_key)
                for df in (old_ui, old_sim):
                    try:
                        df.unpersist()
                    except Exception:
                        pass  # evicted state from a stopped session
            o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
            li = _t(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_partkey"
            )
            inter = li.join(o, li.l_orderkey == o.o_orderkey).select(
                F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")
            )
            ui0 = inter.distinct()
            ok = (
                ui0.groupBy("u")
                .agg(F.count(F.lit(1)).alias("_d"))
                .filter(F.col("_d") <= _I2I_CAP)
                .select("u")
            )
            ui = ui0.join(ok, "u").persist()
            sim = item_similarity(ui, "u", "i", k=_I2I_K).persist()
            state = (ui, sim)
            _I2I_CACHE[key] = state
    return state


def _i2i_sim_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _i2i_state_cached(spark, sf_dir)[1]


@register(
    "item_similarity_parts",
    """
    WITH ui0 AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    ok AS (SELECT u FROM ui0 GROUP BY u HAVING count(*) <= 50),
    ui AS (SELECT ui0.u, ui0.i FROM ui0 JOIN ok USING (u)),
    deg AS (SELECT i, count(*) AS n FROM ui GROUP BY i),
    co AS (
      SELECT a.i AS ia, b.i AS ib, count(*) AS n_common
      FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
      GROUP BY a.i, b.i
    ),
    sim AS (
      SELECT ia, ib, n_common,
             round(n_common / sqrt(da.n::DOUBLE * db.n), 6) AS sim
      FROM co JOIN deg da ON da.i = co.ia JOIN deg db ON db.i = co.ib
    ),
    sym AS (
      SELECT ia AS item, ib AS neighbor, n_common, sim FROM sim
      UNION ALL
      SELECT ib, ia, n_common, sim FROM sim
    )
    SELECT item, neighbor, n_common, sim,
           row_number() OVER (PARTITION BY item
                              ORDER BY sim DESC, neighbor) AS rnk
    FROM sym QUALIFY rnk <= 5
    """,
)
def item_similarity_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item CF over the customer-part co-purchase matrix: cosine on
    binary co-occurrence, top-5 neighbors per part, power users capped at
    degree 50 BEFORE the user-key self-join (the standard i2i guard).
    The similarity table is materialized ONCE per session and shared
    with coverage_novelty_parts — in a deployment the recs table is
    computed once and every readout consumes it, so the engine mirrors
    that instead of re-paying the co-occurrence join per consumer."""
    return _i2i_sim_cached(spark, sf_dir)


@register(
    "ab_ztest_events",
    """
    WITH t AS (
      SELECT event_type,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
             CAST(round(value * 100) AS BIGINT) AS q
      FROM events
    ),
    agg AS (
      SELECT event_type,
             sum(CASE WHEN v = 'A' THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN v = 'A' THEN q ELSE 0 END) AS sa,
             sum(CASE WHEN v = 'A' THEN CAST(q * q AS DECIMAL(38,0))
                      ELSE CAST(0 AS DECIMAL(38,0)) END) AS ssa,
             sum(CASE WHEN v = 'B' THEN 1 ELSE 0 END) AS nb,
             sum(CASE WHEN v = 'B' THEN q ELSE 0 END) AS sb,
             sum(CASE WHEN v = 'B' THEN CAST(q * q AS DECIMAL(38,0))
                      ELSE CAST(0 AS DECIMAL(38,0)) END) AS ssb
      FROM t GROUP BY event_type
    )
    SELECT event_type, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round((sa / 100.0) / na::DOUBLE, 6) AS mean_a,
           round((sb / 100.0) / nb::DOUBLE, 6) AS mean_b,
           round((sb / 100.0) / nb::DOUBLE - (sa / 100.0) / na::DOUBLE, 6)
             AS diff,
           round(sqrt(((ssa::DOUBLE / 10000.0) / na::DOUBLE
                       - ((sa / 100.0) / na::DOUBLE)
                         * ((sa / 100.0) / na::DOUBLE)) / na::DOUBLE
                      + ((ssb::DOUBLE / 10000.0) / nb::DOUBLE
                         - ((sb / 100.0) / nb::DOUBLE)
                           * ((sb / 100.0) / nb::DOUBLE)) / nb::DOUBLE),
                 6) AS se,
           CASE WHEN sqrt(((ssa::DOUBLE / 10000.0) / na::DOUBLE
                           - ((sa / 100.0) / na::DOUBLE)
                             * ((sa / 100.0) / na::DOUBLE)) / na::DOUBLE
                          + ((ssb::DOUBLE / 10000.0) / nb::DOUBLE
                             - ((sb / 100.0) / nb::DOUBLE)
                               * ((sb / 100.0) / nb::DOUBLE)) / nb::DOUBLE)
                     > 0
                THEN round(((sb / 100.0) / nb::DOUBLE
                            - (sa / 100.0) / na::DOUBLE)
                           / sqrt(((ssa::DOUBLE / 10000.0) / na::DOUBLE
                                   - ((sa / 100.0) / na::DOUBLE)
                                     * ((sa / 100.0) / na::DOUBLE))
                                  / na::DOUBLE
                                  + ((ssb::DOUBLE / 10000.0) / nb::DOUBLE
                                     - ((sb / 100.0) / nb::DOUBLE)
                                       * ((sb / 100.0) / nb::DOUBLE))
                                    / nb::DOUBLE),
                           6)
           END AS z
    FROM agg
    """,
)
def ab_ztest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample z-test per event type with a deterministic user-hash
    variant split (user_id parity as the assignment stand-in): Welch SE,
    exact integer sums / decimal sums-of-squares, one conditional-agg
    pass. The oracle replays identical arithmetic, so every statistic
    is bit-checked."""
    from .functions.metrics import ab_ztest

    ev = _t(spark, sf_dir, "events").withColumn(
        "variant",
        F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B")),
    )
    return ab_ztest(ev, "event_type", "variant", "value")


@register(
    "pit_join_events",
    """
    WITH s AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) = 1
                       OR lag(event_type) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)
                          IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
    ),
    st AS (SELECT user_id, event_type, ts, event_id FROM s WHERE chg = 1),
    dim AS (
      SELECT user_id, event_type AS state, ts AS valid_from,
             lead(ts) OVER w AS valid_to,
             row_number() OVER w AS version
      FROM st
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e.event_id, e.user_id, d.state, d.version
    FROM events e
    LEFT JOIN dim d
      ON d.user_id = e.user_id
     AND e.ts >= d.valid_from
     AND (d.valid_to IS NULL OR e.ts < d.valid_to)
    """,
)
def pit_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct enrichment: every event joined to the SCD2
    user-state version valid AT its own timestamp (leakage-free feature
    lookup). Equi-join on the user key with the interval containment as
    a residual — no cartesian, no explode; intervals are non-overlapping
    so each fact matches exactly one version."""
    from .operators.joins import point_in_time_join
    from .operators.structural import scd2_intervals

    ev = _t(spark, sf_dir, "events")
    dim = scd2_intervals(
        ev, keys=["user_id"], order_by=["ts", "event_id"],
        state_cols=["event_type"],
    ).select(
        "user_id",
        F.col("event_type").alias("state"),
        "valid_from",
        "valid_to",
        "version",
    )
    facts = ev.select("event_id", "user_id", "ts")
    return point_in_time_join(facts, dim, "user_id", "ts").select(
        "event_id", "user_id", "state", "version"
    )


@register(
    "target_encode_orders",
    """
    WITH q AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS qv
      FROM orders
    ),
    cat AS (
      SELECT o_orderpriority, sum(qv) AS cs, count(*) AS cn
      FROM q GROUP BY o_orderpriority
    ),
    tot AS (SELECT sum(qv) AS ts, count(*) AS tn FROM q)
    SELECT q.o_orderkey,
           round(((cat.cs - q.qv) / 100.0
                  + ((tot.ts / 100.0) / tn::DOUBLE) * 10.0)
                 / ((cat.cn - 1)::DOUBLE + 10.0), 6) AS o_orderpriority_te
    FROM q JOIN cat USING (o_orderpriority) CROSS JOIN tot
    """,
)
def target_encode_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out smoothed target encoding of order priority against
    order value — leakage-guarded categorical encoding in exact integer
    arithmetic, bit-checked by the oracle."""
    from .functions.feature import target_encode

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    out = target_encode(o, "o_orderpriority", "o_totalprice", smoothing=10.0)
    return out.select("o_orderkey", "o_orderpriority_te")


@register(
    "k_anonymity_orders",
    """
    WITH g AS (
      SELECT o_orderpriority, o_orderstatus,
             CAST(o_orderdate AS DATE) AS od,
             count(*) AS group_size
      FROM orders
      GROUP BY 1, 2, 3
    )
    SELECT o_orderpriority, o_orderstatus, od AS order_day, group_size,
           (group_size < 5) AS below_k
    FROM g
    """,
)
def k_anonymity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit over a quasi-identifier tuple (priority,
    status, order day): group sizes with a below-k flag — the privacy
    screen run before releasing joined/aggregated extracts. One partial
    -agg shuffle on the QI tuple; rows are |distinct tuples|."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            "o_orderpriority",
            "o_orderstatus",
            F.col("o_orderdate").cast("date").alias("order_day"),
        )
        .agg(F.count(F.lit(1)).alias("group_size"))
        .withColumn("below_k", F.col("group_size") < 5)
    )


@register(
    "t_closeness_orders",
    """
    WITH base AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    mx AS (SELECT max(cents) AS mc FROM base),
    b AS (
      SELECT grp, least(7, (cents * 8) // (mx.mc + 1)) AS bucket
      FROM base CROSS JOIN mx
    ),
    gc AS (SELECT grp, bucket, count(*) AS c FROM b GROUP BY 1, 2),
    qc AS (SELECT bucket, sum(c) AS q FROM gc GROUP BY 1),
    gn AS (SELECT grp, sum(c) AS n FROM gc GROUP BY 1),
    tot AS (SELECT sum(q) AS nn FROM qc),
    spine AS (
      SELECT gn.grp, s.bucket FROM gn
      CROSS JOIN (SELECT unnest(range(0, 8)) AS bucket) s
    ),
    fixed AS (
      SELECT sp.grp, sp.bucket,
             CAST(coalesce((SELECT sum(gc.c) FROM gc
                            WHERE gc.grp = sp.grp
                              AND gc.bucket <= sp.bucket), 0) AS BIGINT)
               AS cg,
             CAST(coalesce((SELECT sum(qc.q) FROM qc
                            WHERE qc.bucket <= sp.bucket), 0) AS BIGINT)
               AS cq
      FROM spine sp
    )
    SELECT f.grp AS o_orderpriority,
           CAST(gn.n AS BIGINT) AS n_rows,
           CAST(sum(abs(f.cg * tot.nn - f.cq * gn.n)) AS BIGINT)
             AS emd_num,
           round(CAST(sum(abs(f.cg * tot.nn - f.cq * gn.n)) AS DOUBLE)
                 / (CAST(gn.n AS DOUBLE) * CAST(tot.nn AS DOUBLE) * 7.0),
                 6) AS t_value
    FROM fixed f JOIN gn ON gn.grp = f.grp CROSS JOIN tot
    GROUP BY f.grp, gn.n, tot.nn
    """,
)
def t_closeness_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-closeness audit (the third rung of the release-privacy ladder
    after k-anonymity and l-diversity): per quasi-identifier group, the
    earth-mover's distance between the group's distribution of the
    SENSITIVE value (order total, 8 global equi-width buckets) and the
    global distribution — ordered-bucket EMD = mean |cumulative
    difference|, computed in exact cross-multiplied integers so the
    hash cannot flip. A group whose value distribution stands out
    (high t) leaks the sensitive attribute even when k and l pass.
    Scale: one agg to (group x 8) cells; cumulative sums run on the
    tiny densified spine via bounded self-joins — no window, no global
    sort, nothing row-proportional past the first agg."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        grid("o_totalprice", CENTS).alias("cents"),
    )
    mx = o.agg(F.max("cents").alias("mc"))
    b = o.crossJoin(F.broadcast(mx)).select(
        "grp",
        F.least(F.lit(7), F.expr("(cents * 8) div (mc + 1)")).alias("bucket"),
    )
    gc = b.groupBy("grp", "bucket").agg(F.count(F.lit(1)).alias("c"))
    gc = materialize(gc)  # tiny: |groups| x 8 cells
    qc = gc.groupBy("bucket").agg(F.sum("c").alias("q"))
    gn = gc.groupBy("grp").agg(F.sum("c").alias("n"))
    tot = qc.agg(F.sum("q").alias("nn"))
    spine = gn.select("grp", "n").crossJoin(
        F.broadcast(
            spark.range(0, 8).select(F.col("id").alias("bucket"))
        )
    )
    cg = (
        spine.join(gc.select("grp", F.col("bucket").alias("b2"), "c"), "grp")
        .filter(F.col("b2") <= F.col("bucket"))
        .groupBy("grp", "n", "bucket")
        .agg(F.sum("c").alias("cg"))
    )
    # left join back so empty prefixes keep cg = 0
    cg = spine.join(cg.select("grp", "bucket", "cg"), ["grp", "bucket"],
                    "left").fillna({"cg": 0})
    cq = (
        spine.select("bucket").distinct()
        .join(qc.select(F.col("bucket").alias("b2"), "q"))
        .filter(F.col("b2") <= F.col("bucket"))
        .groupBy("bucket")
        .agg(F.sum("q").alias("cq"))
    )
    joined = (
        cg.join(F.broadcast(cq), "bucket", "left")
        .fillna({"cq": 0})
        .crossJoin(F.broadcast(tot))
    )
    return (
        joined.groupBy(F.col("grp").alias("o_orderpriority"), "n", "nn")
        .agg(
            F.sum(
                F.abs(F.col("cg") * F.col("nn") - F.col("cq") * F.col("n"))
            ).alias("emd_num")
        )
        .select(
            "o_orderpriority",
            F.col("n").cast("long").alias("n_rows"),
            F.col("emd_num").cast("long").alias("emd_num"),
            F.round(
                F.col("emd_num").cast("double")
                / (F.col("n").cast("double") * F.col("nn").cast("double")
                   * 7.0),
                6,
            ).alias("t_value"),
        )
    )


@register(
    "conformal_interval_orders",
    """
    WITH base AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT % 2
               AS fold
      FROM orders
    ),
    pred AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_cal,
             CAST((sum(cents) * 1000000) // count(*) AS BIGINT) AS p_micro
      FROM base WHERE fold = 0 GROUP BY grp
    ),
    res AS (
      SELECT b.grp, abs(b.cents * 1000000 - p.p_micro) AS r,
             p.n_cal, p.p_micro
      FROM base b JOIN pred p ON p.grp = b.grp
      WHERE b.fold = 0
    ),
    ranked AS (
      SELECT grp, r, n_cal, p_micro,
             row_number() OVER (PARTITION BY grp ORDER BY r, r) AS rn
      FROM res
    ),
    q AS (
      SELECT grp, n_cal, p_micro, CAST(r AS BIGINT) AS q_micro
      FROM ranked
      WHERE rn = least(n_cal, CAST(ceil(0.9 * (n_cal + 1)) AS BIGINT))
    )
    SELECT q.grp AS o_orderpriority, q.n_cal,
           CAST(q.q_micro // 10000 AS BIGINT) AS half_width_approx_cents,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN abs(b.cents * 1000000 - q.p_micro)
                              <= q.q_micro
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
    FROM base b JOIN q ON q.grp = b.grp
    WHERE b.fold = 1
    GROUP BY q.grp, q.n_cal, q.q_micro
    """,
)
def conformal_interval_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals with finite-sample coverage
    (Vovk et al.; the distribution-free uncertainty wrapper any model
    gets for free): a deterministic md5 fold splits orders into
    calibration/test; the per-priority mean (exact integer micro-cents)
    is the point model; the 90% conformal half-width is the
    ceil(0.9*(n+1))-th order statistic of calibration |residuals|; test
    coverage is counted exactly. Everything is integer arithmetic, so
    the oracle replays the full procedure bit-for-bit. Scale: residual
    rank runs in a PER-GROUP window (partition-bounded); the only
    fact-wide ops are two scans and two partial aggs."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        grid("o_totalprice", CENTS).alias("cents"),
        (
            F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")),
                               1, 8), 16, 10).cast("long") % 2
        ).alias("fold"),
    )
    pred = (
        o.filter(F.col("fold") == 0)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cal"),
            F.expr("(sum(cents) * 1000000) div count(*)")
            .cast("long")
            .alias("p_micro"),
        )
    )
    res = (
        o.filter(F.col("fold") == 0)
        .join(F.broadcast(pred), "grp")
        .select(
            "grp",
            "n_cal",
            "p_micro",
            F.abs(F.col("cents") * 1_000_000 - F.col("p_micro")).alias("r"),
        )
    )
    w = Window.partitionBy("grp").orderBy("r", "r")
    q = (
        res.withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            == F.least(
                F.col("n_cal"),
                F.ceil(0.9 * (F.col("n_cal") + 1)).cast("long"),
            )
        )
        # exactly one row per group survives; the aggregate makes that
        # bound VISIBLE to the plan (broadcasting an un-aggregated
        # subtree over a fact scan fails the fact-broadcast gate)
        .groupBy("grp")
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.max("p_micro").alias("p_micro"),
            F.max("r").alias("q_micro"),
        )
    )
    test = o.filter(F.col("fold") == 1).join(F.broadcast(q), "grp")
    return (
        test.groupBy("grp", "n_cal", "q_micro", "p_micro")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("cents") * 1_000_000 - F.col("p_micro"))
                    <= F.col("q_micro"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
        .select(
            F.col("grp").alias("o_orderpriority"),
            "n_cal",
            F.expr("q_micro div 10000").cast("long")
            .alias("half_width_approx_cents"),
            "n_test",
            "n_covered",
        )
    )


@register(
    "attribution_last_touch",
    """
    WITH s AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type <> 'purchase'
                  THEN event_type END AS touch
      FROM events
    ),
    w AS (
      SELECT user_id, ts, event_id, event_type, value,
             last_value(touch IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS last_touch
      FROM s
    )
    SELECT coalesce(last_touch, 'direct') AS channel,
           count(*) AS n_purchases,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS revenue
    FROM w WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits the most
    recent preceding non-purchase event of the same user ('direct' when
    none). One user-key window + one tiny channel aggregate; exact-cents
    revenue sums."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type") != "purchase", F.col("event_type")
    )
    out = (
        ev.withColumn("_touch", touch)
        .withColumn("last_touch", F.last("_touch", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce("last_touch", F.lit("direct")).alias("channel")
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            grid_sum("value", CENTS).alias("revenue"),
        )
    )
    return out


@register(
    "pareto_customers",
    f"""
    WITH rev AS (
      SELECT o_custkey, {_SQL_MONEY.format(expr="o_totalprice")} AS revenue
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, revenue,
             sum(revenue) OVER (ORDER BY revenue DESC, o_custkey) AS cum_rev,
             sum(revenue) OVER () AS total_rev,
             row_number() OVER (ORDER BY revenue DESC, o_custkey) AS rnk,
             count(*) OVER () AS n
      FROM rev
    )
    SELECT o_custkey, revenue, rnk,
           round(cum_rev / total_rev, 6) AS cum_share,
           (rnk * 10 <= n) AS top_decile
    FROM ranked
    """,
)
def pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto) per customer: exact-cents revenue,
    descending cumulative share, top-decile flag. The global ordered
    window is the documented cost — Spark range-partitions the global
    sort; rows are |customers|, not |orders|."""
    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        grid_sum("o_totalprice", CENTS).alias("revenue")
    )
    w = Window.orderBy(F.col("revenue").desc(), "o_custkey")
    wall = Window.partitionBy()
    ranked = rev.select(
        "o_custkey",
        "revenue",
        F.sum("revenue").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum_rev"),
        F.sum("revenue").over(wall).alias("total_rev"),
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    return ranked.select(
        "o_custkey",
        "revenue",
        "rnk",
        F.round(F.col("cum_rev") / F.col("total_rev"), 6).alias("cum_share"),
        (F.col("rnk") * 10 <= F.col("n")).alias("top_decile"),
    )


def _bpe_oracle(iters: int = 8) -> str:
    """Unrolled BPE training rounds in SQL — the merge TABLE is fully
    deterministic, so it IS hash-checkable even though the trainer is a
    loop. Each round: adjacent-pair counts over the distinct-word table
    (weighted), argmax with (count desc, pair asc) tie-break, then the
    greedy left-to-right merge applied via non-overlapping string
    replace. Symbols are kept as a string with DOUBLE-space separators
    (' a  b ' -> ' ab '): each match consumes one space from either
    boundary, leaving adjacent pairs still matchable — exactly the fold
    semantics of _bpe_apply_merge (tokens are whitespace-split so they
    can never contain the separator)."""
    parts = [
        """
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS _w
      FROM documents WHERE length(trim(text)) > 0
    ),
    s0 AS (
      SELECT _w, count(*) AS _n,
             '  ' || array_to_string(
               list_transform(range(1, length(_w) + 1),
                              i -> substring(_w, i, 1)), '  ') || '  ' AS _s
      FROM toks GROUP BY _w
    )"""
    ]
    for i in range(iters):
        j = i + 1
        parts.append(f""",
    u{i} AS (SELECT _n, str_split(trim(_s), '  ') AS _sym FROM s{i}),
    p{i} AS (
      SELECT _sym[k] AS a, _sym[k + 1] AS b, sum(_n) AS c
      FROM (SELECT _n, _sym, unnest(range(1, len(_sym))) AS k
            FROM u{i} WHERE len(_sym) >= 2)
      GROUP BY 1, 2
    ),
    t{i} AS (SELECT a, b FROM p{i} ORDER BY c DESC, a, b LIMIT 1),
    s{j} AS (
      SELECT _w, _n,
             replace(_s, ' ' || t.a || '  ' || t.b || ' ',
                     ' ' || t.a || t.b || ' ') AS _s
      FROM s{i} CROSS JOIN t{i} t
    )""")
    sel = "\n    UNION ALL ".join(
        f"SELECT {i + 1} AS rank, a AS left, b AS right FROM t{i}"
        for i in range(iters)
    )
    parts.append("\n    " + sel)
    return "".join(parts)


@register("bpe_merges_docs", _bpe_oracle(8))
def bpe_merges_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merges trained on the documents corpus (rank, left,
    right symbol) — tokenizer construction as an engine op. Rounds touch
    the vocabulary-sized distinct-word table only; exact weighted pair
    counts with lexicographic tie-breaks make training deterministic
    (proven layout-invariant in tests). The oracle unrolls the SAME 8
    rounds in SQL (see _bpe_oracle), so the merge table is hash-checked
    — formerly a rows-only entry."""
    from .operators.corpus import bpe_train

    merges = bpe_train(_t(spark, sf_dir, "documents"), "text", num_merges=8)
    return spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "rank: int, left: string, right: string",
    )


@register(
    "percent_rank_orders",
    """
    SELECT o_orderkey,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd,
           ntile(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def percent_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window functions (percent_rank / cume_dist /
    ntile) per priority group — native Catalyst windows, one shuffle on
    the partition key, deterministic via the orderkey tie-break."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "incremental_join_state",
    """
    WITH c AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, ts AS p_ts, event_id AS p_id FROM events
      WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.event_id AS click_id, p.p_id AS purchase_id
    FROM c JOIN p
      ON p.user_id = c.user_id
     AND p.p_ts > c.ts
     AND p.p_ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def incremental_join_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-maintained click->purchase attribution join: both sides
    split into an accumulated half and a delta (by event-id parity); the
    maintained view = previous result + the three delta terms. The
    oracle recomputes the join from scratch — hash equality PROVES
    incremental == full, the same contract as incremental_sales_state
    but for joins."""
    from .operators.joins import incremental_join_delta

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    old_c = clicks.filter(F.col("event_id") % 2 == 0)
    new_c = clicks.filter(F.col("event_id") % 2 != 0)
    old_p = purch.filter(F.col("p_id") % 2 == 0)
    new_p = purch.filter(F.col("p_id") % 2 != 0)

    def cond(l, r):
        return (
            (r["p_user"] == l["user_id"])
            & (r["p_ts"] > l["ts"])
            & (r["p_ts"] <= F.expr("l.ts + INTERVAL 30 MINUTE"))
        )

    la, ra = old_c.alias("l"), old_p.alias("r")
    previous = la.join(ra, cond(la, ra))
    delta = incremental_join_delta(old_c, old_p, new_c, new_p, cond)
    return previous.unionAll(delta).select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("p_id").alias("purchase_id"),
    )


@register(
    "neyman_sample_orders",
    """
    WITH q AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS qv
      FROM orders
    ),
    stats AS (
      SELECT o_orderpriority, count(*) AS n, sum(qv) AS s,
             sum(CAST(qv * qv AS DECIMAL(38,0))) AS ss
      FROM q GROUP BY o_orderpriority
    ),
    wts AS (
      SELECT o_orderpriority,
             CAST(floor(sqrt(greatest(
                    (ss::DOUBLE / 10000.0) / n::DOUBLE
                    - ((s / 100.0) / n::DOUBLE) * ((s / 100.0) / n::DOUBLE),
                    0.0)) * n * 1000000) AS BIGINT) AS w
      FROM stats
    ),
    quota AS (
      -- all-zero-variance fallback: proportional allocation (matches
      -- the engine's guard; on non-degenerate data the CASE is inert)
      SELECT w.o_orderpriority,
             CAST(floor(1000.0 * CASE
               WHEN (SELECT sum(w) FROM wts) <> 0
               THEN w.w::DOUBLE / (SELECT sum(w) FROM wts)::DOUBLE
               ELSE s.n::DOUBLE / (SELECT sum(n) FROM stats)::DOUBLE
             END) AS BIGINT) AS qn
      FROM wts w JOIN stats s USING (o_orderpriority)
    ),
    ranked AS (
      SELECT o.o_orderkey, o.o_orderpriority, quota.qn,
             row_number() OVER (
               PARTITION BY o.o_orderpriority
               ORDER BY md5(o.o_orderkey::VARCHAR || ':0'), o.o_orderkey
             ) AS rn
      FROM orders o JOIN quota USING (o_orderpriority)
    )
    SELECT o_orderkey, o_orderpriority FROM ranked WHERE rn <= qn
    """,
)
def neyman_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sample of 1000 orders by priority:
    variance-proportional quotas from engine-exact statistics,
    deterministic md5-order membership — the selected set itself is
    hash-checked."""
    from .operators.corpus import neyman_sample

    o = _t(spark, sf_dir, "orders")
    return neyman_sample(
        o, "o_orderpriority", "o_orderkey", "o_totalprice", total_n=1000
    ).select("o_orderkey", "o_orderpriority")


@register(
    "sequence_pattern_events",
    """
    WITH enc AS (
      SELECT user_id,
             count(*) AS n_events,
             string_agg(CASE event_type WHEN 'view' THEN 'v'
                                        WHEN 'click' THEN 'c'
                                        WHEN 'cart' THEN 'a'
                                        WHEN 'purchase' THEN 'p'
                                        ELSE '.' END,
                        '' ORDER BY ts, event_id) AS symbol_string
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events, symbol_string,
           len(regexp_extract_all(symbol_string, 'c[va]*p'))::INT
             AS n_matches
    FROM enc
    """,
)
def sequence_pattern_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style detection of click -> (view|cart)* ->
    purchase runs per user: events encode to a per-user symbol string
    (order-stable collect, one partial-agg shuffle) and the pattern is a
    JVM regex count. Spark has no MATCH_RECOGNIZE; this covers the
    concatenation/alternation/quantifier subset with identical regex
    semantics in the oracle."""
    from .operators.timeseries import sequence_pattern_match

    ev = _t(spark, sf_dir, "events")
    return sequence_pattern_match(
        ev, "user_id", "ts", "event_type",
        symbols={"view": "v", "click": "c", "cart": "a", "purchase": "p"},
        pattern="c[va]*p",
        tiebreak_col="event_id",
    )


@register(
    "rolling_anomaly_events",
    """
    WITH q AS (
      SELECT event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS qv
      FROM events
    ),
    w AS (
      SELECT event_type, ts, event_id, qv,
             count(*) OVER win AS wn,
             sum(qv) OVER win AS ws,
             sum(CAST(qv * qv AS DECIMAL(38,0))) OVER win AS wss
      FROM q
      WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, event_type,
           round(qv / 100.0, 2) AS value,
           CASE WHEN wn >= 20
                     AND ((wss::DOUBLE / 10000.0) / wn::DOUBLE
                          - ((ws / 100.0) / wn::DOUBLE)
                            * ((ws / 100.0) / wn::DOUBLE)) > 0
                THEN abs(qv / 100.0 - (ws / 100.0) / wn::DOUBLE)
                     > 4.0 * sqrt((wss::DOUBLE / 10000.0) / wn::DOUBLE
                                  - ((ws / 100.0) / wn::DOUBLE)
                                    * ((ws / 100.0) / wn::DOUBLE))
                ELSE FALSE END AS is_anomaly
    FROM w
    """,
)
def rolling_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags per event type: each value compared
    to the mean/std of its 50 TRAILING observations (never itself or the
    future — the leakage-safe monitoring frame; warm-up of 20 required).
    Integer-cents sums and decimal squares inside the window frame keep
    the statistics engine-exact; one key-partitioned ordered window."""
    ev = _t(spark, sf_dir, "events")
    q = grid("value", CENTS)
    win = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-50, -1)
    )
    wn = F.count(F.lit(1)).over(win)
    ws = F.sum(q).over(win)
    wss = F.sum((q * q).cast("decimal(38,0)")).over(win)
    mean, var = grid_moments(wn, ws, wss, CENTS)
    flag = (
        F.when(
            (wn >= 20) & (var > 0),
            F.abs(ungrid(q, CENTS) - mean) > F.lit(4.0) * F.sqrt(var),
        ).otherwise(F.lit(False))
    )
    return ev.select(
        "event_id",
        "event_type",
        F.round("value", 2).alias("value"),
        flag.alias("is_anomaly"),
    )


@register(
    "hashing_vectorize_docs",
    f"""
    WITH t AS (
      SELECT doc_id, u.t AS tok
      FROM (SELECT doc_id, {_TOKS_SQL} AS w FROM documents), unnest(w) u(t)
    ),
    b AS (
      SELECT doc_id,
             (('0x' || substr(md5(tok || ':0'), 1, 8))::BIGINT % 64)
               AS bucket
      FROM t
    ),
    tf AS (SELECT doc_id, bucket, count(*) AS tf FROM b GROUP BY 1, 2),
    dfs AS (SELECT bucket, count(DISTINCT doc_id) AS df FROM b GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents)
    SELECT tf.doc_id, tf.bucket,
           (tf.tf * (1 + (length(bin(n.nd)) - 1)
                     - (length(bin(dfs.df)) - 1)))::BIGINT AS weight
    FROM tf JOIN dfs USING (bucket) CROSS JOIN n
    """,
)
def hashing_vectorize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed TF-IDF vectors (sparse form) over documents:
    portable md5 bucket mapping + integer-bit idf, so every nonzero
    cell is hash-checked. The dense assembly feeding the ANN/k-means
    operators is the same cells reshaped (tested equal)."""
    from .operators.text import hashing_vectorize

    return hashing_vectorize(
        _t(spark, sf_dir, "documents"), "doc_id", "text", dim=64, dense=False
    )


@register(
    "calibration_embeddings",
    """
    WITH scored AS (
      SELECT CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y,
             least(greatest(embedding[1]::DOUBLE + 0.5, 0.0), 1.0) AS p
      FROM embeddings
    ),
    binned AS (
      SELECT least(CAST(floor(p * 10) AS INT), 9) AS bin,
             CAST(round(p * 1000000) AS BIGINT) AS q, y
      FROM scored
    ),
    agg AS (
      SELECT bin, count(*) AS n, sum(q) AS sq,
             CAST(sum(y) AS BIGINT) AS pos
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT sum(n) AS t FROM agg)
    SELECT bin, n,
           round((sq / 1000000.0) / n::DOUBLE, 6) AS confidence,
           round(pos::DOUBLE / n::DOUBLE, 6) AS accuracy,
           round(n::DOUBLE / t::DOUBLE
                 * abs(pos::DOUBLE / n::DOUBLE
                       - (sq / 1000000.0) / n::DOUBLE), 6) AS ece_term
    FROM agg CROSS JOIN tot
    """,
)
def calibration_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the synthetic scorer (first embedding
    element shifted to [0,1]) against the label — per-bin confidence vs
    observed rate plus ECE contributions, all engine-exact."""
    from .functions.metrics import calibration_bins

    emb = _t(spark, sf_dir, "embeddings").select(
        (F.col("label") >= 5).cast("double").alias("y"),
        F.least(
            F.greatest(F.element_at("embedding", 1).cast("double") + 0.5,
                       F.lit(0.0)),
            F.lit(1.0),
        ).alias("p"),
    )
    return calibration_bins(emb, label="y", score="p", bins=10)


@register(
    "embedding_drift_labels",
    """
    WITH e AS (
      SELECT label, vec_id % 2 AS period,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(round(unnest(embedding)::DOUBLE * 1000000) AS BIGINT) AS q
      FROM embeddings
    ),
    cent AS (
      SELECT label, period, pos,
             sum(q) AS s, count(*) AS n
      FROM e GROUP BY label, period, pos
    ),
    paired AS (
      SELECT a.label, a.pos,
             (a.s / 1000000.0) / a.n::DOUBLE AS ca,
             (b.s / 1000000.0) / b.n::DOUBLE AS cb
      FROM cent a JOIN cent b
        ON b.label = a.label AND b.pos = a.pos
       AND a.period = 0 AND b.period = 1
    )
    SELECT label,
           round(sqrt(sum((ca - cb) * (ca - cb))), 6) AS centroid_shift
    FROM paired GROUP BY label
    """,
)
def embedding_drift_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per label, the L2 distance between the
    class centroid of period 0 and period 1 (vec_id parity as the
    period stand-in) — the vector-space analog of source_token_drift.
    Centroids use exact scaled-integer sums (posexplode -> (label,
    period, dim) partial aggs — shuffle = labels x periods x dim rows);
    only the final distance touches floats. Sum order in the distance is
    fixed by aggregating over the ORDERED dim key in both engines."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("period"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "x"
        ),
    ).withColumn("q", grid("x", MICRO))
    cent = e.groupBy("label", "period", "pos").agg(
        F.sum("q").alias("s"), F.count(F.lit(1)).alias("n")
    )
    a = cent.filter(F.col("period") == 0).select(
        "label", "pos",
        (ungrid(F.col("s"), MICRO) / F.col("n").cast("double")).alias("ca"),
    )
    b = cent.filter(F.col("period") == 1).select(
        F.col("label").alias("lb"), F.col("pos").alias("pb"),
        (ungrid(F.col("s"), MICRO) / F.col("n").cast("double")).alias("cb"),
    )
    paired = a.join(
        b, (a.label == b.lb) & (a.pos == F.col("pb"))
    )
    d = (F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))
    return (
        paired.groupBy("label")
        .agg(F.round(F.sqrt(F.sum(d)), 6).alias("centroid_shift"))
    )


def _text_ann_oracle(out_dim: int = 16, in_dim: int = 64, seed: int = 7) -> str:
    """Replica of hashing-vectorize -> JL-project -> cosine top-k: the
    identical seeded Rademacher matrix as literals, the same md5 bucket
    mapping and integer-bit idf, sequential-fold dots — every projected
    coordinate and every cosine is hash-checked. out_dim=16 makes the
    1/sqrt scale exactly 0.25, so projections are exact rationals."""
    import random

    rng = random.Random(seed)
    rows = [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(in_dim)]
        for _ in range(out_dim)
    ]
    comps = ",\n             ".join(
        "round(list_sum(list_transform(list_zip(v, ["
        + ", ".join(repr(x) for x in r)
        + "]::DOUBLE[]), p -> p[1] * p[2])) * 0.25, 6)"
        for r in rows
    )
    return f"""
    WITH t AS (
      SELECT doc_id, u.t AS tok
      FROM (SELECT doc_id, {_TOKS_SQL} AS w FROM documents), unnest(w) u(t)
    ),
    b AS (
      SELECT doc_id,
             (('0x' || substr(md5(tok || ':0'), 1, 8))::BIGINT % {in_dim})
               AS bucket
      FROM t
    ),
    tf AS (SELECT doc_id, bucket, count(*) AS tf FROM b GROUP BY 1, 2),
    dfs AS (SELECT bucket, count(DISTINCT doc_id) AS df FROM b GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
    cells AS (
      SELECT tf.doc_id, tf.bucket,
             (tf.tf * (1 + (length(bin(n.nd)) - 1)
                       - (length(bin(dfs.df)) - 1)))::DOUBLE AS w
      FROM tf JOIN dfs USING (bucket) CROSS JOIN n
    ),
    dense AS (
      SELECT doc_id,
             list_transform(generate_series(0, {in_dim - 1}),
               i -> coalesce((map_from_entries(
                      list(struct_pack(k := bucket, v := w)))[i])[1],
                    CAST(0.0 AS DOUBLE))) AS v
      FROM cells GROUP BY doc_id
    ),
    jl AS (
      SELECT doc_id,
             [{comps}] AS j
      FROM dense
    ),
    scored AS (
      SELECT q.doc_id AS qid, c.doc_id AS cid,
             round(list_sum(list_transform(list_zip(q.j, c.j),
                     p -> p[1] * p[2]))
                   / (sqrt(list_sum(list_transform(q.j, x -> x * x)))
                      * sqrt(list_sum(list_transform(c.j, x -> x * x)))),
                   6) AS cos
      FROM jl q JOIN jl c ON q.doc_id < 3 AND c.doc_id <> q.doc_id
    )
    SELECT qid AS doc_id, cid AS neighbor_id, cos,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid)
             AS rnk
    FROM scored QUALIFY rnk <= 5
    """


@register("text_ann_pipeline", _text_ann_oracle())
def text_ann_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text -> ANN with no external model: feature-hashed TF-IDF
    (integer weights) -> Johnson-Lindenstrauss 16-dim projection (exact
    quarters — 0.25 scale) -> cosine top-5 for the first three docs.
    Every stage is a zero-shuffle projection except the two tiny
    aggregations; the oracle replays the whole pipeline bit for bit."""
    from .operators.similarity import cosine_topk
    from .operators.text import hashing_vectorize, jl_project

    docs = _t(spark, sf_dir, "documents")
    dense = hashing_vectorize(docs, "doc_id", "text", dim=64, dense=True)
    # the projected frame feeds BOTH sides of the top-k join (query
    # rows + corpus): cut the lineage so TF-IDF + JL compute once
    # (round-12, guide §1.2)
    jl = materialize(
        jl_project(dense, "vector", in_dim=64, out_dim=16, seed=7),
        eager=False,
    )
    q = jl.filter(F.col("doc_id") < 3)
    return cosine_topk(
        q, jl, "doc_id", "doc_id", "jl_vector", "jl_vector", k=5
    )


@register(
    "leakage_check_events",
    """
    WITH tr AS (
      SELECT user_id, max(ts) AS max_train_ts
      FROM events WHERE event_id % 5 <> 0 GROUP BY user_id
    ),
    te AS (
      SELECT user_id, min(ts) AS min_test_ts
      FROM events WHERE event_id % 5 = 0 GROUP BY user_id
    )
    SELECT tr.user_id,
           (tr.max_train_ts >= te.min_test_ts) AS leaks,
           CAST(floor((epoch_us(tr.max_train_ts) - epoch_us(te.min_test_ts))
                      / 1000000.0) AS BIGINT) AS overlap_seconds
    FROM tr JOIN te USING (user_id)
    """,
)
def leakage_check_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-leakage audit of a train/test split (every 5th event as
    test): per entity, does any training timestamp reach into the test
    period, and by how much. Two per-key partial aggs + one key join —
    the pre-flight check every time-series model split needs. (The
    id-hash split itself is leakage-safe by KEY; this audits splits
    that must also be causal in TIME.)"""
    ev = _t(spark, sf_dir, "events")
    tr = ev.filter(F.col("event_id") % 5 != 0).groupBy("user_id").agg(
        F.max("ts").alias("max_train_ts")
    )
    te = ev.filter(F.col("event_id") % 5 == 0).groupBy("user_id").agg(
        F.min("ts").alias("min_test_ts")
    )
    j = tr.join(te, "user_id")
    return j.select(
        "user_id",
        (F.col("max_train_ts") >= F.col("min_test_ts")).alias("leaks"),
        F.floor(
            (
                F.unix_micros("max_train_ts")
                - F.unix_micros("min_test_ts")
            ).cast("double")
            / 1_000_000.0
        ).cast("long").alias("overlap_seconds"),
    )


@register(
    "session_paths_events",
    """
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(sum(new_sess) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM (
        SELECT *,
               CASE WHEN floor(epoch(ts)) - floor(epoch(lag(ts) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id)))
                         > 1800
                         OR lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
      )
    ),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM s GROUP BY user_id, session_id
    )
    SELECT path, count(*) AS n_sessions,
           row_number() OVER (ORDER BY count(*) DESC, path) AS rnk
    FROM paths GROUP BY path
    QUALIFY rnk <= 20
    """,
)
def session_paths_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session paths: 30-minute sessionization, each session's
    ordered event-type string, global path frequencies — the product-
    analytics 'user flow' readout. One user-key window, one (user,
    session) collect, one tiny path aggregate."""
    from .functions.windows import sessionize

    ev = _t(spark, sf_dir, "events")
    sess = sessionize(
        ev, key="user_id", ts="ts", gap_seconds=1800, tiebreak="event_id"
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    w = Window.orderBy(F.col("n_sessions").desc(), "path")
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
    )


def _kcenter_oracle(k: int = 6) -> str:
    """Unrolled greedy k-center rounds in SQL: identical quantized
    distances and (distance desc, id asc) argmax, so the selected ids
    and their order are bit-checked."""
    qd = (
        "CAST(round(sqrt(list_sum(list_transform(list_zip({v}, {c}), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))) * 1000000) AS BIGINT)"
    )
    parts = [
        """
    WITH e AS (
      SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ),
    c0 AS (SELECT id, v FROM e ORDER BY id LIMIT 1),
    d0 AS (
      SELECT e.id, e.v, """
        + qd.format(v="e.v", c="c0.v")
        + """ AS d
      FROM e, c0
    )"""
    ]
    for i in range(1, k):
        parts.append(
            f""",
    p{i} AS (SELECT id, v FROM d{i - 1} ORDER BY d DESC, id LIMIT 1),
    d{i} AS (
      SELECT d{i - 1}.id, d{i - 1}.v,
             least(d{i - 1}.d, """
            + qd.format(v=f"d{i - 1}.v", c=f"p{i}.v")
            + f""") AS d
      FROM d{i - 1}, p{i}
    )"""
        )
    sel = ["SELECT 1 AS rank, id FROM c0"] + [
        f"SELECT {i + 1} AS rank, id FROM p{i}" for i in range(1, k)
    ]
    parts.append("\n    " + "\n    UNION ALL ".join(sel))
    return "".join(parts)


@register("kcenter_select_embeddings", _kcenter_oracle())
def kcenter_select_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embeddings table: 6 maximally-
    diverse vectors by farthest-point traversal, quantized distances and
    deterministic argmax — selection ORDER included in the hash check
    (the oracle unrolls identical rounds)."""
    from .operators.similarity import kcenter_select

    emb = _t(spark, sf_dir, "embeddings")
    ids = kcenter_select(emb, "embedding", "vec_id", k=6)
    return spark.createDataFrame(
        [(i + 1, x) for i, x in enumerate(ids)], "rank: int, id: long"
    )


@register(
    "ndcg_orders",
    """
    WITH disc(rk, w) AS (VALUES
        (1, 1.0),
        (2, 0.6309297535714575),
        (3, 0.5),
        (4, 0.43067655807339306),
        (5, 0.38685280723454163)
    ),
    ranked AS (
      SELECT o_custkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey)
               AS rk,
             (o_orderkey % 4)::DOUBLE AS rel
      FROM orders
    ),
    top AS (SELECT * FROM ranked WHERE rk <= 5),
    dcg AS (
      SELECT o_custkey, sum(rel * w) AS d
      FROM top JOIN disc USING (rk) GROUP BY o_custkey
    ),
    ideal AS (
      SELECT o_custkey, rel,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY rel DESC, rk) AS irk
      FROM top
    ),
    idcg AS (
      SELECT o_custkey, sum(rel * w) AS i
      FROM ideal JOIN disc ON disc.rk = ideal.irk
      WHERE irk <= 5 GROUP BY o_custkey
    )
    SELECT dcg.o_custkey,
           CASE WHEN idcg.i > 0 THEN round(dcg.d / idcg.i, 6) END AS ndcg
    FROM dcg JOIN idcg USING (o_custkey)
    """,
)
def ndcg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 of each customer's price-ordered ranking against a
    deterministic graded relevance (orderkey mod 4): literal log2
    discounts shared by both engines, ideal-DCG normalization — the
    ranking-quality metric closing the metrics family (AUC / GAUC /
    calibration / NDCG)."""
    from .functions.metrics import ndcg_at_k

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    ranked = o.select(
        "o_custkey",
        F.row_number().over(w).alias("rk"),
        (F.col("o_orderkey") % 4).cast("double").alias("rel"),
    )
    return ndcg_at_k(ranked, "o_custkey", "rel", "rk", k=5)


@register(
    "mrr_hitrate_orders",
    """
    WITH ranked AS (
      SELECT o_custkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey)
               AS rk,
             (o_orderkey % 4) AS rel
      FROM orders
    ),
    agg AS (
      SELECT o_custkey,
             min(CASE WHEN rel > 0 THEN rk END) AS first_hit_rank
      FROM ranked WHERE rk <= 5 GROUP BY o_custkey
    )
    SELECT o_custkey, first_hit_rank,
           round(coalesce(1.0 / first_hit_rank::DOUBLE, 0.0), 6) AS rr,
           (first_hit_rank IS NOT NULL) AS hit_at_k
    FROM agg
    """,
)
def mrr_hitrate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR and hit-rate@5 over the same ranking/relevance setup as
    ndcg_orders — identical IEEE reciprocals, exact hit ranks."""
    from .functions.metrics import mrr_hitrate_at_k

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    ranked = o.select(
        "o_custkey",
        F.row_number().over(w).alias("rk"),
        (F.col("o_orderkey") % 4).alias("rel"),
    )
    return mrr_hitrate_at_k(ranked, "o_custkey", "rel", "rk", k=5)


# ---------------------------------------------------------------------------
# Wave 6: event analytics (cohort/funnel), data-quality audit, Bloom-filter
# join pruning, EWMA, multi-source BFS, chi-square, correlation, OLS trend,
# equi-depth binning, stream top-k.
# ---------------------------------------------------------------------------


@register(
    "cohort_retention_events",
    """
    WITH first AS (
      SELECT user_id AS u,
             CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id AS u,
             CAST(date_trunc('week', ts) AS DATE) AS w
      FROM events
    ),
    cells AS (
      SELECT cohort_week,
             CAST(date_diff('day', cohort_week, w) // 7 AS INT) AS week_offset,
             count(DISTINCT u) AS n_active
      FROM active JOIN first USING (u)
      GROUP BY 1, 2
    ),
    sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM first GROUP BY 1)
    SELECT cohort_week, week_offset, n_active, cohort_size
    FROM cells JOIN sizes USING (cohort_week)
    """,
)
def cohort_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix over the event stream: first-touch
    week per user, distinct active weeks, (cohort, offset) cells.
    Extends ``retention_cohorts`` with per-cohort denominators
    (cohort_size, for retention-RATE reporting) via the reusable
    ``operators.analytics.cohort_retention`` API. Both user-keyed
    aggregations hash-partition on the same key (exchange reuse); the
    output is bounded by weeks x offsets."""
    from .operators.analytics import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, "user_id", "ts")


@register(
    "funnel_unbounded_events",
    """
    WITH s1 AS (SELECT user_id AS u, min(ts) AS t FROM events
                WHERE event_type = 'view' GROUP BY 1),
    s2 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
           JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t
           WHERE e.event_type = 'click' GROUP BY 1),
    s3 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
           JOIN s2 ON e.user_id = s2.u AND e.ts > s2.t
           WHERE e.event_type = 'purchase' GROUP BY 1),
    c AS (
      SELECT 1 AS step, 'view' AS step_name, (SELECT count(*) FROM s1) AS n_users
      UNION ALL
      SELECT 2, 'click', (SELECT count(*) FROM s2)
      UNION ALL
      SELECT 3, 'purchase', (SELECT count(*) FROM s3)
    )
    SELECT step, step_name, n_users,
           round(CAST(n_users AS DOUBLE) * 100.0
                 / CAST((SELECT count(*) FROM s1) AS DOUBLE), 4) AS conversion_pct
    FROM c
    """,
)
def funnel_unbounded_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNBOUNDED ordered funnel (complements the windowed
    ``funnel_events``, which requires each step within 1 hour of the
    previous): step i completes at the earliest qualifying event
    strictly after step i-1, with no time limit, and reports conversion
    percentages. All k-1 joins are keyed on user_id (one partitioning
    serves every stage); no per-user history is ever collected."""
    from .operators.analytics import funnel

    ev = _t(spark, sf_dir, "events")
    out = funnel(ev, ["view", "click", "purchase"], "user_id", "ts", "event_type")
    return out.select(
        "step",
        "step_name",
        "n_users",
        F.col("conversion_pct").cast("double").alias("conversion_pct"),
    )


@register(
    "dq_audit_orders",
    """
    WITH b AS (
      SELECT count(*) AS n,
        sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_ck,
        sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS null_tp,
        sum(CASE WHEN NOT (o_totalprice BETWEEN 0.0 AND 1000000.0)
            THEN 1 ELSE 0 END) AS rng_tp,
        sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
            THEN 1 ELSE 0 END) AS set_os
      FROM orders
    ),
    dup AS (
      SELECT coalesce(sum(k), 0) AS d FROM (
        SELECT count(*) AS k FROM orders GROUP BY o_orderkey HAVING count(*) > 1
      )
    ),
    fk AS (
      SELECT count(*) AS o FROM orders
      WHERE o_custkey IS NOT NULL
        AND o_custkey NOT IN (SELECT c_custkey FROM customer)
    )
    SELECT 'row_count' AS "constraint", '*' AS "column",
           round(CAST(n AS DOUBLE), 6) AS metric, n >= 1 AS passed FROM b
    UNION ALL
    SELECT 'not_null', 'o_custkey',
           round(CAST(null_ck AS DOUBLE) / CAST(n AS DOUBLE), 6),
           null_ck = 0 FROM b
    UNION ALL
    SELECT 'not_null', 'o_totalprice',
           round(CAST(null_tp AS DOUBLE) / CAST(n AS DOUBLE), 6),
           null_tp = 0 FROM b
    UNION ALL
    SELECT 'in_range', 'o_totalprice', round(CAST(rng_tp AS DOUBLE), 6),
           rng_tp = 0 FROM b
    UNION ALL
    SELECT 'in_set', 'o_orderstatus', round(CAST(set_os AS DOUBLE), 6),
           set_os = 0 FROM b
    UNION ALL
    SELECT 'unique', 'o_orderkey', round(CAST(d AS DOUBLE), 6), d = 0 FROM dup
    UNION ALL
    SELECT 'foreign_key', 'o_custkey', round(CAST(o AS DOUBLE), 6), o = 0 FROM fk
    """,
)
def dq_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative Deequ-style data-quality audit of the orders table:
    completeness, key uniqueness, range/set membership, and referential
    integrity against customer — all table-local checks in ONE fused
    scan-agg plus one anti-join for the FK."""
    from .operators.quality import Check, dq_audit

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    check = Check(
        not_null=["o_custkey", "o_totalprice"],
        unique=[["o_orderkey"]],
        ranges={"o_totalprice": (0.0, 1000000.0)},
        isin={"o_orderstatus": ["O", "F", "P"]},
        refs=[("o_custkey", c, "c_custkey")],
        min_rows=1,
    )
    return dq_audit(o, check)


@register(
    "bloom_prune_join_lineitem",
    """
    SELECT p.p_brand,
           count(*) AS n_items,
           sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT))
             / 100.0 AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 2
    GROUP BY p.p_brand
    """,
)
def bloom_prune_join_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction: the selective part subset
    (p_size <= 2) builds a 2^16-bit bitmap that pre-filters lineitem
    MAP-SIDE before the join shuffles — the manual analog of runtime
    row-level filtering. False positives are resolved by the real join,
    so the result is exactly the plain join (which is what the oracle
    runs)."""
    from .operators.joins import bloom_filter_join

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 2)
    joined = bloom_filter_join(li, p, "l_partkey", "p_partkey")
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        grid_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), CENTS).alias(
            "revenue"
        ),
    )


@register(
    "ewma_user_value",
    """
    WITH h AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS l
      FROM events GROUP BY user_id
    )
    SELECT user_id, len(l) AS n_obs,
           round(list_reduce(l, (a, b) -> (a + b) / 2.0), 8) AS ewma
    FROM h
    """,
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (alpha = 1/2) of event values: the fold runs in
    strict (ts, event_id) order in both engines and every product is an
    exact exponent shift, so the result is bit-identical regardless of
    partitioning — a sequential-state computation expressed exactly."""
    from .operators.timeseries import ewma

    ev = _t(spark, sf_dir, "events")
    return ewma(ev, "user_id", "ts", "value", order_col="event_id")


@register(
    "bfs_hops_suppliers",
    """
    WITH RECURSIVE e AS (
      SELECT DISTINCT o_custkey * 10 AS a, l_suppkey * 10 + 1 AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
    seeds AS (SELECT DISTINCT c_custkey * 10 AS id FROM customer
              WHERE c_custkey % 50 = 0),
    r AS (
      SELECT id, 0 AS d FROM seeds
      UNION
      SELECT edges.b AS id, r.d + 1 AS d
      FROM r JOIN edges ON edges.a = r.id
      WHERE r.d < 4
    )
    SELECT id, min(d) AS dist FROM r GROUP BY id
    """,
)
def bfs_hops_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the bipartite customer-supplier trade graph
    (same graph as pagerank_customer_supplier): minimum hop count from a
    deterministic seed set of customers, capped at 4 hops. Min-plus
    propagation with per-round lineage cuts; the oracle is a true
    recursive CTE bounded by the same hop cap."""
    from .operators.graph import bfs_distances

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 10).alias("a"),
            (F.col("l_suppkey") * 10 + 1).alias("b"),
        )
        .distinct()
    )
    seeds = c.filter(F.col("c_custkey") % 50 == 0).select(
        (F.col("c_custkey") * 10).alias("id")
    )
    return bfs_distances(edges, seeds, "a", "b", "id", max_hops=4)


@register(
    "chisq_events",
    """
    WITH cells AS (
      SELECT event_type AS r,
             CAST(floor(extract(hour FROM ts) / 6) AS INT) AS c,
             count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT r, sum(o) AS row_t FROM cells GROUP BY r),
    ct AS (SELECT c, sum(o) AS col_t FROM cells GROUP BY c),
    g AS (SELECT sum(o) AS grand FROM cells),
    terms AS (
      SELECT rt.r, ct.c, coalesce(cells.o, 0) AS o, g.grand,
             (CAST(rt.row_t AS DOUBLE) * CAST(ct.col_t AS DOUBLE)
              / CAST(g.grand AS DOUBLE)) AS e
      FROM rt CROSS JOIN ct CROSS JOIN g
      LEFT JOIN cells ON cells.r = rt.r AND cells.c = ct.c
    )
    SELECT round(CAST(sum(CAST(round(((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e)
                                     * 1000000) AS BIGINT)) AS DOUBLE)
                 / 1000000.0, 6) AS statistic,
           CAST((count(DISTINCT r) - 1) * (count(DISTINCT c) - 1) AS BIGINT) AS dof,
           CAST(max(grand) AS BIGINT) AS n
    FROM terms
    """,
)
def chisq_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test: event_type x 6-hour time-of-day
    bucket. Observed counts are exact; each cell's term is quantized to
    integer micro-units before the final sum (the money-sum trick), so
    the statistic is engine- and partitioning-exact."""
    from .operators.analytics import chi_square

    ev = _t(spark, sf_dir, "events")
    return chi_square(ev, "event_type", F.floor(F.hour("ts") / 6).cast("int"))


@register(
    "corr_lineitem",
    """
    WITH q AS (
      SELECT CAST(round(l_quantity * 100) AS BIGINT) AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price,
             CAST(round(l_discount * 10000) AS BIGINT) AS disc
      FROM lineitem
    ),
    s AS (
      SELECT count(*) AS n,
             sum(CAST(qty AS DECIMAL(38,0))) AS s_qty,
             sum(CAST(qty * qty AS DECIMAL(38,0))) AS ss_qty,
             sum(CAST(price AS DECIMAL(38,0))) AS s_price,
             sum(CAST(price * price AS DECIMAL(38,0))) AS ss_price,
             sum(CAST(disc AS DECIMAL(38,0))) AS s_disc,
             sum(CAST(disc * disc AS DECIMAL(38,0))) AS ss_disc,
             sum(CAST(qty * price AS DECIMAL(38,0))) AS sp_qty_price,
             sum(CAST(qty * disc AS DECIMAL(38,0))) AS sp_qty_disc,
             sum(CAST(price * disc AS DECIMAL(38,0))) AS sp_price_disc
      FROM q
    )
    SELECT 'qty' AS x, 'price' AS y, n,
           round((CAST(n AS DOUBLE) * CAST(sp_qty_price AS DOUBLE)
                  - CAST(s_qty AS DOUBLE) * CAST(s_price AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(ss_qty AS DOUBLE)
                         - CAST(s_qty AS DOUBLE) * CAST(s_qty AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(ss_price AS DOUBLE)
                           - CAST(s_price AS DOUBLE) * CAST(s_price AS DOUBLE))),
                 8) AS corr
    FROM s
    UNION ALL
    SELECT 'qty', 'disc', n,
           round((CAST(n AS DOUBLE) * CAST(sp_qty_disc AS DOUBLE)
                  - CAST(s_qty AS DOUBLE) * CAST(s_disc AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(ss_qty AS DOUBLE)
                         - CAST(s_qty AS DOUBLE) * CAST(s_qty AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(ss_disc AS DOUBLE)
                           - CAST(s_disc AS DOUBLE) * CAST(s_disc AS DOUBLE))),
                 8)
    FROM s
    UNION ALL
    SELECT 'price', 'disc', n,
           round((CAST(n AS DOUBLE) * CAST(sp_price_disc AS DOUBLE)
                  - CAST(s_price AS DOUBLE) * CAST(s_disc AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(ss_price AS DOUBLE)
                         - CAST(s_price AS DOUBLE) * CAST(s_price AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(ss_disc AS DOUBLE)
                           - CAST(s_disc AS DOUBLE) * CAST(s_disc AS DOUBLE))),
                 8)
    FROM s
    """,
)
def corr_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over integer-quantized lineitem
    measures (cents / basis points) from ONE fused scan-agg of exact
    DECIMAL(38,0) sufficient statistics — overflow-proof at fact scale
    and identical in any summation order."""
    from .operators.analytics import corr_pairs

    li = _t(spark, sf_dir, "lineitem")
    return corr_pairs(
        li,
        {
            "qty": F.round(F.col("l_quantity") * 100),
            "price": F.round(F.col("l_extendedprice") * 100),
            "disc": F.round(F.col("l_discount") * 10000),
        },
    )


@register(
    "ols_trend_orders",
    """
    WITH j AS (
      SELECT c.c_mktsegment,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
             CAST(round(o_totalprice * 100) AS BIGINT) AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    s AS (
      SELECT c_mktsegment, count(*) AS n,
             sum(CAST(x AS DECIMAL(38,0))) AS sx,
             sum(CAST(y AS DECIMAL(38,0))) AS sy,
             sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
             sum(CAST(x * x AS DECIMAL(38,0))) AS sxx
      FROM j GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, n,
           round(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
                 THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END, 8)
             AS slope,
           round((CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 8) AS intercept
    FROM s
    """,
)
def ols_trend_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment linear trend of order value (cents) over time (epoch
    days): closed-form OLS from exact integer sufficient statistics —
    one partial+final agg; the slope/intercept are evaluated on scalars
    after aggregation."""
    from .operators.analytics import ols_trend

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("_x"),
        F.round(F.col("o_totalprice") * 100).alias("_y"),
    )
    return ols_trend(j, ["c_mktsegment"], F.col("_x"), F.col("_y"))


@register(
    "equidepth_bins_lineitem",
    """
    WITH g AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem
    ),
    b AS (
      SELECT quantile_cont(v, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS q
      FROM g
    ),
    binned AS (
      SELECT v,
             1 + (CASE WHEN v > q[1] THEN 1 ELSE 0 END)
               + (CASE WHEN v > q[2] THEN 1 ELSE 0 END)
               + (CASE WHEN v > q[3] THEN 1 ELSE 0 END)
               + (CASE WHEN v > q[4] THEN 1 ELSE 0 END)
               + (CASE WHEN v > q[5] THEN 1 ELSE 0 END)
               + (CASE WHEN v > q[6] THEN 1 ELSE 0 END)
               + (CASE WHEN v > q[7] THEN 1 ELSE 0 END) AS bin
      FROM g, b
    )
    SELECT bin, count(*) AS n_rows,
           round(CAST(min(v) AS DOUBLE), 2) AS min_v,
           round(CAST(max(v) AS DOUBLE), 2) AS max_v,
           sum(CAST(round(v * 100) AS BIGINT)) / 100.0 AS sum_v
    FROM binned GROUP BY bin
    """,
)
def equidepth_bins_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of price cents WITHOUT a global sort: exact
    interpolated percentile boundaries from one fused agg (broadcast as
    a single row), map-side bin assignment. On the integer cents grid
    with eighth fractions, the interpolation a + (b-a)*f is EXACT in
    double (every term is a multiple of 1/8 below 2^53), so boundary
    comparisons cannot differ between engines."""
    from .operators.analytics import equidepth_bins

    li = _t(spark, sf_dir, "lineitem").select(
        grid("l_extendedprice", CENTS).alias("v")
    )
    out = equidepth_bins(li, "v", n_bins=8)
    return out.select(
        "bin",
        "n_rows",
        F.col("min_v").cast("double").alias("min_v"),
        F.col("max_v").cast("double").alias("max_v"),
        "sum_v",
    )


@register(
    "stream_topk_types",
    """
    WITH c AS (
      SELECT (floor(epoch(ts) / 3600) * 3600)::BIGINT AS window_start_sec,
             event_type, count(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT window_start_sec, event_type, n_events, rk FROM (
      SELECT window_start_sec, event_type, n_events,
             row_number() OVER (PARTITION BY window_start_sec
                                ORDER BY n_events DESC, event_type) AS rk
      FROM c
    ) WHERE rk <= 2
    """,
)
def stream_topk_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: tumbling-window counts maintained by Structured
    Streaming (availableNow replay), then a bounded finishing rank over
    the materialized window aggregates — the state-store does the heavy
    counting; the rank touches only windows x types rows."""
    from .streaming.ops import read_event_stream, run_available_now, tumbling_agg

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    agg = tumbling_agg(stream, "ts", "1 hour", keys=["event_type"])
    out = run_available_now(agg)
    w = Window.partitionBy("window_start_sec").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        out.select(
            F.unix_timestamp("window_start").alias("window_start_sec"),
            "event_type",
            "n_events",
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
    )


# ---------------------------------------------------------------------------
# Wave 7: distributed decomposition (covariance/PCA), sketch-based join
# planning, multi-touch attribution.
# ---------------------------------------------------------------------------


@register(
    "covariance_embeddings",
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * 1048576.0)
                                      AS BIGINT)) AS v
      FROM embeddings
    ),
    e AS (
      SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM q
    ),
    c AS (
      SELECT a.i - 1 AS i, b.i - 1 AS j,
             sum(CAST(a.x * b.x AS DECIMAL(38,0))) AS spp
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2
    ),
    s AS (SELECT i - 1 AS i, sum(CAST(x AS DECIMAL(38,0))) AS s FROM e GROUP BY 1),
    n AS (SELECT count(*) AS n FROM q)
    SELECT c.i, c.j,
           CASE WHEN n.n <= 1 THEN NULL ELSE
           round((CAST(spp AS DOUBLE)
                  - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE) / CAST(n.n AS DOUBLE))
                 / (CAST(n.n AS DOUBLE) - 1) / 1099511627776.0, 8) END AS cov
    FROM c JOIN s si ON si.i = c.i JOIN s sj ON sj.i = c.j CROSS JOIN n
    """,
)
def covariance_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sample covariance matrix (upper triangle) of the embedding
    column: components quantized to a 2^20 integer grid so every
    sufficient statistic is an exact DECIMAL(38,0); shuffle volume after
    map-side combine is d(d+1)/2 cells x partitions, never rows — the
    treeAggregate Gramian shape of distributed PCA."""
    from .operators.decomp import covariance_matrix

    emb = _t(spark, sf_dir, "embeddings")
    return covariance_matrix(emb, "embedding", dim=64)


def _pca_power_oracle(iters: int = 5) -> str:
    """Unrolled quantized power iteration + one deflation in SQL,
    replaying operators.decomp.power_pca_project bit-for-bit: exact
    HUGEINT scatter matrix M = n*spp - s s^T, per-round integer matvec +
    round-half-away requantization, Rayleigh-quotient deflation in
    doubles requantized to a 1e12 grid, then exact integer projections.
    MATERIALIZED CTEs keep DuckDB from re-inlining (and re-scanning the
    parquet for) the base tables once per reference."""

    def power(tag: str, mat: str) -> str:
        out = [
            f",\n    {tag}v0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS v"
            " FROM dims)"
        ]
        for t in range(iters):
            out.append(f""",
    {tag}y{t} AS (
      SELECT m.i, sum(m.m * v.v) AS y
      FROM {mat} m JOIN {tag}v{t} v ON v.i = m.j GROUP BY m.i
    ),
    {tag}mx{t} AS (SELECT max(abs(y)) AS mx FROM {tag}y{t}),
    {tag}v{t + 1} AS MATERIALIZED (
      SELECT i, CAST(round(CAST(y AS DOUBLE) / CAST(mx AS DOUBLE)
                           * 1000000.0) AS HUGEINT) AS v
      FROM {tag}y{t} CROSS JOIN {tag}mx{t}
    )""")
        return "".join(out)

    head = """
    WITH q AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * 1048576.0)
                                      AS BIGINT)) AS v
      FROM embeddings
    ),
    e AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x
      FROM q
    ),
    dims AS (SELECT DISTINCT i FROM e),
    s AS (SELECT i, sum(x) AS s FROM e GROUP BY i),
    n AS (SELECT count(*) AS n FROM q),
    spp AS (
      SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS spp
      FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2
    ),
    m0 AS MATERIALIZED (
      SELECT spp.i, spp.j,
             CAST(n.n AS HUGEINT) * CAST(spp AS HUGEINT)
             - CAST(si.s AS HUGEINT) * CAST(sj.s AS HUGEINT) AS m
      FROM spp JOIN s si ON si.i = spp.i JOIN s sj ON sj.i = spp.j
      CROSS JOIN n
    )"""
    mid = f""",
    nm AS (
      SELECT sum(va.v * m0.m * vb.v) AS num
      FROM m0 JOIN av{iters} va ON va.i = m0.i
              JOIN av{iters} vb ON vb.i = m0.j
    ),
    dn AS (SELECT sum(v * v) AS den FROM av{iters}),
    d AS (
      SELECT m0.i, m0.j,
             CAST(m0.m AS DOUBLE)
             - CAST(nm.num AS DOUBLE) / CAST(dn.den AS DOUBLE)
               / CAST(dn.den AS DOUBLE)
               * CAST(va.v AS DOUBLE) * CAST(vb.v AS DOUBLE) AS d
      FROM m0 JOIN av{iters} va ON va.i = m0.i
              JOIN av{iters} vb ON vb.i = m0.j
      CROSS JOIN nm CROSS JOIN dn
    ),
    m2x AS (SELECT max(abs(d)) AS mx FROM d),
    m2 AS MATERIALIZED (
      SELECT i, j, CAST(round(d / mx * 1000000000000.0) AS HUGEINT) AS m
      FROM d CROSS JOIN m2x
    )"""
    tail = f"""
    SELECT e.vec_id, c.comp, CAST(sum(e.x * c.v) AS BIGINT) AS p
    FROM e JOIN (
      SELECT 0 AS comp, i, CAST(v AS BIGINT) AS v FROM av{iters}
      UNION ALL
      SELECT 1 AS comp, i, CAST(v AS BIGINT) AS v FROM bv{iters}
    ) c ON c.i = e.i
    GROUP BY e.vec_id, c.comp
    """
    return head + power("a", "m0") + mid + power("b", "m2") + tail


@register("pca_project_embeddings", _pca_power_oracle(5))
def pca_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 dominant-subspace projection of the embeddings by quantized
    FIXED-ROUND power iteration with one deflation — the oracle-
    replayable decomposition (formerly rows-only: the eigh variant's
    LAPACK solve has no SQL form; it remains available as
    operators.decomp.pca_project, numpy-differential-tested). The
    distributed part is one exact-integer Gramian pass (d(d+1)/2 shuffle
    cells); iteration runs on the driver over the d x d matrix; the
    projection is an exact integer dot product per (row, component), so
    the whole pipeline is hash-checked end to end. On spectra with real
    gaps this converges to PCA (proven vs numpy on anisotropic data in
    tests); on near-flat spectra it is still deterministic and
    engine-exact."""
    from .operators.decomp import power_pca_project

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return power_pca_project(emb, "embedding", dim=64, k=2, iters=5)


@register(
    "join_size_estimate_cms",
    """
    WITH ca AS (SELECT row, bucket, count(*) AS cnt FROM (SELECT 0 AS row, (('0x' || substr(md5(o_orderkey || ':0'), 1, 8))::BIGINT % 256) AS bucket FROM orders UNION ALL SELECT 1 AS row, (('0x' || substr(md5(o_orderkey || ':1'), 1, 8))::BIGINT % 256) AS bucket FROM orders UNION ALL SELECT 2 AS row, (('0x' || substr(md5(o_orderkey || ':2'), 1, 8))::BIGINT % 256) AS bucket FROM orders) GROUP BY 1, 2),
    cb AS (SELECT row, bucket, count(*) AS cnt FROM (SELECT 0 AS row, (('0x' || substr(md5(l_orderkey || ':0'), 1, 8))::BIGINT % 256) AS bucket FROM lineitem UNION ALL SELECT 1 AS row, (('0x' || substr(md5(l_orderkey || ':1'), 1, 8))::BIGINT % 256) AS bucket FROM lineitem UNION ALL SELECT 2 AS row, (('0x' || substr(md5(l_orderkey || ':2'), 1, 8))::BIGINT % 256) AS bucket FROM lineitem) GROUP BY 1, 2),
    dots0 AS (
      SELECT ca.row, sum(CAST(ca.cnt * cb.cnt AS DECIMAL(38,0))) AS dot
      FROM ca JOIN cb USING (row, bucket) GROUP BY ca.row
    ),
    dots AS (
      SELECT r.row, coalesce(dots0.dot, 0) AS dot
      FROM (SELECT DISTINCT row FROM ca) r LEFT JOIN dots0 USING (row)
    ),
    est AS (SELECT CAST(min(dot) AS BIGINT) AS est_pairs FROM dots),
    tr AS (SELECT count(*) AS true_pairs
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
    SELECT est_pairs, true_pairs,
           round((CAST(est_pairs AS DOUBLE) - CAST(true_pairs AS DOUBLE)) * 100.0
                 / CAST(true_pairs AS DOUBLE), 4) AS over_pct
    FROM est CROSS JOIN tr
""",
)
def join_size_estimate_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join-size estimation: |orders JOIN lineitem| on
    orderkey predicted from the inner product of two count-min sketches
    (width 256, depth 3) built with ONE map-side-combined pass per table
    — no shuffle of either table, no join. The answer behind shuffle
    sizing / broadcast / salting decisions at 100 TB. Exact integer
    arithmetic end to end; the oracle rebuilds both matrices and the
    true join count, so estimate AND ground truth are hash-checked."""
    from .operators.sketch import cms_build, cms_join_size

    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    ca = cms_build(o, "o_orderkey", width=256, depth=3, seed=0)
    cb = cms_build(li, "l_orderkey", width=256, depth=3, seed=0)
    est = cms_join_size(ca, cb)
    true = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .agg(F.count(F.lit(1)).alias("true_pairs"))
    )
    return est.crossJoin(true).select(
        "est_pairs",
        "true_pairs",
        F.round(
            (F.col("est_pairs").cast("double") - F.col("true_pairs").cast("double"))
            * 100.0
            / F.col("true_pairs").cast("double"),
            4,
        ).alias("over_pct"),
    )


@register(
    "attribution_multitouch",
    """
    WITH conv AS (
      SELECT user_id AS u, ts AS pt, event_id AS cid, value AS val
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id AS u, ts AS tt, event_id AS tid, event_type AS channel
      FROM events WHERE event_type IN ('view', 'click')
    ),
    j AS (
      SELECT cid, val, tt, tid, channel FROM conv JOIN touch USING (u)
      WHERE tt < pt AND tt >= pt - INTERVAL 604800 SECOND
    ),
    r AS (
      SELECT cid, val, tt, tid, channel,
             count(*) OVER (PARTITION BY cid) AS n,
             row_number() OVER (PARTITION BY cid ORDER BY tt, tid) AS rn_a,
             row_number() OVER (PARTITION BY cid ORDER BY tt DESC, tid DESC) AS rn_d
      FROM j
    ),
    credits AS (
      SELECT channel,
             val / CAST(n AS DOUBLE) AS lin,
             CASE WHEN n = 1 THEN val
                  WHEN n = 2 THEN val / 2.0
                  ELSE CASE WHEN rn_a = 1 OR rn_d = 1
                            THEN val * CAST(0.4 AS DOUBLE)
                            ELSE val * CAST(0.2 AS DOUBLE)
                                 / CAST(n - 2 AS DOUBLE) END
             END AS ush
      FROM r
    )
    SELECT channel, count(*) AS n_touches,
           round(CAST(sum(CAST(round(lin * 1000000) AS BIGINT)) AS DOUBLE)
                 / 1000000.0, 4) AS linear_credit,
           round(CAST(sum(CAST(round(ush * 1000000) AS BIGINT)) AS DOUBLE)
                 / 1000000.0, 4) AS ushape_credit
    FROM credits GROUP BY channel
    """,
)
def attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional multi-touch attribution (linear + U-shaped 40/20/40)
    of purchase value across the user's view/click touches in a 7-day
    lookback — complements the single-touch attribution_last_touch.
    Credits are micro-quantized before the channel rollup, so totals
    are exact under any partitioning."""
    from .operators.analytics import touch_attribution

    ev = _t(spark, sf_dir, "events")
    return touch_attribution(
        ev, ["view", "click"], "purchase", window_seconds=604800
    )


# ---------------------------------------------------------------------------
# Wave 8: MERGE INTO upsert, row provenance, WOE/IV encoding, seasonal
# decomposition.
# ---------------------------------------------------------------------------


@register(
    "merge_upsert_orders",
    """
    WITH upd AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             o_totalprice + 1000.0 AS o_totalprice,
             o_orderdate, o_orderpriority,
             (o_orderkey % 97 = 0) AS _del
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    ins AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, o_orderstatus,
             o_totalprice, o_orderdate, o_orderpriority, FALSE AS _del
      FROM orders WHERE o_orderkey % 13 = 0
    ),
    src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
    kept AS (
      SELECT o.* FROM orders o
      WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM src)
    ),
    merged AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM kept
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      FROM src WHERE NOT _del
    )
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice,
           o_orderdate
    FROM merged
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO over orders: a deterministic CDC batch (updates for
    keys %10, inserts at keys+10M for %13, deletes for %97) applied via
    ``merge_into`` — one co-partitioned anti join + union, no full-outer
    wide rows. The complete merged table is hash-checked."""
    from .operators.structural import merge_into

    o = _t(spark, sf_dir, "orders")
    upd = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
        (F.col("o_orderkey") % 97 == 0).alias("_del"),
    )
    ins = o.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
        F.lit(False).alias("_del"),
    )
    src = upd.unionByName(ins)
    merged = merge_into(o, src, ["o_orderkey"], delete_col="_del")
    return merged.select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderdate",
    )


@register(
    "provenance_lineitem",
    """
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS _source_file,
           count(*) AS n_rows,
           min(file_row_number) AS min_row,
           max(file_row_number) AS max_row,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
             AS sum_price
    FROM read_parquet('/root/testdata/sf0.01/lineitem.parquet',
                      filename=true, file_row_number=true)
    GROUP BY 1
    """,
)
def provenance_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level provenance from the parquet scan itself: per source
    file, row count, row-index range (0-based within the file, from
    Spark's ``_metadata`` — stable across runs/partitionings, unlike
    invented ids) and a content checksum. NOTE: the oracle reads the
    sf0.01 path directly (DuckDB views cannot carry filename), matching
    the driver's correctness scale."""
    from .sources.tabular import read_parquet_with_provenance

    df = read_parquet_with_provenance(spark, f"{sf_dir}/lineitem.parquet")
    return df.groupBy("_source_file").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("_source_row").alias("min_row"),
        F.max("_source_row").alias("max_row"),
        grid_sum("l_extendedprice", CENTS).alias("sum_price"),
    )


@register(
    "woe_orders",
    """
    WITH c AS (
      SELECT o_orderpriority AS category,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS pos_c,
             sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS neg_c
      FROM orders GROUP BY 1
    ),
    t AS (SELECT sum(pos_c) AS pos_t, sum(neg_c) AS neg_t FROM c)
    SELECT category, CAST(pos_c AS BIGINT) AS pos_c,
           CAST(neg_c AS BIGINT) AS neg_c,
           CASE WHEN pos_c > 0 AND neg_c > 0 THEN
             CAST((length(bin(pos_c)) - 1) + (length(bin(neg_t)) - 1)
                  - (length(bin(neg_c)) - 1) - (length(bin(pos_t)) - 1)
                  AS BIGINT)
           END AS woe_bits,
           round(CASE WHEN pos_c > 0 AND neg_c > 0 THEN
             CAST(CAST(round((CAST(pos_c AS DOUBLE) / CAST(pos_t AS DOUBLE)
                   - CAST(neg_c AS DOUBLE) / CAST(neg_t AS DOUBLE))
                  * CAST((length(bin(pos_c)) - 1) + (length(bin(neg_t)) - 1)
                         - (length(bin(neg_c)) - 1) - (length(bin(pos_t)) - 1)
                         AS DOUBLE)
                  * 1000000) AS BIGINT) AS DOUBLE) / 1000000.0
             ELSE 0.0 END, 6) AS iv_term
    FROM c CROSS JOIN t
    """,
)
def woe_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value profile of order priority
    against the finished-status label — whole-bit WOE via exact binary
    digit counts (engine- and order-exact, no transcendental log in the
    distributed path)."""
    from .functions.feature import woe_iv

    o = _t(spark, sf_dir, "orders")
    return woe_iv(o, "o_orderpriority", F.col("o_orderstatus") == "F")


@register(
    "seasonal_dow_events",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1
    ),
    d2 AS (SELECT day, cents, dayofweek(day) AS dow FROM daily),
    ds AS (SELECT dow, sum(cents) AS dc, count(*) AS dn FROM d2 GROUP BY 1),
    g AS (SELECT sum(cents) AS gc, count(*) AS gn FROM d2)
    SELECT day, d2.dow,
           CAST(cents AS DOUBLE) / 100.0 AS day_total,
           round(CAST(dc AS DOUBLE) / CAST(dn AS DOUBLE) / 100.0, 4) AS dow_mean,
           round(CAST(dc AS DOUBLE) / CAST(dn AS DOUBLE) / 100.0
                 - CAST(gc AS DOUBLE) / CAST(gn AS DOUBLE) / 100.0, 4)
             AS seasonal,
           round(CAST(cents AS DOUBLE) / 100.0
                 - CAST(dc AS DOUBLE) / CAST(dn AS DOUBLE) / 100.0, 4)
             AS residual
    FROM d2 JOIN ds USING (dow) CROSS JOIN g
    """,
)
def seasonal_dow_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition of daily event value: exact
    integer-cent daily totals, weekday seasonal means vs the global
    mean, per-day residuals — group stats broadcast (7 rows / 1 row),
    shuffle bounded by distinct days."""
    from .operators.timeseries import seasonal_dow

    ev = _t(spark, sf_dir, "events")
    return seasonal_dow(ev, "ts", "value")


# ---------------------------------------------------------------------------
# Wave 9: skew diagnostics, dyadic winsorization, whole-bit TF-IDF keywords,
# k-core peeling.
# ---------------------------------------------------------------------------


@register(
    "skew_report_lineitem",
    """
    WITH c AS (
      SELECT CAST(l_suppkey AS VARCHAR) AS key, count(*) AS cnt
      FROM lineitem GROUP BY 1
    ),
    t AS (SELECT sum(cnt) AS n, count(*) AS k FROM c),
    top AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key LIMIT 10),
    r AS (
      SELECT row_number() OVER (ORDER BY cnt DESC, key) AS rank, key, cnt,
             sum(cnt) OVER (ORDER BY cnt DESC, key
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM top
    )
    SELECT rank, key, cnt,
           round(CAST(cnt AS DOUBLE) * 100.0 / CAST(n AS DOUBLE), 4)
             AS share_pct,
           round(CAST(cum AS DOUBLE) * 100.0 / CAST(n AS DOUBLE), 4)
             AS cum_share_pct,
           round(CAST(cnt AS DOUBLE) / (CAST(n AS DOUBLE) / CAST(k AS DOUBLE)),
                 4) AS skew_ratio
    FROM r CROSS JOIN t
    """,
)
def skew_report_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic on lineitem.l_suppkey: top-10 keys with
    share, cumulative share, and skew ratio vs the mean key — the
    decision input for salting / AQE skew thresholds. The rank window
    runs on the top-10 rows only (limit before window)."""
    from .operators.profile import skew_report

    li = _t(spark, sf_dir, "lineitem")
    return skew_report(li, "l_suppkey", top_k=10)


@register(
    "winsorize_lineitem",
    """
    WITH g AS (
      SELECT l_orderkey, l_linenumber,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS v
      FROM lineitem
    ),
    b AS (SELECT quantile_cont(v, [0.0078125, 0.9921875]) AS q FROM g)
    SELECT l_orderkey, l_linenumber,
           round(least(greatest(CAST(v AS DOUBLE), q[1]), q[2]), 4) AS clipped
    FROM g, b
    """,
)
def winsorize_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize price cents at the dyadic 1/128 and 127/128 quantiles:
    interpolated boundaries are exact in double on the integer grid
    (every term a multiple of 2^-7 < 2^53), so all 60k clipped values
    hash-check bit-for-bit. Map-side clip; the only wide op is the
    percentile agg."""
    from .functions.feature import winsorize

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        grid("l_extendedprice", CENTS).alias("v"),
    )
    out = winsorize(li, "v", 1, 127)
    return out.select(
        "l_orderkey", "l_linenumber", F.round("clipped", 4).alias("clipped")
    )


@register(
    "keywords_docs",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS w FROM documents),
    toks AS (SELECT doc_id, u.t AS tok FROM t, unnest(w) u(t)),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfs AS (SELECT tok, count(*) AS df FROM
            (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    wt AS (
      SELECT doc_id, tok AS token,
             CAST(tf * (1 + (length(bin(n.n)) - 1) - (length(bin(df)) - 1))
                  AS BIGINT) AS weight
      FROM tf JOIN dfs USING (tok) CROSS JOIN n
    )
    SELECT doc_id, rank, token, weight FROM (
      SELECT doc_id, token, weight,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY weight DESC, token) AS rank
      FROM wt
    ) WHERE rank <= 3
    """,
)
def keywords_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 tokens by whole-bit TF-IDF
    (exact binary-digit-count idf, deterministic tie-breaks) — the full
    keyword table hash-checks, no float log anywhere."""
    from .operators.text import top_keywords

    docs = _t(spark, sf_dir, "documents")
    return top_keywords(docs, "doc_id", "text", k=3)


def _kcore_oracle(k: int = 3, rounds: int = 3) -> str:
    """Unrolled k-core peeling rounds: per round, keep nodes with degree
    >= k and the edges between them — identical to the operator's fixed
    rounds, so surviving (id, degree) pairs are hash-checked."""
    steps = []
    for r in range(1, rounds + 1):
        steps.append(
            f""",
    k{r} AS (SELECT a AS n FROM e{r - 1} GROUP BY a HAVING count(*) >= {k}),
    e{r} AS (SELECT e.a, e.b FROM e{r - 1} e
             JOIN k{r} x ON e.a = x.n JOIN k{r} y ON e.b = y.n)"""
        )
    return f"""
    WITH pp AS (
      SELECT a.l_orderkey AS ok, a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    ebase AS (SELECT pa, pb FROM pp GROUP BY pa, pb
              HAVING count(DISTINCT ok) >= 2),
    e0 AS (SELECT pa AS a, pb AS b FROM ebase
           UNION SELECT pb, pa FROM ebase)
    {"".join(steps)}
    SELECT a AS id, count(*) AS degree FROM e{rounds} GROUP BY a
    """


@register("kcore_parts", _kcore_oracle())
def kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the part co-purchase graph (edges = part pairs sharing
    >= 2 orders, the LPA/triangle graph) after 3 deterministic peeling
    rounds — community-core extraction; the oracle unrolls identical
    rounds so the surviving (id, degree) table is hash-checked."""
    from .operators.graph import kcore

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_orderkey").alias("ok"),
        F.col("a.l_partkey").alias("pa"),
        F.col("b.l_partkey").alias("pb"),
    )
    edges = (
        pairs.groupBy("pa", "pb")
        .agg(F.count_distinct("ok").alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("pa", "pb")
    )
    return kcore(edges, k=3, rounds=3, src="pa", dst="pb")


# ---------------------------------------------------------------------------
# Wave 10: KMV set-overlap sketch, k-anonymity release, recommendation
# coverage/novelty.
# ---------------------------------------------------------------------------


@register(
    "kmv_overlap_docs",
    f"""
    WITH t AS (SELECT doc_id, source, {_TOKS_SQL} AS w FROM documents),
    toksa AS (
      -- TRY_CAST: a malformed source tag yields NULL (row in neither
      -- half) instead of aborting the scan (engine side matches)
      SELECT DISTINCT u.t AS tok FROM t, unnest(w) u(t)
      WHERE TRY_CAST(substr(source, 4) AS INT) < 10
    ),
    toksb AS (
      SELECT DISTINCT u.t AS tok FROM t, unnest(w) u(t)
      WHERE TRY_CAST(substr(source, 4) AS INT) >= 10
    ),
    ha AS (SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
           FROM toksa ORDER BY 1 LIMIT 256),
    hb AS (SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
           FROM toksb ORDER BY 1 LIMIT 256),
    uk AS (SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb)
           ORDER BY h LIMIT 256),
    shared AS (
      SELECT h FROM uk
      WHERE h IN (SELECT h FROM ha) AND h IN (SELECT h FROM hb)
    ),
    nk AS (SELECT count(*) AS k_used FROM uk),
    ns AS (SELECT count(*) AS n_shared FROM shared),
    tj AS (
      SELECT
        (SELECT count(*) FROM (SELECT tok FROM toksa INTERSECT SELECT tok FROM toksb))
          AS n_inter,
        (SELECT count(*) FROM (SELECT tok FROM toksa UNION SELECT tok FROM toksb))
          AS n_union
    )
    SELECT k_used, n_shared,
           round(CAST(n_shared AS DOUBLE) / CAST(k_used AS DOUBLE), 6)
             AS est_jaccard,
           round(CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE), 6)
             AS true_jaccard
    FROM nk CROSS JOIN ns CROSS JOIN tj
    """,
)
def kmv_overlap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap estimation WITHOUT joining full token sets: KMV
    (bottom-256 md5) sketches of the two source halves' vocabularies,
    Jaccard from shared members of the union's bottom-k (Beyer et al.
    2007) — deterministic hashes, so the sketch CONTENT is oracled, with
    the exact Jaccard alongside for calibration."""
    from .operators.sketch import kmv_build, kmv_jaccard
    from .operators.text import tokens as _tok

    docs = _t(spark, sf_dir, "documents")
    # try_cast parity with the oracle's TRY_CAST: a malformed source
    # tag drops the row from both halves instead of ANSI-aborting
    src_num = F.substring("source", 4, 10).try_cast("int")
    toks = docs.select(
        src_num.alias("_s"), F.explode(_tok(F.col("text"))).alias("tok")
    )
    ta = toks.filter(F.col("_s") < 10).select("tok").distinct()
    tb = toks.filter(F.col("_s") >= 10).select("tok").distinct()
    ka, kb = kmv_build(ta, "tok", 256), kmv_build(tb, "tok", 256)
    est = kmv_jaccard(ka, kb, 256)
    inter = ta.intersect(tb).agg(F.count(F.lit(1)).alias("n_inter"))
    uni = ta.union(tb).distinct().agg(F.count(F.lit(1)).alias("n_union"))
    truth = inter.crossJoin(uni).select(
        F.round(
            F.col("n_inter").cast("double") / F.col("n_union").cast("double"), 6
        ).alias("true_jaccard")
    )
    return est.crossJoin(truth)


@register(
    "k_anonymize_customers",
    """
    SELECT CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
           c_mktsegment, count(*) AS n_group
    FROM customer
    GROUP BY 1, 2
    HAVING count(*) >= 5
    """,
)
def k_anonymize_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release of customers generalized to (1000-unit
    balance band, segment), suppressing groups under k=5 — every
    released row represents >= 5 individuals by construction
    (complements the k_anonymity_orders risk audit). One count agg
    bounded by generalized groups."""
    from .operators.quality import k_anonymize

    c = _t(spark, sf_dir, "customer")
    return k_anonymize(
        c,
        {
            "bal_band": F.floor(F.col("c_acctbal") / 1000.0).cast("long"),
            "c_mktsegment": F.col("c_mktsegment"),
        },
        k=5,
    )


@register(
    "coverage_novelty_parts",
    """
    WITH ui0 AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    ok AS (SELECT u FROM ui0 GROUP BY u HAVING count(*) <= 50),
    ui AS (SELECT ui0.u, ui0.i FROM ui0 JOIN ok USING (u)),
    deg AS (SELECT i, count(*) AS n FROM ui GROUP BY i),
    co AS (
      SELECT a.i AS ia, b.i AS ib, count(*) AS n_common
      FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
      GROUP BY a.i, b.i
    ),
    sim AS (
      SELECT ia, ib, n_common,
             round(n_common / sqrt(da.n::DOUBLE * db.n), 6) AS sim
      FROM co JOIN deg da ON da.i = co.ia JOIN deg db ON db.i = co.ib
    ),
    sym AS (
      SELECT ia AS item, ib AS neighbor, n_common, sim FROM sim
      UNION ALL
      SELECT ib, ia, n_common, sim FROM sim
    ),
    recs AS (
      SELECT item, neighbor FROM (
        SELECT item, neighbor,
               row_number() OVER (PARTITION BY item
                                  ORDER BY sim DESC, neighbor) AS rnk
        FROM sym
      ) WHERE rnk <= 2
    ),
    tot AS (SELECT count(*) AS n_inter FROM ui),
    cat AS (SELECT count(*) AS catalog_size FROM part),
    nov AS (
      SELECT count(*) AS n_recs,
             count(DISTINCT neighbor) AS n_rec_items,
             sum((length(bin(tot.n_inter)) - 1)
                 - (length(bin(deg.n)) - 1)) AS bits_sum
      FROM recs JOIN deg ON deg.i = recs.neighbor CROSS JOIN tot
    )
    SELECT n_recs, n_rec_items, catalog_size,
           round(CAST(n_rec_items AS DOUBLE) * 100.0
                 / CAST(catalog_size AS DOUBLE), 4) AS coverage_pct,
           round(CAST(bits_sum AS DOUBLE) / CAST(n_recs AS DOUBLE), 6)
             AS avg_novelty_bits
    FROM nov CROSS JOIN cat
    """,
)
def coverage_novelty_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommendation-quality counterpart to accuracy metrics: catalog
    coverage and whole-bit novelty (-log2 popularity, exact binary digit
    counts) of the top-2 item-item CF recommendations — the diversity
    arm of the metrics family. Consumes the SHARED materialized
    similarity table (see _i2i_state_cached): top-2 is a filter on the
    persisted top-5 ranking (row_number order is identical), so this
    readout costs only its aggregations, not a second co-occurrence
    join. The oracle stays self-contained and recomputes from scratch."""
    ui, sim = _i2i_state_cached(spark, sf_dir)
    recs = sim.filter(F.col("rnk") <= 2).select("item", "neighbor")
    deg = ui.groupBy(F.col("i")).agg(F.count(F.lit(1)).alias("n"))
    tot = ui.agg(F.count(F.lit(1)).alias("n_inter"))
    cat = _t(spark, sf_dir, "part").agg(F.count(F.lit(1)).alias("catalog_size"))
    bits = lambda c: F.length(F.bin(c)) - 1
    nov = (
        recs.join(deg, recs.neighbor == deg.i)
        .crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).alias("n_recs"),
            F.count_distinct("neighbor").alias("n_rec_items"),
            F.sum(bits(F.col("n_inter")) - bits(F.col("n"))).alias("bits_sum"),
        )
    )
    return nov.crossJoin(F.broadcast(cat)).select(
        "n_recs",
        "n_rec_items",
        "catalog_size",
        F.round(
            F.col("n_rec_items").cast("double")
            * 100.0
            / F.col("catalog_size").cast("double"),
            4,
        ).alias("coverage_pct"),
        F.round(
            F.when(
                F.col("n_recs") > 0,
                F.col("bits_sum").cast("double") / F.col("n_recs").cast("double"),
            ),
            6,
        ).alias("avg_novelty_bits"),
    )


# ---------------------------------------------------------------------------
# Wave 11: CUSUM change-point, Kaplan-Meier survival, Benford audit, PSI
# drift.
# ---------------------------------------------------------------------------


@register(
    "changepoint_events",
    """
    WITH daily AS (
      SELECT event_type AS g, CAST(ts AS DATE) AS d,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    stats AS (SELECT g, sum(cents) AS tot, count(*) AS n FROM daily GROUP BY g),
    dev AS (
      SELECT daily.g, d, n,
             sum(CAST(cents AS DOUBLE) - CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))
               OVER (PARTITION BY daily.g ORDER BY d
                     ROWS UNBOUNDED PRECEDING) AS cusum
      FROM daily JOIN stats ON stats.g = daily.g
    )
    SELECT g AS event_type, d AS change_day,
           round(cusum / 100.0, 4) AS cusum_at_change, n AS n_days
    FROM (SELECT *, row_number() OVER (PARTITION BY g
                                       ORDER BY abs(cusum) DESC, d) AS r
          FROM dev)
    WHERE r = 1
    """,
)
def changepoint_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point per event type over daily value totals: the
    day where the cumulative deviation from the mean peaks. Exact cents,
    identical double mean, running sum in identical day order — every
    CUSUM value bit-matches."""
    from .operators.timeseries import cusum_changepoint

    ev = _t(spark, sf_dir, "events")
    return cusum_changepoint(ev, "event_type", "ts", "value")


@register(
    "kaplan_meier_users",
    """
    WITH pu AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS fd, max(CAST(ts AS DATE)) AS ld
      FROM events GROUP BY user_id
    ),
    g AS (SELECT max(CAST(ts AS DATE)) AS gm FROM events),
    subj AS (
      SELECT date_diff('day', fd, ld) AS t,
             CASE WHEN ld < gm - INTERVAL 7 DAY THEN 1 ELSE 0 END AS e
      FROM pu CROSS JOIN g
    ),
    counts AS (
      SELECT t, sum(CASE WHEN e = 1 THEN 1 ELSE 0 END) AS n_events,
             sum(CASE WHEN e = 1 THEN 0 ELSE 1 END) AS n_censored
      FROM subj GROUP BY t
    ),
    risk AS (
      SELECT t, n_events, n_censored,
             sum(n_events + n_censored)
               OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n_risk
      FROM counts
    ),
    f AS (
      SELECT t, n_risk, n_events, n_censored,
             1.0 - CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE) AS fac
      FROM risk
    )
    SELECT t, CAST(n_risk AS BIGINT) AS n_risk,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_censored AS BIGINT) AS n_censored,
           round((SELECT list_reduce([CAST(1.0 AS DOUBLE)]
                                     || list(fac ORDER BY f2.t),
                                     (a, b) -> a * b)
                  FROM f f2 WHERE f2.t <= f.t), 8) AS survival
    FROM f
    """,
)
def kaplan_meier_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier retention curve over user lifetimes (duration =
    first-to-last active day; censored if still active in the final
    week): sequential left-to-right product of identical factors in both
    engines — every survival value bit-matches (the ewma contract
    applied to survival analysis)."""
    from .operators.analytics import kaplan_meier

    ev = _t(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("fd"),
        F.max(F.col("ts").cast("date")).alias("ld"),
    )
    g = ev.agg(F.max(F.col("ts").cast("date")).alias("gm"))
    subj = pu.crossJoin(F.broadcast(g)).select(
        F.datediff("ld", "fd").alias("t"),
        F.when(F.col("ld") < F.date_sub(F.col("gm"), 7), 1)
        .otherwise(0)
        .alias("e"),
    )
    return kaplan_meier(subj, "t", "e")


@register(
    "benford_orders",
    """
    WITH obs AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS digit,
             count(*) AS n
      FROM orders WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
      GROUP BY 1
    ),
    grid AS (SELECT unnest(range(1, 10)) AS digit),
    expd AS (SELECT digit, e FROM (VALUES (1, CAST(0.30102999566398114 AS DOUBLE)), (2, CAST(0.17609125905568124 AS DOUBLE)), (3, CAST(0.12493873660829993 AS DOUBLE)), (4, CAST(0.09691001300805642 AS DOUBLE)), (5, CAST(0.07918124604762482 AS DOUBLE)), (6, CAST(0.06694678963061322 AS DOUBLE)), (7, CAST(0.05799194697768673 AS DOUBLE)), (8, CAST(0.05115252244738129 AS DOUBLE)), (9, CAST(0.04575749056067514 AS DOUBLE))) AS v(digit, e)),
    t AS (SELECT sum(n) AS tot FROM obs)
    SELECT g.digit, coalesce(o.n, 0) AS n,
           round(CAST(coalesce(o.n, 0) AS DOUBLE) * 100.0
                 / CAST(tot AS DOUBLE), 6) AS share_pct,
           round(e * 100.0, 6) AS expected_pct,
           round(CAST(coalesce(o.n, 0) AS DOUBLE) * 100.0
                 / CAST(tot AS DOUBLE) - e * 100.0, 6) AS dev_pct
    FROM grid g JOIN expd USING (digit)
    LEFT JOIN obs o ON o.digit = g.digit CROSS JOIN t
""",
)
def benford_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals: observed vs expected
    digit shares (expected probabilities are compile-time literals — no
    transcendental runs distributed), densified to all nine digits."""
    from .operators.quality import benford_audit

    o = _t(spark, sf_dir, "orders")
    return benford_audit(o, "o_totalprice")


@register(
    "psi_orders",
    """
    WITH rq AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
                FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
    cq AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
    b AS (SELECT quantile_cont(v, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75,
                                   0.875]) AS q FROM rq),
    rb AS (SELECT 1 + (CASE WHEN v > q[1] THEN 1 ELSE 0 END)
               + (CASE WHEN v > q[2] THEN 1 ELSE 0 END)
               + (CASE WHEN v > q[3] THEN 1 ELSE 0 END)
               + (CASE WHEN v > q[4] THEN 1 ELSE 0 END)
               + (CASE WHEN v > q[5] THEN 1 ELSE 0 END)
               + (CASE WHEN v > q[6] THEN 1 ELSE 0 END)
               + (CASE WHEN v > q[7] THEN 1 ELSE 0 END) AS bin FROM rq, b),
    cb AS (SELECT 1 + (CASE WHEN v > q[1] THEN 1 ELSE 0 END)
               + (CASE WHEN v > q[2] THEN 1 ELSE 0 END)
               + (CASE WHEN v > q[3] THEN 1 ELSE 0 END)
               + (CASE WHEN v > q[4] THEN 1 ELSE 0 END)
               + (CASE WHEN v > q[5] THEN 1 ELSE 0 END)
               + (CASE WHEN v > q[6] THEN 1 ELSE 0 END)
               + (CASE WHEN v > q[7] THEN 1 ELSE 0 END) AS bin FROM cq, b),
    rc AS (SELECT bin, count(*) AS ref_n FROM rb GROUP BY 1),
    cc AS (SELECT bin, count(*) AS cur_n FROM cb GROUP BY 1),
    grid AS (SELECT unnest(range(1, 9)) AS bin),
    cells AS (
      SELECT g.bin, coalesce(ref_n, 0) AS ref_n, coalesce(cur_n, 0) AS cur_n
      FROM grid g LEFT JOIN rc ON rc.bin = g.bin LEFT JOIN cc ON cc.bin = g.bin
    ),
    t AS (SELECT sum(ref_n) AS rt, sum(cur_n) AS ct FROM cells)
    SELECT bin, ref_n, cur_n,
           round(CAST(ref_n AS DOUBLE) / CAST(rt AS DOUBLE) * 100.0, 6)
             AS ref_pct,
           round(CAST(cur_n AS DOUBLE) / CAST(ct AS DOUBLE) * 100.0, 6)
             AS cur_pct,
           CASE WHEN ref_n > 0 AND cur_n > 0 THEN
             CAST((length(bin(ref_n)) - 1) + (length(bin(ct)) - 1)
                  - (length(bin(cur_n)) - 1) - (length(bin(rt)) - 1) AS BIGINT)
           END AS woe_bits,
           round(CASE WHEN ref_n > 0 AND cur_n > 0 THEN
             CAST(CAST(round((CAST(ref_n AS DOUBLE) / CAST(rt AS DOUBLE)
                   - CAST(cur_n AS DOUBLE) / CAST(ct AS DOUBLE))
                  * CAST((length(bin(ref_n)) - 1) + (length(bin(ct)) - 1)
                         - (length(bin(cur_n)) - 1) - (length(bin(rt)) - 1)
                         AS DOUBLE) * 1000000) AS BIGINT) AS DOUBLE) / 1000000.0
             ELSE 0.0 END, 6) AS psi_term
    FROM cells CROSS JOIN t
""",
)
def psi_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift of order value, pre-1998 as the
    reference vs 1998+ as current: reference equi-depth bins (dyadic,
    exact on the cents grid), whole-bit log-ratios, micro-quantized PSI
    terms — training-vs-serving drift monitoring, engine-exact."""
    from .operators.analytics import psi_bits

    o = _t(spark, sf_dir, "orders").select(
        "o_orderdate",
        grid("o_totalprice", CENTS).alias("v"),
    )
    split = F.lit("1998-01-01 00:00:00").cast("timestamp")
    ref = o.filter(F.col("o_orderdate") < split).select("v")
    cur = o.filter(F.col("o_orderdate") >= split).select("v")
    return psi_bits(ref, cur, "v", n_bins=8)


# ---------------------------------------------------------------------------
# Wave 12: CUPED experiment adjustment, forecast backtesting, l-diversity.
# ---------------------------------------------------------------------------


@register(
    "cuped_events",
    """
    WITH per_user AS (
      SELECT user_id,
             sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS pre,
             sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS post
      FROM events GROUP BY user_id
    ),
    subj AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             pre, post
      FROM per_user
    ),
    s AS (
      SELECT count(*) AS n,
             sum(CAST(pre AS DECIMAL(38,0))) AS sx,
             sum(CAST(post AS DECIMAL(38,0))) AS sy,
             sum(CAST(pre * post AS DECIMAL(38,0))) AS sxy,
             sum(CAST(pre * pre AS DECIMAL(38,0))) AS sxx
      FROM subj
    ),
    th AS (
      SELECT CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
             THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             ELSE 0.0 END AS theta,
             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
      FROM s
    ),
    adj AS (
      SELECT variant, post AS y,
             CAST(round((CAST(post AS DOUBLE)
                         - theta * (CAST(pre AS DOUBLE) - xbar)) * 1000000)
                  AS BIGINT) AS a
      FROM subj CROSS JOIN th
    ),
    per AS (
      SELECT variant, count(*) AS n,
             sum(CAST(y AS DECIMAL(38,0))) AS vy,
             sum(CAST(y * y AS DECIMAL(38,0))) AS vyy,
             sum(CAST(a AS DECIMAL(38,0))) AS va,
             sum(CAST(a AS DECIMAL(38,0)) * CAST(a AS DECIMAL(38,0))) AS vaa
      FROM adj GROUP BY variant
    )
    SELECT variant, n,
           round(CAST(vy AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS mean_post,
           round(CAST(va AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 / 100.0, 6)
             AS mean_adj,
           round((CAST(vyy AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(vy AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(vy AS DOUBLE) / CAST(n AS DOUBLE))) / 10000.0, 6)
             AS var_post,
           round((CAST(vaa AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(va AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(va AS DOUBLE) / CAST(n AS DOUBLE))) / 1e12 / 10000.0,
                 6) AS var_adj,
           CASE WHEN (CAST(vyy AS DOUBLE) / CAST(n AS DOUBLE)
                      - (CAST(vy AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(vy AS DOUBLE) / CAST(n AS DOUBLE))) = 0
                THEN NULL
                ELSE
           round((1.0 - ((CAST(vaa AS DOUBLE) / CAST(n AS DOUBLE)
                          - (CAST(va AS DOUBLE) / CAST(n AS DOUBLE))
                            * (CAST(va AS DOUBLE) / CAST(n AS DOUBLE))) / 1e12)
                        / (CAST(vyy AS DOUBLE) / CAST(n AS DOUBLE)
                           - (CAST(vy AS DOUBLE) / CAST(n AS DOUBLE))
                             * (CAST(vy AS DOUBLE) / CAST(n AS DOUBLE))))
                 * 100.0, 6) END AS var_reduction_pct
    FROM per
    """,
)
def cuped_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout: per-user pre-period value
    (Jan 1-15) as the covariate for the post-period metric (Jan 16-30),
    pooled theta from exact integer sufficient statistics, adjusted
    values micro-quantized before per-variant aggregation — the
    experimentation-stack step after ab_ztest, engine-exact."""
    from .operators.analytics import cuped_adjust

    ev = _t(spark, sf_dir, "events")
    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    cents = grid("value", CENTS)
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, cents).otherwise(0)).alias("pre"),
        F.sum(F.when(F.col("ts") >= split, cents).otherwise(0)).alias("post"),
    )
    subj = per_user.select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("variant"),
        "pre",
        "post",
    )
    return cuped_adjust(subj, "variant", "pre", "post")


@register(
    "forecast_backtest_events",
    """
    WITH daily AS (
      SELECT event_type AS g, CAST(ts AS DATE) AS d,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT g, d, cents,
             lag(cents, 1) OVER (PARTITION BY g ORDER BY d) AS naive,
             lag(cents, 7) OVER (PARTITION BY g ORDER BY d) AS snaive
      FROM daily
    ),
    scored AS (
      SELECT g, 'naive' AS model, cents, naive AS f FROM lagged
      WHERE naive IS NOT NULL
      UNION ALL
      SELECT g, 'seasonal_naive', cents, snaive FROM lagged
      WHERE snaive IS NOT NULL
    )
    SELECT g AS event_type, model, count(*) AS n_scored,
           round(CAST(sum(abs(cents - f)) AS DOUBLE) / count(*) / 100.0, 4)
             AS mae,
           round(CAST(sum(CAST(round(CASE
                 WHEN abs(CAST(cents AS DOUBLE)) + abs(CAST(f AS DOUBLE)) = 0
                 THEN 0.0
                 ELSE abs(CAST(cents AS DOUBLE) - CAST(f AS DOUBLE))
                 / ((abs(CAST(cents AS DOUBLE)) + abs(CAST(f AS DOUBLE))) / 2.0)
                 * 100.0 END * 1000000) AS BIGINT)) AS DOUBLE)
                 / count(*) / 1000000.0, 4) AS smape_pct
    FROM scored GROUP BY g, model
    """,
)
def forecast_backtest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive and seasonal-naive forecasting baselines backtested on
    daily event value per type: MAE in exact cents, SMAPE micro-
    quantized — the benchmark any forecaster must beat, engine-exact."""
    from .operators.timeseries import forecast_backtest

    ev = _t(spark, sf_dir, "events")
    return forecast_backtest(ev, "event_type", "ts", "value", season=7)


@register(
    "l_diversity_orders",
    """
    SELECT o_orderpriority,
           CAST(floor(o_totalprice / 100000.0) AS BIGINT) AS price_band,
           count(*) AS n,
           count(DISTINCT o_orderstatus) AS l,
           count(DISTINCT o_orderstatus) >= 2 AS diverse
    FROM orders
    GROUP BY 1, 2
    """,
)
def l_diversity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (companion to the k-anonymity pair): for each
    quasi-identifier group (priority x 100k price band), the count of
    DISTINCT sensitive values (order status) — a group that is
    k-anonymous but 1-diverse still leaks the sensitive attribute. One
    partial-agg bounded by QI groups."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") / 100000.0).cast("long").alias("price_band"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("o_orderstatus").alias("l"),
        (F.count_distinct("o_orderstatus") >= 2).alias("diverse"),
    )


# ---------------------------------------------------------------------------
# Wave 13: golden-record entity resolution (fuzzy match -> components ->
# survivorship rules).
# ---------------------------------------------------------------------------


@register(
    "golden_record_customers",
    """
    WITH RECURSIVE corr AS (
      SELECT c_custkey + 1000000 AS rid,
             substr(c_name, 1, (c_custkey % 8)::INT)
               || substr(c_name, (c_custkey % 8)::INT + 2) AS name,
             'DUP' AS seg,
             CAST(floor(c_acctbal) AS BIGINT) * 100 AS bal
      FROM customer
    ),
    recs AS (
      SELECT c_custkey AS rid, c_name AS name, c_mktsegment AS seg,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal
      FROM customer
      UNION ALL SELECT rid, name, seg, bal FROM corr
    ),
    e0 AS (
      SELECT c.c_custkey AS a, corr.rid AS b
      FROM customer c, corr
      WHERE levenshtein(c.c_name, corr.name) <= 1
    ),
    edges AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
    reach(src, dst) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src),
    cl AS (
      SELECT recs.*, coalesce(comp.component, recs.rid) AS cluster
      FROM recs LEFT JOIN comp ON comp.id = recs.rid
    ),
    base AS (
      SELECT cluster, count(*) AS n_members, max(bal) AS mb
      FROM cl GROUP BY cluster
    ),
    nm AS (
      SELECT cluster, name FROM (
        SELECT cluster, name,
               row_number() OVER (PARTITION BY cluster
                                  ORDER BY length(name) DESC, name) AS rn
        FROM cl) WHERE rn = 1
    ),
    sg AS (
      SELECT cluster, seg FROM (
        SELECT cluster, seg,
               row_number() OVER (PARTITION BY cluster
                                  ORDER BY count(*) DESC, seg) AS rn
        FROM cl GROUP BY cluster, seg) WHERE rn = 1
    )
    SELECT b.cluster, n_members, nm.name, sg.seg AS segment,
           CAST(mb AS DOUBLE) / 100.0 AS max_bal
    FROM base b JOIN nm USING (cluster) JOIN sg USING (cluster)
    """,
)
def golden_record_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end master-data entity resolution: a second 'source' of
    deterministically corrupted customer records (one char deleted from
    the constant name prefix — the digit suffix stays intact, so a
    corrupt record matches ONLY its own original and clusters don't
    chain) is fuzzy-matched (symmetric-delete blocking, exact recall)
    against the originals,
    match edges are closed into clusters (connected components), and
    per-cluster survivorship rules produce the golden record — longest
    name (ties lexicographic), plurality segment (ties lexicographic),
    max balance. The oracle brute-forces the full distance matrix and a
    recursive-CTE closure, so clusters AND survivorship are hash-proven.
    Composition of `joins.fuzzy_join` + `graph.connected_components`
    — the candidate pairs here form 2-node components, so its one-pass
    min-neighbor labeling (with its executable all-edges-consistent
    check, falling back to iteration if chains appear) replaces the
    fixed multi-round propagation cost."""
    from .operators.graph import connected_components
    from .operators.joins import fuzzy_join

    c = _t(spark, sf_dir, "customer")
    a = c.select(
        F.col("c_custkey").alias("rid_a"),
        F.col("c_name").alias("name_a"),
    )
    corrupt = F.expr(
        "concat(substring(c_name, 1, cast(c_custkey % 8 as int)),"
        " substring(c_name, cast(c_custkey % 8 as int) + 2))"
    )
    b = c.select(
        (F.col("c_custkey") + 1000000).alias("rid_b"),
        corrupt.alias("name_b"),
    )
    edges = fuzzy_join(
        a, b, "name_a", "name_b", max_distance=1,
        left_id="rid_a", right_id="rid_b",
    ).select("rid_a", "rid_b")
    comp = connected_components(edges, "rid_a", "rid_b")

    recs = c.select(
        F.col("c_custkey").alias("rid"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        grid("c_acctbal", CENTS).alias("bal"),
    ).unionByName(
        c.select(
            (F.col("c_custkey") + 1000000).alias("rid"),
            corrupt.alias("name"),
            F.lit("DUP").alias("seg"),
            (F.floor("c_acctbal").cast("long") * 100).alias("bal"),
        )
    )
    cl = recs.join(comp, recs.rid == comp.id, "left").select(
        recs.rid,
        "name",
        "seg",
        "bal",
        F.coalesce(F.col("component"), recs.rid).alias("cluster"),
    )
    base = cl.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("bal").alias("_mb"),
        F.min(
            F.struct((-F.length("name")).alias("nl"), F.col("name").alias("nm"))
        ).alias("_w"),
    )
    sg = (
        cl.groupBy("cluster", "seg")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("cluster").orderBy(F.desc("_c"), "seg")
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("cluster", F.col("seg").alias("segment"))
    )
    return base.join(sg, "cluster").select(
        "cluster",
        "n_members",
        F.col("_w.nm").alias("name"),
        "segment",
        ungrid(F.col("_mb").cast("double"), CENTS).alias("max_bal"),
    )


# ---------------------------------------------------------------------------
# Wave 14: embedding mislabel screening, DP geometric-mechanism counts.
# ---------------------------------------------------------------------------


@register(
    "embedding_outliers_labels",
    """
    WITH e AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(round(unnest(embedding)::DOUBLE * 1000000) AS BIGINT) AS xq
      FROM embeddings
    ),
    per AS (
      SELECT label, pos, sum(xq) AS s, count(*) AS n
      FROM e GROUP BY label, pos
    ),
    cent AS (
      SELECT label, pos, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS c FROM per
    ),
    terms AS (
      SELECT e.vec_id, e.label,
             CAST(round((CAST(xq AS DOUBLE) - c) * (CAST(xq AS DOUBLE) - c))
                  AS BIGINT) AS t
      FROM e JOIN cent ON cent.label = e.label AND cent.pos = e.pos
    ),
    d2 AS (SELECT vec_id, label, sum(t) AS s2 FROM terms GROUP BY 1, 2)
    SELECT label, rank, vec_id,
           round(sqrt(CAST(s2 AS DOUBLE)) / 1000000.0, 6) AS dist
    FROM (
      SELECT label, vec_id, s2,
             row_number() OVER (PARTITION BY label
                                ORDER BY s2 DESC, vec_id) AS rank
      FROM d2
    ) WHERE rank <= 5
    """,
)
def embedding_outliers_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabeled-sample screening: the 5 vectors FARTHEST from their
    own label's centroid, per label — the curation question 'which
    examples probably carry the wrong label'. Centroids from exact
    integer sums; per-dimension squared deviations quantized to integer
    units before the per-vector sum, so distances and ranks are engine-
    exact. Shuffle volume: labels x dim cells for centroids (broadcast
    back), one (vec, label) partial agg for distances."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos", "x"),
    ).withColumn("xq", grid("x", MICRO))
    per = e.groupBy("label", "pos").agg(
        F.sum("xq").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cent = per.select(
        "label",
        "pos",
        (F.col("s").cast("double") / F.col("n").cast("double")).alias("c"),
    )
    diff = F.col("xq").cast("double") - F.col("c")
    terms = e.join(F.broadcast(cent), ["label", "pos"]).select(
        "vec_id", "label", F.round(diff * diff).cast("long").alias("t")
    )
    d2 = terms.groupBy("vec_id", "label").agg(F.sum("t").alias("s2"))
    w = Window.partitionBy("label").orderBy(F.desc("s2"), "vec_id")
    return (
        d2.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "label",
            "rank",
            "vec_id",
            F.round(ungrid(F.sqrt(F.col("s2").cast("double")), MICRO), 6).alias("dist"),
        )
    )


@register(
    "dp_counts_orders",
    """
    WITH c AS (
      SELECT o_orderpriority, count(*) AS n_true FROM orders GROUP BY 1
    ),
    noise AS (
      SELECT o_orderpriority, n_true,
             ('0x' || substr(md5(o_orderpriority || ':42'), 1, 8))::BIGINT AS u
      FROM c
    )
    SELECT o_orderpriority, n_true,
           (CASE WHEN u % 2 = 0 THEN 1 ELSE -1 END)
             * (length(regexp_extract(bin(u), '^1*', 0)) - 1) AS noise,
           n_true + (CASE WHEN u % 2 = 0 THEN 1 ELSE -1 END)
             * (length(regexp_extract(bin(u), '^1*', 0)) - 1) AS n_noisy
    FROM noise
    """,
)
def dp_counts_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP-SHAPED count release demonstrating geometric-mechanism
    plumbing — NOT a private release. Two caveats are load-bearing:
    (1) the noise is derived DETERMINISTICALLY from the released group
    key (md5), so this specific release provides ZERO privacy and no
    epsilon applies; production must draw noise from a run-scoped
    entropy source OUTSIDE the oracle path. (2) the integer pmf used
    here (P(0)=1/2, P(+/-k)=2^-(k+2) from leading-ones counts) is a
    dyadic APPROXIMATION of — not identical to — the two-sided
    geometric of Ghosh et al. 2009. What this query does prove: the
    sensitivity-1 count pipeline, integer noise addition, and engine
    parity of the arithmetic, all hash-checked."""
    o = _t(spark, sf_dir, "orders")
    c = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_true"))
    u = F.conv(
        F.substring(F.md5(F.concat(F.col("o_orderpriority"), F.lit(":42"))), 1, 8),
        16,
        10,
    ).cast("long")
    k = F.length(F.regexp_extract(F.bin(u), "^1*", 0)) - 1
    sign = F.when(u % 2 == 0, 1).otherwise(-1)
    noise = (sign * k).cast("long")
    return c.select(
        "o_orderpriority",
        "n_true",
        noise.alias("noise"),
        (F.col("n_true") + noise).alias("n_noisy"),
    )


# ---------------------------------------------------------------------------
# Wave 15: maximum-inner-product search; SQL entry point.
# ---------------------------------------------------------------------------


@register(
    "mips_topk_embeddings",
    """
    WITH q AS (
      SELECT vec_id AS qid,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * 1048576.0)
                                      AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id IN (1, 2, 3)
    ),
    c AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * 1048576.0)
                                      AS BIGINT)) AS cv
      FROM embeddings
    ),
    qe AS (SELECT qid, unnest(qv) AS xq, generate_subscripts(qv, 1) AS i FROM q),
    ce AS (SELECT vec_id, unnest(cv) AS yq, generate_subscripts(cv, 1) AS i
           FROM c),
    dots AS (
      SELECT qe.qid, ce.vec_id, sum(xq * yq) AS dot
      FROM qe JOIN ce ON ce.i = qe.i
      GROUP BY qe.qid, ce.vec_id
    )
    SELECT qid, rank, vec_id,
           round(CAST(dot AS DOUBLE) / 1099511627776.0, 6) AS score
    FROM (
      SELECT qid, vec_id, dot,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dot DESC, vec_id) AS rank
      FROM dots WHERE vec_id <> qid
    ) WHERE rank <= 5
    """,
)
def mips_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search (the retrieval scoring used by
    two-tower recommenders, where vector NORM carries popularity and
    cosine is the wrong metric): brute-force exact top-5 by dot product
    for three query vectors. Inner products on the 2^20 integer grid are
    exact longs — scores and ranks hash-check bit-for-bit. The corpus
    never shuffles (query side broadcast); for the sublinear path,
    augment each vector with sqrt(M^2 - |x|^2) and reuse the cosine LSH
    operators (Shrivastava & Li 2014) — the reduction, not a new index.
    """
    emb = _t(spark, sf_dir, "embeddings")
    qv = F.transform("embedding", lambda x: grid(x, DYADIC))
    q = emb.filter(F.col("vec_id").isin(1, 2, 3)).select(
        F.col("vec_id").alias("qid"), qv.alias("qv")
    )
    c = emb.select("vec_id", qv.alias("cv"))
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    dots = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", dot.alias("dot"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("dot"), "vec_id")
    return (
        dots.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "qid",
            "rank",
            "vec_id",
            F.round(F.col("dot").cast("double") / 1099511627776.0, 6).alias(
                "score"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Wave 16: stream-static enrichment, SLO percentile bands, whole-bit mutual
# information, ragged-array expression ops.
# ---------------------------------------------------------------------------


@register(
    "stream_enrich_user_tier",
    """
    WITH tiers AS (
      SELECT user_id,
             CASE WHEN sum(CAST(round(value * 100) AS BIGINT)) >= 330000
                  THEN 'high' ELSE 'standard' END AS tier
      FROM events GROUP BY user_id
    )
    SELECT t.tier, e.event_type, count(*) AS n_events,
           sum(CAST(round(e.value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM events e JOIN tiers t ON t.user_id = e.user_id
    GROUP BY t.tier, e.event_type
    """,
)
def stream_enrich_user_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join (the third join mode next to the
    batch and stream-stream joins): a static user-tier dimension (built
    batch-side) enriches the live event stream row-by-row, then a
    streaming aggregation rolls up per (tier, type). The static side is
    broadcast into every microbatch — no stream-side state. Replayed
    availableNow; the oracle is the equivalent batch join+agg."""
    from .streaming.ops import read_event_stream, run_available_now

    ev = _t(spark, sf_dir, "events")
    tiers = ev.groupBy("user_id").agg(
        F.when(
            F.sum(grid("value", CENTS)) >= 330000, "high"
        )
        .otherwise("standard")
        .alias("tier")
    )
    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    enriched = stream.join(F.broadcast(tiers), "user_id")
    agg = enriched.groupBy("tier", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        grid_sum("value", CENTS).alias("sum_value"),
    )
    return run_available_now(agg).select(
        "tier", "event_type", "n_events", "sum_value"
    )


@register(
    "slo_percentiles_events",
    """
    SELECT event_type, CAST(ts AS DATE) AS day,
           count(*) AS n,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           round(max(value), 4) AS p100
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
)
def slo_percentiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily latency-style SLO report: exact interpolated p50/p95 and
    max of event value per (type, day) — the percentile-parity pattern
    (proven by mad_outliers) applied to the ops-report shape. One
    partial+final agg per (type, day); no global sort."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.round(F.max("value"), 4).alias("p100"),
    )


@register(
    "mutual_info_orders",
    """
    WITH cells AS (
      SELECT o_orderpriority AS r, o_orderstatus AS c, count(*) AS o
      FROM orders GROUP BY 1, 2
    ),
    rt AS (SELECT r, sum(o) AS row_t FROM cells GROUP BY r),
    ct AS (SELECT c, sum(o) AS col_t FROM cells GROUP BY c),
    g AS (SELECT sum(o) AS grand FROM cells),
    terms AS (
      SELECT cells.o, g.grand,
             (length(bin(cells.o)) - 1) + (length(bin(g.grand)) - 1)
             - (length(bin(rt.row_t)) - 1) - (length(bin(ct.col_t)) - 1)
               AS pmi_bits
      FROM cells JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN g
    )
    SELECT CAST(sum(o * pmi_bits) AS BIGINT) AS mi_bits_num,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(max(grand) AS BIGINT) AS n
    FROM terms
    """,
)
def mutual_info_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between order priority and status in WHOLE
    BITS: per-cell pointwise MI from exact binary digit counts
    (bits(o) + bits(n) - bits(row) - bits(col)), weighted by exact
    counts — the feature-relevance ranking signal, same integer-exact
    log family as surprisal/WOE/PSI. One contingency agg bounded by the
    category product."""
    o = _t(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("r"), F.col("o_orderstatus").alias("c")
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = cells.groupBy("r").agg(F.sum("o").alias("row_t"))
    ct = cells.groupBy("c").agg(F.sum("o").alias("col_t"))
    g = cells.agg(F.sum("o").alias("grand"))
    bits = lambda col: F.length(F.bin(col)) - 1
    terms = (
        cells.join(rt, "r")
        .join(ct, "c")
        .crossJoin(F.broadcast(g))
        .select(
            "o",
            "grand",
            (
                bits(F.col("o"))
                + bits(F.col("grand"))
                - bits(F.col("row_t"))
                - bits(F.col("col_t"))
            ).alias("pmi_bits"),
        )
    )
    # Exact integers only: MI in bits = mi_bits_num / n, left to the
    # consumer. A rounded double here hash-flipped at a representation
    # boundary in the round-3 driver gate (CORRECTNESS_r03) — the gate
    # contract is bit-stable output, so emit the sufficient statistics.
    return terms.agg(
        F.sum(F.col("o") * F.col("pmi_bits")).cast("long").alias("mi_bits_num"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.max("grand").alias("n"),
    )


@register(
    "array_ops_embeddings",
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * 1048576.0)
                                      AS BIGINT)) AS v
      FROM embeddings
    )
    SELECT vec_id,
           round(sqrt(CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE))
                 / 1048576.0, 6) AS l2_norm,
           len(list_filter(v, x -> x > 0)) AS n_positive,
           CAST(list_indexof(v, list_max(v)) - 1 AS BIGINT) AS argmax,
           round(CAST(list_max(v) AS DOUBLE) / 1048576.0, 6) AS max_v
    FROM q
    """,
)
def array_ops_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ragged/tensor expression surface (SURVEY §2.7 B5-B8 family, in
    query form): per-row L2 norm, positive count, argmax index, and max
    over the embedding array — all higher-order JVM expressions on the
    2^20 integer grid (exact sums/comparisons; first-match argmax), no
    explode, no shuffle, no Python."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: grid(x, DYADIC))
    q = emb.select("vec_id", v.alias("v"))
    sumsq = F.aggregate(
        F.transform("v", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    mx = F.array_max("v")
    return q.select(
        "vec_id",
        F.round(ungrid(F.sqrt(sumsq.cast("double")), DYADIC), 6).alias("l2_norm"),
        F.size(F.filter("v", lambda x: x > 0)).alias("n_positive"),
        (F.array_position("v", mx) - 1).cast("long").alias("argmax"),
        F.round(ungrid(mx.cast("double"), DYADIC), 6).alias("max_v"),
    )


@register(
    "rbo_orders",
    """
    WITH a AS (
      SELECT o_custkey,
             list(o_orderkey ORDER BY o_totalprice DESC, o_orderkey) AS ra
      FROM orders GROUP BY o_custkey
    ),
    b AS (
      SELECT o_custkey,
             list(o_orderkey ORDER BY o_orderdate DESC, o_orderkey) AS rb
      FROM orders GROUP BY o_custkey
    ),
    ov AS (
      SELECT a.o_custkey,
             len(ra) AS n_orders,
             len(list_intersect(ra[1:1], rb[1:1])) AS o1,
             len(list_intersect(ra[1:2], rb[1:2])) AS o2,
             len(list_intersect(ra[1:3], rb[1:3])) AS o3,
             len(list_intersect(ra[1:4], rb[1:4])) AS o4,
             len(list_intersect(ra[1:5], rb[1:5])) AS o5
      FROM a JOIN b USING (o_custkey)
    )
    SELECT o_custkey, n_orders,
           round(CAST(o1 AS DOUBLE) * 0.5
                 + CAST(o2 AS DOUBLE) * 0.125
                 + CAST(o3 AS DOUBLE) * 0.0416666666666666644
                 + CAST(o4 AS DOUBLE) * 0.015625
                 + CAST(o5 AS DOUBLE) * 0.00625, 8) AS rbo5
    FROM ov
    """,
)
def rbo_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) at depth 5 with
    persistence p = 1/2 between each customer's price-ranked and
    recency-ranked order lists — the metric for comparing two rankings
    of the same items (e.g. exact vs LSH ANN results, yesterday's vs
    today's feed). Per-depth weights (1-p) p^(d-1) / d are dyadic/d
    LITERALS precomputed identically in both engines (0.5, 0.125,
    1/24, 1/64, 1/160), the overlaps are exact integers, and the
    5-term weighted sum evaluates left-to-right — identical doubles
    everywhere. One shuffle per ranking on the customer key."""
    o = _t(spark, sf_dir, "orders")
    ra = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("o_totalprice")).alias("s"),
                    F.col("o_orderkey").alias("k"),
                )
            )
        ),
        lambda s: s["k"],
    )
    rb = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias("s"),
                    F.col("o_orderkey").alias("k"),
                )
            )
        ),
        lambda s: s["k"],
    )
    lists = o.groupBy("o_custkey").agg(ra.alias("ra"), rb.alias("rb"))
    ov = lambda d: F.size(
        F.array_intersect(F.slice("ra", 1, d), F.slice("rb", 1, d))
    ).cast("double")
    weights = [0.5, 0.125, 0.0416666666666666644, 0.015625, 0.00625]
    rbo = ov(1) * weights[0]
    for d in range(2, 6):
        rbo = rbo + ov(d) * weights[d - 1]
    return lists.select(
        "o_custkey",
        F.size("ra").alias("n_orders"),
        F.round(rbo, 8).alias("rbo5"),
    )


@register(
    "stream_sessions_stateful",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    agg AS (
      SELECT user_id, sid,
             min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events,
             sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT)) / 100.0
               AS sum_value
      FROM sess GROUP BY user_id, sid
    ),
    lastmark AS (
      SELECT *, sid = max(sid) OVER (PARTITION BY user_id) AS is_last
      FROM agg
    ),
    wm AS (SELECT max(ts) - INTERVAL 1 SECOND AS w FROM events)
    SELECT user_id, session_start, session_end, n_events, sum_value
    FROM lastmark CROSS JOIN wm
    WHERE NOT is_last OR session_end + INTERVAL 30 MINUTE < w
    """,
)
def stream_sessions_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL sessionization (applyInPandasWithState +
    EventTimeTimeout) replayed availableNow: sessions close either when
    later data proves the 30-minute gap elapsed or when the event-time
    timer fires; sessions still open against the final watermark are
    NOT emitted. The oracle reproduces exactly that contract in batch
    SQL (gap sessionization + the emission predicate), so the custom
    state machine's full output — boundaries, exact-cents sums, and the
    open-session holdback — is hash-checked, which no rows-only check
    would prove."""
    from .streaming.ops import read_event_stream, run_available_now
    from .streaming.stateful import session_emitter

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    sess = session_emitter(
        stream.withWatermark("ts", "1 second"), gap="30 minutes"
    )
    out = run_available_now(sess, mode="append")
    return out.select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
        "sum_value",
    )


@register(
    "stream_anomaly_flags",
    """
    WITH x AS (
      SELECT user_id, event_id, ts,
             CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS cents
      FROM events
    ),
    pr AS (
      SELECT user_id, event_id, cents,
             count(*) OVER w AS n,
             coalesce(sum(cents) OVER w, 0) AS s,
             coalesce(sum(cents * cents) OVER w, 0) AS q
      FROM x
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id, cents, CAST(n AS BIGINT) AS n_prior
    FROM pr
    WHERE n >= 8
      AND (n * cents - s) * (n * cents - s) > 9 * (n * q - s * s)
    """,
)
def stream_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL anomaly detection (applyInPandasWithState +
    ProcessingTimeTimeout state TTL) replayed availableNow: an event is
    flagged when its cents value fails the exact integer z-inequality
    (n*x - s)^2 > k^2 (n*q - s^2) against the (n, s, q) of all PRIOR
    events of its user. Because the state machine is pure integer
    arithmetic over the per-user (ts, event_id) order, batch SQL
    replays every flag bit-for-bit — the strictly-preceding window
    frame IS the streaming prior — so the custom operator's full
    output is hash-checked, which a rows-only check would not prove.
    State is three longs per ACTIVE user (idle keys evicted by an
    event-time TTL; 30 days exceeds the replayed data's event-time
    span, so no timer fires during the replay and the oracle needs no
    eviction model)."""
    from .streaming.ops import read_event_stream, run_available_now
    from .streaming.stateful import zscore_flags

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    flags = zscore_flags(
        stream.withWatermark("ts", "1 second"), min_prior=8, k_sigma=3
    )
    return run_available_now(flags, mode="append")


def _media_payloads(df: DataFrame, id_col: str, make) -> DataFrame:
    """(id_col long, payload binary): ``make(id) -> bytes`` for each row of
    ``df``'s ``id_col`` — the media queries' in-engine payload writer, on
    the media operators' row map (``multimodal._row_map``)."""
    from pyspark.sql import types as T

    from .operators.multimodal import _row_map, _schema

    schema = _schema(id_col, ("payload", T.BinaryType()))
    return _row_map(df, [id_col], schema, lambda i: [(i, make(i))])


@register(
    "multimodal_png_stats",
    """
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 20 = 0),
    grid AS (
      SELECT ids.doc_id, y.y, x.x
      FROM ids
      CROSS JOIN (SELECT unnest(range(0, 12)) AS y) y
      CROSS JOIN (SELECT unnest(range(0, 16)) AS x) x
    ),
    px AS (
      SELECT doc_id,
             (x * 7 + y * 3 + doc_id * 11) % 256 AS r,
             (x * 5 + y * 13 + doc_id * 17) % 256 AS g,
             (x * 2 + y * 23 + doc_id * 29) % 256 AS b,
             1 + (x + y) % 7 AS wt
      FROM grid
    )
    SELECT doc_id, CAST(12 AS BIGINT) AS height, CAST(16 AS BIGINT) AS width,
           CAST(sum(r) AS BIGINT) AS r_sum,
           CAST(sum(g) AS BIGINT) AS g_sum,
           CAST(sum(b) AS BIGINT) AS b_sum,
           CAST(sum((r + 2 * g + 3 * b) * wt) AS BIGINT) AS weighted
    FROM px GROUP BY doc_id
    """,
)
def multimodal_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode verified END TO END against a numeric oracle:
    deterministic RGB images (pixel = linear function of x, y, doc_id
    mod 256) are PNG-ENCODED inside the engine (operators/png.py
    writer), pushed through the codec REGISTRY in strict mode, and
    reduced to exact integer pixel statistics — which DuckDB replays by
    pure arithmetic over the (x, y) grid, never touching PNG. Any
    defect in the writer, the inflate/unfilter path, channel order, or
    row order flips a sum. This is the driver-verifiable form of the
    multimodal family: the binary payloads live only inside the query,
    so no binary test table is needed. Scale: both the encode and the
    stats are per-row Arrow-batched maps — embarrassingly parallel, no
    shuffle until the final (tiny) stats table."""
    from .operators.multimodal import image_pixel_stats

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id")
    )

    def make(did):
        import numpy as np

        from .operators.png import encode_png_rgb

        yy, xx = np.mgrid[0:12, 0:16]
        img = np.stack(
            [
                (xx * 7 + yy * 3 + did * 11) % 256,
                (xx * 5 + yy * 13 + did * 17) % 256,
                (xx * 2 + yy * 23 + did * 29) % 256,
            ],
            -1,
        ).astype(np.uint8)
        return encode_png_rgb(img)

    media = _media_payloads(docs, "doc_id", make)
    return image_pixel_stats(
        media, payload_col="payload", id_col="doc_id", fake=False
    )


@register(
    "multimodal_wav_stats",
    """
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
    grid AS (
      SELECT ids.doc_id, i.i
      FROM ids CROSS JOIN (SELECT unnest(range(0, 512)) AS i) i
    ),
    px AS (
      SELECT doc_id,
             ((i * i * 7 + i * 13 + doc_id * 101) % 65536) - 32768 AS s,
             1 + i % 7 AS wt
      FROM grid
    )
    SELECT doc_id,
           CAST(512 AS BIGINT) AS n_samples,
           CAST(8000 AS BIGINT) AS rate,
           CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
           CAST(sum(s * wt) AS BIGINT) AS weighted
    FROM px GROUP BY doc_id
    """,
)
def multimodal_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode verified END TO END against a numeric oracle — the
    audio twin of multimodal_png_stats: deterministic int16 sample
    trains (quadratic integer formula mod 2^16) are written as PCM16
    WAV inside the engine (stdlib wave), decoded back through the audio
    path in STRICT mode, and reduced to exact integer sample stats that
    DuckDB replays by pure arithmetic. PCM16 round-trips exactly
    (x/32768.0 is dyadic), so any sample loss, reorder, or scaling
    defect flips a sum. Per-row Arrow-batched maps both ways —
    embarrassingly parallel, no shuffle until the final tiny stats
    table."""
    from .operators.multimodal import audio_sample_stats

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 25 == 0)
        .select("doc_id")
    )

    def make(did):
        import io as _io
        import wave as _wave

        import numpy as np

        i = np.arange(512, dtype=np.int64)
        s = ((i * i * 7 + i * 13 + did * 101) % 65536) - 32768
        buf = _io.BytesIO()
        with _wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(s.astype("<i2").tobytes())
        return buf.getvalue()

    media = _media_payloads(docs, "doc_id", make)
    return audio_sample_stats(
        media, payload_col="payload", id_col="doc_id", fake=False
    )


@register(
    "multimodal_mp4_stats",
    """
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 3),
    codes AS (
      SELECT d.doc_id, t.i, (d.doc_id * 31 + t.i * 7) % 256 AS b
      FROM ids d CROSS JOIN range(0, 81) t(i)
      WHERE t.i < 64 + d.doc_id % 17
    ),
    dec AS (
      SELECT doc_id, i,
             CASE WHEN ((255 - b) & 128) != 0
                  THEN 132 - ((((255 - b) & 15) * 8 + 132)
                              << (((255 - b) >> 4) & 7))
                  ELSE ((((255 - b) & 15) * 8 + 132)
                        << (((255 - b) >> 4) & 7)) - 132
             END AS s
      FROM codes
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
           CAST(8000 AS BIGINT) AS rate,
           CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
           CAST(sum(s * (1 + i % 7)) AS BIGINT) AS weighted
    FROM dec GROUP BY doc_id
    """,
)
def multimodal_mp4_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-container audio decode verified end to end: per doc,
    a deterministic G.711 mu-law code train is muxed into a real MP4
    (ftyp/mdat/moov with stsd 'ulaw' sample entry and multi-chunk
    stsc/stco layout, operators/mp4.py), then decoded back through the
    strict audio registry — BMFF box walk, sample-table reassembly,
    and the ITU-T G.711 expansion — into exact integer sample stats.
    The DuckDB oracle replays the mu-law expansion by pure bit
    arithmetic (complement / segment shift / 0x84 bias), so a wrong
    table entry, a dropped chunk, or a sample reorder flips the
    position-weighted sum. Per-row Arrow-batched maps both ways — no
    shuffle until the tiny final stats table."""
    from .operators.multimodal import audio_sample_stats

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 25 == 3)
        .select("doc_id")
    )

    def make(did):
        from .operators.mp4 import encode_mp4_audio

        codes = bytes((did * 31 + i * 7) % 256 for i in range(64 + did % 17))
        return encode_mp4_audio(codes, "ulaw", 8000, channels=1, chunk_frames=25)

    media = _media_payloads(docs, "doc_id", make)
    return audio_sample_stats(
        media, payload_col="payload", id_col="doc_id", fake=False
    )


@register(
    "multimodal_mp4_video_stats",
    """
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 37 = 4),
    fr AS (
      SELECT d.doc_id, f.i AS frame_idx
      FROM ids d CROSS JOIN range(0, 4) f(i)
      WHERE f.i < 2 + d.doc_id % 3
    ),
    px AS (
      SELECT doc_id, frame_idx, y.v AS y, x.v AS x,
             (doc_id * 5 + frame_idx * 47 + y.v * 13 + x.v * 7) % 256 AS r,
             (doc_id * 5 + frame_idx * 47 + y.v * 13 + x.v * 7 + 29) % 256
               AS g,
             (doc_id * 5 + frame_idx * 47 + y.v * 13 + x.v * 7 + 58) % 256
               AS b
      FROM fr CROSS JOIN range(0, 8) y(v) CROSS JOIN range(0, 8) x(v)
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(8 AS BIGINT) AS height, CAST(8 AS BIGINT) AS width,
           CAST(sum(r) AS BIGINT) AS r_sum,
           CAST(sum(g) AS BIGINT) AS g_sum,
           CAST(sum(b) AS BIGINT) AS b_sum,
           CAST(sum((r + 2 * g + 3 * b) * (1 + (x + y) % 7)) AS BIGINT)
             AS weighted
    FROM px GROUP BY doc_id, frame_idx
    """,
)
def multimodal_mp4_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-container VIDEO decode verified end to end: per doc,
    2-4 deterministic 8x8 gradient frames are PNG-encoded and muxed
    into a real MP4 video track ('png ' VisualSampleEntry, multi-chunk
    non-uniform sample table, operators/mp4.py), then pulled back
    through the strict video registry — BMFF box walk, per-sample
    reassembly, per-frame PNG decode — into exact per-FRAME integer
    pixel stats (video_frame_stats). The DuckDB oracle replays every
    pixel by pure grid arithmetic, so a dropped frame, frame reorder,
    chunk-offset slip, or filter bug flips a row. Per-row Arrow-batched
    maps both ways — no shuffle until the tiny final stats table."""
    from .operators.multimodal import video_frame_stats

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 37 == 4)
        .select("doc_id")
    )

    def make(did):
        import numpy as _np

        from .operators.mp4 import encode_mp4_video
        from .operators.png import encode_png_rgb

        frames = []
        for f in range(2 + did % 3):
            base = (
                did * 5
                + f * 47
                + _np.arange(8)[:, None, None] * 13
                + _np.arange(8)[None, :, None] * 7
                + _np.arange(3)[None, None, :] * 29
            )
            frames.append(encode_png_rgb((base % 256).astype(_np.uint8)))
        return encode_mp4_video(frames, 8, 8, "png ", chunk_samples=2)

    media = _media_payloads(docs, "doc_id", make)
    return video_frame_stats(
        media, payload_col="payload", id_col="doc_id", fake=False
    )


@register(
    "media_probe_mixed",
    """
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0)
    SELECT doc_id,
           CASE doc_id % 4
             WHEN 0 THEN 'png' WHEN 1 THEN 'wav-pcm'
             WHEN 2 THEN 'mp4' ELSE 'mp3' END AS format,
           CASE doc_id % 4
             WHEN 0 THEN CAST(8 + doc_id % 5 AS BIGINT)
             WHEN 2 THEN CAST(320 AS BIGINT) END AS width,
           CASE doc_id % 4
             WHEN 0 THEN CAST(6 + doc_id % 3 AS BIGINT)
             WHEN 2 THEN CAST(240 AS BIGINT) END AS height,
           CASE doc_id % 4
             WHEN 1 THEN CAST((100 + doc_id % 50) // 8 AS BIGINT)
             WHEN 2 THEN CAST(1000 + doc_id % 500 AS BIGINT)
             WHEN 3 THEN CAST((417 * (5 + doc_id % 5)) * 8 // 128
                              AS BIGINT)
           END AS duration_ms,
           CASE doc_id % 4
             WHEN 2 THEN CAST(1 + doc_id % 2 AS BIGINT) END AS n_tracks
    FROM ids
    """,
)
def media_probe_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-metadata probing verified end to end: one binary
    column mixing PNG / PCM-WAV / MP4 / MP3 payloads synthesized in the
    engine from per-row integer formulas, probed STRUCTURALLY (no
    decode) by operators/mediameta.py, and compared against an oracle
    that derives every declared field (dimensions, durations, track
    counts) by pure arithmetic — proving the parsers read the real
    container structure, including the formats whose sample data the
    engine does not decode (MP3/MP4). Per-row Arrow-batched maps, no
    shuffle."""
    from .operators.mediameta import media_probe

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id")
    )

    def make(did):
        import io as _io
        import struct as _struct
        import wave as _wave

        import numpy as np

        from .operators.png import encode_png_rgb

        def atom(typ, body):
            return _struct.pack(">I", len(body) + 8) + typ + body

        kind = did % 4
        if kind == 0:
            w, h = 8 + did % 5, 6 + did % 3
            yy, xx = np.mgrid[0:h, 0:w]
            img = np.stack(
                [(xx + did) % 256, (yy * 3) % 256, (xx + yy) % 256], -1
            ).astype(np.uint8)
            return encode_png_rgb(img)
        if kind == 1:
            buf = _io.BytesIO()
            with _wave.open(buf, "wb") as wf:
                wf.setnchannels(1)
                wf.setsampwidth(2)
                wf.setframerate(8000)
                wf.writeframes(bytes((100 + did % 50) * 2))
            return buf.getvalue()
        if kind == 2:
            dur, traks = 1000 + did % 500, 1 + did % 2
            mvhd = bytes(4) + bytes(8) + _struct.pack(">II", 1000, dur) + bytes(80)
            tk = b""
            for i in range(traks):
                body = bytes(4) + bytes(72) + _struct.pack(
                    ">II",
                    (320 << 16) if i == 0 else 0,
                    (240 << 16) if i == 0 else 0,
                )
                tk += atom(b"trak", atom(b"tkhd", body))
            return (
                atom(b"ftyp", b"isom\x00\x00\x02\x00")
                + atom(b"moov", atom(b"mvhd", mvhd) + tk)
                + atom(b"mdat", bytes(16))
            )
        hdr = bytes([0xFF, 0xFB, (9 << 4) | 0, 0x00])
        return (hdr + bytes(417 - 4)) * (5 + did % 5)

    media = _media_payloads(docs, "doc_id", make)
    return media_probe(media, payload_col="payload", id_col="doc_id").select(
        "doc_id", "format", "width", "height", "duration_ms", "n_tracks"
    )


@register(
    "image_ahash_mixed",
    """
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 15 = 0),
    px AS (
      SELECT ids.doc_id, y.y, x.x,
             ((x.x * 31 + y.y * 7 + ids.doc_id * 11) % 256)
             + ((x.x * 13 + y.y * 17 + ids.doc_id * 5) % 256)
             + ((x.x * 3 + y.y * 29 + ids.doc_id * 23) % 256) AS lum3
      FROM ids
      CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y
      CROSS JOIN (SELECT unnest(range(0, 8)) AS x) x
    ),
    tot AS (SELECT doc_id, sum(lum3) AS total3 FROM px GROUP BY doc_id)
    SELECT px.doc_id,
           CAST(sum(CASE WHEN px.lum3 * 64 > tot.total3
                              AND y.y * 8 + x.x < 63
                         THEN 1::BIGINT << (CAST(y.y AS INT) * 8
                                            + CAST(x.x AS INT))
                         ELSE 0 END)
                + CASE WHEN max(CASE WHEN y.y * 8 + x.x = 63
                                     AND px.lum3 * 64 > tot.total3
                                THEN 1 ELSE 0 END) = 1
                       THEN -9223372036854775808 ELSE 0 END
                AS BIGINT) AS ahash
    FROM px
    JOIN tot USING (doc_id)
    JOIN (SELECT unnest(range(0, 8)) AS y) y ON y.y = px.y
    JOIN (SELECT unnest(range(0, 8)) AS x) x ON x.x = px.x
    GROUP BY px.doc_id
    """,
)
def image_ahash_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash verified end to end: deterministic 8x8
    RGB images (per-channel linear formulas mod 256) are PNG-encoded in
    the engine, decoded through the codec registry in STRICT mode, and
    hashed by image_ahash; the oracle recomputes every hash bit by pure
    arithmetic (cell bit = 3*luminance*64 > total — the cross-multiplied
    form of cell > grid mean; the 1/3 and 1/64 float roundings in the
    engine sit ~1e-13 from values spaced >= 1/192 apart, so the
    comparison cannot flip). Brings the perceptual-hash/near-dup family
    under the driver's value-hash gate; the banded near-dup join over
    these hashes is covered by pytest pigeonhole proofs."""
    from .operators.multimodal import image_ahash

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 15 == 0)
        .select("doc_id")
    )

    def make(did):
        import numpy as np

        from .operators.png import encode_png_rgb

        yy, xx = np.mgrid[0:8, 0:8]
        img = np.stack(
            [
                (xx * 31 + yy * 7 + did * 11) % 256,
                (xx * 13 + yy * 17 + did * 5) % 256,
                (xx * 3 + yy * 29 + did * 23) % 256,
            ],
            -1,
        ).astype(np.uint8)
        return encode_png_rgb(img)

    media = _media_payloads(docs, "doc_id", make)
    return image_ahash(
        media, payload_col="payload", id_col="doc_id", fake=False
    )


@register(
    "stream_hll_actives",
    """
    WITH h AS (
      SELECT (floor(epoch(ts) / 21600) * 21600)::BIGINT AS w,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 2))::INT AS reg,
             ('0x' || substr(md5(user_id::VARCHAR), 3, 4))::INT AS v16
      FROM events
    ),
    regs AS (
      SELECT w, reg,
             max(CASE WHEN v16 = 0 THEN 17
                      ELSE 17 - length(bin(v16)) END) AS rho
      FROM h GROUP BY w, reg
    )
    SELECT w AS window_start_sec,
           count(*) AS n_regs,
           CAST(256 - count(*) AS BIGINT) AS zeros,
           CAST(sum(1::BIGINT << (17 - rho))
                + (256 - count(*)) * (1::BIGINT << 17) AS BIGINT)
             AS harmonic_num,
           round((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
                 * 131072.0
                 / CAST(sum(1::BIGINT << (17 - rho))
                        + (256 - count(*)) * (1::BIGINT << 17) AS DOUBLE),
                 4) AS raw_est
    FROM regs GROUP BY w
    """,
)
def stream_hll_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING mergeable sketch: per 6-hour tumbling window, distinct
    active users via the replayable md5-register HLL — the streaming
    state is one (window, register) -> max(rank) cell, <= 256 longs per
    window regardless of user cardinality, exactly the bounded-state
    shape a 100 TB live pipeline needs (a distinct-count agg would hold
    every id). The heavy agg runs IN the stream (availableNow replay);
    the per-window estimate readout is a batch agg over the tiny
    register table. Every bit — registers, ranks, integer harmonic
    numerator, rational-arithmetic estimate — is replayed by the batch
    SQL oracle."""
    from .streaming.ops import read_event_stream, run_available_now

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    enriched = (
        stream.withColumn("_hex", F.md5(F.col("user_id").cast("string")))
        .withColumn(
            "reg", F.conv(F.substring("_hex", 1, 2), 16, 10).cast("int")
        )
        .withColumn(
            "_v16", F.conv(F.substring("_hex", 3, 4), 16, 10).cast("int")
        )
        .withColumn(
            "rho",
            F.when(F.col("_v16") == 0, F.lit(17)).otherwise(
                17 - F.length(F.bin("_v16"))
            ),
        )
    )
    regs = enriched.groupBy(
        F.window("ts", "6 hours").alias("win"), F.col("reg")
    ).agg(F.max("rho").alias("rho"))
    out = run_available_now(regs)
    per = out.select(
        F.unix_timestamp("win.start").alias("window_start_sec"),
        "reg",
        "rho",
    )
    alpha = 0.7213 / (1.0 + 1.079 / 256.0)
    return (
        per.groupBy("window_start_sec")
        .agg(
            F.count(F.lit(1)).alias("n_regs"),
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 17 - rho)"))
            .alias("_hit"),
        )
        .select(
            "window_start_sec",
            "n_regs",
            (256 - F.col("n_regs")).alias("zeros"),
            (F.col("_hit")
             + (256 - F.col("n_regs")).cast("long") * (1 << 17))
            .alias("harmonic_num"),
            F.round(
                F.lit(alpha * 256.0 * 256.0 * (1 << 17))
                / (F.col("_hit")
                   + (256 - F.col("n_regs")).cast("long") * (1 << 17))
                .cast("double"),
                4,
            ).alias("raw_est"),
        )
    )


@register(
    "mau_hll_events",
    """
    WITH ev AS (
      SELECT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    h AS (
      SELECT d,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 2))::INT AS reg,
             ('0x' || substr(md5(user_id::VARCHAR), 3, 4))::INT AS v16
      FROM ev
    ),
    daily AS (
      SELECT d, reg,
             max(CASE WHEN v16 = 0 THEN 17
                      ELSE 17 - length(bin(v16)) END) AS rho
      FROM h GROUP BY d, reg
    ),
    days AS (SELECT DISTINCT d AS day FROM daily),
    contrib AS (
      SELECT CAST(daily.d + to_days(CAST(x.x AS INT)) AS DATE) AS day,
             reg, rho
      FROM daily CROSS JOIN (SELECT unnest(range(0, 30)) AS x) x
    ),
    win AS (
      SELECT c.day, c.reg, max(c.rho) AS rho
      FROM contrib c JOIN days USING (day)
      GROUP BY c.day, c.reg
    )
    SELECT day,
           count(*) AS n_regs,
           CAST(256 - count(*) AS BIGINT) AS zeros,
           CAST(sum(1::BIGINT << (17 - rho))
                + (256 - count(*)) * (1::BIGINT << 17) AS BIGINT)
             AS harmonic_num,
           round((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
                 * 131072.0
                 / CAST(sum(1::BIGINT << (17 - rho))
                        + (256 - count(*)) * (1::BIGINT << 17) AS DOUBLE),
                 4) AS raw_est
    FROM win GROUP BY day
    """,
)
def mau_hll_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-day distinct actives via an md5-register HLL whose
    every bit is replayable cross-engine — the hash-verifiable
    counterpart of rolling_active_users_sketch (Datasketches binary,
    rows-only). Registers, ranks, the integer harmonic numerator, and
    even the uncorrected double estimate (pure rational arithmetic) are
    all engine-exact; the oracle replays the full pipeline from md5 up.
    Scale: per-day <= 256 register rows shuffle (independent of id
    cardinality), then |days| x 256 window explode — the long-window
    MAU shape that never touches raw id pairs."""
    from .functions.windows import rolling_distinct_count_hll_md5

    ev = _t(spark, sf_dir, "events")
    return rolling_distinct_count_hll_md5(
        ev, ts="ts", id_col="user_id", window_days=30, day_col="day"
    )


@register(
    "symspell_correct_docs",
    f"""
    WITH toks AS (
      SELECT unnest({_TOKS_SQL}) AS tok FROM documents
      WHERE length(trim(text)) > 0
    ),
    vocab AS (
      SELECT tok, count(*) AS cnt FROM toks
      WHERE length(tok) BETWEEN 4 AND 12 AND regexp_matches(tok, '^[a-z]+$')
      GROUP BY tok HAVING count(*) >= 10
    ),
    top AS (
      SELECT tok, cnt,
             row_number() OVER (ORDER BY cnt DESC, tok) AS rn
      FROM vocab
    ),
    typos AS (
      SELECT tok AS src,
             substr(tok, 1, length(tok) // 2 - 1)
               || substr(tok, length(tok) // 2 + 1) AS q
      FROM top WHERE rn <= 50
    ),
    qv AS (
      SELECT q, q AS variant FROM typos
      UNION
      SELECT q, substr(q, 1, i.i - 1) || substr(q, i.i + 1) AS variant
      FROM typos CROSS JOIN LATERAL
        (SELECT unnest(range(1, length(q) + 1)) AS i) i
    ),
    vv AS (
      SELECT tok, cnt, tok AS variant FROM vocab
      UNION
      SELECT tok, cnt,
             substr(tok, 1, i.i - 1) || substr(tok, i.i + 1) AS variant
      FROM vocab CROSS JOIN LATERAL
        (SELECT unnest(range(1, length(tok) + 1)) AS i) i
    ),
    cand AS (
      SELECT DISTINCT qv.q, vv.tok, vv.cnt
      FROM qv JOIN vv USING (variant)
      WHERE levenshtein(qv.q, vv.tok) <= 1
    )
    SELECT q AS typo, tok AS corrected, cnt
    FROM (
      SELECT q, tok, cnt,
             row_number() OVER (PARTITION BY q
                                ORDER BY cnt DESC, tok) AS rn
      FROM cand
    ) WHERE rn = 1
    """,
)
def symspell_correct_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell spell-correction over the corpus vocabulary: typo
    tokens (a deterministic mid-character deletion of the 50 most
    frequent words) are matched back to the vocabulary by a DELETION-
    VARIANT equi-join + exact levenshtein verify, then ranked by corpus
    frequency. Scale: the naive |Q| x |V| edit-distance cross product
    becomes a shuffle on (len+1) variant keys per token — the entity-
    matching / query-correction pattern at 100 TB. The oracle replays
    variant generation, the join, the verify, and the ranking."""
    from .operators.text import symspell_match, tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.filter(F.length(F.trim("text")) > 0).select(
        F.explode(tokens(F.col("text"))).alias("tok")
    )
    vocab = (
        toks.filter(
            F.length("tok").between(4, 12) & F.col("tok").rlike("^[a-z]+$")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 10)
    )
    typos = (
        vocab.orderBy(F.col("cnt").desc(), "tok")
        .limit(50)
        .select(
            F.concat(
                F.expr("substring(tok, 1, length(tok) div 2 - 1)"),
                F.expr(
                    "substring(tok, length(tok) div 2 + 1, "
                    "length(tok) - length(tok) div 2)"
                ),
            ).alias("q")
        )
    )
    matched = symspell_match(
        typos, vocab, query_col="q", vocab_col="tok", max_distance=1
    )
    rw = Window.partitionBy("q").orderBy(F.col("cnt").desc(), "tok")
    return (
        matched.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .select(
            F.col("q").alias("typo"),
            F.col("tok").alias("corrected"),
            "cnt",
        )
    )


@register(
    "ewma_daily_revenue",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT)) AS v
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(0, 16)) AS k),
    pairs AS (
      SELECT a.day,
             b.v * (1::BIGINT << (15 - CAST(l.k AS INT))) AS num_term,
             (1::BIGINT << (15 - CAST(l.k AS INT))) AS den_term
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b
        ON b.day = CAST(a.day - to_days(CAST(l.k AS INT)) AS DATE)
    )
    SELECT day,
           CAST(sum(num_term) AS BIGINT) AS ewma_num,
           CAST(sum(den_term) AS BIGINT) AS ewma_den,
           round(CAST(sum(num_term) AS DOUBLE)
                 / CAST(sum(den_term) AS DOUBLE) / 100.0, 4) AS ewma
    FROM pairs GROUP BY day
    """,
)
def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue with
    alpha = 1/2, TRUNCATED at 16 days — so every weight is the exact
    integer 2^(15-k) and the whole statistic is rational arithmetic
    (bit-identical across engines; the untruncated tail weight < 2^-16
    of the total). Gaps in the calendar weight 0 and the denominator
    renormalizes over PRESENT days — the standard irregular-series
    EWMA. The lag join runs on the guarded daily aggregate, never on
    events; weights are codegen shifts."""
    daily = _daily_cents_series(spark, sf_dir)
    lags = spark.range(0, 16).select(F.col("id").cast("int").alias("k"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b.day") == F.expr("date_sub(a.day, k)"))
        .select(
            F.col("a.day").alias("day"),
            (F.col("b.v") * F.expr("shiftleft(CAST(1 AS BIGINT), 15 - k)"))
            .alias("num_term"),
            F.expr("shiftleft(CAST(1 AS BIGINT), 15 - k)").alias("den_term"),
        )
    )
    return pairs.groupBy("day").agg(
        F.sum("num_term").alias("ewma_num"),
        F.sum("den_term").alias("ewma_den"),
        F.round(
            ungrid(
                F.sum("num_term").cast("double")
                / F.sum("den_term").cast("double"),
                CENTS,
            ),
            4,
        ).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# Round-4 wave: time-series diagnostics, weighted graph paths, training-set
# balancing, market-basket rules, replication-based uncertainty, checksum
# audits, corpus vocabulary statistics.
# ---------------------------------------------------------------------------


@register(
    "acf_events",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT)) AS v
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(1, 8)) AS lag),
    pairs AS (
      SELECT l.lag, a.v AS x, b.v AS y
      FROM daily a CROSS JOIN lags l
      JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)
    ),
    stats AS (
      SELECT lag, count(*) AS n,
             sum(CAST(x AS DECIMAL(38,0))) AS sx,
             sum(CAST(y AS DECIMAL(38,0))) AS sy,
             sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy,
             sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
             sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT lag, n AS n_pairs,
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                 AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                           6)
           END AS acf
    FROM stats
    """,
)
def acf_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily revenue series at lags 1-7
    (weekly structure diagnostic — the input to seasonal model choice).
    Pairwise Pearson on (day, day+lag) from exact DECIMAL sufficient
    statistics of the CENTS series; constant windows yield NULL, never
    an ANSI /0 abort. The series is one partial+final day agg, its
    calendar bound enforced by _daily_cents_series; the lag join runs
    on the aggregated series, never on events."""
    daily = _daily_cents_series(spark, sf_dir)
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a, b = daily.alias("a"), daily.alias("b")
    dec = lambda c: c.cast("decimal(38,0)")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b.day") == F.expr("date_add(a.day, lag)"))
        .select("lag", F.col("a.v").alias("x"), F.col("b.v").alias("y"))
    )
    st = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x")) * dec(F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y")) * dec(F.col("y"))).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    return st.select(
        "lag",
        F.col("n").alias("n_pairs"),
        F.when(
            (vx > 0) & (vy > 0),
            F.round((n * sxy - sx * sy) / (F.sqrt(vx) * F.sqrt(vy)), 6),
        ).alias("acf"),
    )


@register(
    "sssp_suppliers",
    """
    WITH RECURSIVE e0 AS (
      SELECT DISTINCT o_custkey * 10 AS a, l_suppkey * 10 + 1 AS b,
             1 + (o_custkey + l_suppkey) % 5 AS w
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT a, b, w FROM e0 UNION SELECT b, a, w FROM e0),
    seeds AS (SELECT c_custkey * 10 AS id FROM customer
              WHERE c_custkey % 50 = 0),
    reach (id, dist) AS (
      SELECT id, CAST(0 AS BIGINT) FROM seeds
      UNION
      SELECT e.b, r.dist + e.w
      FROM reach r JOIN edges e ON e.a = r.id
      WHERE r.dist + e.w <= 30
    )
    SELECT id, min(dist) AS dist FROM reach GROUP BY id
    """,
)
def sssp_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source WEIGHTED shortest paths (distributed Bellman-Ford)
    over the customer-supplier trade graph with deterministic integer
    edge weights: min total weight from the seed customers. Early-stops
    at the fixed point, so distances are exact. Engine and oracle apply
    the IDENTICAL truncation: both keep exactly the nodes whose true
    shortest distance is <= 30 (the CTE prunes walks whose cumulative
    weight exceeds 30; the engine prunes the same relaxations via
    max_dist=30, with max_rounds=30 >= the worst-case edge count of a
    weight-30 path since weights are integers >= 1 — the fixed-point
    early stop keeps actual rounds at the graph's hop diameter)."""
    from .operators.graph import shortest_paths

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 10).alias("a"),
            (F.col("l_suppkey") * 10 + 1).alias("b"),
            (1 + (F.col("o_custkey") + F.col("l_suppkey")) % 5).alias("w"),
        )
        .distinct()
    )
    seeds = c.filter(F.col("c_custkey") % 50 == 0).select(
        (F.col("c_custkey") * 10).alias("id")
    )
    return shortest_paths(
        edges, seeds, "a", "b", "w", "id", max_rounds=30, max_dist=30
    )


@register(
    "balance_sample_docs",
    """
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT min(n) AS mn FROM c),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, lang FROM r CROSS JOIN m WHERE rk <= mn
    """,
)
def balance_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language keeps exactly
    min-class-count documents, membership decided by a deterministic
    md5 rank (layout-invariant, reproducible — the property a training
    pipeline needs so reruns produce the same training set). The rank
    window is per-class (partition-bounded); the min count is one tiny
    broadcast scalar."""
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    mn = counts.agg(F.min("n").alias("mn"))
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    r = d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
    return (
        r.crossJoin(F.broadcast(mn))
        .filter(F.col("rk") <= F.col("mn"))
        .select("doc_id", "lang")
    )


@register(
    "association_rules_parts",
    """
    WITH ui0 AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    ok AS (SELECT u FROM ui0 GROUP BY u HAVING count(*) <= 50),
    ui AS (SELECT ui0.u, ui0.i FROM ui0 JOIN ok USING (u)),
    nb AS (SELECT count(DISTINCT u) AS n_users FROM ui),
    deg AS (SELECT i, count(*) AS n FROM ui GROUP BY i),
    co AS (
      SELECT a.i AS ia, b.i AS ib, count(*) AS n_common
      FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
      GROUP BY a.i, b.i
    ),
    sym AS (
      SELECT ia AS ante, ib AS cons, n_common FROM co
      UNION ALL
      SELECT ib, ia, n_common FROM co
    )
    SELECT s.ante, s.cons, s.n_common,
           (s.n_common * 1000000) // nb.n_users AS support_micro,
           (s.n_common * 1000000) // da.n AS conf_micro,
           (length(bin(s.n_common)) - 1) + (length(bin(nb.n_users)) - 1)
           - (length(bin(da.n)) - 1) - (length(bin(db.n)) - 1) AS lift_bits
    FROM sym s JOIN deg da ON da.i = s.ante JOIN deg db ON db.i = s.cons
    CROSS JOIN nb
    WHERE s.n_common >= 3
    """,
)
def association_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over co-purchased parts:
    support / confidence in exact micro-units (integer division) and
    lift in WHOLE BITS (binary digit counts — the surprisal/WOE/PMI
    integer-log family), for every pair with co-count >= 3. Consumes
    the SHARED materialized i2i interaction state (one co-occurrence
    join per session, see _i2i_state_cached); the oracle recomputes
    from scratch."""
    ui, _sim = _i2i_state_cached(spark, sf_dir)
    nb = ui.agg(F.count_distinct("u").alias("n_users"))
    deg = ui.groupBy("i").agg(F.count(F.lit(1)).alias("n"))
    a, b = ui.alias("a"), ui.alias("b")
    co = (
        a.join(b, (F.col("a.u") == F.col("b.u")) & (F.col("a.i") < F.col("b.i")))
        .groupBy(F.col("a.i").alias("ia"), F.col("b.i").alias("ib"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sym = co.select(
        F.col("ia").alias("ante"), F.col("ib").alias("cons"), "n_common"
    ).unionAll(
        co.select(
            F.col("ib").alias("ante"), F.col("ia").alias("cons"), "n_common"
        )
    )
    da = deg.select(F.col("i").alias("ante"), F.col("n").alias("_na"))
    db = deg.select(F.col("i").alias("cons"), F.col("n").alias("_nb"))
    bits = lambda c: F.length(F.bin(c)) - 1
    return (
        sym.filter(F.col("n_common") >= 3)
        .join(da, "ante")
        .join(db, "cons")
        .crossJoin(F.broadcast(nb))
        .select(
            "ante",
            "cons",
            "n_common",
            F.expr("n_common * 1000000 div n_users").alias("support_micro"),
            F.expr("n_common * 1000000 div _na").alias("conf_micro"),
            (
                bits(F.col("n_common")) + bits(F.col("n_users"))
                - bits(F.col("_na")) - bits(F.col("_nb"))
            ).alias("lift_bits"),
        )
    )


@register(
    "halfsample_ci_orders",
    """
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
               AS u
      FROM orders
    ),
    reps AS (
      SELECT b.b, count(*) AS n_b,
             (sum(base.cents) * 1000000) // count(*) AS mean_micro
      FROM base CROSS JOIN (SELECT unnest(range(0, 32)) AS b) b
      WHERE (base.u // CAST(power(2, b.b) AS BIGINT)) % 2 = 1
      GROUP BY b.b
    ),
    agg AS (
      SELECT count(*) AS nb,
             sum(CAST(mean_micro AS DECIMAL(38,0))) AS sm,
             sum(CAST(mean_micro AS DECIMAL(38,0))
                 * CAST(mean_micro AS DECIMAL(38,0))) AS smm
      FROM reps
    ),
    full_mean AS (
      SELECT count(*) AS n, (sum(cents) * 1000000) // count(*) AS mean_micro
      FROM base
    )
    SELECT f.n, CAST(f.mean_micro AS BIGINT) AS mean_micro,
           CAST(round(sqrt((CAST(a.nb AS DOUBLE) * CAST(a.smm AS DOUBLE)
                            - CAST(a.sm AS DOUBLE) * CAST(a.sm AS DOUBLE))
                           / CAST(a.nb AS DOUBLE)
                           / (CAST(a.nb AS DOUBLE) - 1))) AS BIGINT)
             AS rep_sd_micro
    FROM full_mean f CROSS JOIN agg a
    """,
)
def halfsample_ci_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncertainty for the mean order value WITHOUT distributional
    assumptions: 32 deterministic HALF-SAMPLE replicates (row membership
    in replicate b = bit b of a key hash), each replicate's mean in
    exact micro-units by integer division, and the replicate standard
    deviation from exact integer sufficient statistics (only the final
    sqrt is floating point — identical doubles from identical integers).
    This is resampling-based inference made reproducible and
    oracle-checkable: classic bootstrap draws are random, half-sample
    replication is the deterministic member of the family (document:
    rep_sd over-estimates the SE of the full mean by ~sqrt(2) since
    each replicate holds half the data). One pass over orders fanned
    x32 by a broadcast range — map-side combined, no extra shuffle of
    the table."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        grid("o_totalprice", CENTS).alias("cents"),
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
            16,
            10,
        ).cast("long").alias("u"),
    )
    bcol = spark.range(0, 32).select(F.col("id").cast("long").alias("b"))
    reps = (
        base.crossJoin(F.broadcast(bcol))
        .filter(F.expr("(u div cast(pow(2, b) as bigint)) % 2 = 1"))
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("n_b"),
            F.expr("sum(cents) * 1000000 div count(*)").alias("mean_micro"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")
    agg = reps.agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum(dec(F.col("mean_micro"))).alias("sm"),
        F.sum(dec(F.col("mean_micro")) * dec(F.col("mean_micro"))).alias("smm"),
    )
    full = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(cents) * 1000000 div count(*)").alias("mean_micro"),
    )
    nbd = F.col("nb").cast("double")
    var = (
        (nbd * F.col("smm").cast("double")
         - F.col("sm").cast("double") * F.col("sm").cast("double"))
        / nbd / (nbd - 1)
    )
    return full.crossJoin(F.broadcast(agg)).select(
        "n",
        "mean_micro",
        F.round(F.sqrt(var)).cast("long").alias("rep_sd_micro"),
    )


@register(
    "luhn_audit_orders",
    """
    WITH pans AS (
      SELECT o_orderpriority,
             lpad(CAST((o_orderkey * 104729) % 10000000000000000
                       AS VARCHAR), 16, '0') AS pan
      FROM orders
    ),
    checked AS (
      SELECT o_orderpriority,
             list_sum(list_transform(range(1, 17), i ->
               CASE WHEN i % 2 = 0
                    THEN CASE WHEN 2 * CAST(substring(pan, 17 - i, 1) AS INT) > 9
                              THEN 2 * CAST(substring(pan, 17 - i, 1) AS INT) - 9
                              ELSE 2 * CAST(substring(pan, 17 - i, 1) AS INT) END
                    ELSE CAST(substring(pan, 17 - i, 1) AS INT) END)) AS s
      FROM pans
    )
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CASE WHEN s % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_luhn_valid
    FROM checked GROUP BY o_orderpriority
    """,
)
def luhn_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn checksum validation as a pure codegen expression — the PII
    audit primitive (card-number detection needs checksum validation,
    not just a digit-run regex, to control false positives). The test
    tables carry no real card numbers, so the audited strings are
    deterministic key-derived 16-digit PANs; the CHECKSUM arithmetic
    (right-to-left alternate doubling with 9-subtraction, mod 10) is
    what this query proves engine-exact. Composes with redact_pii for
    corpora that do contain digit runs."""
    o = _t(spark, sf_dir, "orders")
    pans = o.select(
        "o_orderpriority",
        F.lpad(
            ((F.col("o_orderkey") * 104729) % F.lit(10_000_000_000_000_000))
            .cast("string"),
            16,
            "0",
        ).alias("pan"),
    )
    s = F.expr(
        "aggregate(transform(sequence(1, 16), i -> CASE WHEN i % 2 = 0 "
        "THEN CASE WHEN 2 * int(substring(pan, 17 - i, 1)) > 9 "
        "THEN 2 * int(substring(pan, 17 - i, 1)) - 9 "
        "ELSE 2 * int(substring(pan, 17 - i, 1)) END "
        "ELSE int(substring(pan, 17 - i, 1)) END), 0, (a, x) -> a + x)"
    )
    return (
        pans.select("o_orderpriority", s.alias("s"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("s") % 10 == 0, 1).otherwise(0)).alias(
                "n_luhn_valid"
            ),
        )
    )


@register(
    "ttr_docs",
    f"""
    WITH toks AS (
      SELECT lang, unnest({_TOKS_SQL}) AS tok
      FROM documents WHERE length(trim(text)) > 0
    ),
    tc AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY 1, 2)
    SELECT lang,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST((count(*) * 1000000) // sum(c) AS BIGINT) AS ttr_micro
    FROM tc GROUP BY lang
    """,
)
def ttr_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary statistics: token count, type (distinct
    token) count, hapax legomena, and type-token ratio in exact
    micro-units — the lexical-diversity signal corpus curation uses to
    catch templated/machine-generated text (low TTR) and OCR noise
    (high hapax share). Shuffle is bounded by vocabulary (one
    partial-agg token count per lang), never corpus size."""
    from .operators.text import tokens

    d = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    tc = (
        d.select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tc.groupBy("lang").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
        F.expr("count(*) * 1000000 div sum(c)").alias("ttr_micro"),
    )


@register(
    "funnel_ttc_events",
    """
    WITH s AS (
      SELECT user_id, min(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s.s_ts
      GROUP BY e.user_id
    ),
    d AS (
      SELECT date_diff('second', s.s_ts, p.p_ts) AS delay_s
      FROM s JOIN p ON p.user_id = s.user_id
    )
    SELECT count(*) AS n_converted,
           round(quantile_cont(CAST(delay_s AS DOUBLE), 0.5), 4) AS p50_s,
           round(quantile_cont(CAST(delay_s AS DOUBLE), 0.9), 4) AS p90_s,
           max(delay_s) AS max_s
    FROM d
    """,
)
def funnel_ttc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert for the signup -> purchase funnel: per user the
    first purchase strictly after the first signup, then interpolated
    p50/p90 of the delay — the funnel follow-up every growth team asks
    for after conversion counts. Two per-user min aggs + one join on
    user_id; percentiles run on the (tiny) per-user delay table using
    the proven percentile-parity pattern."""
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    d = s.join(p, "user_id").select(
        (F.unix_timestamp("p_ts") - F.unix_timestamp("s_ts")).alias("delay_s")
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(cast(delay_s as double), 0.5)"), 4).alias(
            "p50_s"
        ),
        F.round(F.expr("percentile(cast(delay_s as double), 0.9)"), 4).alias(
            "p90_s"
        ),
        F.max("delay_s").alias("max_s"),
    )


@register(
    "isotonic_calibration_embeddings",
    """
    WITH scored AS (
      SELECT CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y,
             least(greatest(embedding[1]::DOUBLE + 0.5, 0.0), 1.0) AS p
      FROM embeddings
    ),
    agg AS (
      SELECT least(CAST(floor(p * 16) AS INT), 15) AS bin,
             count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
      FROM scored GROUP BY 1
    ),
    cum AS (
      SELECT bin, n, pos,
             sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
             sum(pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cp
      FROM agg
    ),
    pair AS (
      SELECT lo.bin AS i, hi.bin AS j,
             CAST(hi.cp - (lo.cp - lo.pos) AS DOUBLE)
             / CAST(hi.cn - (lo.cn - lo.n) AS DOUBLE) AS avg
      FROM cum lo JOIN cum hi ON lo.bin <= hi.bin
    ),
    inner_min AS (
      SELECT k.bin AS k, pair.i, min(pair.avg) AS m
      FROM pair JOIN agg k ON pair.i <= k.bin AND pair.j >= k.bin
      GROUP BY 1, 2
    ),
    iso AS (SELECT k, max(m) AS iso FROM inner_min GROUP BY k)
    SELECT agg.bin, agg.n, agg.pos,
           round(CAST(agg.pos AS DOUBLE) / CAST(agg.n AS DOUBLE), 6) AS rate,
           round(iso.iso, 6) AS iso_rate
    FROM agg JOIN iso ON iso.k = agg.bin
    """,
)
def isotonic_calibration_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration of the synthetic scorer via the CLOSED-FORM
    min-max characterization of PAVA (iso(k) = max_{i<=k} min_{j>=k}
    pooled_rate(i..j)) — the sequential pool-adjacent-violators loop
    turned into set algebra over the parameter-bounded bin table, so
    the full calibrator is hash-checked against a SQL oracle (which no
    loop formulation would allow). The monotone fit is what serving
    systems apply to ranking scores post-hoc; composes with
    calibration_embeddings (reliability readout) and metric_auc."""
    from .functions.metrics import isotonic_fit_bins

    emb = _t(spark, sf_dir, "embeddings").select(
        (F.col("label") >= 5).cast("double").alias("y"),
        F.least(
            F.greatest(F.element_at("embedding", 1).cast("double") + 0.5,
                       F.lit(0.0)),
            F.lit(1.0),
        ).alias("p"),
    )
    return isotonic_fit_bins(emb, label="y", score="p", bins=16)


@register(
    "markov_backtest_events",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    trans AS (SELECT prev, event_type AS next, ts FROM seq
              WHERE prev IS NOT NULL),
    train AS (
      SELECT prev, next, count(*) AS c FROM trans
      WHERE ts < TIMESTAMP '2024-01-21 00:00:00' GROUP BY 1, 2
    ),
    pred AS (
      SELECT prev, next AS pred_next FROM (
        SELECT prev, next,
               row_number() OVER (PARTITION BY prev
                                  ORDER BY c DESC, next) AS rn
        FROM train
      ) WHERE rn = 1
    ),
    test AS (SELECT prev, next FROM trans
             WHERE ts >= TIMESTAMP '2024-01-21 00:00:00'),
    scored AS (
      SELECT test.prev, test.next, pred.pred_next
      FROM test LEFT JOIN pred USING (prev)
    )
    SELECT count(*) AS n_test,
           CAST(sum(CASE WHEN pred_next IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           CAST(sum(CASE WHEN next = pred_next THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(CASE WHEN sum(CASE WHEN pred_next IS NOT NULL
                                   THEN 1 ELSE 0 END) > 0
                THEN (sum(CASE WHEN next = pred_next THEN 1 ELSE 0 END)
                      * 1000000)
                     // sum(CASE WHEN pred_next IS NOT NULL THEN 1 ELSE 0 END)
           END AS BIGINT) AS acc_micro
    FROM scored
    """,
)
def markov_backtest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the first-order Markov next-event model: transition
    counts trained on the first 20 days predict (argmax with
    deterministic ties) each later transition's next type; accuracy@1
    in exact micro-units. Model training AND evaluation in the engine —
    the sequence-model baseline every session-prediction system must
    beat. One lag window per user + two bounded type-pair aggs."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", "ts", F.lag("event_type").over(w).alias("prev")
    )
    trans = seq.filter(F.col("prev").isNotNull()).select(
        "prev", F.col("event_type").alias("next"), "ts"
    )
    split = F.lit("2024-01-21 00:00:00").cast("timestamp")
    train = (
        trans.filter(F.col("ts") < split)
        .groupBy("prev", "next")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rn = Window.partitionBy("prev").orderBy(F.col("c").desc(), "next")
    pred = (
        train.withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select("prev", F.col("next").alias("pred_next"))
    )
    test = trans.filter(F.col("ts") >= split).select("prev", "next")
    scored = test.join(F.broadcast(pred), "prev", "left")
    covered = F.sum(F.when(F.col("pred_next").isNotNull(), 1).otherwise(0))
    correct = F.sum(
        F.when(F.col("next") == F.col("pred_next"), 1).otherwise(0)
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_test"),
        covered.cast("long").alias("n_covered"),
        correct.cast("long").alias("n_correct"),
        F.when(covered > 0, F.expr(
            "sum(CASE WHEN next = pred_next THEN 1 ELSE 0 END) * 1000000 "
            "div sum(CASE WHEN pred_next IS NOT NULL THEN 1 ELSE 0 END)"
        )).alias("acc_micro"),
    )


@register(
    "phrase_search_docs",
    f"""
    WITH w AS (
      SELECT doc_id, u.i AS pos, toks[u.i] AS tok
      FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
            WHERE length(trim(text)) > 0) t,
           unnest(range(1, len(toks) + 1)) u(i)
    )
    SELECT a.doc_id, count(*) AS n_hits, min(a.pos) AS first_pos
    FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    WHERE a.tok = 'fast' AND b.tok = 'table'
    GROUP BY a.doc_id
    """,
)
def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase search ('fast table'): adjacency join on
    (doc, position) over the token postings — the exact-phrase
    primitive BM25/keyword retrieval cannot express. The join is
    pre-filtered to the two phrase terms BEFORE the shuffle, so the
    matched postings stream is term-frequency-sized, never
    corpus-sized. Returns (doc_id, n_hits, first_pos)."""
    from .operators.text import tokens

    d = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    w = d.select(
        "doc_id",
        F.posexplode(tokens(F.col("text"))).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    a = w.filter(F.col("tok") == "fast").alias("a")
    b = w.filter(F.col("tok") == "table").alias("b")
    return (
        a.join(
            b,
            (F.col("b.doc_id") == F.col("a.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .groupBy(F.col("a.doc_id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min(F.col("a.pos")).alias("first_pos"),
        )
    )


@register(
    "dataset_shift_orders",
    """
    WITH pre AS (SELECT * FROM orders
                 WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
    post AS (SELECT * FROM orders
             WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'),
    m AS (
      SELECT 'n_rows' AS metric,
             (SELECT count(*) FROM pre) AS pre_v,
             (SELECT count(*) FROM post) AS post_v
      UNION ALL
      SELECT 'mean_price_cents',
             (SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     // count(*) FROM pre),
             (SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     // count(*) FROM post)
      UNION ALL
      SELECT 'null_price',
             (SELECT count(*) FROM pre WHERE o_totalprice IS NULL),
             (SELECT count(*) FROM post WHERE o_totalprice IS NULL)
      UNION ALL
      SELECT 'distinct_priority',
             (SELECT count(DISTINCT o_orderpriority) FROM pre),
             (SELECT count(DISTINCT o_orderpriority) FROM post)
      UNION ALL
      SELECT 'distinct_status',
             (SELECT count(DISTINCT o_orderstatus) FROM pre),
             (SELECT count(DISTINCT o_orderstatus) FROM post)
    )
    SELECT metric, CAST(pre_v AS BIGINT) AS pre_v,
           CAST(post_v AS BIGINT) AS post_v,
           CAST(post_v AS BIGINT) - CAST(pre_v AS BIGINT) AS delta
    FROM m
    """,
)
def dataset_shift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot dataset shift report: row counts, exact-cents
    mean price, null rates, and categorical cardinalities for orders
    before/after a cut date, with deltas — the ops-level 'did the feed
    change shape' check that runs before any model-level drift test
    (psi_orders / embedding_drift are the statistical follow-ups). Both
    periods aggregate in ONE fused conditional pass (no per-metric
    re-scan: Spark computes every metric as conditional aggregates of a
    single scan)."""
    o = _t(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01 00:00:00").cast("timestamp")
    is_pre = F.col("o_orderdate") < cut
    cents = grid("o_totalprice", CENTS)
    one = o.agg(
        F.sum(F.when(is_pre, 1).otherwise(0)).alias("pre_n"),
        F.sum(F.when(~is_pre, 1).otherwise(0)).alias("post_n"),
        F.sum(F.when(is_pre, cents)).alias("pre_sc"),
        F.sum(F.when(~is_pre, cents)).alias("post_sc"),
        F.sum(F.when(is_pre & F.col("o_totalprice").isNull(), 1).otherwise(0))
        .alias("pre_nullc"),
        F.sum(F.when(~is_pre & F.col("o_totalprice").isNull(), 1).otherwise(0))
        .alias("post_nullc"),
        F.count_distinct(F.when(is_pre, F.col("o_orderpriority")))
        .alias("pre_dp"),
        F.count_distinct(F.when(~is_pre, F.col("o_orderpriority")))
        .alias("post_dp"),
        F.count_distinct(F.when(is_pre, F.col("o_orderstatus")))
        .alias("pre_ds"),
        F.count_distinct(F.when(~is_pre, F.col("o_orderstatus")))
        .alias("post_ds"),
    )
    rows = [
        ("n_rows", F.col("pre_n"), F.col("post_n")),
        (
            "mean_price_cents",
            F.expr("pre_sc div pre_n"),
            F.expr("post_sc div post_n"),
        ),
        ("null_price", F.col("pre_nullc"), F.col("post_nullc")),
        ("distinct_priority", F.col("pre_dp"), F.col("post_dp")),
        ("distinct_status", F.col("pre_ds"), F.col("post_ds")),
    ]
    out = None
    for name, pv, qv in rows:
        r = one.select(
            F.lit(name).alias("metric"),
            pv.cast("long").alias("pre_v"),
            qv.cast("long").alias("post_v"),
            (qv.cast("long") - pv.cast("long")).alias("delta"),
        )
        out = r if out is None else out.unionByName(r)
    return out


def _daily_cents_series(
    spark: SparkSession, sf_dir: str, max_days: int | None = 100_000
) -> DataFrame:
    """Daily revenue series in exact cents, with an EXECUTABLE bound on
    its length: the series-decomposition queries run unpartitioned
    windows / lag joins over this table, which is calendar-bounded by
    construction — but that bound is enforced, not assumed. The agg
    output is materialized once so the guard count and the
    downstream query share one materialization (no second events
    scan), matching the chi_square/kaplan_meier guard discipline."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(grid(F.coalesce("value", F.lit(0.0)), CENTS))
        .alias("v")
    )
    if max_days is not None:
        daily = materialize(daily)
        n = daily.limit(max_days + 1).count()
        if n > max_days:
            raise ValueError(
                f"daily series has > {max_days} rows; a single-partition "
                "window over it is no longer safe — partition the series "
                "(e.g. by year) or raise max_days deliberately"
            )
    return daily


@register(
    "stl_decompose_events",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT)) AS v
      FROM events GROUP BY 1
    ),
    tr AS (
      SELECT day, v,
             (sum(v) OVER w * 1000000)
               // count(*) OVER w AS trend_micro
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT day, v, trend_micro,
             v * 1000000 - trend_micro AS det_micro,
             date_diff('day', DATE '2024-01-01', day) % 7 AS dow
      FROM tr
    ),
    seas AS (
      SELECT dow, sum(det_micro) // count(*) AS seasonal_micro
      FROM det GROUP BY dow
    )
    SELECT det.day, CAST(det.v AS BIGINT) AS v_cents,
           CAST(det.trend_micro AS BIGINT) AS trend_micro,
           CAST(seas.seasonal_micro AS BIGINT) AS seasonal_micro,
           CAST(det.det_micro - seas.seasonal_micro AS BIGINT) AS resid_micro
    FROM det JOIN seas USING (dow)
    """,
)
def stl_decompose_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition of the daily revenue series: trend =
    centered 7-day rolling mean (exact integer micro-units, partial
    frames at the edges use the available window), seasonal = per
    day-of-week mean of the detrended series (engine-neutral dow =
    days-since-epoch-anchor mod 7 — Spark and DuckDB disagree on
    dayofweek numbering), residual = remainder. Every value is an
    exact BIGINT; the only window runs over the calendar-bounded daily
    series (length guarded by _daily_cents_series), never over
    events."""
    daily = _daily_cents_series(spark, sf_dir)
    tr = daily.select(
        "day",
        "v",
        F.expr(
            "sum(v) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 "
            "FOLLOWING) * 1000000 div count(*) OVER (ORDER BY day ROWS "
            "BETWEEN 3 PRECEDING AND 3 FOLLOWING)"
        ).alias("trend_micro"),
    )
    det = tr.select(
        "day",
        "v",
        "trend_micro",
        (F.col("v") * 1_000_000 - F.col("trend_micro")).alias("det_micro"),
        (F.datediff("day", F.lit("2024-01-01").cast("date")) % 7).alias(
            "dow"
        ),
    )
    seas = det.groupBy("dow").agg(
        F.expr("sum(det_micro) div count(*)").alias("seasonal_micro")
    )
    return det.join(F.broadcast(seas), "dow").select(
        "day",
        F.col("v").alias("v_cents"),
        "trend_micro",
        "seasonal_micro",
        (F.col("det_micro") - F.col("seasonal_micro")).alias("resid_micro"),
    )


@register(
    "bandit_replay_events",
    """
    WITH logged AS (
      SELECT user_id % 3 AS segment, event_type AS arm,
             CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS reward,
             ts
      FROM events
    ),
    train AS (
      SELECT segment, arm, sum(reward) AS sr, count(*) AS n
      FROM logged WHERE ts < TIMESTAMP '2024-01-21 00:00:00'
      GROUP BY 1, 2
    ),
    policy AS (
      SELECT segment, arm AS chosen FROM (
        SELECT segment, arm,
               row_number() OVER (PARTITION BY segment
                                  ORDER BY sr * 1000000 // n DESC, arm) AS rn
        FROM train
      ) WHERE rn = 1
    ),
    test AS (
      SELECT l.segment, l.arm, l.reward, p.chosen
      FROM logged l JOIN policy p USING (segment)
      WHERE l.ts >= TIMESTAMP '2024-01-21 00:00:00'
    )
    SELECT segment, any_value(chosen) AS chosen_arm,
           count(*) AS n_test,
           CAST(sum(CASE WHEN arm = chosen THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matched,
           CAST(CASE WHEN sum(CASE WHEN arm = chosen THEN 1 ELSE 0 END) > 0
                THEN sum(CASE WHEN arm = chosen THEN reward ELSE 0 END)
                     * 1000000
                     // sum(CASE WHEN arm = chosen THEN 1 ELSE 0 END)
           END AS BIGINT) AS replay_value_micro
    FROM test GROUP BY segment
    """,
)
def bandit_replay_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline policy evaluation by REPLAY (Li et al. 2011): the greedy
    per-segment policy is fit on the first 20 days (argmax mean reward
    in exact micro-units, deterministic ties), then evaluated on later
    traffic using only the logged events whose action matches the
    policy's choice — the unbiased counterfactual estimate when logging
    is uniform. Everything is exact integer arithmetic with guarded
    division; two bounded (segment x arm) aggs plus one broadcast
    policy join."""
    ev = _t(spark, sf_dir, "events")
    logged = ev.select(
        (F.col("user_id") % 3).alias("segment"),
        F.col("event_type").alias("arm"),
        grid(F.coalesce("value", F.lit(0.0)), CENTS).alias("reward"),
        "ts",
    )
    split = F.lit("2024-01-21 00:00:00").cast("timestamp")
    train = (
        logged.filter(F.col("ts") < split)
        .groupBy("segment", "arm")
        .agg(F.sum("reward").alias("sr"), F.count(F.lit(1)).alias("n"))
    )
    rn = Window.partitionBy("segment").orderBy(
        F.expr("sr * 1000000 div n").desc(), "arm"
    )
    policy = (
        train.withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select("segment", F.col("arm").alias("chosen"))
    )
    test = logged.filter(F.col("ts") >= split).join(
        F.broadcast(policy), "segment"
    )
    matched = F.sum(F.when(F.col("arm") == F.col("chosen"), 1).otherwise(0))
    return test.groupBy("segment").agg(
        F.any_value(F.col("chosen")).alias("chosen_arm"),
        F.count(F.lit(1)).alias("n_test"),
        matched.cast("long").alias("n_matched"),
        F.when(
            matched > 0,
            F.expr(
                "sum(CASE WHEN arm = chosen THEN reward ELSE 0 END) * "
                "1000000 div sum(CASE WHEN arm = chosen THEN 1 ELSE 0 END)"
            ),
        ).alias("replay_value_micro"),
    )


@register(
    "skyline_parts",
    """
    WITH p AS (
      SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
             p_size
      FROM part
    )
    SELECT p_partkey, cents, p_size
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.cents <= a.cents AND b.p_size <= a.p_size
        AND (b.cents < a.cents OR b.p_size < a.p_size)
    )
    """,
)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier: no other part is both cheaper and
    smaller) WITHOUT the quadratic dominance test: group to one
    min-size row per distinct price (partial agg), then a strict-
    preceding running min over the price-ordered group table — a part
    is on the frontier iff its price group's min size beats every
    cheaper group's. The window runs over DISTINCT PRICES (the cents
    grid — domain-bounded, never row-proportional; the bound is
    EXECUTABLE via max_price_groups, same guard discipline as
    chi_square). The oracle is the INDEPENDENT quadratic NOT EXISTS
    dominance definition, so the linear-pass rewrite is proven
    equivalent, not assumed."""
    return _skyline_2d(spark, sf_dir)


def _skyline_2d(
    spark: SparkSession, sf_dir: str, max_price_groups: int | None = 1_000_000
) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        grid("p_retailprice", CENTS).alias("cents"),
        "p_size",
    )
    g = p.groupBy("cents").agg(F.min("p_size").alias("_msize"))
    if max_price_groups is not None:
        g = materialize(g)
        n = g.limit(max_price_groups + 1).count()
        if n > max_price_groups:
            raise ValueError(
                f"skyline price grid has > {max_price_groups} distinct "
                "prices; the single-partition running-min window is no "
                "longer safe — coarsen the price quantization or raise "
                "max_price_groups deliberately"
            )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    sky_prices = g.select(
        "cents", "_msize", F.min("_msize").over(w).alias("_prev")
    ).filter(F.col("_prev").isNull() | (F.col("_msize") < F.col("_prev")))
    return (
        p.join(F.broadcast(sky_prices), "cents")
        .filter(F.col("p_size") == F.col("_msize"))
        .select("p_partkey", "cents", "p_size")
    )


def _feistel_sql(rounds: int = 3) -> str:
    """Unrolled Feistel rounds in SQL (md5-derived 16-bit round
    function), mirroring the Spark expression chain bit for bit."""
    body = "SELECT c_custkey, c_custkey // 65536 AS l, c_custkey % 65536 AS r FROM customer"
    parts = [f"WITH f0 AS ({body})"]
    for i in range(rounds):
        parts.append(f""",
    f{i + 1} AS (
      SELECT c_custkey, r AS l,
             xor(l, ('0x' || substr(md5(CAST(r AS VARCHAR) || ':{i + 1}'),
                                    1, 4))::BIGINT) AS r
      FROM f{i}
    )""")
    parts.append(f"""
    SELECT c_custkey, l * 65536 + r AS pseudo_id FROM f{rounds}
    """)
    return "".join(parts)


@register("feistel_pseudonymize_customers", _feistel_sql(3))
def feistel_pseudonymize_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-preserving pseudonymization: a 3-round Feistel network on
    the 32-bit key space with an md5-derived 16-bit round function —
    deterministic, collision-free BY CONSTRUCTION (Feistel is a
    bijection on the domain regardless of the round function), and
    reversible by running the rounds backwards (proven in tests). The
    privacy-ops primitive for releasing joinable-but-opaque ids:
    unlike hashing, no birthday collisions; unlike a mapping table, no
    state to store or shuffle. Pure codegen expressions; production
    swaps the public md5-of-key round function for a keyed secret."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    l_col = F.expr("c_custkey div 65536")
    r_col = F.col("c_custkey") % 65536
    df = c.select("c_custkey", l_col.alias("l"), r_col.alias("r"))
    for i in range(1, 4):
        f = F.conv(
            F.substring(
                F.md5(F.concat(F.col("r").cast("string"), F.lit(f":{i}"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        df = df.select(
            "c_custkey",
            F.col("r").alias("l"),
            F.col("l").bitwiseXOR(f).alias("r"),
        )
    return df.select(
        "c_custkey", (F.col("l") * 65536 + F.col("r")).alias("pseudo_id")
    )


@register(
    "bitmap_yearly_actives",
    """
    WITH act AS (
      SELECT DISTINCT CAST(extract(year FROM o_orderdate) AS INT) AS y,
             o_custkey AS c
      FROM orders
    ),
    pairs AS (
      SELECT a.y AS y1, b.y AS y2, count(*) AS n_both
      FROM act a JOIN act b ON a.c = b.c AND a.y < b.y
      GROUP BY 1, 2
    ),
    singles AS (SELECT y, count(*) AS n FROM act GROUP BY y)
    SELECT p.y1, p.y2, s1.n AS n_y1, s2.n AS n_y2, p.n_both
    FROM pairs p JOIN singles s1 ON s1.y = p.y1
                 JOIN singles s2 ON s2.y = p.y2
    """,
)
def bitmap_yearly_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix via BITMAP INDEXES: each year's active
    customers compress to one 63-bit word per key block (bit_or
    partial agg), and every pairwise intersection is then
    sum(bit_count(wa & wb)) over a block-aligned join of the tiny word
    tables — the roaring-bitmap trick relationally: overlap counts for
    ALL year pairs without ever joining or shuffling the underlying
    membership lists again. The oracle computes the same counts by the
    INDEPENDENT distinct-join definition, proving the bitmap algebra
    correct rather than assuming it."""
    o = _t(spark, sf_dir, "orders")
    act = o.select(
        F.year("o_orderdate").cast("int").alias("y"),
        F.col("o_custkey").alias("c"),
    ).distinct()
    words = act.groupBy(
        "y", F.expr("c div 63").alias("blk")
    ).agg(
        F.expr("bit_or(shiftleft(cast(1 as bigint), cast(c % 63 as int)))")
        .alias("w"),
        F.count(F.lit(1)).alias("n"),
    )
    singles = words.groupBy("y").agg(F.sum("n").alias("n_single"))
    a = words.select(
        F.col("y").alias("y1"), "blk", F.col("w").alias("wa")
    )
    b = words.select(
        F.col("y").alias("y2"), "blk", F.col("w").alias("wb")
    )
    pairs = (
        a.join(b, ["blk"])
        .filter(F.col("y1") < F.col("y2"))
        .groupBy("y1", "y2")
        .agg(
            F.sum(F.bit_count(F.expr("wa & wb"))).cast("long").alias("n_both")
        )
    )
    s1 = singles.select(F.col("y").alias("y1"), F.col("n_single").alias("n_y1"))
    s2 = singles.select(F.col("y").alias("y2"), F.col("n_single").alias("n_y2"))
    return pairs.join(F.broadcast(s1), "y1").join(F.broadcast(s2), "y2").select(
        "y1", "y2", "n_y1", "n_y2", "n_both"
    )


# ---------------------------------------------------------------------------
# Round 5, batch 2: Bloom-filter semi-join audit, Z-order layout advisor,
# grouped ranking metrics (NDCG/MAP/MRR)
# ---------------------------------------------------------------------------


@register(
    "bloom_semijoin_orders",
    """
    WITH dim AS (
      SELECT DISTINCT c_custkey FROM customer
      WHERE c_acctbal > 5000 AND c_nationkey < 10
    ),
    pos AS (
      SELECT c_custkey,
             ('0x' || substr(md5('b' || s.i || '|'
                                 || CAST(c_custkey AS VARCHAR)), 1, 15)
             )::BIGINT % 4096 AS p
      FROM dim CROSS JOIN range(0, 4) s(i)
    ),
    words AS (
      SELECT p // 32 AS word_idx,
             CAST(bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS BIGINT)
               AS word
      FROM pos GROUP BY 1
    ),
    probe AS (
      SELECT o.o_orderkey, o.o_custkey, o.o_orderpriority,
             ('0x' || substr(md5('b' || s.i || '|'
                                 || CAST(o.o_custkey AS VARCHAR)), 1, 15)
             )::BIGINT % 4096 AS p
      FROM orders o CROSS JOIN range(0, 4) s(i)
    ),
    tested AS (
      SELECT o_orderkey, o_custkey, o_orderpriority,
             min(coalesce((w.word >> CAST(p % 32 AS INT)) & 1, 0))
               AS passed
      FROM probe LEFT JOIN words w ON w.word_idx = p // 32
      GROUP BY 1, 2, 3
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_probed,
           CAST(sum(passed) AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM dim)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_member,
           CAST(sum(CASE WHEN passed = 1 AND o_custkey NOT IN
                              (SELECT c_custkey FROM dim)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
    FROM tested GROUP BY o_orderpriority
    """,
)
def bloom_semijoin_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-join pruning, audited: build a 4096-bit / 4-hash
    filter over a customer segment (operators/bloom.py — salted-md5
    positions, so the filter CONTENT is engine-independent), probe every
    order with a row-local broadcast-map expression (no explode, no
    shuffle on the fact side), and report per-priority pass counts
    beside EXACT membership and the false-positive count. At 100 TB the
    probe prunes the fact scan before the join shuffle; the FP columns
    are the operating-cost readout for sizing m and k. The oracle
    replays positions, packed words, and probes bit-for-bit in SQL."""
    from .operators.bloom import bloom_build, bloom_probe

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    dim = cust.filter(
        (F.col("c_acctbal") > 5000) & (F.col("c_nationkey") < 10)
    ).select("c_custkey")
    filt = bloom_build(dim, "c_custkey", m_bits=4096, k=4)
    probed = bloom_probe(
        orders.select("o_orderkey", "o_custkey", "o_orderpriority"),
        "o_custkey",
        filt,
        m_bits=4096,
        k=4,
    )
    member = dim.distinct().withColumn("_is_member", F.lit(1))
    audited = probed.join(
        F.broadcast(member),
        probed["o_custkey"] == member["c_custkey"],
        "left",
    )
    return audited.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.sum(F.col("maybe_member").cast("long")).alias("n_pass"),
        F.sum(F.coalesce(F.col("_is_member"), F.lit(0)).cast("long")).alias(
            "n_member"
        ),
        F.sum(
            (
                F.col("maybe_member") & F.col("_is_member").isNull()
            ).cast("long")
        ).alias("n_false_pos"),
    )


@register(
    "zorder_advisor_lineitem",
    """
    WITH b AS (
      SELECT l_partkey % 1024 AS xb, l_suppkey % 1024 AS yb
      FROM lineitem
    ),
    z AS (SELECT xb, yb, ((((xb) >> 0) & 1) * 1 + (((yb) >> 0) & 1) * 2 + (((xb) >> 1) & 1) * 4 + (((yb) >> 1) & 1) * 8 + (((xb) >> 2) & 1) * 16 + (((yb) >> 2) & 1) * 32 + (((xb) >> 3) & 1) * 64 + (((yb) >> 3) & 1) * 128 + (((xb) >> 4) & 1) * 256 + (((yb) >> 4) & 1) * 512 + (((xb) >> 5) & 1) * 1024 + (((yb) >> 5) & 1) * 2048 + (((xb) >> 6) & 1) * 4096 + (((yb) >> 6) & 1) * 8192 + (((xb) >> 7) & 1) * 16384 + (((yb) >> 7) & 1) * 32768 + (((xb) >> 8) & 1) * 65536 + (((yb) >> 8) & 1) * 131072 + (((xb) >> 9) & 1) * 262144 + (((yb) >> 9) & 1) * 524288) AS zkey FROM b)
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN xb BETWEEN 96 AND 223
                          AND yb BETWEEN 320 AND 447
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_box,
           CAST(sum(CASE WHEN zkey BETWEEN 144384 AND 187391
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_zrange,
           CAST(sum(CASE WHEN xb BETWEEN 96 AND 223
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_xrange
    FROM z
    """,
)
def zorder_advisor_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout advisor (operators/zorder.py): for the 2-D box
    predicate part-bucket in [96, 223] x supp-bucket in [320, 447],
    count the rows an exact scan, a contiguous Morton-range scan, and a
    linear x-leading sort-key range scan would each read. Morton
    monotonicity makes the single-range bound exact integer arithmetic
    (shift/mask JVM expressions, no UDF); the ratio n_zrange/n_box vs
    n_xrange/n_box is the physical-layout decision number OPTIMIZE
    ZORDER answers at 100 TB. Pairs with sort_key_advisor (1-D runs)."""
    li = _t(spark, sf_dir, "lineitem")
    from .operators.zorder import zorder_advisor

    return zorder_advisor(
        li.select(
            (F.col("l_partkey") % 1024).alias("xb"),
            (F.col("l_suppkey") % 1024).alias("yb"),
        ),
        "xb",
        "yb",
        box=(96, 223, 320, 447),
        bits=10,
    )


@register(
    "ranking_metrics_orders",
    """
    WITH g AS (
      SELECT o_custkey,
             list(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END
                  ORDER BY o_totalprice DESC, o_orderkey) AS rl,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
             CAST(count(*) AS BIGINT) AS n_items
      FROM orders GROUP BY o_custkey
    ),
    pos AS (
      SELECT o_custkey, CAST(t.i AS INT) AS p, rl[CAST(t.i AS INT)] AS r
      FROM g CROSS JOIN range(1, 11) t(i) WHERE t.i <= len(rl)
    ),
    cum AS (
      SELECT o_custkey, p, r,
             sum(r) OVER (PARTITION BY o_custkey ORDER BY p) AS hits
      FROM pos
    ),
    agg AS (
      SELECT o_custkey,
             CAST(coalesce(min(CASE WHEN r = 1 THEN p END), 0) AS BIGINT)
               AS first_rank,
             CAST(sum(r * hits * ([2520, 1260, 840, 630, 504, 420, 360, 315, 280, 252])[p]) AS BIGINT) AS ap_num,
             CAST(sum(r * ([1048576, 661578, 524288, 451597, 405645, 373510, 349525, 330789, 315653, 303106])[p]) AS BIGINT) AS dcg_num
      FROM cum GROUP BY o_custkey
    )
    SELECT g.o_custkey, n_items, n_rel, first_rank, ap_num, dcg_num,
           CAST(CASE WHEN n_rel > 0
                     THEN ([1048576, 1710154, 2234442, 2686039, 3091684, 3465194, 3814719, 4145508, 4461161, 4764267])[CAST(least(n_rel, 10) AS INT)]
                     ELSE 0 END AS BIGINT) AS idcg_num,
           CASE WHEN first_rank > 0
                THEN CAST(1 AS DOUBLE) / first_rank ELSE 0.0 END AS mrr,
           CASE WHEN n_rel > 0
                THEN CAST(ap_num AS DOUBLE)
                     / CAST(least(n_rel, 10) * 2520 AS DOUBLE)
                ELSE 0.0 END AS map_k,
           CASE WHEN n_rel > 0
                THEN CAST(dcg_num AS DOUBLE)
                     / CAST(([1048576, 1710154, 2234442, 2686039, 3091684, 3465194, 3814719, 4145508, 4461161, 4764267])[CAST(least(n_rel, 10) AS INT)]
                            AS DOUBLE)
                ELSE 0.0 END AS ndcg_k
    FROM g JOIN agg USING (o_custkey)
    """,
)
def ranking_metrics_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-10 ranking metrics (functions/rankmetrics.py):
    per customer, orders ranked by price (the "model score") are scored
    against priority relevance — NDCG@10 / MAP@10 / MRR@10 beside their
    integer sufficient statistics (LCM-scaled AP numerator, literal
    dyadic-weight DCG), so every double is a SINGLE division of exact
    integers and the whole row hash-checks cross-engine. Completes the
    eval family next to AUC/GAUC (reference metrics/{auc,gauc}.py).
    One shuffle on the group key; the per-group fold is a bounded JVM
    higher-order expression — no window, no explode, no UDF."""
    from .functions.rankmetrics import ranking_metrics

    o = _t(spark, sf_dir, "orders")
    rel = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return ranking_metrics(
        o,
        "o_custkey",
        score=F.col("o_totalprice"),
        rel=rel,
        tiebreak=F.col("o_orderkey"),
        k=10,
    )


@register(
    "target_encode_binary_custkey",
    """
    WITH y AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    c AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS te_n_cat,
             CAST(sum(y) AS BIGINT) AS te_pos_cat
      FROM y GROUP BY o_custkey
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS nt, CAST(sum(y) AS BIGINT) AS pt
      FROM y
    )
    SELECT o_orderkey, te_n_cat, te_pos_cat,
           CAST((te_pos_cat - y.y) * nt + 20 * pt AS BIGINT) AS te_num,
           CAST((te_n_cat - 1 + 20) * nt AS BIGINT) AS te_den,
           CAST((te_pos_cat - y.y) * nt + 20 * pt AS DOUBLE)
             / CAST((te_n_cat - 1 + 20) * nt AS DOUBLE) AS te
    FROM y JOIN c USING (o_custkey) CROSS JOIN g
    """,
)
def target_encode_binary_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out smoothed target encoding of the high-cardinality
    customer key against urgent-priority labels
    (functions/feature.py::target_encode_loo) — the closed-form sibling
    of the reference's learned embedding lookup for high-cardinality
    categoricals. Integer numerator/denominator emitted beside the
    single-division double, so the whole encode hash-checks
    cross-engine. One map-combined groupBy + a broadcast global + a
    co-partitioned join back — no window, no leakage."""
    from .functions.feature import target_encode_loo

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("long")
        .alias("y"),
    )
    enc = target_encode_loo(o, "o_custkey", "y", alpha=20)
    return enc.select(
        "o_orderkey", "te_n_cat", "te_pos_cat", "te_num", "te_den", "te"
    )


@register(
    "intra_doc_repetition_docs",
    """
    WITH t AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
             list_transform(
               generate_series(1, greatest(len(w) - 1, 0)),
               i -> concat_ws(' ', w[i], w[i + 1])) AS bi,
             list_transform(
               generate_series(1, greatest(len(w) - 2, 0)),
               i -> concat_ws(' ', w[i], w[i + 1], w[i + 2])) AS tri
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(len(bi) AS BIGINT) AS ngram2_total,
           CAST(len(list_distinct(bi)) AS BIGINT) AS ngram2_distinct,
           CAST(len(tri) AS BIGINT) AS ngram3_total,
           CAST(len(list_distinct(tri)) AS BIGINT) AS ngram3_distinct,
           CASE WHEN len(tri) > 0
                THEN CAST(len(tri) - len(list_distinct(tri)) AS DOUBLE)
                     / CAST(len(tri) AS DOUBLE)
                ELSE 0.0 END AS dup3_frac
    FROM g
    """,
)
def intra_doc_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition filter
    (operators/text.py::ngram_repetition): per doc, total vs distinct
    word 2-/3-gram counts and the duplicate-trigram fraction — the
    standard LLM-corpus quality rule for boilerplate/spam ("fraction of
    characters in duplicate n-grams", Rae et al. 2021 §A1.1), here in
    exact integers with a single-division fraction. Expression-only
    shingling (the token array bound once by operators/text.py::_let,
    no explode, no shuffle); the scan is the whole cost at 100 TB."""
    from .operators.text import ngram_repetition, token_count

    docs = _t(spark, sf_dir, "documents")
    bi = ngram_repetition("text", 2)
    tri = ngram_repetition("text", 3)
    tri_total = tri["ngram3_total"]
    tri_distinct = tri["ngram3_distinct"]
    return docs.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        bi["ngram2_total"].alias("ngram2_total"),
        bi["ngram2_distinct"].alias("ngram2_distinct"),
        tri_total.alias("ngram3_total"),
        tri_distinct.alias("ngram3_distinct"),
        F.when(
            tri_total > 0,
            (tri_total - tri_distinct).cast("double")
            / tri_total.cast("double"),
        )
        .otherwise(0.0)
        .alias("dup3_frac"),
    )


@register(
    "join_cardinality_advisor",
    """
    WITH pairs AS (
      SELECT 'orders_lineitem' AS join_name,
             (SELECT count(*) FROM orders) AS n_left,
             (SELECT count(*) FROM lineitem) AS n_right,
             (SELECT count(DISTINCT o_orderkey) FROM orders) AS ndv_left,
             (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS ndv_right,
             (SELECT sum(c1 * c2) FROM
                (SELECT o_orderkey AS k, count(*) AS c1 FROM orders
                 GROUP BY 1) a
                JOIN
                (SELECT l_orderkey AS k, count(*) AS c2 FROM lineitem
                 GROUP BY 1) b USING (k)) AS true_rows
      UNION ALL
      SELECT 'part_lineitem',
             (SELECT count(*) FROM part),
             (SELECT count(*) FROM lineitem),
             (SELECT count(DISTINCT p_partkey) FROM part),
             (SELECT count(DISTINCT l_partkey) FROM lineitem),
             (SELECT sum(c1 * c2) FROM
                (SELECT p_partkey AS k, count(*) AS c1 FROM part
                 GROUP BY 1) a
                JOIN
                (SELECT l_partkey AS k, count(*) AS c2 FROM lineitem
                 GROUP BY 1) b USING (k))
      UNION ALL
      SELECT 'supplier_lineitem',
             (SELECT count(*) FROM supplier),
             (SELECT count(*) FROM lineitem),
             (SELECT count(DISTINCT s_suppkey) FROM supplier),
             (SELECT count(DISTINCT l_suppkey) FROM lineitem),
             (SELECT sum(c1 * c2) FROM
                (SELECT s_suppkey AS k, count(*) AS c1 FROM supplier
                 GROUP BY 1) a
                JOIN
                (SELECT l_suppkey AS k, count(*) AS c2 FROM lineitem
                 GROUP BY 1) b USING (k))
    )
    SELECT join_name,
           CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right,
           CAST(ndv_left AS BIGINT) AS ndv_left,
           CAST(ndv_right AS BIGINT) AS ndv_right,
           CAST(n_left * n_right AS DOUBLE)
             / CAST(greatest(ndv_left, ndv_right) AS DOUBLE) AS est_rows,
           CAST(true_rows AS BIGINT) AS true_rows
    FROM pairs
    """,
)
def join_cardinality_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation audit — the optimizer-statistics readout a
    physical designer runs before choosing join strategies at 100 TB:
    for three TPC-H join keys, the textbook containment estimate
    |L><R| ~ n_l * n_r / max(ndv_l, ndv_r) (System R / Selinger 1979)
    beside the EXACT join cardinality (sum over keys of count products
    — computed from per-key count tables, never materializing the
    join). All counts exact integers; the estimate is one division, so
    every row hash-checks. At scale the same plan runs with
    approx_count_distinct and sampled count tables; exact values keep
    the oracle gate meaningful at test SF."""

    def one(name, left, lkey, right, rkey):
        lc = left.groupBy(F.col(lkey).alias("k")).agg(
            F.count(F.lit(1)).alias("c1")
        )
        rc = right.groupBy(F.col(rkey).alias("k")).agg(
            F.count(F.lit(1)).alias("c2")
        )
        truth = lc.join(rc, "k").agg(
            F.sum(F.col("c1") * F.col("c2")).alias("true_rows")
        )
        stats = left.agg(
            F.count(F.lit(1)).alias("n_left"),
            F.countDistinct(lkey).alias("ndv_left"),
        ).crossJoin(
            right.agg(
                F.count(F.lit(1)).alias("n_right"),
                F.countDistinct(rkey).alias("ndv_right"),
            )
        )
        return (
            stats.crossJoin(truth)
            .select(
                F.lit(name).alias("join_name"),
                F.col("n_left").cast("long").alias("n_left"),
                F.col("n_right").cast("long").alias("n_right"),
                F.col("ndv_left").cast("long").alias("ndv_left"),
                F.col("ndv_right").cast("long").alias("ndv_right"),
                (
                    (F.col("n_left") * F.col("n_right")).cast("double")
                    / F.greatest("ndv_left", "ndv_right").cast("double")
                ).alias("est_rows"),
                F.col("true_rows").cast("long").alias("true_rows"),
            )
        )

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    sup = _t(spark, sf_dir, "supplier")
    return (
        one("orders_lineitem", o, "o_orderkey", li, "l_orderkey")
        .unionByName(one("part_lineitem", pt, "p_partkey", li, "l_partkey"))
        .unionByName(
            one("supplier_lineitem", sup, "s_suppkey", li, "l_suppkey")
        )
    )


# ---------------------------------------------------------------------------
# Round-6 additions
# ---------------------------------------------------------------------------


@register(
    "setsim_join_docs",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             toks[x] || ' ' || toks[x+1] || ' ' || toks[x+2] AS tok
      FROM t CROSS JOIN unnest(range(1, greatest(len(toks) - 1, 1))) u(x)
      WHERE len(toks) >= 3
    ),
    sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b USING (tok)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(i AS BIGINT) AS inter_sz,
           CAST(sa.sz + sb.sz - i AS BIGINT) AS union_sz
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE i * 3 >= sa.sz + sb.sz
    """,
)
def setsim_join_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-threshold set-similarity self-join (3-gram shingle Jaccard
    >= 1/2) via PPJoin-style prefix filtering: candidates explode only
    each document's rare-first shingle PREFIX (a (1-tau)-fraction),
    never the full inverted index, and an exact integer verify
    (i*(d+n) >= n*(|A|+|B|)) makes the result EQUAL to brute force —
    which is exactly what the oracle computes (the quadratic SQL is the
    ground truth; the prefix path must match it pair-for-pair). The
    scalable exact companion to the approximate minhash/simhash family;
    see operators/dedup.py::prefix_setsim_join for the completeness
    proof."""
    from .operators.dedup import prefix_setsim_join
    from .operators.text import spread_small_scan, word_shingles

    docs = _t(spark, sf_dir, "documents")
    # spread BEFORE the shingle projection so tokenization parallelizes
    # past the single-file scan task (round-12, guide §2.5)
    sh = spread_small_scan(docs.select("doc_id", "text")).select(
        "doc_id", word_shingles("text", 3).alias("sh")
    )
    return prefix_setsim_join(
        sh, "doc_id", "sh", tau_num=1, tau_den=2
    ).select("id_a", "id_b", "inter_sz", "union_sz")


@register(
    "hyperball_reach_suppliers",
    """
    WITH RECURSIVE e0 AS (
      SELECT DISTINCT o_custkey * 10 AS a, l_suppkey * 10 + 1 AS b
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE (o_custkey + l_suppkey) % 4 = 0
    ),
    edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    ball (v, u, d) AS (
      SELECT id, id, 0 FROM nodes
      UNION
      SELECT bl.v, e.b, bl.d + 1
      FROM ball bl JOIN edges e ON e.a = bl.u
      WHERE bl.d < 2
    ),
    members AS (SELECT DISTINCT v, u FROM ball),
    regs AS (
      SELECT v,
             ('0x' || substr(md5(u::VARCHAR), 1, 2))::INT AS reg,
             ('0x' || substr(md5(u::VARCHAR), 3, 4))::INT AS v16
      FROM members
    ),
    reg_max AS (
      SELECT v, reg,
             max(CASE WHEN v16 = 0 THEN 17
                      ELSE 17 - length(bin(v16)) END) AS rho
      FROM regs GROUP BY v, reg
    )
    SELECT v AS id,
           count(*) AS n_regs,
           CAST(256 - count(*) AS BIGINT) AS zeros,
           CAST(sum(1::BIGINT << (17 - rho))
                + (256 - count(*)) * (1::BIGINT << 17) AS BIGINT)
             AS harmonic_num,
           round((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
                 * 131072.0
                 / CAST(sum(1::BIGINT << (17 - rho))
                        + (256 - count(*)) * (1::BIGINT << 17) AS DOUBLE),
                 4) AS raw_est
    FROM reg_max GROUP BY v
    """,
)
def hyperball_reach_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall 2-hop neighborhood sizes on the (sparsified)
    customer-supplier co-purchase graph: per node, the estimated count
    of nodes within 2 hops, via engine-replayable md5 HLL registers
    (operators/graph.py::hyperball_reach — Boldi-Vigna '11). The oracle
    computes the EXACT recursive-CTE ball and replays every register
    bit from md5, so the approximate estimator is hash-verified
    end-to-end (registers, integer harmonic numerator, and the
    rational-arithmetic double estimate all bit-identical — the same
    dyadic-rational argument as mau_hll_events). Scale: state is <= 256
    register rows per node no matter how large the balls get — the
    neighborhood-function primitive that exact BFS ball
    materialization (sum-of-ball-sizes state) cannot provide at graph
    scale."""
    from .operators.graph import hyperball_reach

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter((F.col("o_custkey") + F.col("l_suppkey")) % 4 == 0)
        .select(
            (F.col("o_custkey") * 10).alias("id_a"),
            (F.col("l_suppkey") * 10 + 1).alias("id_b"),
        )
        .distinct()
    )
    return hyperball_reach(edges, "id_a", "id_b", k=2, directed=False)


# Shared by mannwhitney_events (one-shot) and mwu_incremental_events
# (two merged partial states): the oracle is the BATCH statistic, so the
# incremental query's hash-match IS the incremental == batch proof.
_MWU_EVENTS_SQL = """
    WITH t AS (
      SELECT event_type AS g,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS isa,
             CAST(round(value * 100) AS BIGINT) AS q
      FROM events WHERE value IS NOT NULL
    ),
    pv AS (
      SELECT g, q, count(*)::BIGINT AS c, sum(isa)::BIGINT AS c1
      FROM t GROUP BY g, q
    ),
    r AS (
      SELECT g, c, c1,
             coalesce(sum(c) OVER (PARTITION BY g ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b
      FROM pv
    ),
    a AS (
      SELECT g,
             CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c - c1) AS BIGINT) AS n2,
             sum(CAST(c1 AS DECIMAL(38,0)) * (2 * b + c + 1)) AS r1x2,
             sum(CAST(c AS DECIMAL(38,0)) * c * c - c) AS ties
      FROM r GROUP BY g
    ),
    s AS (
      SELECT g, n1 AS n_a, n2 AS n_b,
             CAST(r1x2 - CAST(n1 * (n1 + 1) AS DECIMAL(38,0)) AS BIGINT)
               AS u_x2,
             ties::DOUBLE AS tiesd
      FROM a
    )
    SELECT g AS event_type, n_a, n_b, u_x2,
           CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b > 1
                     AND n_a::DOUBLE * n_b::DOUBLE / 12.0
                         * (((n_a + n_b)::DOUBLE + 1.0)
                            - tiesd / ((n_a + n_b)::DOUBLE
                                       * ((n_a + n_b)::DOUBLE - 1.0))) > 0
                THEN round(
                  ((u_x2::DOUBLE - n_a::DOUBLE * n_b::DOUBLE) / 2.0)
                  / sqrt(n_a::DOUBLE * n_b::DOUBLE / 12.0
                         * (((n_a + n_b)::DOUBLE + 1.0)
                            - tiesd / ((n_a + n_b)::DOUBLE
                                       * ((n_a + n_b)::DOUBLE - 1.0)))),
                  6)
           END AS z
    FROM s
    """


@register("mannwhitney_events", _MWU_EVENTS_SQL)
def mannwhitney_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) test per event type, user-parity
    variant split: the non-parametric A/B readout for heavy-tailed
    `value` where ab_ztest's mean difference misleads. Doubled tie-rank
    arithmetic keeps U an exact BIGINT (no float ranks); the tie-
    corrected z is a fixed scalar expression of those integers, so the
    oracle replays every statistic bit-for-bit (see
    operators/analytics.py::mann_whitney_u for the rank identity)."""
    from .operators.analytics import mann_whitney_u

    ev = _t(spark, sf_dir, "events").withColumn(
        "variant",
        F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B")),
    )
    return mann_whitney_u(ev, "event_type", "variant", "value")


# Shared by ks_test_orders (one-shot) and ks_incremental_orders (merged
# partial states) — same incremental == batch contract as _MWU_EVENTS_SQL.
_KS_ORDERS_SQL = """
    WITH t AS (
      SELECT o_orderpriority AS g,
             CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS isa,
             CAST(round(o_totalprice * 100) AS BIGINT) AS q
      FROM orders
    ),
    pv AS (
      SELECT g, q,
             sum(isa)::BIGINT AS ca,
             sum(1 - isa)::BIGINT AS cb
      FROM t GROUP BY g, q
    ),
    c AS (
      SELECT g,
             sum(ca) OVER (PARTITION BY g ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fa,
             sum(cb) OVER (PARTITION BY g ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fb,
             sum(ca) OVER (PARTITION BY g) AS n1,
             sum(cb) OVER (PARTITION BY g) AS n2
      FROM pv
    ),
    a AS (
      SELECT g,
             CAST(max(n1) AS BIGINT) AS n_a,
             CAST(max(n2) AS BIGINT) AS n_b,
             CAST(max(abs(fa * n2 - fb * n1)) AS BIGINT) AS d_num
      FROM c GROUP BY g
    )
    SELECT g AS o_orderpriority, n_a, n_b, d_num,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
             round(d_num::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE), 6)
           END AS d,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
             round(d_num::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE)
                   * sqrt(n_a::DOUBLE * n_b::DOUBLE
                          / (n_a::DOUBLE + n_b::DOUBLE)), 6)
           END AS lam
    FROM a
    """


@register("ks_test_orders", _KS_ORDERS_SQL)
def ks_test_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance of the order-value
    distribution between customer-parity cohorts, per order priority —
    the whole-distribution shift detector (vs mean-only ab_ztest and
    binned-only psi_orders). The KS numerator max|fa*n_b - fb*n_a| is
    pure BIGINT over the per-group value histogram, so the exact
    distance (and the asymptotic statistic lambda) hash-checks; see
    operators/analytics.py::ks_two_sample for the scale shape."""
    from .operators.analytics import ks_two_sample

    o = _t(spark, sf_dir, "orders").withColumn(
        "variant",
        F.when(F.col("o_custkey") % 2 == 0, F.lit("A")).otherwise(F.lit("B")),
    )
    return ks_two_sample(o, "o_orderpriority", "variant", "o_totalprice")


@register("mwu_incremental_events", _MWU_EVENTS_SQL)
def mwu_incremental_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U via MERGED partial states: the events table is
    split into two disjoint batches (event_id parity — simulating two
    ingest days), each batch compresses to its rank-histogram partial
    (operators/analytics.py::rank_histogram_state, the mergeable
    sufficient statistic), the partials are added with
    merge_rank_histograms, and the merged state finalizes. The oracle
    is the ONE-SHOT batch statistic — the hash-match proves incremental
    == batch exactly, the same partial/merge discipline the reference
    applies to its streaming metrics (hybridbackend metrics/
    auc.py:169-170 merges per-worker partials before the final sweep)."""
    from .operators.analytics import (
        mann_whitney_u_from_state,
        merge_rank_histograms,
        rank_histogram_state,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "variant",
        F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B")),
    )
    batch1 = ev.filter(F.col("event_id") % 2 == 0)
    batch2 = ev.filter(F.col("event_id") % 2 != 0)
    s1 = rank_histogram_state(batch1, "event_type", "variant", "value")
    s2 = rank_histogram_state(batch2, "event_type", "variant", "value")
    merged = merge_rank_histograms(s1, s2, "event_type")
    return mann_whitney_u_from_state(merged, "event_type")


@register("ks_incremental_orders", _KS_ORDERS_SQL)
def ks_incremental_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS via merged partial states (orderkey-parity
    batches), finalized from the SAME rank-histogram state family as
    mwu_incremental_events — one partial form serves the whole rank/ECDF
    test family. Oracle = the one-shot batch statistic (incremental ==
    batch, hash-proven)."""
    from .operators.analytics import (
        ks_from_state,
        merge_rank_histograms,
        rank_histogram_state,
    )

    o = _t(spark, sf_dir, "orders").withColumn(
        "variant",
        F.when(F.col("o_custkey") % 2 == 0, F.lit("A")).otherwise(F.lit("B")),
    )
    batch1 = o.filter(F.col("o_orderkey") % 2 == 0)
    batch2 = o.filter(F.col("o_orderkey") % 2 != 0)
    s1 = rank_histogram_state(batch1, "o_orderpriority", "variant", "o_totalprice")
    s2 = rank_histogram_state(batch2, "o_orderpriority", "variant", "o_totalprice")
    merged = merge_rank_histograms(s1, s2, "o_orderpriority")
    return ks_from_state(merged, "o_orderpriority")


def _qnorm_oracle(k: int = 256) -> str:
    """SQL replica of quantile_normalize_events: positional within-slice
    upper tie ranks, dyadic pooled quantile_cont grid (exact on the
    cents grid for power-of-two k), integer index arithmetic."""
    fracs = ", ".join(repr(j / k) for j in range(1, k + 1))
    return f"""
    WITH t AS (
      SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    h AS (SELECT g, v, count(*)::BIGINT AS c FROM t GROUP BY g, v),
    hh AS (
      SELECT g, v, c,
             coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b,
             sum(c) OVER (PARTITION BY g) AS n
      FROM h
    ),
    grid AS (SELECT quantile_cont(v, [{fracs}]) AS gq FROM t),
    r AS (
      SELECT t.g, t.v,
             CAST(least({k}, ((hh.b + hh.c) * {k} + hh.n - 1) // hh.n)
                  AS INT) AS idx
      FROM t JOIN hh ON hh.g = t.g AND hh.v = t.v
    )
    SELECT g AS event_type, count(*)::BIGINT AS n,
           CAST(sum(v) AS BIGINT) AS sum_raw_cents,
           CAST(sum(CAST(round(gq[idx]) AS BIGINT)) AS BIGINT)
             AS sum_norm_cents
    FROM r, grid GROUP BY g
    """


@register("quantile_normalize_events", _qnorm_oracle())
def quantile_normalize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of event values: every
    event type's value distribution is mapped onto the pooled
    distribution via positional within-slice ranks and a 256-point
    dyadic pooled quantile grid (exact interpolation on the cents grid
    — the equidepth argument), then summarized per type as exact raw
    vs normalized cent sums. After the transform all types share one
    marginal — the batch-effect correction for cross-slice comparison.
    See operators/analytics.py::quantile_normalize."""
    from .operators.analytics import quantile_normalize

    ev = _t(spark, sf_dir, "events")
    # grid_col carries the interpolated grid value in RAW CENTS, so the
    # integer comparison rounds ONCE (exactly the oracle's round(gq[idx]))
    # instead of round-tripping /100*100 — dyadic interpolation of
    # integer cents frequently lands on exact .5, where the round-trip
    # can sit 1 ulp below the tie and flip the integer.
    out = quantile_normalize(ev, "event_type", "value", k=256, grid_col="_gc")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(grid("value", CENTS))
        .cast("long")
        .alias("sum_raw_cents"),
        F.sum(F.round(F.col("_gc")).cast("long"))
        .cast("long")
        .alias("sum_norm_cents"),
    )


@register(
    "rfm_segments_customers",
    """
    WITH per AS (
      SELECT o_custkey AS c,
             date_diff('day', max(CAST(o_orderdate AS DATE)),
                       (SELECT max(CAST(o_orderdate AS DATE)) FROM orders))
               AS r,
             count(*)::BIGINT AS f,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS m
      FROM orders GROUP BY o_custkey
    ),
    q AS (
      SELECT quantile_cont(r, [0.2, 0.4, 0.6, 0.8]) AS qr,
             quantile_cont(f, [0.2, 0.4, 0.6, 0.8]) AS qf,
             quantile_cont(m, [0.2, 0.4, 0.6, 0.8]) AS qm
      FROM per
    ),
    scored AS (
      SELECT c, m,
             6 - (1 + (CASE WHEN r > qr[1] THEN 1 ELSE 0 END)
                    + (CASE WHEN r > qr[2] THEN 1 ELSE 0 END)
                    + (CASE WHEN r > qr[3] THEN 1 ELSE 0 END)
                    + (CASE WHEN r > qr[4] THEN 1 ELSE 0 END)) AS r_score,
             1 + (CASE WHEN f > qf[1] THEN 1 ELSE 0 END)
               + (CASE WHEN f > qf[2] THEN 1 ELSE 0 END)
               + (CASE WHEN f > qf[3] THEN 1 ELSE 0 END)
               + (CASE WHEN f > qf[4] THEN 1 ELSE 0 END) AS f_score,
             1 + (CASE WHEN m > qm[1] THEN 1 ELSE 0 END)
               + (CASE WHEN m > qm[2] THEN 1 ELSE 0 END)
               + (CASE WHEN m > qm[3] THEN 1 ELSE 0 END)
               + (CASE WHEN m > qm[4] THEN 1 ELSE 0 END) AS m_score
      FROM per, q
    )
    SELECT CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           count(*)::BIGINT AS n_customers,
           CAST(sum(m) AS BIGINT) AS sum_cents
    FROM scored GROUP BY 1, 2, 3
    """,
)
def rfm_segments_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer recency (days since last order,
    relative to the corpus max date), frequency, monetary cents;
    quintile scores per dimension from exact interpolated percentile
    boundaries (ONE fused agg broadcast as a row — no ntile, no global
    sort; the equidepth_bins discipline: on integer grids a fractional
    boundary sits strictly between grid points, so bin compares cannot
    differ between engines), recency inverted so 5 = most recent.
    Output is the 125-cell segment table."""
    o = _t(spark, sf_dir, "orders")
    gm = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("_gm"))
    per = (
        o.crossJoin(F.broadcast(gm))
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.datediff(
                F.max("_gm"), F.max(F.col("o_orderdate").cast("date"))
            ).alias("r"),
            F.count(F.lit(1)).alias("f"),
            F.sum(grid("o_totalprice", CENTS)).alias("m"),
        )
    )
    q = per.agg(
        F.expr("percentile(r, array(0.2, 0.4, 0.6, 0.8))").alias("qr"),
        F.expr("percentile(f, array(0.2, 0.4, 0.6, 0.8))").alias("qf"),
        F.expr("percentile(m, array(0.2, 0.4, 0.6, 0.8))").alias("qm"),
    )

    def score(v: str, qcol: str):
        return F.lit(1) + F.aggregate(
            F.col(qcol),
            F.lit(0),
            lambda acc, b: acc + F.when(F.col(v) > b, 1).otherwise(0),
        )

    scored = per.crossJoin(F.broadcast(q)).select(
        "c",
        "m",
        (F.lit(6) - score("r", "qr")).cast("int").alias("r_score"),
        score("f", "qf").cast("int").alias("f_score"),
        score("m", "qm").cast("int").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("m").cast("long").alias("sum_cents"),
    )


@register(
    "kendall_tau_events",
    """
    WITH daily AS (
      SELECT event_type,
             (CAST(ts AS DATE) - DATE '1970-01-01') AS x,
             sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT))::DOUBLE
               / 100.0 AS y
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type AS g,
             CAST(sum(sign(b.y - a.y)) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND a.x < b.x
      GROUP BY 1
    ),
    np AS (SELECT event_type AS g, count(*)::BIGINT AS n FROM daily GROUP BY 1),
    ty AS (
      SELECT g, CAST(sum(t * (t - 1)) AS BIGINT) AS t2y
      FROM (SELECT event_type AS g, y, count(*)::BIGINT AS t
            FROM daily GROUP BY 1, 2) GROUP BY g
    ),
    tx AS (
      SELECT g, CAST(sum(t * (t - 1)) AS BIGINT) AS t2x
      FROM (SELECT event_type AS g, x, count(*)::BIGINT AS t
            FROM daily GROUP BY 1, 2) GROUP BY g
    )
    SELECT np.g AS event_type, n AS n_obs,
           coalesce(s_stat, 0) AS s_stat,
           CASE WHEN n * (n - 1) - t2y > 0 AND n * (n - 1) - t2x > 0
                 AND s_stat IS NOT NULL
           THEN round(2.0 * s_stat::DOUBLE
                      / sqrt((n * (n - 1) - t2y)::DOUBLE
                             * (n * (n - 1) - t2x)::DOUBLE), 6)
           END AS tau_b
    FROM np
    LEFT JOIN s ON s.g = np.g
    JOIN ty ON ty.g = np.g
    JOIN tx ON tx.g = np.g
    """,
)
def kendall_tau_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b of the daily value series per event type (same
    calendar-bounded series as mann_kendall_events): the tie-corrected
    concordance magnitude next to MK's significance z — S and both tie
    sums are shared BIGINT machinery, tau is one division. See
    operators/timeseries.py::kendall_tau_b."""
    from .operators.timeseries import kendall_tau_b

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .alias("x"),
    ).agg(
        grid_sum(F.coalesce(F.col("value"), F.lit(0.0)), CENTS).alias("y")
    )
    return kendall_tau_b(daily, "event_type", "x", "y")


@register(
    "burst_dedup_events",
    """
    WITH e AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events
    ),
    m AS (
      SELECT *,
             CASE WHEN us - lag(us) OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY us, event_id) > 300 * 1000000
                   OR lag(us) OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY us, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_burst
      FROM e
    ),
    b AS (
      SELECT *,
             sum(new_burst) OVER (
               PARTITION BY user_id, event_type
               ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING) AS burst_id
      FROM m
    ),
    kept AS (
      SELECT user_id, event_type, burst_id,
             min(event_id ORDER BY us, event_id) AS keep_id
      FROM b GROUP BY 1, 2, 3
    )
    SELECT e.event_type,
           count(*)::BIGINT AS n_raw,
           (SELECT count(*) FROM kept k WHERE k.event_type = e.event_type)
             ::BIGINT AS n_kept
    FROM e GROUP BY e.event_type
    """,
)
def burst_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry burst deduplication: within each (user, event_type)
    stream, events separated by <= 5 minutes form one burst (the
    sessionize gap rule at MICROsecond precision — no seconds
    truncation) and only the first event of each burst is kept;
    reported as raw-vs-kept counts per type. The batch rendering of
    at-least-once-delivery dedup; gap windows are per-key, never
    global."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    new_burst = F.when(
        gap.isNull() | (gap > 300 * 1_000_000), 1
    ).otherwise(0)
    bursts = ev.withColumn(
        "burst_id",
        F.sum(new_burst).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    kept = bursts.groupBy("user_id", "event_type", "burst_id").agg(
        F.min(F.struct("us", "event_id")).alias("_first")
    )
    raw = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_raw")
    )
    kc = kept.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept")
    )
    return raw.join(kc, "event_type")


@register(
    "did_events",
    """
    WITH rng AS (
      SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
      FROM events
    ),
    t AS (
      SELECT event_type AS g,
             user_id % 2 = 0 AS tr,
             CAST(ts AS DATE) >= lo + CAST((hi - lo) // 2 AS INT) AS po,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events, rng WHERE value IS NOT NULL
    ),
    a AS (
      SELECT g,
             sum(CASE WHEN tr AND po THEN 1 ELSE 0 END)::BIGINT AS n_tp,
             CAST(sum(CASE WHEN tr AND po THEN v ELSE 0 END) AS BIGINT) AS s_tp,
             sum(CASE WHEN tr AND po THEN CAST(v AS DECIMAL(38,0)) * v END) AS q_tp,
             sum(CASE WHEN tr AND NOT po THEN 1 ELSE 0 END)::BIGINT AS n_tq,
             CAST(sum(CASE WHEN tr AND NOT po THEN v ELSE 0 END) AS BIGINT) AS s_tq,
             sum(CASE WHEN tr AND NOT po THEN CAST(v AS DECIMAL(38,0)) * v END) AS q_tq,
             sum(CASE WHEN NOT tr AND po THEN 1 ELSE 0 END)::BIGINT AS n_cp,
             CAST(sum(CASE WHEN NOT tr AND po THEN v ELSE 0 END) AS BIGINT) AS s_cp,
             sum(CASE WHEN NOT tr AND po THEN CAST(v AS DECIMAL(38,0)) * v END) AS q_cp,
             sum(CASE WHEN NOT tr AND NOT po THEN 1 ELSE 0 END)::BIGINT AS n_cq,
             CAST(sum(CASE WHEN NOT tr AND NOT po THEN v ELSE 0 END) AS BIGINT) AS s_cq,
             sum(CASE WHEN NOT tr AND NOT po THEN CAST(v AS DECIMAL(38,0)) * v END) AS q_cq
      FROM t GROUP BY g
    )
    SELECT g AS event_type, n_tp, n_tq, n_cp, n_cq,
           CASE WHEN n_tp > 0 AND n_tq > 0 AND n_cp > 0 AND n_cq > 0 THEN
             round((s_tp::DOUBLE / (n_tp::DOUBLE * 100.0)
                    - s_tq::DOUBLE / (n_tq::DOUBLE * 100.0))
                   - (s_cp::DOUBLE / (n_cp::DOUBLE * 100.0)
                      - s_cq::DOUBLE / (n_cq::DOUBLE * 100.0)), 6)
           END AS did,
           CASE WHEN n_tp > 1 AND n_tq > 1 AND n_cp > 1 AND n_cq > 1
                 AND (q_tp::DOUBLE - s_tp::DOUBLE * s_tp::DOUBLE / n_tp::DOUBLE)
                     / ((n_tp::DOUBLE - 1.0) * n_tp::DOUBLE * 10000.0)
                   + (q_tq::DOUBLE - s_tq::DOUBLE * s_tq::DOUBLE / n_tq::DOUBLE)
                     / ((n_tq::DOUBLE - 1.0) * n_tq::DOUBLE * 10000.0)
                   + (q_cp::DOUBLE - s_cp::DOUBLE * s_cp::DOUBLE / n_cp::DOUBLE)
                     / ((n_cp::DOUBLE - 1.0) * n_cp::DOUBLE * 10000.0)
                   + (q_cq::DOUBLE - s_cq::DOUBLE * s_cq::DOUBLE / n_cq::DOUBLE)
                     / ((n_cq::DOUBLE - 1.0) * n_cq::DOUBLE * 10000.0) > 0
           THEN
             round(sqrt(
               (q_tp::DOUBLE - s_tp::DOUBLE * s_tp::DOUBLE / n_tp::DOUBLE)
                 / ((n_tp::DOUBLE - 1.0) * n_tp::DOUBLE * 10000.0)
               + (q_tq::DOUBLE - s_tq::DOUBLE * s_tq::DOUBLE / n_tq::DOUBLE)
                 / ((n_tq::DOUBLE - 1.0) * n_tq::DOUBLE * 10000.0)
               + (q_cp::DOUBLE - s_cp::DOUBLE * s_cp::DOUBLE / n_cp::DOUBLE)
                 / ((n_cp::DOUBLE - 1.0) * n_cp::DOUBLE * 10000.0)
               + (q_cq::DOUBLE - s_cq::DOUBLE * s_cq::DOUBLE / n_cq::DOUBLE)
                 / ((n_cq::DOUBLE - 1.0) * n_cq::DOUBLE * 10000.0)), 6)
           END AS se,
           CASE WHEN n_tp > 1 AND n_tq > 1 AND n_cp > 1 AND n_cq > 1
                 AND (q_tp::DOUBLE - s_tp::DOUBLE * s_tp::DOUBLE / n_tp::DOUBLE)
                     / ((n_tp::DOUBLE - 1.0) * n_tp::DOUBLE * 10000.0)
                   + (q_tq::DOUBLE - s_tq::DOUBLE * s_tq::DOUBLE / n_tq::DOUBLE)
                     / ((n_tq::DOUBLE - 1.0) * n_tq::DOUBLE * 10000.0)
                   + (q_cp::DOUBLE - s_cp::DOUBLE * s_cp::DOUBLE / n_cp::DOUBLE)
                     / ((n_cp::DOUBLE - 1.0) * n_cp::DOUBLE * 10000.0)
                   + (q_cq::DOUBLE - s_cq::DOUBLE * s_cq::DOUBLE / n_cq::DOUBLE)
                     / ((n_cq::DOUBLE - 1.0) * n_cq::DOUBLE * 10000.0) > 0
           THEN
             round(((s_tp::DOUBLE / (n_tp::DOUBLE * 100.0)
                     - s_tq::DOUBLE / (n_tq::DOUBLE * 100.0))
                    - (s_cp::DOUBLE / (n_cp::DOUBLE * 100.0)
                       - s_cq::DOUBLE / (n_cq::DOUBLE * 100.0)))
                   / sqrt(
               (q_tp::DOUBLE - s_tp::DOUBLE * s_tp::DOUBLE / n_tp::DOUBLE)
                 / ((n_tp::DOUBLE - 1.0) * n_tp::DOUBLE * 10000.0)
               + (q_tq::DOUBLE - s_tq::DOUBLE * s_tq::DOUBLE / n_tq::DOUBLE)
                 / ((n_tq::DOUBLE - 1.0) * n_tq::DOUBLE * 10000.0)
               + (q_cp::DOUBLE - s_cp::DOUBLE * s_cp::DOUBLE / n_cp::DOUBLE)
                 / ((n_cp::DOUBLE - 1.0) * n_cp::DOUBLE * 10000.0)
               + (q_cq::DOUBLE - s_cq::DOUBLE * s_cq::DOUBLE / n_cq::DOUBLE)
                 / ((n_cq::DOUBLE - 1.0) * n_cq::DOUBLE * 10000.0)), 6)
           END AS z
    FROM a
    """,
)
def did_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences per event type: treated = user parity,
    post = second half of the observed date range; one conditional-agg
    pass builds all four (treated x period) cells with exact
    cents/DECIMAL sufficient stats. The quasi-experimental companion to
    ab_ztest/cuped; see operators/analytics.py::diff_in_diff."""
    from .operators.analytics import diff_in_diff

    ev = _t(spark, sf_dir, "events")
    rng = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    base = ev.crossJoin(F.broadcast(rng)).withColumn(
        "_post",
        F.col("ts").cast("date")
        >= F.expr("date_add(lo, cast(datediff(hi, lo) / 2 as int))"),
    )
    return diff_in_diff(
        base,
        "event_type",
        F.col("user_id") % 2 == 0,
        F.col("_post"),
        "value",
    )


@register(
    "incremental_join_orders",
    """
    SELECT c.c_nationkey, o.o_orderpriority,
           count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2
    """,
)
def incremental_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental join-view maintenance proof: orders and customer are
    each split into an 'old' base and an insert delta (orderkey /
    custkey parity — simulating a CDC batch); the maintained view is
    old⋈old plus the three delta joins from
    operators/structural.py::incremental_join_update, then aggregated.
    The oracle is the DIRECT full join — the hash match proves
    dV = dL⋈R ∪ L⋈dR ∪ dL⋈dR reconstructs the view exactly, the
    same incremental == batch contract as merge_partial_aggregates."""
    from .operators.structural import incremental_join_update

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o_old = o.filter(F.col("o_orderkey") % 2 == 0)
    o_new = o.filter(F.col("o_orderkey") % 2 != 0)
    c_old = c.filter(F.col("c_custkey") % 2 == 0)
    c_new = c.filter(F.col("c_custkey") % 2 != 0)
    ol = o_old.withColumnRenamed("o_custkey", "k")
    nl = o_new.withColumnRenamed("o_custkey", "k")
    orr = c_old.withColumnRenamed("c_custkey", "k")
    nr = c_new.withColumnRenamed("c_custkey", "k")
    view_old = ol.join(orr, ["k"])
    delta = incremental_join_update(ol, orr, nl, nr, ["k"])
    view = view_old.unionAll(delta)
    return view.groupBy("c_nationkey", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(grid("o_totalprice", CENTS))
        .cast("long")
        .alias("sum_cents"),
    )


@register(
    "assoc_rules_brands",
    """
    WITH bi AS (
      SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    nb AS (SELECT count(DISTINCT b)::BIGINT AS nb FROM bi),
    ic AS (SELECT i, count(*)::BIGINT AS ci FROM bi GROUP BY i),
    pairs AS (
      SELECT a.i AS ia, c.i AS ib, count(*)::BIGINT AS cab
      FROM bi a JOIN bi c ON c.b = a.b AND a.i < c.i
      GROUP BY a.i, c.i
    ),
    q AS (
      SELECT ia, ib, cab, ca.ci AS ca, cb.ci AS cb, nb.nb
      FROM pairs, nb
      JOIN ic ca ON ca.i = pairs.ia
      JOIN ic cb ON cb.i = pairs.ib
      WHERE cab * 10000 >= 100 * nb.nb
    ),
    d AS (
      SELECT ia AS antecedent, ib AS consequent, cab, ca AS cx, cb AS cy, nb
      FROM q
      UNION ALL
      SELECT ib, ia, cab, cb, ca, nb FROM q
    )
    SELECT antecedent, consequent,
           cab AS n_pair, cx AS n_antecedent, cy AS n_consequent,
           nb AS n_baskets,
           round(cab::DOUBLE / nb::DOUBLE, 6) AS support,
           round(cab::DOUBLE / cx::DOUBLE, 6) AS confidence,
           round(nb::DOUBLE * cab::DOUBLE / (cx::DOUBLE * cy::DOUBLE), 6)
             AS lift
    FROM d
    """,
)
def assoc_rules_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over brands co-purchased per
    order (support >= 1%, both rule directions, exact integer support
    cut): support / confidence / lift from one basket-keyed pair join
    with the quadratic-basket guard. Complements
    association_rules_parts (per-customer PART baskets on the shared
    i2i state, whole-bit lift): this one is the standalone reusable
    operator form — order-level baskets, fractional support threshold,
    double-precision lift, loud basket-size guard. See
    operators/analytics.py::assoc_rules."""
    from .operators.analytics import assoc_rules

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(p, li.l_partkey == p.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    return assoc_rules(baskets, "l_orderkey", "p_brand")


def _ipf_oracle(rounds: int = 3) -> str:
    """SQL replica of ipf_rake_docs: integer-grid raking, ``rounds``
    unrolled round-pairs (row rescale then column rescale), HUGEINT
    integral division matching Spark's DECIMAL(38,0) div exactly."""
    steps = []
    prev = "s0"
    for i in range(1, rounds + 1):
        steps.append(f"""
    rm{i} AS (SELECT r, CAST(sum(wu) AS HUGEINT) AS m FROM {prev} GROUP BY r),
    sa{i} AS (
      SELECT s.r, s.c, s.n,
             (s.wu::HUGEINT * rt.t) // rm{i}.m AS wu
      FROM {prev} s JOIN rm{i} ON rm{i}.r = s.r JOIN rt ON rt.r = s.r
    ),
    cm{i} AS (SELECT c, CAST(sum(wu) AS HUGEINT) AS m FROM sa{i} GROUP BY c),
    s{i} AS (
      SELECT s.r, s.c, s.n,
             (s.wu::HUGEINT * ct.t) // cm{i}.m AS wu
      FROM sa{i} s JOIN cm{i} ON cm{i}.c = s.c JOIN ct ON ct.c = s.c
    )""")
        prev = f"s{i}"
    return f"""
    WITH cells AS (
      SELECT source AS r, lang AS c, count(*)::BIGINT AS n
      FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cells),
    nsrc AS (SELECT count(DISTINCT r)::BIGINT AS k FROM cells),
    rt AS (
      SELECT d.r,
             CAST(round(1e6 * (tot.t::DOUBLE / nsrc.k::DOUBLE)) AS HUGEINT)
               AS t
      FROM (SELECT DISTINCT r FROM cells) d, tot, nsrc
    ),
    ct AS (
      SELECT c, CAST(round(1e6 * sum(n)::DOUBLE) AS HUGEINT) AS t
      FROM cells GROUP BY c
    ),
    s0 AS (SELECT r, c, n, (n::HUGEINT * 1000000) AS wu FROM cells),
    {",".join(steps)},
    rmf AS (SELECT r, CAST(sum(wu) AS HUGEINT) AS m FROM {prev} GROUP BY r),
    cmf AS (SELECT c, CAST(sum(wu) AS HUGEINT) AS m FROM {prev} GROUP BY c)
    SELECT s.r AS source, s.c AS lang, s.n,
           round(s.wu::DOUBLE / (s.n::DOUBLE * 1e6), 6) AS weight,
           round((rmf.m - rt.t)::DOUBLE / 1e6, 6) AS row_err,
           round((cmf.m - ct.t)::DOUBLE / 1e6, 6) AS col_err
    FROM {prev} s
    JOIN rmf ON rmf.r = s.r JOIN cmf ON cmf.c = s.c
    JOIN rt ON rt.r = s.r JOIN ct ON ct.c = s.c
    """


@register("ipf_rake_docs", _ipf_oracle())
def ipf_rake_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raking / IPF reweighting of the (source, lang) corpus table:
    fit per-cell weights so sources are EQUALIZED (row targets =
    total/|sources|) while the language margin stays at its observed
    distribution — the dataset-balancing step of mixture design. Three
    deterministic rounds on an integer weight grid (exact DECIMAL div),
    final margin residuals reported per cell. See
    operators/corpus.py::ipf_rake_weights."""
    from .operators.corpus import ipf_rake_weights

    docs = _t(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").count()
    tot = cells.agg(F.sum("count").alias("_t"))
    nsrc = cells.select("source").distinct().agg(F.count(F.lit(1)).alias("_k"))
    rt = (
        cells.select("source")
        .distinct()
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nsrc))
        .select(
            "source",
            (F.col("_t").cast("double") / F.col("_k").cast("double")).alias(
                "target"
            ),
        )
    )
    ct = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("target")
    )
    return ipf_rake_weights(docs, "source", "lang", rt, ct, rounds=3)


@register(
    "eb_shrink_parts",
    """
    WITH per AS (
      SELECT l_partkey AS k,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS s,
             count(*)::BIGINT AS n
      FROM lineitem GROUP BY l_partkey
    ),
    r AS (
      SELECT k, s, n,
             CAST(round(1e6 * s::DOUBLE / n::DOUBLE) AS BIGINT) AS ru
      FROM per
    ),
    mom AS (
      SELECT count(*)::BIGINT AS m0, CAST(sum(ru) AS BIGINT) AS m1,
             sum(CAST(ru AS DECIMAL(38,0)) * ru) AS m2
      FROM r
    ),
    mv AS (
      SELECT m1::DOUBLE / (m0::DOUBLE * 1e6) AS m,
             m2::DOUBLE / (m0::DOUBLE * 1e12)
             - (m1::DOUBLE / (m0::DOUBLE * 1e6))
               * (m1::DOUBLE / (m0::DOUBLE * 1e6)) AS v
      FROM mom
    ),
    pri AS (
      SELECT CASE WHEN v > 0 AND m * (1 - m) / v - 1 > 0
                  THEN m * (m * (1 - m) / v - 1) END AS alpha,
             CASE WHEN v > 0 AND m * (1 - m) / v - 1 > 0
                  THEN (1 - m) * (m * (1 - m) / v - 1) END AS beta
      FROM mv
    )
    SELECT k AS l_partkey, s AS successes, n AS trials,
           round(ru::DOUBLE / 1e6, 6) AS rate,
           round(alpha, 6) AS alpha,
           round(beta, 6) AS beta,
           round((s::DOUBLE + alpha) / (n::DOUBLE + alpha + beta), 6)
             AS shrunk_rate
    FROM r CROSS JOIN pri
    """,
)
def eb_shrink_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-part return
    rates: method-of-moments Beta prior over micro-quantized observed
    rates (exact BIGINT moment sums), posterior mean per part — the
    small-sample ranking fix. See
    operators/analytics.py::eb_shrink_rates."""
    from .operators.analytics import eb_shrink_rates

    li = _t(spark, sf_dir, "lineitem")
    return eb_shrink_rates(
        li,
        "l_partkey",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0),
        F.lit(1),
    )


@register(
    "logrank_users",
    """
    WITH pu AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS fd, max(CAST(ts AS DATE)) AS ld
      FROM events GROUP BY user_id
    ),
    gm AS (SELECT max(CAST(ts AS DATE)) AS gm FROM events),
    subj AS (
      SELECT user_id % 3 AS g,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
             date_diff('day', fd, ld) AS t,
             CASE WHEN ld < gm - INTERVAL 7 DAY THEN 1 ELSE 0 END AS e
      FROM pu CROSS JOIN gm
    ),
    counts AS (
      SELECT g, t,
             sum(CASE WHEN v = 'A' AND e = 1 THEN 1 ELSE 0 END) AS d1,
             sum(CASE WHEN e = 1 THEN 1 ELSE 0 END) AS d,
             sum(CASE WHEN v = 'A' THEN 1 ELSE 0 END) AS r1,
             count(*) AS r
      FROM subj GROUP BY g, t
    ),
    risk AS (
      SELECT g, t, d1, d,
             sum(r1) OVER (PARTITION BY g ORDER BY t DESC
               ROWS UNBOUNDED PRECEDING) AS n1,
             sum(r) OVER (PARTITION BY g ORDER BY t DESC
               ROWS UNBOUNDED PRECEDING) AS n
      FROM counts
    ),
    terms AS (
      SELECT g, d1,
             CAST(round(1e6 * d::DOUBLE * n1::DOUBLE / n::DOUBLE)
                  AS BIGINT) AS e1u,
             CASE WHEN n > 1 THEN
               CAST(round(1e6 * d::DOUBLE * n1::DOUBLE
                          * (n - n1)::DOUBLE * (n - d)::DOUBLE
                          / (n::DOUBLE * n::DOUBLE * (n::DOUBLE - 1.0)))
                    AS BIGINT)
             ELSE 0 END AS vu
      FROM risk WHERE d > 0
    ),
    a AS (
      SELECT g, CAST(sum(d1) AS BIGINT) AS o1,
             CAST(sum(e1u) AS BIGINT) AS e1u,
             CAST(sum(vu) AS BIGINT) AS vu
      FROM terms GROUP BY g
    ),
    sz AS (
      SELECT g,
             CAST(sum(CASE WHEN v = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN v = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM subj GROUP BY g
    )
    SELECT sz.g, n_a, n_b,
           coalesce(o1, 0) AS o1,
           round(e1u::DOUBLE / 1e6, 6) AS e1,
           round(vu::DOUBLE / 1e6, 6) AS v1,
           CASE WHEN vu > 0 THEN
             round((o1::DOUBLE - e1u::DOUBLE / 1e6)
                   / sqrt(vu::DOUBLE / 1e6), 6) END AS z,
           CASE WHEN vu > 0 THEN
             round(((o1::DOUBLE - e1u::DOUBLE / 1e6)
                    / sqrt(vu::DOUBLE / 1e6))
                   * ((o1::DOUBLE - e1u::DOUBLE / 1e6)
                      / sqrt(vu::DOUBLE / 1e6)), 6) END AS chi2
    FROM sz LEFT JOIN a ON a.g = sz.g
    """,
)
def logrank_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank churn test per user cohort (user_id%3),
    comparing parity variants over user lifetime durations (the same
    subject derivation as kaplan_meier_users / nelson_aalen_users) —
    the survival-curve comparison completing that family. Per-time
    hypergeometric E/V terms micro-quantized before the cross-time
    sums, so O-E and V are engine-exact; see
    operators/analytics.py::logrank_test."""
    from .operators.analytics import logrank_test

    ev = _t(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("fd"),
        F.max(F.col("ts").cast("date")).alias("ld"),
    )
    g = ev.agg(F.max(F.col("ts").cast("date")).alias("gm"))
    subj = pu.crossJoin(F.broadcast(g)).select(
        (F.col("user_id") % 3).alias("g"),
        F.when(F.col("user_id") % 2 == 0, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("v"),
        F.datediff("ld", "fd").alias("t"),
        F.when(F.col("ld") < F.date_sub(F.col("gm"), 7), 1)
        .otherwise(0)
        .alias("e"),
    )
    return logrank_test(subj, "g", "v", "t", "e")


@register(
    "robust_stats_orders",
    """
    WITH t AS (
      SELECT o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
    ),
    h AS (SELECT g, v, count(*)::BIGINT AS c FROM t GROUP BY g, v),
    hh AS (
      SELECT g, v, c,
             coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b,
             sum(c) OVER (PARTITION BY g) AS n
      FROM h
    ),
    med AS (
      SELECT g,
             CAST(sum(v * ((CASE WHEN (n + 1) // 2 > b
                                  AND (n + 1) // 2 <= b + c
                             THEN 1 ELSE 0 END)
                         + (CASE WHEN n // 2 + 1 > b
                                  AND n // 2 + 1 <= b + c
                             THEN 1 ELSE 0 END))) AS BIGINT) AS d2,
             CAST(max(n) AS BIGINT) AS n
      FROM hh GROUP BY g
    ),
    dev AS (
      SELECT hh.g, abs(2 * hh.v - med.d2) AS a, sum(hh.c)::BIGINT AS c
      FROM hh JOIN med ON med.g = hh.g
      GROUP BY hh.g, abs(2 * hh.v - med.d2)
    ),
    dh AS (
      SELECT g, a, c,
             coalesce(sum(c) OVER (PARTITION BY g ORDER BY a
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b,
             sum(c) OVER (PARTITION BY g) AS n
      FROM dev
    ),
    mad2 AS (
      SELECT g,
             CAST(sum(a * ((CASE WHEN (n + 1) // 2 > b
                                  AND (n + 1) // 2 <= b + c
                             THEN 1 ELSE 0 END)
                         + (CASE WHEN n // 2 + 1 > b
                                  AND n // 2 + 1 <= b + c
                             THEN 1 ELSE 0 END))) AS BIGINT) AS m2a
      FROM dh GROUP BY g
    ),
    outs AS (
      SELECT dev.g,
             CAST(sum(CASE WHEN 2 * dev.a > 3 * mad2.m2a
                           THEN dev.c ELSE 0 END) AS BIGINT) AS n_outliers
      FROM dev JOIN mad2 ON mad2.g = dev.g GROUP BY dev.g
    ),
    trim AS (
      SELECT g,
             CAST(sum(greatest(0, least(b + c, n - (n * 10) // 100)
                              - greatest(b, (n * 10) // 100)) * v)
                  AS HUGEINT) AS tsum,
             CAST(sum(greatest(0, least(b + c, n - (n * 10) // 100)
                              - greatest(b, (n * 10) // 100)))
                  AS BIGINT) AS tn
      FROM hh GROUP BY g
    )
    SELECT med.g AS o_orderpriority, med.n,
           round(med.d2::DOUBLE / 200.0, 6) AS median,
           round(mad2.m2a::DOUBLE / 400.0, 6) AS mad,
           CASE WHEN trim.tn > 0 THEN
             round(trim.tsum::DOUBLE / (trim.tn::DOUBLE * 100.0), 6)
           END AS trimmed_mean,
           CAST(med.n - trim.tn AS BIGINT) AS n_trimmed,
           outs.n_outliers
    FROM med
    JOIN mad2 ON mad2.g = med.g
    JOIN outs ON outs.g = med.g
    JOIN trim ON trim.g = med.g
    """,
)
def robust_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location/spread/outlier summary of order value per
    priority: positional dual-rank median, MAD, 10%-per-tail trimmed
    mean, and Hampel |x-med| > 3*MAD outlier counts — all from
    aggregate-sized histograms with doubled-integer medians so every
    statistic is engine-exact; see
    operators/analytics.py::robust_stats."""
    from .operators.analytics import robust_stats

    return robust_stats(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice",
        trim_pct=10, k_mad=3,
    )


@register(
    "spearman_events",
    """
    WITH t AS (
      SELECT event_type AS g,
             CAST(round(value * 100) AS BIGINT) AS x,
             CAST(round(extract(hour FROM ts) * 100) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL
    ),
    hx AS (SELECT g, x, count(*)::BIGINT AS c FROM t GROUP BY g, x),
    rx AS (
      SELECT g, x,
             2 * coalesce(sum(c) OVER (PARTITION BY g ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + c + 1 AS r
      FROM hx
    ),
    hy AS (SELECT g, y, count(*)::BIGINT AS c FROM t GROUP BY g, y),
    ry AS (
      SELECT g, y,
             2 * coalesce(sum(c) OVER (PARTITION BY g ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + c + 1 AS r
      FROM hy
    ),
    j AS (
      SELECT t.g, rx.r AS rxv, ry.r AS ryv
      FROM t JOIN rx ON rx.g = t.g AND rx.x = t.x
             JOIN ry ON ry.g = t.g AND ry.y = t.y
    ),
    a AS (
      SELECT g, count(*)::BIGINT AS n,
             sum(CAST(rxv AS DECIMAL(38,0))) AS sx,
             sum(CAST(ryv AS DECIMAL(38,0))) AS sy,
             sum(CAST(rxv AS DECIMAL(38,0)) * rxv) AS sxx,
             sum(CAST(ryv AS DECIMAL(38,0)) * ryv) AS syy,
             sum(CAST(rxv AS DECIMAL(38,0)) * ryv) AS sxy
      FROM j GROUP BY g
    )
    SELECT g AS event_type, n,
           CASE WHEN n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0
                 AND n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE > 0
           THEN round(
             (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                    * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
             6)
           END AS rho
    FROM a
    """,
)
def spearman_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Spearman rank correlation between event value and
    hour-of-day: doubled tie-average ranks (the mann_whitney_u integer
    identity) attached from per-group value histograms, Pearson over
    those exact integer ranks — no float ranks anywhere; see
    operators/analytics.py::spearman_corr."""
    from .operators.analytics import spearman_corr

    ev = _t(spark, sf_dir, "events").withColumn("hod", F.hour("ts"))
    return spearman_corr(ev, "event_type", "value", "hod")


@register(
    "entity_linkage_customers",
    """
    WITH c AS (
      SELECT c_custkey, c_name, c_nationkey,
             substr(c_name, 1, length(c_name) - 2) AS k1,
             c_nationkey::VARCHAR || ':' ||
               substr(c_name, length(c_name) - 1, 2) AS k2
      FROM customer
    )
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS distance
    FROM c a JOIN c b
      ON a.c_custkey < b.c_custkey AND (a.k1 = b.k1 OR a.k2 = b.k2)
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def entity_linkage_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage over customer names: two blocking
    keys (name minus its last two characters; nation + last-two-char
    tail), pairs within any shared block, exact levenshtein <= 1
    verify. The oracle is the quadratic OR-blocked join the blocked
    plan must equal pair-for-pair (no false positives by construction;
    recall is the union of the two keys in BOTH engines). See
    operators/dedup.py::blocked_levenshtein_pairs."""
    from .operators.dedup import blocked_levenshtein_pairs

    c = _t(spark, sf_dir, "customer")
    return blocked_levenshtein_pairs(
        c,
        "c_custkey",
        "c_name",
        block_keys=[
            F.expr("substr(c_name, 1, length(c_name) - 2)"),
            F.concat_ws(
                ":",
                F.col("c_nationkey").cast("string"),
                F.expr("substr(c_name, length(c_name) - 1, 2)"),
            ),
        ],
        max_distance=1,
    )


@register(
    "quality_classifier_docs",
    f"""
    WITH tk AS (
      SELECT doc_id, u.t
      FROM (SELECT doc_id, {_TOKS_SQL} AS w FROM documents
            WHERE length(trim(text)) > 0) d,
           unnest(w) u(t)
    ),
    b AS (
      SELECT doc_id,
             ('0x' || substr(md5(t || ':1'), 1, 8))::BIGINT % 65536 AS b
      FROM tk
    ),
    w AS (
      SELECT doc_id,
             (('0x' || substr(md5('w:' || b::VARCHAR || ':1'), 1, 8))::BIGINT
              % 2001) - 1000 AS w
      FROM b
    )
    SELECT doc_id, count(*)::BIGINT AS n_toks,
           CAST(sum(w) AS BIGINT) AS w_sum,
           round(1.0 / (1.0 + exp(-(CAST(sum(w) AS DOUBLE)
                                    / (count(*)::DOUBLE * 1000.0)))), 6)
             AS score
    FROM w GROUP BY doc_id
    """,
)
def quality_classifier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText/CCNet-style quality-classifier scoring over every
    document: hashed bag-of-words buckets, per-bucket weights, mean
    weight -> sigmoid. Weights are md5-derived integers so the oracle
    replays the full model bit-for-bit; production swaps in trained
    weights as a broadcast table with the identical plan shape. See
    operators/corpus.py::hashed_linear_classifier."""
    from .operators.corpus import hashed_linear_classifier

    return hashed_linear_classifier(_t(spark, sf_dir, "documents"))


@register(
    "distinct_ngrams_docs",
    f"""
    WITH t AS (
      SELECT source, {_TOKS_SQL} AS w FROM documents
      WHERE length(trim(text)) > 0
    ),
    tok AS (SELECT source, u.t FROM t, unnest(w) u(t)),
    ts AS (
      SELECT source, count(*)::BIGINT AS n_tokens,
             count(DISTINCT t)::BIGINT AS n_types
      FROM tok GROUP BY source
    ),
    g AS (
      SELECT source, w[i] || ' ' || w[i + 1] AS gr
      FROM t, unnest(generate_series(1, len(w) - 1)) u(i)
      WHERE len(w) >= 2
    ),
    gs AS (
      SELECT source, count(*)::BIGINT AS n_grams,
             count(DISTINCT gr)::BIGINT AS n_distinct_grams
      FROM g GROUP BY source
    )
    SELECT ts.source, n_tokens, n_types,
           coalesce(n_grams, 0) AS n_grams,
           coalesce(n_distinct_grams, 0) AS n_distinct_grams,
           CASE WHEN n_tokens > 0 THEN
             round(n_types::DOUBLE / n_tokens::DOUBLE, 6) END AS ttr,
           CASE WHEN coalesce(n_grams, 0) > 0 THEN
             round(n_distinct_grams::DOUBLE / n_grams::DOUBLE, 6)
           END AS distinct_n
    FROM ts LEFT JOIN gs USING (source)
    """,
)
def distinct_ngrams_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus diversity: type-token ratio and distinct-2
    (unique bigrams / total bigrams) — the template/boilerplate
    detector a mixture designer reads next to quality scores. Pure
    count arithmetic; see operators/corpus.py::distinct_ngram_diversity."""
    from .operators.corpus import distinct_ngram_diversity

    return distinct_ngram_diversity(
        _t(spark, sf_dir, "documents"), "source", "text", n=2
    )


@register(
    "bh_fdr_events",
    """
    WITH b AS (
      SELECT event_type,
             CAST(floor(extract(hour FROM ts) / 8) AS INT) AS tod,
             count(*)::BIGINT AS o
      FROM events GROUP BY 1, 2
    ),
    x AS (
      SELECT event_type,
             CAST(sum(o) AS BIGINT) AS n,
             CAST(3 * sum(o * o) - sum(o) * sum(o) AS BIGINT) AS xnum
      FROM b GROUP BY event_type
    ),
    p AS (
      SELECT event_type, n,
             round(CAST(xnum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS x2,
             exp(-(CAST(xnum AS DOUBLE) / CAST(n AS DOUBLE)) / 2.0) AS praw
      FROM x
    ),
    r AS (
      SELECT event_type, n, x2, praw,
             row_number() OVER (ORDER BY praw, event_type) AS rank,
             count(*) OVER () AS m
      FROM p
    ),
    f AS (
      SELECT *,
             max(CASE WHEN praw * m <= 0.05 * rank THEN rank END) OVER ()
               AS kstar,
             min(praw * m / rank) OVER (ORDER BY rank DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qraw
      FROM r
    )
    SELECT event_type, n, x2,
           round(praw, 6) AS p,
           CAST(rank AS BIGINT) AS rank,
           CAST(m AS BIGINT) AS m,
           coalesce(rank <= kstar, FALSE) AS reject,
           round(least(qraw, 1.0), 6) AS q
    FROM f
    """,
)
def bh_fdr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing control over a per-segment test battery: each
    event type gets a 3-bucket time-of-day uniformity chi-square (df=2,
    so p = exp(-x/2) EXACTLY — no incomplete-gamma needed), then
    Benjamini-Hochberg step-up across the battery (rank window over the
    bounded per-type aggregate; allowlisted global window). The
    statistic numerator 3*sum(o^2) - n^2 is exact BIGINT; see
    operators/analytics.py::bh_fdr."""
    from .operators.analytics import bh_fdr

    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.floor(F.hour("ts") / 8).cast("int").alias("tod")
    ).agg(F.count(F.lit(1)).alias("o"))
    per_type = cells.groupBy("event_type").agg(
        F.sum("o").cast("long").alias("n"),
        (3 * F.sum(F.col("o") * F.col("o")) - F.sum("o") * F.sum("o"))
        .cast("long")
        .alias("xnum"),
    )
    scored = per_type.select(
        "event_type",
        "n",
        F.round(F.col("xnum").cast("double") / F.col("n").cast("double"), 6)
        .alias("x2"),
        F.exp(
            -(F.col("xnum").cast("double") / F.col("n").cast("double")) / 2.0
        ).alias("praw"),
    )
    out = bh_fdr(scored, "event_type", "praw")
    return (
        scored.select("event_type", "n", "x2")
        .join(out.withColumnRenamed("p", "_p6"), "event_type")
        .select(
            "event_type", "n", "x2",
            F.col("_p6").alias("p"), "rank", "m", "reject", "q",
        )
    )


@register(
    "fleiss_kappa_lineitem",
    """
    WITH r AS (
      SELECT o.o_orderpriority AS g, l.l_orderkey AS i,
             l.l_returnflag AS c
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    nic AS (SELECT g, i, c, count(*)::BIGINT AS n FROM r GROUP BY 1, 2, 3),
    itot AS (
      SELECT g, i, sum(n) AS ni, sum(n * n) AS sq FROM nic GROUP BY 1, 2
    ),
    sc AS (
      SELECT nic.g, nic.c, sum(nic.n) AS s
      FROM nic JOIN itot ON itot.g = nic.g AND itot.i = nic.i
      WHERE itot.ni = 4 GROUP BY 1, 2
    ),
    ssq AS (SELECT g, sum(s * s) AS ssq FROM sc GROUP BY g),
    st AS (
      SELECT g,
             sum(CASE WHEN ni = 4 THEN 1 ELSE 0 END)::BIGINT AS n_items,
             sum(CASE WHEN ni <> 4 THEN 1 ELSE 0 END)::BIGINT AS n_excluded,
             sum(CASE WHEN ni = 4 THEN sq END) AS sumsq
      FROM itot GROUP BY g
    )
    SELECT st.g AS o_orderpriority, n_items, n_excluded,
           CASE WHEN n_items > 0 THEN round(
             (sumsq::DOUBLE - n_items::DOUBLE * 4.0)
             / (n_items::DOUBLE * 4.0 * 3.0), 6) END AS p_bar,
           CASE WHEN n_items > 0 THEN round(
             ssq::DOUBLE / (n_items::DOUBLE * 4.0 * n_items::DOUBLE * 4.0),
             6) END AS p_e,
           CASE WHEN n_items > 0 AND
                     ssq::DOUBLE / (n_items::DOUBLE * 4.0
                                    * n_items::DOUBLE * 4.0) <> 1.0
           THEN round(
             ((sumsq::DOUBLE - n_items::DOUBLE * 4.0)
              / (n_items::DOUBLE * 4.0 * 3.0)
              - ssq::DOUBLE / (n_items::DOUBLE * 4.0
                               * n_items::DOUBLE * 4.0))
             / (1.0 - ssq::DOUBLE / (n_items::DOUBLE * 4.0
                                     * n_items::DOUBLE * 4.0)), 6)
           END AS kappa
    FROM st LEFT JOIN ssq ON ssq.g = st.g
    """,
)
def fleiss_kappa_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa per order priority: each order's line items act as
    a 4-rater panel 'rating' the order with a return flag — do the
    lines of an order agree beyond chance? Orders with a line count
    other than 4 are excluded (constant panel size, reported as
    n_excluded). The agreement readout for any labeled training set;
    see operators/analytics.py::fleiss_kappa."""
    from .operators.analytics import fleiss_kappa

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    rated = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority", "l_orderkey", "l_returnflag"
    )
    return fleiss_kappa(
        rated, "o_orderpriority", "l_orderkey", "l_returnflag", n_ratings=4
    )


@register(
    "token_budget_mix_docs",
    f"""
    WITH t AS (
      SELECT source, len({_TOKS_SQL}) AS nt FROM documents
      WHERE length(trim(text)) > 0
    ),
    c AS (SELECT source, CAST(sum(nt) AS BIGINT) AS n_tokens
          FROM t GROUP BY source),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM c),
    a0 AS (
      SELECT source, n_tokens, 2 * n_tokens AS cap,
             (total * 50) // 100 AS budget
      FROM c, tot
    ),
    r1m AS (
      SELECT max(budget) AS left1,
             sum(CASE WHEN 0 < cap THEN n_tokens ELSE 0 END) AS umass1
      FROM a0
    ),
    a1 AS (
      SELECT a0.*,
             CASE WHEN 0 < cap AND umass1 > 0
                  THEN least(cap, CAST((left1::HUGEINT * n_tokens)
                                       // umass1 AS BIGINT))
                  ELSE 0 END AS alloc1
      FROM a0, r1m
    ),
    r2m AS (
      SELECT max(budget) - sum(alloc1) AS left2,
             sum(CASE WHEN alloc1 < cap THEN n_tokens ELSE 0 END) AS umass2
      FROM a1
    ),
    a2 AS (
      SELECT a1.*,
             CASE WHEN alloc1 < cap AND umass2 > 0
                  THEN least(cap, alloc1 + CAST((left2::HUGEINT * n_tokens)
                                                // umass2 AS BIGINT))
                  ELSE alloc1 END AS alloc2
      FROM a1, r2m
    ),
    res AS (SELECT max(budget) - sum(alloc2) AS residual FROM a2)
    SELECT source, n_tokens, CAST(cap AS BIGINT) AS cap,
           CAST(alloc2 AS BIGINT) AS alloc,
           CAST(residual AS BIGINT) AS residual
    FROM a2, res
    """,
)
def token_budget_mix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture token allocation per source: 50% of the corpus
    token mass as budget, max 2 epochs per source, two water-filling
    rounds (exact BIGINT arithmetic; residual reported). The static
    data-mixing computation behind every pretraining run; see
    operators/corpus.py::token_budget_mix."""
    from .operators.corpus import token_budget_mix

    docs = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    return token_budget_mix(
        docs, "source", "text",
        budget_frac_pct=50, max_epochs=2, rounds=2,
    )


@register(
    "corpus_spec_curation_docs",
    f"""
    WITH tk AS (
      SELECT doc_id, source IN ('src0', 'src1', 'src2', 'src3', 'src4') AS is_t,
             ('0x' || substr(md5(u.t || ':0'), 1, 8))::BIGINT % 4096 AS b
      FROM (SELECT doc_id, source, {_TOKS_SQL} AS w FROM documents
            WHERE length(trim(text)) > 0) d,
           unnest(w) u(t)
    ),
    lm AS (
      SELECT b, count(*)::BIGINT AS r,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS t
      FROM tk GROUP BY b
    ),
    tot AS (
      SELECT CAST(sum(r) AS BIGINT) AS rr, CAST(sum(t) AS BIGINT) AS tt
      FROM lm
    ),
    wt AS (
      SELECT b,
             (length(bin(t + 1)) - length(bin(r + 1)))
             + (length(bin(rr + 4096)) - length(bin(tt + 4096))) AS w
      FROM lm, tot
    ),
    dsel AS (
      SELECT tk.doc_id FROM tk JOIN wt USING (b)
      GROUP BY tk.doc_id HAVING CAST(sum(w) AS BIGINT) >= -30
    ),
    c1 AS (
      SELECT d.doc_id, d.source, {_TOKS_SQL} AS w
      FROM documents d JOIN dsel ON d.doc_id = dsel.doc_id
    ),
    pos1 AS (
      SELECT doc_id, u.i AS p,
             concat_ws(' ', w[u.i], w[u.i+1], w[u.i+2]) AS g
      FROM c1 CROSS JOIN unnest(generate_series(1, greatest(len(w) - 2, 0)))
           u(i)
      WHERE len(w) >= 3
    ),
    evg AS (
      SELECT DISTINCT concat_ws(' ', w[u.i], w[u.i+1], w[u.i+2]) AS g
      FROM (SELECT {_TOKS_SQL} AS w FROM documents
            WHERE doc_id % 10 = 0 AND length(trim(text)) > 0) e
      CROSS JOIN unnest(generate_series(1, greatest(len(w) - 2, 0))) u(i)
      WHERE len(w) >= 3
    ),
    hits AS (SELECT p.doc_id, p.p FROM pos1 p JOIN evg USING (g)),
    cov AS (
      SELECT doc_id, count(DISTINCT c.cp)::BIGINT AS n_cov
      FROM hits CROSS JOIN unnest(generate_series(hits.p, hits.p + 2)) c(cp)
      GROUP BY doc_id
    ),
    c2 AS (
      SELECT c1.doc_id, c1.source, len(w)::BIGINT AS nt
      FROM c1 LEFT JOIN cov USING (doc_id)
      WHERE round(coalesce(n_cov, 0)::DOUBLE / len(w), 6) <= 0.2
    ),
    cc AS (SELECT source, CAST(sum(nt) AS BIGINT) AS n_tokens
           FROM c2 GROUP BY source),
    ctot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM cc),
    a0 AS (
      SELECT source, n_tokens, 2 * n_tokens AS cap,
             (total * 50) // 100 AS budget
      FROM cc, ctot
    ),
    r1m AS (
      SELECT max(budget) AS left1,
             sum(CASE WHEN 0 < cap THEN n_tokens ELSE 0 END) AS umass1
      FROM a0
    ),
    a1 AS (
      SELECT a0.*,
             CASE WHEN 0 < cap AND umass1 > 0
                  THEN least(cap, CAST((left1::HUGEINT * n_tokens)
                                       // umass1 AS BIGINT))
                  ELSE 0 END AS alloc1
      FROM a0, r1m
    ),
    r2m AS (
      SELECT max(budget) - sum(alloc1) AS left2,
             sum(CASE WHEN alloc1 < cap THEN n_tokens ELSE 0 END) AS umass2
      FROM a1
    ),
    a2 AS (
      SELECT a1.source,
             CASE WHEN alloc1 < cap AND umass2 > 0
                  THEN least(cap, alloc1 + CAST((left2::HUGEINT * n_tokens)
                                                // umass2 AS BIGINT))
                  ELSE alloc1 END AS alloc
      FROM a1, r2m
    ),
    sel AS (
      SELECT doc_id, source,
             sum(nt) OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 8))
                          ::BIGINT % 1000000,
                        doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM c2
    )
    SELECT sel.doc_id, sel.source
    FROM sel JOIN a2 USING (source) WHERE cum <= alloc
    """,
)
def corpus_spec_curation_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end config-driven curation over the r6-r8 additions
    (round-12, verdict item 5b): a three-stage :class:`CorpusSpec` —
    DSIR target-domain selection (src0-4 as the target proxy), span
    decontamination against the eval split (every 10th doc; docs with
    > 20% covered tokens drop, eval-duplicated docs drop naturally at
    100%), then the 50%-budget/2-epoch water-filled token mix APPLIED
    as a deterministic per-source prefix in (md5-bucket, id) order.
    The oracle replays all three stages and their interactions (each
    stage computes over the previous stage's survivors) in one SQL
    pipeline — the whole config-driven path is hash-checked."""
    from .functions.spec import CorpusSpec

    docs = _t(spark, sf_dir, "documents")
    spec = CorpusSpec([
        {"op": "dsir_select", "min_bits": -30,
         "target_expr": "source IN ('src0','src1','src2','src3','src4')"},
        {"op": "decontaminate", "eval": "evalset", "n": 3, "max_frac": 0.2},
        {"op": "token_budget", "group": "source", "budget_frac_pct": 50,
         "max_epochs": 2, "rounds": 2},
    ])
    out = spec.apply(
        docs, "doc_id", "text",
        tables={"evalset": docs.filter(F.col("doc_id") % 10 == 0)},
    )
    return out.select("doc_id", "source")


@register(
    "pmi_bigrams_docs",
    f"""
    WITH t AS (SELECT {_TOKS_SQL} AS w FROM documents),
    p AS (
      SELECT w[i] AS w1, w[i + 1] AS w2
      FROM t, unnest(generate_series(1, len(w) - 1)) u(i)
    ),
    bi AS (SELECT w1, w2, count(*)::BIGINT AS c_xy FROM p GROUP BY w1, w2),
    l AS (SELECT w1, CAST(sum(c_xy) AS BIGINT) AS c_x FROM bi GROUP BY w1),
    r AS (SELECT w2, CAST(sum(c_xy) AS BIGINT) AS c_y FROM bi GROUP BY w2),
    n AS (SELECT CAST(sum(c_xy) AS BIGINT) AS total FROM bi)
    SELECT bi.w1, bi.w2, c_xy, c_x, c_y,
           round(ln((c_xy::DOUBLE * total::DOUBLE)
                    / (c_x::DOUBLE * c_y::DOUBLE)), 6) AS pmi
    FROM bi JOIN l USING (w1) JOIN r USING (w2), n
    WHERE c_xy >= 5
    """,
)
def pmi_bigrams_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: PMI of adjacent token pairs over the corpus
    (Church-Hanks), marginals over bigram first/second positions. Counts
    are gram-keyed partial aggs of the compressed bigram table; each PMI
    is one fixed-shape ln of an integer ratio, replayed exactly by the
    oracle. See operators/corpus.py::pmi_bigrams."""
    from .operators.corpus import pmi_bigrams

    return pmi_bigrams(_t(spark, sf_dir, "documents"), "text", min_count=5)


@register(
    "kneser_ney_bigram_docs",
    f"""
    WITH t AS (SELECT {_TOKS_SQL} AS w FROM documents),
    p AS (
      SELECT w[i] AS w1, w[i + 1] AS w2
      FROM t, unnest(generate_series(1, len(w) - 1)) u(i)
    ),
    bi AS (SELECT w1, w2, count(*)::BIGINT AS c_xy FROM p GROUP BY w1, w2),
    l AS (
      SELECT w1, CAST(sum(c_xy) AS BIGINT) AS c_tot,
             count(*)::BIGINT AS n_follow
      FROM bi GROUP BY w1
    ),
    r AS (SELECT w2, count(*)::BIGINT AS n_prec FROM bi GROUP BY w2),
    b AS (SELECT count(*)::BIGINT AS types FROM bi)
    SELECT bi.w1, bi.w2, c_xy, n_follow, n_prec,
           round((c_xy::DOUBLE - (3::DOUBLE / 4::DOUBLE)) / c_tot::DOUBLE
                 + ((3::DOUBLE / 4::DOUBLE) * n_follow::DOUBLE
                    / c_tot::DOUBLE)
                   * (n_prec::DOUBLE / types::DOUBLE), 6) AS p_kn
    FROM bi JOIN l USING (w1) JOIN r USING (w2), b
    WHERE c_xy >= 5
    """,
)
def kneser_ney_bigram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM over the corpus — the KenLM-
    style smoothing whose perplexity is the standard corpus-quality
    filter; continuation probabilities count bigram TYPES, not tokens.
    All sufficient statistics are exact integers on the bigram-type
    table; the oracle replays the probability expression bit-for-bit.
    See operators/corpus.py::kneser_ney_bigram."""
    from .operators.corpus import kneser_ney_bigram

    return kneser_ney_bigram(
        _t(spark, sf_dir, "documents"), "text", min_count=5
    )


@register(
    "clustering_coeff_parts",
    """
    WITH pp AS (
      SELECT a.l_orderkey AS ok, a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (SELECT pa AS a, pb AS b FROM pp GROUP BY pa, pb
          HAVING count(DISTINCT ok) >= 2),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1 JOIN e e2 ON e2.a = e1.b
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    contrib AS (
      SELECT x AS id FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ),
    tc AS (SELECT id, count(*)::BIGINT AS triangles FROM contrib GROUP BY id),
    deg AS (
      SELECT id, count(*)::BIGINT AS degree
      FROM (SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e)
      GROUP BY id
    )
    SELECT deg.id, deg.degree,
           coalesce(tc.triangles, 0)::BIGINT AS triangles,
           CASE WHEN deg.degree >= 2 THEN
             round(2.0 * coalesce(tc.triangles, 0)::DOUBLE
                   / (deg.degree::DOUBLE * (deg.degree::DOUBLE - 1.0)), 6)
           END AS lcc
    FROM deg LEFT JOIN tc USING (id)
    """,
)
def clustering_coeff_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient of every part in the co-purchase
    graph (edge = two parts co-occurring in >= 2 orders) — the per-node
    refinement of triangle_count_parts: exact integer degree + triangle
    credit from the ordered wedge join, one guarded division. See
    operators/graph.py::clustering_coefficient."""
    from .operators.graph import clustering_coefficient

    pairs = _copurchase_pairs(spark, sf_dir)
    return clustering_coefficient(pairs, "pa", "pb")


@register(
    "dsir_select_docs",
    f"""
    WITH tk AS (
      SELECT doc_id,
             source IN ('src0', 'src1', 'src2', 'src3', 'src4') AS is_t,
             ('0x' || substr(md5(u.t || ':0'), 1, 8))::BIGINT % 4096 AS b
      FROM (SELECT doc_id, source, {_TOKS_SQL} AS w FROM documents
            WHERE length(trim(text)) > 0) d,
           unnest(w) u(t)
    ),
    lm AS (
      SELECT b, count(*)::BIGINT AS r,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS t
      FROM tk GROUP BY b
    ),
    tot AS (
      SELECT CAST(sum(r) AS BIGINT) AS rr, CAST(sum(t) AS BIGINT) AS tt
      FROM lm
    ),
    wt AS (
      SELECT b,
             (length(bin(t + 1)) - length(bin(r + 1)))
             + (length(bin(rr + 4096)) - length(bin(tt + 4096))) AS w
      FROM lm, tot
    )
    SELECT tk.doc_id, count(*)::BIGINT AS n_toks,
           CAST(sum(w) AS BIGINT) AS dsir_bits,
           CAST(sum(w) AS BIGINT) > 0 AS selected
    FROM tk JOIN wt USING (b)
    GROUP BY tk.doc_id
    """,
)
def dsir_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: score every document's hashed-unigram
    stream against a target-domain LM (sources src0-src4 as the target
    proxy) vs the raw-corpus LM, in exact whole-bit integer log2
    (Laplace-smoothed); keep documents more target-like than corpus
    average. The bucket LM is <= 4096 rows broadcast back to the token
    stream — no fact-side shuffle for the weights. Oracle replays the
    md5 bucketing and bit arithmetic exactly, and filters
    empty/whitespace-only documents to match Spark's tokens() ([] on
    empty text, where DuckDB's string_split_regex('') yields ['']).
    See operators/corpus.py::dsir_importance."""
    from .operators.corpus import dsir_importance

    docs = _t(spark, sf_dir, "documents")
    return dsir_importance(
        docs,
        F.col("source").isin("src0", "src1", "src2", "src3", "src4"),
        "doc_id",
        "text",
        n_buckets=4096,
    )


@register(
    "rrf_hybrid_docs",
    f"""
    WITH toked AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    stats AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl FROM toked),
    post AS (
      SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM toked
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
      FROM post WHERE term IN ('hash', 'join', 'spark', 'vector')
      GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    bm AS (
      SELECT t.doc_id,
             round(sum(
               ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (t.tf * 2.2)
               / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl
                                / (s.sum_dl::DOUBLE / s.n_docs)))
             ), 6) AS score
      FROM tf t JOIN dfreq d USING (term), stats s
      GROUP BY t.doc_id
      ORDER BY score DESC, doc_id LIMIT 20
    ),
    bmr AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rank_a
      FROM bm
    ),
    e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
          FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    cs AS (
      SELECT c.vec_id AS doc_id,
             round(
               list_sum(list_transform(list_zip(q.qv, c.v),
                                       p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(q.qv, z -> z * z)))
                  * sqrt(list_sum(list_transform(c.v, z -> z * z)))),
               6) AS cos
      FROM e c, q WHERE c.vec_id != 0
      ORDER BY cos DESC, doc_id LIMIT 20
    ),
    csr AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_b
      FROM cs
    )
    SELECT coalesce(bmr.doc_id, csr.doc_id) AS doc_id, rank_a, rank_b,
           round(coalesce(1.0::DOUBLE / (60.0 + rank_a), 0.0)
                 + coalesce(1.0::DOUBLE / (60.0 + rank_b), 0.0), 6)
             AS rrf_score
    FROM bmr FULL JOIN csr ON bmr.doc_id = csr.doc_id
    """,
)
def rrf_hybrid_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (c=60) of a lexical
    BM25 top-20 (4-term query) and a dense embedding-cosine top-20
    (probe = vec 0, doc_id aligned with vec_id in the synthetic
    corpus). Each ranker reduces to its top-k before fusion; ranks are
    derived from a bounded one-row sorted array (no global window);
    the fused score is two fixed-order terms, replayed exactly by the
    oracle. See operators/ranking.py::rrf_fuse."""
    from .operators.ranking import bm25_topk, rrf_fuse
    from .operators.similarity import cosine_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    bm = bm25_topk(
        docs, "doc_id", "text", ["hash", "join", "spark", "vector"], k=20
    )
    probe = emb.filter(F.col("vec_id") == 0)
    dense = cosine_topk(
        probe, emb, "vec_id", "vec_id", "embedding", "embedding", k=20
    ).select(F.col("neighbor_id").alias("doc_id"), "cos")
    return rrf_fuse(bm, dense, "doc_id", score_a="score", score_b="cos", k=20)


@register(
    "link_predict_parts",
    """
    WITH pp AS (
      SELECT a.l_orderkey AS ok, a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (SELECT pa AS a, pb AS b FROM pp GROUP BY pa, pb
          HAVING count(DISTINCT ok) >= 2),
    adj AS (SELECT a AS z, b AS n FROM e UNION ALL SELECT b AS z, a AS n FROM e),
    deg AS (SELECT n AS id, count(*)::BIGINT AS deg FROM adj GROUP BY n),
    cand AS (
      SELECT l.n AS a, r.n AS b, count(*)::BIGINT AS common
      FROM adj l JOIN adj r ON r.z = l.z AND l.n < r.n
      GROUP BY l.n, r.n
    ),
    ne AS (
      SELECT cand.a, cand.b, cand.common FROM cand
      ANTI JOIN e ON e.a = cand.a AND e.b = cand.b
    )
    SELECT ne.a AS pa, ne.b AS pb, common,
           round(common::DOUBLE / (da.deg + db.deg - common)::DOUBLE, 6)
             AS jaccard,
           CAST(da.deg * db.deg AS BIGINT) AS pref_attach
    FROM ne JOIN deg da ON da.id = ne.a JOIN deg db ON db.id = ne.b
    """,
)
def link_predict_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-purchase graph: for every
    NON-adjacent part pair sharing a neighbor, the three classic
    integer-exact predictors (common neighbors, neighborhood Jaccard,
    preferential attachment). Wedge self-join on the shared-neighbor
    key, existing edges removed by anti-join; Adamic-Adar deliberately
    omitted (float-order-dependent sum). See
    operators/graph.py::link_prediction."""
    from .operators.graph import link_prediction

    pairs = _copurchase_pairs(spark, sf_dir)
    return link_prediction(pairs, "pa", "pb", min_common=1)



def _daily_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, day) revenue as exact-cents dollars — shared by
    the trend family (holt_trend_events / theilsen_trend_events /
    mann_kendall_events) so the series definition cannot drift between
    the smoother, the robust slope, and the significance test. Returns
    (event_type, day DATE, v DOUBLE on the cent grid)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        grid_sum(F.coalesce(F.col("value"), F.lit(0)), CENTS).alias("v")
    )


@register(
    "holt_trend_events",
    # NB: NOT a list_reduce fold — DuckDB 1.0 evaluates struct-literal
    # lambda fields sequentially and mutates the accumulator in place,
    # so the second field's expression sees the FIRST field's NEW value
    # (verified: 3-step Holt fold diverges from the hand recursion by
    # exactly that substitution). The recursive CTE below has clean
    # one-step-at-a-time semantics and replays Spark's aggregate() fold
    # with an identical operation tree.
    """
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT)) AS vc
      FROM events GROUP BY 1, 2
    ),
    ord AS (
      SELECT event_type, vc::DOUBLE / 100.0 AS v,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
      FROM daily
    ),
    n AS (SELECT event_type, max(i)::BIGINT AS n_obs FROM ord GROUP BY 1),
    fold (event_type, i, l, b) AS (
      SELECT event_type, 1, CAST(v AS DOUBLE), CAST(0.0 AS DOUBLE)
      FROM ord WHERE i = 1
      UNION ALL
      SELECT f.event_type, f.i + 1,
             0.5 * o.v + 0.5 * (f.l + f.b),
             0.25 * ((0.5 * o.v + 0.5 * (f.l + f.b)) - f.l) + 0.75 * f.b
      FROM fold f JOIN ord o
        ON o.event_type = f.event_type AND o.i = f.i + 1
    )
    SELECT f.event_type, n.n_obs,
           round(f.l, 6) AS level,
           round(f.b, 6) AS trend,
           round(f.l + 7.0 * f.b, 6) AS forecast
    FROM fold f JOIN n ON n.event_type = f.event_type AND f.i = n.n_obs
    """,
)
def holt_trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing of each event type's daily revenue
    (alpha=1/2, beta=1/4; 7-day-ahead forecast). The fold runs in
    strict day order in both engines with an identical operation tree,
    so level/trend/forecast are bit-checked — a genuinely recursive
    statistic under a full value oracle. Daily pre-aggregation bounds
    each key's series by the calendar. See
    operators/timeseries.py::holt_linear."""
    from .operators.timeseries import holt_linear

    daily = _daily_value_by_type(spark, sf_dir)
    return holt_linear(daily, "event_type", "day", "v", horizon=7)


@register(
    "theilsen_trend_events",
    """
    WITH daily AS (
      SELECT event_type,
             (CAST(ts AS DATE) - DATE '1970-01-01') AS x,
             sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT))::DOUBLE
               / 100.0 AS y
      FROM events GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.event_type AS g,
             (b.y - a.y) / (b.x::DOUBLE - a.x::DOUBLE) AS s
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND a.x < b.x
    ),
    ranked AS (
      SELECT g, s,
             row_number() OVER (PARTITION BY g ORDER BY s) AS rn,
             count(*) OVER (PARTITION BY g) AS n
      FROM slopes
    )
    SELECT g AS event_type,
           CAST(max(n) AS BIGINT) AS n_pairs,
           round(sum(s) / count(*), 6) AS slope
    FROM ranked
    WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
    GROUP BY g
    """,
)
def theilsen_trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust daily-revenue trend per event type (cents/day
    as dollars): median of all pairwise slopes over the calendar-
    bounded daily series, selected positionally so no interpolating
    percentile arithmetic can differ between engines — the
    outlier-robust companion to ols_trend_orders. See
    operators/timeseries.py::theil_sen (quadratic-per-key bound is
    ENFORCED via max_obs)."""
    from .operators.timeseries import theil_sen

    daily = _daily_value_by_type(spark, sf_dir).select(
        "event_type",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).alias("x"),
        F.col("v").alias("y"),
    )
    return theil_sen(daily, "event_type", "x", "y", max_obs=5000)


@register(
    "nelson_aalen_users",
    """
    WITH pu AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS fd, max(CAST(ts AS DATE)) AS ld
      FROM events GROUP BY user_id
    ),
    g AS (SELECT max(CAST(ts AS DATE)) AS gm FROM events),
    subj AS (
      SELECT date_diff('day', fd, ld) AS t,
             CASE WHEN ld < gm - INTERVAL 7 DAY THEN 1 ELSE 0 END AS e
      FROM pu CROSS JOIN g
    ),
    counts AS (
      SELECT t, sum(CASE WHEN e = 1 THEN 1 ELSE 0 END) AS n_events,
             sum(CASE WHEN e = 1 THEN 0 ELSE 1 END) AS n_censored
      FROM subj GROUP BY t
    ),
    risk AS (
      SELECT t, n_events, n_censored,
             sum(n_events + n_censored)
               OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n_risk
      FROM counts
    ),
    f AS (
      SELECT t, n_risk, n_events, n_censored,
             CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE) AS h,
             CAST(n_events AS DOUBLE)
               / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)) AS v
      FROM risk
    )
    SELECT t, CAST(n_risk AS BIGINT) AS n_risk,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_censored AS BIGINT) AS n_censored,
           round((SELECT list_reduce([CAST(0.0 AS DOUBLE)]
                                     || list(h ORDER BY f2.t),
                                     (a, b) -> a + b)
                  FROM f f2 WHERE f2.t <= f.t), 8) AS cum_hazard,
           round((SELECT list_reduce([CAST(0.0 AS DOUBLE)]
                                     || list(v ORDER BY f2.t),
                                     (a, b) -> a + b)
                  FROM f f2 WHERE f2.t <= f.t), 8) AS var_hazard
    FROM f
    """,
)
def nelson_aalen_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard curve over user lifetimes (same
    subjects as kaplan_meier_users): hazard increments d/n and their
    variance d/n^2 summed left-to-right over the time-ordered increment
    list in both engines — every value bit-matches. See
    operators/analytics.py::nelson_aalen."""
    from .operators.analytics import nelson_aalen

    ev = _t(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("fd"),
        F.max(F.col("ts").cast("date")).alias("ld"),
    )
    g = ev.agg(F.max(F.col("ts").cast("date")).alias("gm"))
    subj = pu.crossJoin(F.broadcast(g)).select(
        F.datediff("ld", "fd").alias("t"),
        F.when(F.col("ld") < F.date_sub(F.col("gm"), 7), 1)
        .otherwise(0)
        .alias("e"),
    )
    return nelson_aalen(subj, "t", "e")


@register(
    "mann_kendall_events",
    """
    WITH daily AS (
      SELECT event_type,
             (CAST(ts AS DATE) - DATE '1970-01-01') AS x,
             sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT))::DOUBLE
               / 100.0 AS y
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type AS g,
             CAST(sum(sign(b.y - a.y)) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND a.x < b.x
      GROUP BY 1
    ),
    np AS (SELECT event_type AS g, count(*)::BIGINT AS n FROM daily GROUP BY 1),
    tc AS (
      SELECT g, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tcv
      FROM (SELECT event_type AS g, y, count(*)::BIGINT AS t
            FROM daily GROUP BY 1, 2)
      GROUP BY g
    )
    SELECT np.g AS event_type, n AS n_obs,
           coalesce(s_stat, 0) AS s_stat,
           round((n * (n - 1) * (2 * n + 5) - tcv)::DOUBLE / 18.0, 6)
             AS var_s,
           CASE WHEN n * (n - 1) * (2 * n + 5) - tcv > 0
                     AND s_stat IS NOT NULL THEN
             CASE WHEN s_stat != 0 THEN
               round((s_stat::DOUBLE - sign(s_stat::DOUBLE))
                     / sqrt((n * (n - 1) * (2 * n + 5) - tcv)::DOUBLE
                            / 18.0), 6)
             ELSE 0.0 END
           END AS z
    FROM np JOIN tc USING (g) LEFT JOIN s USING (g)
    """,
)
def mann_kendall_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on each event type's daily
    revenue — the significance companion to theilsen_trend_events: S
    and the tie-corrected variance are pure BIGINT; only the
    continuity-corrected z divides. See
    operators/timeseries.py::mann_kendall."""
    from .operators.timeseries import mann_kendall

    daily = _daily_value_by_type(spark, sf_dir).select(
        "event_type",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).alias("x"),
        F.col("v").alias("y"),
    )
    return mann_kendall(daily, "event_type", "x", "y", max_obs=5000)


@register(
    "image_neardup_mixed",
    """
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 15 = 0),
    m AS (
      SELECT doc_id * 2 + p.p AS media_id, doc_id, p.p AS pert
      FROM ids CROSS JOIN (SELECT unnest(range(0, 2)) AS p) p
    ),
    px AS (
      SELECT m.media_id, y.y, x.x,
             ((x.x * 31 + y.y * 7 + m.doc_id * 11
               + CASE WHEN m.pert = 1 AND x.x = 0 AND y.y = 0
                      THEN 8 ELSE 0 END) % 256)
             + ((x.x * 13 + y.y * 17 + m.doc_id * 5) % 256)
             + ((x.x * 3 + y.y * 29 + m.doc_id * 23) % 256) AS lum3
      FROM m
      CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y
      CROSS JOIN (SELECT unnest(range(0, 8)) AS x) x
    ),
    tot AS (SELECT media_id, sum(lum3) AS total3 FROM px GROUP BY media_id),
    h AS (
      SELECT px.media_id,
             CAST(sum(CASE WHEN px.lum3 * 64 > tot.total3
                                AND px.y * 8 + px.x < 63
                           THEN 1::BIGINT << CAST(px.y * 8 + px.x AS INT)
                           ELSE 0 END)
                  + CASE WHEN max(CASE WHEN px.y * 8 + px.x = 63
                                       AND px.lum3 * 64 > tot.total3
                                  THEN 1 ELSE 0 END) = 1
                         THEN -9223372036854775808 ELSE 0 END
                  AS BIGINT) AS ahash
      FROM px JOIN tot USING (media_id)
      GROUP BY px.media_id
    ),
    banded AS (
      SELECT media_id, ahash, b.b AS band,
             (ahash >> (CAST(b.b AS INT) * 8)) & 255 AS bucket
      FROM h CROSS JOIN (SELECT unnest(range(0, 8)) AS b) b
    ),
    cand AS (
      SELECT DISTINCT a.media_id AS id_a, c.media_id AS id_b,
             a.ahash AS ha, c.ahash AS hb
      FROM banded a JOIN banded c
        ON c.band = a.band AND c.bucket = a.bucket
       AND a.media_id < c.media_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 6
    """,
)
def image_neardup_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate detection end-to-end: every base image
    gets a PLANTED variant (one pixel's red channel +8), both are
    PNG-encoded in the engine, decoded through the codec registry in
    STRICT mode, average-hashed, and joined via the 8x8-bit
    Hamming-band pigeonhole (a pair within 6 < 8 bits MUST share a
    whole band) —
    the multimodal mirror of the simhash family, now under the driver's
    value gate: the oracle recomputes every hash bit, band bucket, and
    exact Hamming distance by pure arithmetic. Candidate volume is
    band-bucket bounded, never all pairs. See
    operators/multimodal.py::image_near_dup_pairs."""
    from .operators.multimodal import image_near_dup_pairs

    media_ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 15 == 0)
        .select(
            F.explode(
                F.array(F.col("doc_id") * 2, F.col("doc_id") * 2 + 1)
            ).alias("media_id")
        )
    )

    def make(m):
        import numpy as np

        from .operators.png import encode_png_rgb

        yy, xx = np.mgrid[0:8, 0:8]
        d, pert = m // 2, m % 2
        r = (xx * 31 + yy * 7 + d * 11) % 256
        if pert:
            r[0, 0] = (r[0, 0] + 8) % 256
        img = np.stack(
            [
                r,
                (xx * 13 + yy * 17 + d * 5) % 256,
                (xx * 3 + yy * 29 + d * 23) % 256,
            ],
            -1,
        ).astype(np.uint8)
        return encode_png_rgb(img)

    media = _media_payloads(media_ids, "media_id", make)
    return image_near_dup_pairs(
        media, "payload", "media_id", max_hamming=6, bands=8, fake=False
    ).select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


@register(
    "gini_by_priority_orders",
    """
    WITH t AS (
      SELECT o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS q
      FROM orders
    ),
    pv AS (SELECT g, q, count(*)::BIGINT AS c FROM t GROUP BY g, q),
    r AS (
      SELECT g, q, c,
             coalesce(sum(c) OVER (PARTITION BY g ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b
      FROM pv
    ),
    a AS (
      SELECT g, CAST(sum(c) AS BIGINT) AS n,
             sum(CAST(c AS DECIMAL(38,0)) * q) AS s0,
             sum(CAST(c AS DECIMAL(38,0)) * (2 * b + c + 1) * q) AS s1x2
      FROM r GROUP BY g
    )
    SELECT g AS o_orderpriority, n, s0::DOUBLE / 100.0 AS total,
           CASE WHEN n > 0 AND s0 != 0 THEN
             round(CAST(s1x2 - CAST(n + 1 AS DECIMAL(38,0)) * s0 AS DOUBLE)
                   / (n::DOUBLE * s0::DOUBLE), 6)
           END AS gini
    FROM a
    """,
)
def gini_by_priority_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of order values within each priority class:
    exact rank-sum identity on the per-group distinct-cents histogram
    (tied blocks contribute c*b + c*(c+1)/2 ranks — tie-rule-free), all
    sufficient statistics DECIMAL-exact, one final division. See
    operators/analytics.py::gini_coefficient."""
    from .operators.analytics import gini_coefficient

    o = _t(spark, sf_dir, "orders")
    return gini_coefficient(o, "o_orderpriority", "o_totalprice")


@register(
    "source_overlap_docs",
    f"""
    WITH t AS (
      SELECT source, {_TOKS_SQL} AS toks FROM documents
      WHERE length(trim(text)) > 0
    ),
    sh AS (
      SELECT DISTINCT source,
             toks[x] || ' ' || toks[x+1] || ' ' || toks[x+2] AS g
      FROM t CROSS JOIN unnest(range(1, greatest(len(toks) - 1, 1))) u(x)
      WHERE len(toks) >= 3
    ),
    na AS (SELECT source, count(*)::BIGINT AS n FROM sh GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS i
      FROM sh a JOIN sh b USING (g)
      WHERE CAST(substr(a.source, 4) AS INT) < CAST(substr(b.source, 4) AS INT)
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, i AS inter_sz,
           CAST(ea.n + eb.n - i AS BIGINT) AS union_sz,
           round(i::DOUBLE / (ea.n + eb.n - i)::DOUBLE, 6) AS jaccard
    FROM inter
    JOIN na ea ON ea.source = src_a
    JOIN na eb ON eb.source = src_b
    """,
)
def source_overlap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: exact 3-gram shingle overlap
    (intersection, union, Jaccard) for every source pair. The engine
    never self-joins shingles across source pairs — each distinct
    shingle collapses to ONE slice bitmask (bit_or partial agg), the
    (mask -> count) table is tiny, and pairs explode from set bits; the
    oracle is the straightforward inverted-index join, so the scalable
    path is verified against the naive one pair-for-pair. See
    operators/corpus.py::slice_overlap_matrix."""
    from .operators.corpus import slice_overlap_matrix

    docs = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    return slice_overlap_matrix(
        docs,
        "source",
        F.substring(F.col("source"), 4, 10).cast("int"),
        "text",
        n=3,
    )


@register(
    "offpolicy_ips_events",
    """
    WITH logs AS (
      SELECT event_type AS a,
             CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS r,
             900 // (1 + ((user_id + length(event_type)) % 5)) AS w60,
             CASE WHEN user_id % 3 = 0 THEN 'click' ELSE 'view' END
               AS pa_adaptive,
             user_id
      FROM events
    ),
    tagged AS (
      SELECT 'always_click' AS policy, a, r, w60, 'click' AS pa FROM logs
      UNION ALL
      SELECT 'always_view', a, r, w60, 'view' FROM logs
      UNION ALL
      SELECT 'adaptive', a, r, w60, pa_adaptive FROM logs
    ),
    agg AS (
      SELECT policy, count(*)::BIGINT AS n,
             sum(CASE WHEN pa = a THEN 1 ELSE 0 END)::BIGINT AS n_matched,
             sum(CASE WHEN pa = a THEN CAST(r * w60 AS DECIMAL(38,0))
                      ELSE CAST(0 AS DECIMAL(38,0)) END) AS num,
             sum(CASE WHEN pa = a THEN CAST(w60 AS DECIMAL(38,0))
                      ELSE CAST(0 AS DECIMAL(38,0)) END) AS den
      FROM tagged GROUP BY policy
    )
    SELECT policy, n, n_matched,
           round(num::DOUBLE / (60.0 * 100.0 * n::DOUBLE), 6) AS ips_value,
           CASE WHEN den != 0 THEN
             round(num::DOUBLE / (den::DOUBLE * 100.0), 6)
           END AS snips_value
    FROM agg
    """,
)
def offpolicy_ips_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counterfactual policy evaluation from logged events: IPS and
    SNIPS values for three fixed target policies (always-click,
    always-view, user-adaptive) under a deterministic 1/15..5/15
    logged-propensity family — 60/p is an exact integer, so all
    numerators and the SNIPS denominator are DECIMAL-exact; one tagged
    explode + a single agg per policy. See
    operators/analytics.py::offpolicy_ips."""
    from .operators.analytics import offpolicy_ips

    ev = _t(spark, sf_dir, "events")
    w60 = 900 / (
        1 + F.pmod(F.col("user_id") + F.length("event_type"), F.lit(5))
    )
    return offpolicy_ips(
        ev,
        "event_type",
        "value",
        w60,
        {
            "always_click": F.lit("click"),
            "always_view": F.lit("view"),
            "adaptive": F.when(
                F.col("user_id") % 3 == 0, F.lit("click")
            ).otherwise(F.lit("view")),
        },
    )


def _textrank_oracle() -> str:
    """Unrolled integer-exact TextRank: the word co-occurrence graph
    (adjacent frequent tokens, canonicalized + symmetrized) pushed
    through the SAME iteration arithmetic as _pagerank_oracle (rank div
    degree, 85/100 integer damping, scale 1e9)."""
    ctes = [
        f"""
        tk AS (
          SELECT doc_id, u.i AS pos, toks[u.i] AS w
          FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) t,
               unnest(range(1, len(toks) + 1)) u(i)
        ),
        vocab AS (SELECT w FROM tk GROUP BY w HAVING count(*) >= 5),
        big AS (
          SELECT DISTINCT least(a.w, b.w) AS a, greatest(a.w, b.w) AS b
          FROM tk a JOIN tk b
            ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
          WHERE a.w != b.w
            AND a.w IN (SELECT w FROM vocab)
            AND b.w IN (SELECT w FROM vocab)
        ),
        sym AS (SELECT a, b FROM big UNION ALL SELECT b, a FROM big),
        deg AS (SELECT a AS s, count(*) AS d FROM sym GROUP BY a),
        nodes AS (SELECT DISTINCT a AS node FROM sym),
        r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes)
        """
    ]
    for i in range(1, _PR_ITER + 1):
        ctes.append(
            f"""
        s{i} AS (SELECT e.b AS node, CAST(sum(r.r // d.d) AS BIGINT) AS m
                 FROM sym e JOIN r{i - 1} r ON r.node = e.a
                            JOIN deg d ON d.s = e.a
                 GROUP BY e.b),
        r{i} AS (SELECT n.node,
                        CAST(150000000 + (85 * coalesce(s.m, 0)) // 100 AS BIGINT) AS r
                 FROM nodes n LEFT JOIN s{i} s ON s.node = n.node)
            """
        )
    return (
        "WITH " + ",".join(ctes)
        + f" SELECT node AS word, r AS rank FROM r{_PR_ITER}"
    )


@register("textrank_keywords_docs", _textrank_oracle())
def textrank_keywords_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scoring (Mihalcea & Tarau '04): PageRank over
    the word co-occurrence graph — nodes are corpus-frequent tokens
    (count >= 5), edges are adjacent-token pairs, symmetrized — using
    the engine's integer-exact pagerank (1e9 scale, 85/100 integer
    damping), so every word's rank is bit-checked by the unrolled SQL
    iterations. A composability showcase: the bigram stream, the
    frequency filter, and the graph kernel are the same primitives as
    pmi_bigrams and pagerank_customer_supplier. Graph size is bounded
    by the frequent vocabulary, never corpus bytes."""
    from .operators.graph import pagerank
    from .operators.text import _bigram_pairs, spread_small_scan, tokens as _tokens

    # spread the single-file corpus before the two tokenize passes
    # (vocab counts + bigram stream) so they parallelize; partitioning
    # only — counts/distinct/integer pagerank are layout-invariant
    docs = spread_small_scan(_t(spark, sf_dir, "documents"))
    vocab = (
        docs.select(F.explode(_tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 5)
        .select("w")
    )
    pairs = _bigram_pairs(docs, "text").filter(
        F.col("_w1") != F.col("_w2")
    )
    edges = (
        pairs.join(
            F.broadcast(vocab.select(F.col("w").alias("_w1"))), "_w1"
        )
        .join(F.broadcast(vocab.select(F.col("w").alias("_w2"))), "_w2")
        .select(
            F.least("_w1", "_w2").alias("a"),
            F.greatest("_w1", "_w2").alias("b"),
        )
        .distinct()
    )
    sym = edges.unionAll(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    return pagerank(sym, "a", "b", iterations=_PR_ITER).select(
        F.col("node").alias("word"), "rank"
    )


@register(
    "hhi_supplier_nation",
    """
    WITH rev AS (
      SELECT s.s_nationkey AS nation, l.l_suppkey AS supp,
             sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                      AS BIGINT)) AS e
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    ),
    agg AS (
      SELECT nation,
             count(*)::BIGINT AS n_suppliers,
             CAST(sum(e) AS BIGINT) AS total,
             sum(CAST(e AS DECIMAL(38,0)) * e) AS sumsq
      FROM rev GROUP BY nation
    )
    SELECT nation, n_suppliers, total::DOUBLE / 100.0 AS total_rev,
           CASE WHEN total != 0 THEN
             round(sumsq::DOUBLE / (total::DOUBLE * total::DOUBLE), 6)
           END AS hhi
    FROM agg
    """,
)
def hhi_supplier_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue within
    each nation — the square-of-shares companion to the Gini rank
    statistic (HHI = sum((e_i/total)^2) = sum(e_i^2)/total^2, so the
    numerator and denominator are DECIMAL-exact integer sums of cents
    and only ONE final division touches floats). Two partial+final
    aggs; nothing wider than the (nation, supplier) revenue table."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cents = F.sum(
        grid(F.col("l_extendedprice") * (1 - F.col("l_discount")), CENTS)
    ).alias("e")
    rev = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("nation"),
            F.col("l_suppkey").alias("supp"),
        )
        .agg(cents)
    )
    dec = lambda c: c.cast("decimal(38,0)")
    agg = rev.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("e").alias("total"),
        F.sum(dec(F.col("e")) * F.col("e")).alias("sumsq"),
    )
    td = F.col("total").cast("double")
    return agg.select(
        "nation",
        F.col("n_suppliers").cast("long").alias("n_suppliers"),
        ungrid(td, CENTS).alias("total_rev"),
        F.when(
            F.col("total") != 0,
            F.round(F.col("sumsq").cast("double") / (td * td), 6),
        ).alias("hhi"),
    )


@register(
    "cmh_test_orders",
    """
    WITH t AS (
      SELECT o_orderpriority AS k,
             CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS isa,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS s
      FROM orders
    ),
    per AS (
      SELECT k,
             count(*)::BIGINT AS n,
             CAST(sum(isa) AS BIGINT) AS n1,
             CAST(sum(s) AS BIGINT) AS m1,
             CAST(sum(isa * s) AS BIGINT) AS a
      FROM t GROUP BY k
    ),
    terms AS (
      SELECT k, a,
             CAST(round(n1::DOUBLE * m1::DOUBLE / n::DOUBLE * 1000000)
                  AS BIGINT) AS e_micro,
             CAST(round(n1::DOUBLE * (n - n1)::DOUBLE * m1::DOUBLE
                        * (n - m1)::DOUBLE
                        / (n::DOUBLE * n::DOUBLE * (n - 1)::DOUBLE)
                        * 1000000) AS BIGINT) AS v_micro
      FROM per WHERE n > 1
    )
    SELECT count(*)::BIGINT AS k_strata,
           CAST(sum(a) AS BIGINT) AS sum_a,
           CAST(sum(e_micro) AS BIGINT) AS sum_e_micro,
           CAST(sum(v_micro) AS BIGINT) AS sum_v_micro,
           CASE WHEN sum(v_micro) > 0 THEN
             round(
               ((sum(a)::DOUBLE * 1000000.0 - sum(e_micro)::DOUBLE)
                / 1000000.0)
               * ((sum(a)::DOUBLE * 1000000.0 - sum(e_micro)::DOUBLE)
                  / 1000000.0)
               / (sum(v_micro)::DOUBLE / 1000000.0), 6)
           END AS cmh
    FROM terms
    """,
)
def cmh_test_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified 2x2 association test: does
    the customer-parity variant shift order-finalization odds, pooled
    ACROSS priority strata (the Simpson's-paradox-safe version of a
    single chi-square; no continuity correction)? Per-stratum E and V
    are fixed scalar expressions of exact integer margins,
    MICRO-QUANTIZED to the 1e-6 grid before the cross-stratum sums
    (the cuped_adjust discipline), so summation order can never flip
    the hash; one conditional-agg pass per stratum, one tiny final
    fold."""
    o = _t(spark, sf_dir, "orders")
    per = o.select(
        F.col("o_orderpriority").alias("k"),
        F.when(F.col("o_custkey") % 2 == 0, 1).otherwise(0).alias("isa"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("s"),
    ).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("isa").alias("n1"),
        F.sum("s").alias("m1"),
        F.sum(F.col("isa") * F.col("s")).alias("a"),
    )
    nd = F.col("n").cast("double")
    n1d = F.col("n1").cast("double")
    m1d = F.col("m1").cast("double")
    e_micro = grid(n1d * m1d / nd, MICRO)
    v_micro = grid(
        n1d
        * (F.col("n") - F.col("n1")).cast("double")
        * m1d
        * (F.col("n") - F.col("m1")).cast("double")
        / (nd * nd * (F.col("n") - 1).cast("double")),
        MICRO,
    )
    terms = per.filter(F.col("n") > 1).select(
        "a", e_micro.alias("e_micro"), v_micro.alias("v_micro")
    )
    agg = terms.agg(
        F.count(F.lit(1)).alias("k_strata"),
        F.sum("a").alias("sum_a"),
        F.sum("e_micro").alias("sum_e_micro"),
        F.sum("v_micro").alias("sum_v_micro"),
    )
    diff = ungrid(
        F.col("sum_a").cast("double") * F.lit(1000000.0)
        - F.col("sum_e_micro").cast("double"),
        MICRO,
    )
    return agg.select(
        F.col("k_strata").cast("long").alias("k_strata"),
        F.col("sum_a").cast("long").alias("sum_a"),
        F.col("sum_e_micro").cast("long").alias("sum_e_micro"),
        F.col("sum_v_micro").cast("long").alias("sum_v_micro"),
        F.when(
            F.col("sum_v_micro") > 0,
            F.round(
                diff * diff
                / ungrid(F.col("sum_v_micro").cast("double"), MICRO),
                6,
            ),
        ).alias("cmh"),
    )


# ---------------------------------------------------------------------------
# Round-8 additions
# ---------------------------------------------------------------------------


@register(
    "dup_ngram_coverage_docs",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(w) - 4, 0)),
               i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])
             ))) AS gram
      FROM t
    ),
    c AS (SELECT gram, count(*)::BIGINT AS nd FROM g GROUP BY gram),
    per AS (
      SELECT doc_id, count(*)::BIGINT AS n_grams,
             sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup
      FROM g JOIN c USING (gram) GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(n_grams, 0) AS n_grams,
           coalesce(n_dup, 0) AS n_dup_grams,
           round(CASE WHEN coalesce(n_grams, 0) > 0
                      THEN coalesce(n_dup, 0)::DOUBLE / n_grams
                      ELSE 0.0 END, 6) AS dup_frac
    FROM (SELECT doc_id FROM documents) d LEFT JOIN per USING (doc_id)
    """,
)
def dup_ngram_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated 5-gram coverage per doc — the
    memorization-risk metric of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"): the fraction of a
    doc's distinct word 5-grams that occur in >= 2 documents. The
    corpus-wide companion to intra_doc_repetition_docs (within-doc);
    docs that survive exact dedup but are template clones light up
    here. Gram-keyed shuffles only (exact-dedup plan class). See
    operators/corpus.py::dup_ngram_coverage."""
    from .operators.corpus import dup_ngram_coverage

    docs = _t(spark, sf_dir, "documents")
    return dup_ngram_coverage(docs, "doc_id", "text", n=5)


@register(
    "uniform_sample_events",
    """
    WITH h AS (
      SELECT event_type, event_id,
             ('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT AS hv
      FROM events
    ),
    r AS (
      SELECT event_type, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY hv, event_id) AS rn
      FROM h
    )
    SELECT event_type, count(*)::BIGINT AS n_sampled,
           CAST(sum(event_id) AS BIGINT) AS sum_sampled_ids
    FROM r WHERE rn <= 100 GROUP BY event_type
    """,
)
def uniform_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k uniform sample per event type by deterministic hash rank
    (the distributed replacement for a per-key reservoir sample: the k
    smallest md5 ranks ARE a uniform k-subset, and the same rows come
    back on every engine and every rerun — reproducible eval
    subsets / debugging samples from a 100 TB fact table).

    Scale path: a hash THRESHOLD pre-filter keeps ~4k expected
    survivors per key before the rank window, so the per-key sort
    never sees the raw fact table — the window input is bounded by
    oversample*k per key, exactness-GUARDED (raises rather than
    silently biasing). See operators/corpus.py::uniform_sample_exact."""
    from .operators.corpus import uniform_sample_exact

    ev = _t(spark, sf_dir, "events").select("event_type", "event_id")
    sel = uniform_sample_exact(ev, "event_type", "event_id", k=100)
    return sel.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum("event_id").cast("long").alias("sum_sampled_ids"),
    )


@register(
    "weighted_quantiles_lineitem",
    """
    WITH h AS (
      SELECT l_returnflag AS g,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wv
      FROM lineitem GROUP BY 1, 2
    ),
    c AS (
      SELECT g, v,
             sum(wv) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(wv) OVER (PARTITION BY g) AS tw
      FROM h
    )
    SELECT g AS l_returnflag,
           CAST(max(tw) AS BIGINT) AS total_weight,
           CAST(min(CASE WHEN 4 * cw >= tw THEN v END) AS DOUBLE) / 100
             AS wp25,
           CAST(min(CASE WHEN 2 * cw >= tw THEN v END) AS DOUBLE) / 100
             AS wp50,
           CAST(min(CASE WHEN 4 * cw >= 3 * tw THEN v END) AS DOUBLE) / 100
             AS wp75
    FROM c GROUP BY g
    """,
)
def weighted_quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted price quartiles per return flag: each
    lineitem row carries l_quantity units, so the weighted median is
    the price of the median UNIT shipped, not the median line. Integer
    cumulative-weight selection on the cents grid — both engines pick
    identical values. See operators/analytics.py::weighted_quantiles."""
    from .operators.analytics import weighted_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return weighted_quantiles(
        li, "l_returnflag", "l_extendedprice", "l_quantity"
    )


@register(
    "ann_recall_lsh_docs",
    f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    exs AS (
      SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id, q.v AS qv, c.v AS cv
      FROM e q, e c WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
    ),
    ex AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY {_COS_SQL} DESC, neighbor_id) AS rnk
        FROM exs
      ) WHERE rnk <= 5
    ),
    b AS (SELECT vec_id, v, {_LSH_TOPK_BUCKET_COLS} FROM e),
    cand AS (
      SELECT DISTINCT q.vec_id AS vec_id, q.v AS qv, c.vec_id AS neighbor_id,
             c.v AS cv
      FROM b q, b c
      WHERE q.vec_id < 10 AND c.vec_id != q.vec_id AND ({_LSH_TOPK_MATCH})
    ),
    ap AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY {_COS_SQL} DESC, neighbor_id) AS rnk
        FROM cand
      ) WHERE rnk <= 5
    )
    SELECT ex.vec_id,
           count(*)::BIGINT AS n_exact,
           sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_hit,
           round(sum(CASE WHEN ap.neighbor_id IS NOT NULL
                          THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS recall
    FROM ex LEFT JOIN ap
      ON ap.vec_id = ex.vec_id AND ap.neighbor_id = ex.neighbor_id
    GROUP BY ex.vec_id
    """,
)
def ann_recall_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN evaluation harness: recall@5 of the sign-LSH index against
    the exact brute-force ground truth, per query vector — the number
    an index owner actually tunes (tables x bits vs recall vs candidate
    cost). Both arms are the already-oracled operators
    (cosine_topk / cosine_topk_lsh with identical plane constants), so
    the RECALL ITSELF is hash-checked cross-engine, not just eyeballed.
    Scale shape: ground truth on a SAMPLE of queries (10 here) is the
    standard recall-evaluation protocol — exact top-k on a bounded
    query set, broadcast against the corpus."""
    from .operators.similarity import cosine_topk, cosine_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(
        q, emb, "vec_id", "vec_id", "embedding", "embedding", k=5
    ).select("vec_id", "neighbor_id")
    approx = cosine_topk_lsh(
        q, emb, "vec_id", "vec_id", "embedding", "embedding",
        k=5, bits=6, n_tables=6,
    ).select("vec_id", F.col("neighbor_id").alias("_an"))
    hit = exact.join(
        approx,
        (exact["vec_id"] == approx["vec_id"])
        & (exact["neighbor_id"] == approx["_an"]),
        "left",
    ).select(exact["vec_id"].alias("vec_id"), "_an")
    return hit.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum(F.when(F.col("_an").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_hit"),
        F.round(
            F.sum(F.when(F.col("_an").isNotNull(), 1).otherwise(0))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("recall"),
    )


@register(
    "vocab_coverage_docs",
    """
    WITH tok AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    h AS (SELECT t, count(*)::BIGINT AS c FROM tok GROUP BY t),
    r AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rnk FROM h
    ),
    tot AS (SELECT sum(c)::BIGINT AS n FROM h)
    SELECT v.vocab_size,
           CAST(sum(CASE WHEN rnk <= v.vocab_size THEN c ELSE 0 END)
                AS BIGINT) AS covered_tokens,
           (SELECT n FROM tot) AS total_tokens,
           round(sum(CASE WHEN rnk <= v.vocab_size THEN c ELSE 0 END)::DOUBLE
                 / (SELECT n FROM tot), 6) AS coverage
    FROM r, (VALUES (100), (1000), (10000)) v(vocab_size)
    GROUP BY v.vocab_size
    """,
)
def vocab_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the fraction of corpus token
    OCCURRENCES covered by the top-V most frequent types, at
    V = 100 / 1k / 10k — the tokenizer-design readout (how big a word
    vocab must be before <unk> rates become negligible; the same curve
    motivates subword tokenizers). ONE corpus scan: the token histogram
    feeds a single distributed TakeOrdered to the V_max = 10k head;
    ranks come from a window over that LIMIT-BOUNDED head (allowlisted
    global window — 10k rows by construction, the vocab_encode_docs
    pattern), and all three coverages fold in one conditional
    aggregate. Ties at the V boundary break deterministically by
    (count desc, token asc) in both engines."""
    from .operators.text import tokens

    sizes = (100, 1000, 10000)
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("_t"))
    hist = tok.groupBy("_t").agg(F.count(F.lit(1)).alias("_c"))
    total = hist.agg(F.sum("_c").cast("long").alias("_total"))
    order = [F.col("_c").desc(), F.col("_t").asc()]
    head = hist.orderBy(*order).limit(max(sizes))
    ranked = head.select(
        "_c", F.row_number().over(Window.orderBy(*order)).alias("_r")
    )
    sums = ranked.agg(
        *[
            F.sum(F.when(F.col("_r") <= v, F.col("_c")))
            .cast("long")
            .alias(f"_cov{v}")
            for v in sizes
        ]
    )
    stack = ", ".join(f"{v}, _cov{v}" for v in sizes)
    # 1-row broadcast scalar attach (the repo's no-collect discipline)
    return sums.crossJoin(F.broadcast(total)).selectExpr(
        f"stack({len(sizes)}, {stack}) AS (vocab_size, covered_tokens)",
        "_total",
    ).select(
        F.col("vocab_size").cast("int").alias("vocab_size"),
        F.col("covered_tokens").cast("long").alias("covered_tokens"),
        F.col("_total").alias("total_tokens"),
        F.round(
            F.col("covered_tokens").cast("double")
            / F.col("_total").cast("double"),
            6,
        ).alias("coverage"),
    )


@register(
    "decontaminate_spans_docs",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents WHERE length(trim(text)) > 0
    ),
    pos AS (
      SELECT doc_id, u.i AS p,
             concat_ws(' ', w[u.i], w[u.i+1], w[u.i+2]) AS g
      FROM t CROSS JOIN unnest(generate_series(1, greatest(len(w) - 2, 0)))
             u(i)
      WHERE len(w) >= 3
    ),
    evg AS (SELECT DISTINCT g FROM pos WHERE doc_id % 10 = 0),
    hits AS (
      SELECT p.doc_id, p.p FROM pos p JOIN evg USING (g)
      WHERE p.doc_id % 10 <> 0
    ),
    cov AS (
      SELECT doc_id, count(DISTINCT p)::BIGINT AS n_gram_hits,
             count(DISTINCT c.cp)::BIGINT AS n_tokens_covered
      FROM hits CROSS JOIN unnest(generate_series(hits.p, hits.p + 2)) c(cp)
      GROUP BY doc_id
    ),
    corpus AS (
      SELECT doc_id, len(w)::BIGINT AS n_tokens FROM t
      WHERE doc_id % 10 <> 0
    )
    SELECT corpus.doc_id, n_tokens,
           coalesce(n_gram_hits, 0) AS n_gram_hits,
           coalesce(n_tokens_covered, 0) AS n_tokens_covered,
           round(CASE WHEN n_tokens > 0
                      THEN coalesce(n_tokens_covered, 0)::DOUBLE / n_tokens
                      ELSE 0.0 END, 6) AS frac_covered
    FROM corpus LEFT JOIN cov USING (doc_id)
    """,
)
def decontaminate_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination accounting vs the eval split (every
    10th doc): per corpus doc, how many word-3-gram positions hit the
    eval set and how many tokens the union of those windows covers —
    the drop-the-doc vs cut-the-spans decision input (GPT-3 appendix C
    protocol). Eval grams broadcast; positional shingles are one
    map-side pass. See operators/corpus.py::decontaminate_spans."""
    from .operators.corpus import decontaminate_spans

    docs = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    cp = docs.filter(F.col("doc_id") % 10 != 0)
    return decontaminate_spans(cp, ev, "text", "doc_id", n=3)


@register(
    "token_fertility_docs",
    """
    WITH t AS (
      SELECT lang, trim(text) AS tx,
             string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents WHERE length(trim(text)) > 0
    ),
    per AS (
      SELECT lang,
             len(w)::BIGINT AS ws_tokens,
             (len(list_filter(string_split_regex(tx, '[^\\w]+'),
                              x -> length(x) > 0))
              + length(regexp_replace(tx, '[\\w\\s]', '', 'g')))::BIGINT
               AS bpe_tokens,
             length(tx)::BIGINT AS n_chars
      FROM t
    )
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           CAST(sum(ws_tokens) AS BIGINT) AS ws_tokens,
           CAST(sum(bpe_tokens) AS BIGINT) AS bpe_tokens,
           round(sum(bpe_tokens)::DOUBLE / sum(ws_tokens), 6) AS fertility,
           round(sum(n_chars)::DOUBLE / sum(bpe_tokens), 6)
             AS chars_per_token
    FROM per GROUP BY lang
    """,
)
def token_fertility_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: subword-proxy tokens per
    whitespace word (the fertility metric tokenizer designers track per
    language — high fertility = the language pays more sequence length
    per word) plus characters per token. Pure expressions over one
    scan; exact BIGINT sums, two final divisions."""
    from .operators.text import bpe_ish_token_count, token_count

    docs = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    per = docs.select(
        "lang",
        token_count("text").alias("_ws"),
        bpe_ish_token_count("text").alias("_bpe"),
        F.length(F.trim(F.col("text"))).alias("_ch"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_ws").cast("long").alias("ws_tokens"),
        F.sum("_bpe").cast("long").alias("bpe_tokens"),
        F.round(
            F.sum("_bpe").cast("double") / F.sum("_ws").cast("double"), 6
        ).alias("fertility"),
        F.round(
            F.sum("_ch").cast("double") / F.sum("_bpe").cast("double"), 6
        ).alias("chars_per_token"),
    )


@register(
    "corrupt_scale_events",
    """
    SELECT 'value' AS column,
           count(*)::BIGINT AS n_rows,
           coalesce(sum(CASE WHEN isnan(value) THEN 1 END), 0)::BIGINT
             AS n_nan,
           coalesce(sum(CASE WHEN isinf(value) THEN 1 END), 0)::BIGINT
             AS n_inf,
           coalesce(sum(CASE WHEN NOT isnan(value) AND NOT isinf(value)
                              AND abs(value) >= 9.223372036854776e16
                             THEN 1 END), 0)::BIGINT AS n_out_of_range,
           (coalesce(sum(CASE WHEN isnan(value) OR isinf(value)
                               OR abs(value) >= 9.223372036854776e16
                              THEN 1 END), 0) = 0) AS clean
    FROM events
    """,
)
def corrupt_scale_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-scan corrupt-scale validator on the events value column
    (round-11, the extremes-tier lenient-mode decision record): counts
    rows that would trip the exact-cents family's designed-loud ANSI
    abort (NaN / ±inf / |x| >= 2^63/100) BEFORE any cents-consuming job
    runs — the operational answer to "one corrupt row kills the 100 TB
    job" that keeps every operator's exactness contract intact. One
    narrow scan + one partial-aggregated collect; see
    :func:`~.sources.validate.corrupt_scale_report`."""
    from .sources.validate import corrupt_scale_report

    ev = _t(spark, sf_dir, "events")
    return corrupt_scale_report(ev, cols=["value"])
