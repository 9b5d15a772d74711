"""Workload definitions and the stream-input preparation.

Each workload is a fixed list of registered queries
(``hybridbackend_spark.queries.get_queries``) over the read-only test
tables. The seed only permutes the query order of each timed pass; the
program always sees the same tables.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    scale: str  # test-table directory name, e.g. "sf0.1"
    queries: tuple[str, ...]
    # Seconds one warm pass, with its probe statements, takes on a quiet
    # 4-core host. A run makes
    # round(--seconds / nominal_pass_s) passes (at least two), so for a
    # given --seconds every run leaves the JIT equally warm and its
    # medians cover the same number of query runs; a busy host stretches
    # the run, not the count.
    nominal_pass_s: float
    # Untimed passes between the check pass and the timed ones: short
    # queries are still warming after one run.
    warm_passes: int
    # Probe statements run before each query run of an untraced pass; a
    # pass covers every statement, and a workload of few, long queries
    # runs more of them so its probe figure rests on as many samples.
    probes_per_query: int


WORKLOADS = {
    w.name: w
    for w in (
        # The recommender data path: short scan, ragged-column, lookup-join
        # and metric queries, a hash train/val/test split and an exact
        # cosine top-k retrieval, where table resolution and driver-side
        # construction carry much of each query and nothing is
        # materialized.
        Workload(
            "recsys_batch",
            "sf0.1",
            (
                "scan_filter_project", "nested_ragged_scan",
                "pad_to_dense_embeddings", "lookup_join_dedup",
                "metric_gauc", "hash_split_documents", "cosine_topk_bruteforce",
            ),
            5.0,
            1,
            1,
        ),
        # Iterative and stateful operators: n-gram Jaccard near-duplicate
        # pairs, a star-contraction connected-components search whose
        # rounds are cut with localCheckpoint and which crosses the Arrow
        # boundary in mapInPandas, and a windowed file stream that writes
        # state, WAL and sink every micro-batch. Materialization
        # dominates and Parquet reads are a small share, the mirror of
        # recsys_batch. sf0.01, since the all-pairs DuckDB oracles take
        # minutes at sf0.1.
        Workload(
            "dedup_graph",
            "sf0.01",
            (
                "ngram_jaccard_pairs_docs", "cc_star_event_chains",
                "stream_tumbling_counts",
            ),
            11.0,
            0,
            4,
        ),
    )
}


def is_stream(query: str) -> bool:
    return query.startswith("stream_")


# The stream shapes read the events table as a file stream, one file per
# micro-batch.
STREAM_FILES = 3
MAX_FILES_PER_TRIGGER = 1


# The probe: plain Spark SQL over the test tables, with no call into the
# library under test, in a session of its own whose plan-shaping settings
# are pinned here. It is the same kind of work as the queries (table
# resolution, planning, codegen, Parquet scan, shuffle, hash aggregate and
# join on local[4], and a localCheckpoint). Before each query run of an
# untraced pass, outside its timed region, the next statements of
# PROBE_SQL run in turn (``Workload.probes_per_query``), so the ratio of the workload's time to the probe's stays put when the host
# as a whole runs faster or slower.
PROBE_SCALE = "sf0.01"
PROBE_CONF = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "10485760",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.codegen.wholeStage": "true",
    "spark.sql.session.timeZone": "UTC",
}
# (tables, statement, materialize with localCheckpoint first)
PROBE_SQL = (
    (("orders", "customer"),
     """SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderstatus = 'F'
        GROUP BY c_mktsegment""", False),
    (("events",),
     """SELECT user_id, event_type, count(*) AS n, sum(value) AS total
        FROM events GROUP BY user_id, event_type""", False),
    (("lineitem",),
     """SELECT l_returnflag, l_linestatus, count(*) AS n,
               sum(l_extendedprice * (1 - l_discount)) AS revenue
        FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus""", False),
    (("documents",),
     """SELECT word, count(*) AS n
        FROM (SELECT explode(split(lower(text), ' ')) AS word FROM documents)
        GROUP BY word""", True),
)


def probe_session(spark):
    """A session sharing ``spark``'s context, with the probe's settings
    pinned."""
    probe = spark.newSession()
    for k, v in PROBE_CONF.items():
        probe.conf.set(k, v)
    return probe


def run_probe(probe, data_root: str, i: int) -> float:
    """Wall seconds of probe statement ``i`` (modulo their number): its
    tables resolved afresh, as the queries do, then a ``noop`` write."""
    tables, sql, materialize = PROBE_SQL[i % len(PROBE_SQL)]
    t0 = time.perf_counter()
    for t in tables:
        path = os.path.join(data_root, PROBE_SCALE, f"{t}.parquet")
        probe.read.parquet(path).createOrReplaceTempView(t)
    df = probe.sql(sql)
    if materialize:
        df = df.localCheckpoint()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def pass_order(queries: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The seeded query order of one timed pass."""
    order = list(queries)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def prepare_stream_input(spark, sf_dir: str, work_dir: str) -> str:
    """A directory whose ``events.parquet`` holds the events table split
    into ``STREAM_FILES`` event-time-ordered files, with file mtimes
    ascending in the same order (the file source reads oldest first).
    Rebuilt only when the source file's mtime changes. Returns the
    directory to pass as ``sf_dir`` to the stream shapes."""
    from hybridbackend_spark.session import register_tables

    src = os.path.join(sf_dir, "events.parquet")
    out = os.path.join(work_dir, "stream_input")
    marker = os.path.join(out, "_SOURCE_MTIME")
    stamp = f"{os.stat(src).st_mtime_ns}:{STREAM_FILES}"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == stamp:
                return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    evdir = os.path.join(out, "events.parquet")
    register_tables(spark, sf_dir, ["events"])
    # timestamp_ntz keeps the events table's naive wall-clock type, so
    # the stream reader's probe declares the same schema as for the source
    (
        spark.table("events")
        .selectExpr("*", "CAST(ts AS TIMESTAMP_NTZ) AS ts_ntz")
        .drop("ts")
        .withColumnRenamed("ts_ntz", "ts")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartitionByRange(STREAM_FILES, "ts")
        .write.parquet(evdir)
    )
    spark.catalog.dropTempView("events")
    parts = sorted(f for f in os.listdir(evdir) if f.startswith("part-"))
    base = time.time() - 10 * len(parts)
    for i, p in enumerate(parts):
        os.utime(os.path.join(evdir, p), (base + 10 * i, base + 10 * i))
    with open(marker, "w") as f:
        f.write(stamp)
    return out
