"""Streaming operators driven synchronously with availableNow over the
events parquet — batch result is the oracle (same engine guarantees the
same window semantics)."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from hybridbackend_spark.streaming.ops import (
    read_event_stream,
    run_available_now,
    session_agg,
    sliding_agg,
    stream_dedup,
    tumbling_agg,
)


@pytest.fixture(scope="module")
def event_stream(spark, sf_dir):
    return read_event_stream(spark, f"{sf_dir}/events.parquet")


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir):
    from hybridbackend_spark.queries import _t

    return _t(spark, sf_dir, "events")


def test_tumbling_agg_matches_batch(spark, event_stream, events_batch):
    out = run_available_now(
        tumbling_agg(event_stream, "ts", "1 hour", keys=["event_type"])
    )
    batch = (
        events_batch.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                "event_type", "n_events", "sum_value")
    )
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_run_available_now_removes_its_checkpoint(
    spark, event_stream, events_batch, tmp_path, monkeypatch
):
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = run_available_now(tumbling_agg(event_stream, "ts", "1 hour"))
    assert [p.name for p in tmp_path.iterdir() if p.name.startswith("hbq_")] == []
    # the memory-sink table the result reads outlives the checkpoint
    assert sum(r["n_events"] for r in out.collect()) == events_batch.count()


def test_run_available_now_checkpoints_under_the_checkpoint_dir(
    event_stream, tmp_path, monkeypatch
):
    """With a SparkContext checkpoint dir, the run's checkpoint lives
    under it (where the executors can share its state files) and is
    deleted through the Hadoop FileSystem API afterwards."""
    import tempfile

    from pyspark import SparkContext
    from pyspark.sql.streaming.query import StreamingQuery

    root, local = tmp_path / "reliable", tmp_path / "local"
    root.mkdir()
    local.mkdir()
    want = sorted(map(tuple, run_available_now(
        tumbling_agg(event_stream, "ts", "1 hour")).collect()))

    during = []
    wait = StreamingQuery.awaitTermination

    def spy(self, *args, **kwargs):
        out = wait(self, *args, **kwargs)
        during.extend(
            (p.name, (p / "commits").is_dir()) for p in root.iterdir()
        )
        return out

    monkeypatch.setattr(StreamingQuery, "awaitTermination", spy)
    monkeypatch.setattr(SparkContext, "getCheckpointDir", lambda sc: str(root))
    monkeypatch.setattr(tempfile, "tempdir", str(local))
    out = run_available_now(tumbling_agg(event_stream, "ts", "1 hour"))
    assert len(during) == 1
    name, committed = during[0]
    assert name.startswith("hbq_") and committed
    assert list(root.iterdir()) == [] and list(local.iterdir()) == []
    assert sorted(map(tuple, out.collect())) == want


def _events_file(sf_dir, path, rows):
    """Write the ``rows`` slice of the events table to ``path`` as one
    Parquet file (ts stays TIMESTAMP(NANOS))."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/events.parquet")
    pq.write_table(t.slice(rows.start, len(rows)), path)


def test_run_available_now_resumes_state_from_its_checkpoint(
    spark, sf_dir, events_batch, tmp_path, monkeypatch
):
    """A second run on the same checkpoint reads only the new file and
    reloads the first run's window state from the state store's delta
    files, so its complete output is the batch aggregate over both."""
    from hybridbackend_spark.streaming import ops

    src, ckpt = tmp_path / "src", str(tmp_path / "ckpt")
    src.mkdir()
    n = events_batch.count()
    _events_file(sf_dir, str(src / "part-0.parquet"), range(0, n // 2))
    monkeypatch.setattr(
        ops, "_run_checkpoint", lambda spark, prefix: (ckpt, lambda: None)
    )

    def run():
        stream = read_event_stream(spark, str(src))
        return sorted(map(tuple, run_available_now(
            tumbling_agg(stream, "ts", "1 hour", keys=["event_type"])
        ).collect()))

    first = run()
    assert sum(r[3] for r in first) == n // 2
    deltas = [
        f for _, _, files in os.walk(f"{ckpt}/state") for f in files
        if f.endswith(".delta")
    ]
    assert deltas
    _events_file(sf_dir, str(src / "part-1.parquet"), range(n // 2, n))
    want = sorted(map(tuple, tumbling_agg(
        events_batch, "ts", "1 hour", keys=["event_type"]).collect()))
    assert run() == want


def test_event_stream_probe_reads_one_memoized_file(
    spark, sf_dir, tmp_path, jobs_of
):
    """A directory's schema probe reads its first data file through the
    loader memo: the second stream over it submits no Spark job, and it
    declares the ts type a batch read of the directory surfaces."""
    from pyspark.sql import types as T

    from hybridbackend_spark.streaming.ops import _probed_events_schema

    d = tmp_path / "events"
    d.mkdir()
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".part-0.parquet.crc").write_bytes(b"")
    _events_file(sf_dir, str(d / "part-0.parquet"), range(0, 100))
    read_event_stream(spark, str(d))
    _, jobs = jobs_of("stream_probe_hit", lambda: read_event_stream(spark, str(d)))
    assert jobs == []
    raw = dict(spark.read.parquet(str(d)).dtypes)["ts"]
    want = T.LongType() if raw == "bigint" else T.TimestampNTZType()
    assert _probed_events_schema(spark, str(d))["ts"].dataType == want


def test_event_stream_probe_of_a_dir_without_data_reads_the_dir(spark, tmp_path):
    from pyspark.errors import AnalysisException

    d = tmp_path / "empty"
    d.mkdir()
    (d / "_SUCCESS").write_bytes(b"")
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(str(d))
    with pytest.raises(AnalysisException) as probed:
        read_event_stream(spark, str(d))
    assert probed.value.getCondition() == plain.value.getCondition()


def test_sliding_agg_runs(spark, event_stream):
    out = run_available_now(
        sliding_agg(event_stream, "ts", "1 hour", "30 minutes")
    )
    rows = out.collect()
    assert len(rows) > 0
    # sliding windows overlap: more windows than tumbling
    tumbling = run_available_now(tumbling_agg(event_stream, "ts", "1 hour"))
    assert len(rows) > tumbling.count()


def test_session_agg_runs(spark, event_stream, events_batch):
    out = run_available_now(
        session_agg(event_stream, "ts", "30 minutes", keys=["user_id"])
    )
    rows = out.collect()
    assert len(rows) > 0
    # total events preserved across sessions
    assert sum(r["n_events"] for r in rows) == events_batch.count()


def test_stream_dedup(spark, event_stream, events_batch):
    deduped = run_available_now(
        stream_dedup(event_stream, ["user_id", "event_type"], "ts",
                     watermark="365 days")
    )
    n_distinct = events_batch.select("user_id", "event_type").distinct().count()
    assert deduped.count() == n_distinct


def test_stateful_running_counter(spark, event_stream, events_batch):
    from hybridbackend_spark.streaming.stateful import running_counter

    out = run_available_now(running_counter(event_stream))
    # last emission per user equals the batch totals
    latest = {}
    for r in out.collect():
        latest[r["user_id"]] = (r["n_events"], r["sum_value"])
    batch = {
        r["user_id"]: (r["n"], r["s"])
        for r in events_batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    # availableNow may process several micro-batches; keep the max-count emission
    assert set(latest) == set(batch)
    for uid, (n, s) in batch.items():
        assert latest[uid][0] == n
        assert abs(latest[uid][1] - s) < 0.05


def test_session_state_merges_across_microbatches(spark, sf_dir, tmp_path):
    """Sessions whose events arrive in DIFFERENT microbatches must merge:
    split the events table into 4 files, feed one file per trigger
    (maxFilesPerTrigger=1), and require the multi-batch result to equal
    the single-batch result. This exercises the state store across
    triggers, not just within one batch."""
    from hybridbackend_spark.queries import _t

    events = _t(spark, sf_dir, "events")
    src = str(tmp_path / "ev_split")
    # long->micros ts column written back as long nanos analog is not
    # needed: write the already-truncated micro timestamps; the stream
    # reader accepts TIMESTAMP directly (schema ts becomes timestamp).
    events.repartition(4).write.parquet(src)

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    multi = run_available_now(
        session_agg(
            read_event_stream(
                spark, src, schema=schema, max_files_per_trigger=1
            ),
            "ts",
            "10 minutes",
            keys=["user_id"],
            watermark="720 hours",  # exceeds the data span: nothing is ever late
        )
    )
    single = run_available_now(
        session_agg(
            read_event_stream(spark, src, schema=schema),
            "ts",
            "10 minutes",
            keys=["user_id"],
            watermark="720 hours",
        )
    )
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert sorted(map(tuple, multi.select(cols).collect())) == sorted(
        map(tuple, single.select(cols).collect())
    )


def test_stream_stream_join_across_microbatches(spark, sf_dir, tmp_path):
    """Click/purchase pairs whose two sides arrive in DIFFERENT
    microbatches must still join (buffered join state): one file per
    trigger over a 4-file split must equal both the single-batch run and
    the batch non-equi join."""
    from hybridbackend_spark.queries import _t
    from hybridbackend_spark.streaming.ops import stream_stream_join

    events = _t(spark, sf_dir, "events")
    src = str(tmp_path / "ev_ssj")
    events.repartition(4).write.parquet(src)

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )

    def run(max_files):
        clicks = (
            read_event_stream(
                spark, src, schema=schema, max_files_per_trigger=max_files
            )
            .filter(F.col("event_type") == "click")
            .select("user_id", "ts")
        )
        purchases = (
            read_event_stream(
                spark, src, schema=schema, max_files_per_trigger=max_files
            )
            .filter(F.col("event_type") == "purchase")
            .select("user_id", F.col("ts").alias("p_ts"))
        )
        out = run_available_now(
            stream_stream_join(
                clicks, purchases, "user_id", "ts", "p_ts",
                "INTERVAL 30 MINUTES", watermark="720 hours",
            )
        )
        return {
            (r["user_id"], r["ts"], r["p_ts"]) for r in out.collect()
        }

    multi = run(1)
    single = run(None)
    batch = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts"
    )
    bp = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u2"), F.col("ts").alias("p_ts")
    )
    want = {
        (r["user_id"], r["ts"], r["p_ts"])
        for r in batch.join(
            bp,
            (batch.user_id == bp.u2)
            & (bp.p_ts > batch.ts)
            & (bp.p_ts <= F.expr("ts + INTERVAL 30 MINUTES")),
        ).collect()
    }
    assert multi == single == want and len(want) > 0


def test_foreach_batch_epoch_sink_idempotent(spark, sf_dir, tmp_path):
    from hybridbackend_spark.streaming.ops import (
        foreach_batch_epoch_sink,
        read_event_stream,
    )

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    foreach_batch_epoch_sink(stream, out, ckpt)
    expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    got = spark.read.parquet(out)
    assert got.count() == expected
    assert "epoch" in got.columns  # epoch is the partition column

    # re-running with the SAME checkpoint finds no new input: no new
    # epochs, no duplicated rows
    foreach_batch_epoch_sink(stream, out, ckpt)
    assert spark.read.parquet(out).count() == expected

    # simulate at-least-once re-delivery of an epoch: overwriting the
    # same epoch directory with the same batch leaves the sink unchanged
    # (materialize before overwriting — can't lazily read the dir being
    # replaced)
    epoch0 = spark.read.parquet(f"{out}/epoch=0").localCheckpoint(eager=True)
    epoch0.write.mode("overwrite").parquet(f"{out}/epoch=0")
    assert spark.read.parquet(out).count() == expected


def test_watermark_drops_late_data(spark, tmp_path):
    # two files delivered as separate micro-batches: the second replays
    # events far older than the watermark horizon behind batch 1's max
    # event time — the streaming aggregate must DROP them, so it differs
    # from the batch aggregate by exactly the late rows
    import datetime

    from pyspark.sql import functions as F, types as T

    from hybridbackend_spark.streaming.ops import run_available_now, tumbling_agg

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    d = lambda h, m=0: datetime.datetime(2024, 1, 1, h, m)
    src = str(tmp_path / "src")
    import time

    # three micro-batches: batch 0 advances event time, batch 1 commits
    # the watermark, batch 2 delivers a 9h-late row. The late filter uses
    # the watermark with one completed batch of lag (observed Spark 4.1
    # availableNow behavior), so the late row must arrive two batches
    # after the data that made it late.
    spark.createDataFrame(
        [(d(10), 1.0), (d(11), 1.0), (d(12), 1.0)], schema
    ).coalesce(1).write.parquet(f"{src}/f1")
    time.sleep(1.1)  # file-source batch order follows modification time
    spark.createDataFrame([(d(12, 10), 1.0)], schema).coalesce(1).write.parquet(
        f"{src}/f2"
    )
    time.sleep(1.1)
    spark.createDataFrame(
        [(d(1), 1.0), (d(12, 30), 1.0)], schema
    ).coalesce(1).write.parquet(f"{src}/f3")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    agg = tumbling_agg(
        stream, "ts", "1 hour", watermark="30 minutes",
        aggs={"n": F.count(F.lit(1))},
    )
    # APPEND mode: only this mode (and update) applies watermark-based
    # late-data dropping — complete mode must keep all state by contract.
    # A window is emitted once the watermark passes its end.
    import tempfile

    q = (
        agg.writeStream.format("memory")
        .queryName("wm_drop")
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["window_start"]: r["n"]
        for r in spark.table("wm_drop").collect()
    }
    # the 01:00 row is hours behind the committed watermark (11:40) and
    # must be DROPPED (its window would otherwise appear once the final
    # watermark, 12:00, finalizes everything that ends <= 12:00)
    assert d(1) not in got
    # windows fully below the final watermark (12:00) are finalized;
    # the still-open 12:00 window is not emitted in append mode
    assert got == {d(10): 1, d(11): 1}


def test_stream_stream_left_outer_emits_on_watermark(spark, tmp_path):
    """Left-outer stream-stream join: an unmatched click must surface
    null-padded once the watermark provably passes its join window; a
    matched click pairs normally; a trailing click (window not yet
    closed) must NOT emit."""
    import datetime as dt

    from hybridbackend_spark.streaming.ops import (
        run_available_now,
        stream_stream_join,
    )
    from pyspark.sql import types as T

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    clicks_rows = [
        (1, t0),                                # matched by purchase +10m
        (2, t0),                                # never matched -> null pad
        (3, t0 + dt.timedelta(hours=30)),       # trailing: window open
    ]
    purch_rows = [
        (1, t0 + dt.timedelta(minutes=10)),
        # watermark driver: advances right-side event time far past the
        # early clicks' windows
        (99, t0 + dt.timedelta(hours=30)),
    ]
    cdir, pdir = str(tmp_path / "c"), str(tmp_path / "p")
    spark.createDataFrame(clicks_rows, "user_id: long, ts: timestamp")\
        .coalesce(1).write.parquet(cdir)
    spark.createDataFrame(purch_rows, "user_id: long, p_ts: timestamp")\
        .coalesce(1).write.parquet(pdir)

    cschema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    pschema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("p_ts", T.TimestampType()),
    ])
    clicks = spark.readStream.schema(cschema).parquet(cdir)
    purchases = spark.readStream.schema(pschema).parquet(pdir)
    out = run_available_now(
        stream_stream_join(
            clicks, purchases, "user_id", "ts", "p_ts",
            "INTERVAL 30 MINUTES", watermark="1 hour", how="left_outer",
        )
    )
    rows = {(r["user_id"], r["p_ts"] is not None) for r in out.collect()}
    assert (1, True) in rows     # matched pair
    assert (2, False) in rows    # unmatched, window closed -> null pad
    assert not any(u == 3 for (u, _) in rows)  # window still open


def test_streaming_incremental_cms_equals_batch(spark, tmp_path):
    """Sketch maintenance under streaming: per-microbatch CMS partials
    merged across batches must equal the one-shot batch sketch — the
    incremental-maintenance contract (same associativity the HLL
    distinct sketches rely on), proven on a real foreachBatch stream."""
    from pyspark.sql import functions as F, types as T

    from hybridbackend_spark.operators.sketch import cms_build, cms_merge

    rows = [(i, f"tok{i % 13}") for i in range(400)]
    src = str(tmp_path / "toks")
    spark.createDataFrame(rows, "id: long, k: string").repartition(
        4
    ).write.parquet(src)

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("k", T.StringType())]
    )
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)

    state = {"cms": None, "batches": 0}

    def _acc(batch_df, epoch_id):
        part = cms_build(batch_df, "k", width=32, depth=3)
        state["batches"] += 1
        if state["cms"] is None:
            state["cms"] = part.collect()
        else:
            prev = spark.createDataFrame(
                state["cms"], "row: int, bucket: long, cnt: long"
            )
            state["cms"] = cms_merge(prev, part).collect()

    import tempfile

    q = stream.writeStream.foreachBatch(_acc).option(
        "checkpointLocation", tempfile.mkdtemp()
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    assert state["batches"] >= 2  # genuinely incremental
    merged = sorted((r["row"], r["bucket"], r["cnt"]) for r in state["cms"])
    full = sorted(
        map(
            tuple,
            cms_build(
                spark.read.parquet(src), "k", width=32, depth=3
            ).collect(),
        )
    )
    assert merged == full


def test_watermark_drops_late_rows_across_microbatches(spark, tmp_path):
    """POSITIVE late-data test: with maxFilesPerTrigger=1 the second file
    forms a second microbatch, by which time the watermark (1h behind
    batch 1's max event time) has passed the late row's window — the
    aggregation state must DROP it, while the fresh row still counts."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hybridbackend_spark.streaming.ops import (
        read_event_stream,
        run_available_now,
        tumbling_agg,
    )

    d = str(tmp_path / "stream")
    os.makedirs(d)

    def write(fname, rows):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [dt.datetime.fromisoformat(r[1]) for r in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["view"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, f"{d}/{fname}")

    # batch 0 sets max event time 12:10; batch 1 advances it to 12:30.
    # Spark applies a newly-advanced watermark from the NEXT batch after
    # the commit, so the late row goes in a third file: by batch 2 the
    # enforced watermark is 11:30 and the 09:30 row (window end 10:00)
    # MUST be dropped.
    write("1-early.parquet", [(1, "2024-03-01 10:15:00"), (2, "2024-03-01 12:10:00")])
    _time.sleep(1.1)  # distinct modification times => deterministic file order
    write("2-advance.parquet", [(3, "2024-03-01 12:30:00")])
    _time.sleep(1.1)
    write("3-late.parquet", [(4, "2024-03-01 09:30:00")])

    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    agg = tumbling_agg(stream, "ts", "1 hour", watermark="1 hour")
    # update mode enforces the drop (complete mode deliberately does not:
    # replays must cover every window); the memory sink keeps each
    # batch's updated rows, so the late row would surface as a 09:00
    # window row if it survived
    rows = run_available_now(agg, mode="update").collect()
    hours = {r.window_start.hour for r in rows}

    assert 9 not in hours  # late row dropped by the watermark
    assert max(r.n_events for r in rows if r.window_start.hour == 12) == 2


def test_streaming_cdc_merge_loop_equals_batch_merge(spark, tmp_path):
    """Lakehouse CDC apply loop: a stream of change batches applied with
    merge_into per microbatch (foreachBatch) must land on exactly the
    state a single batch MERGE of all changes produces — the
    exactly-once upsert contract that makes the streaming path safe to
    restart from any batch boundary."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hybridbackend_spark.operators.structural import merge_into

    d = str(tmp_path / "cdc")
    os.makedirs(d)

    def write(fname, rows):
        tbl = pa.table(
            {
                "k": pa.array([r[0] for r in rows], pa.int64()),
                "v": pa.array([r[1] for r in rows]),
                "_del": pa.array([r[2] for r in rows], pa.bool_()),
            }
        )
        pq.write_table(tbl, f"{d}/{fname}")

    # two change batches: updates, an insert, then a delete of the insert
    write("1.parquet", [(1, "B1", False), (4, "new", False)])
    _time.sleep(1.1)
    write("2.parquet", [(4, None, True), (2, "B2", False)])

    target0 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    state_dir = str(tmp_path / "state")
    target0.write.parquet(state_dir)

    stream = (
        spark.readStream.schema("k long, v string, _del boolean")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )

    def apply_batch(batch_df, epoch_id):
        current = spark.read.parquet(state_dir)
        merged = merge_into(current, batch_df, ["k"], delete_col="_del")
        merged.write.mode("overwrite").parquet(state_dir + "_next")
        # atomic-enough swap for the test; real sinks use table formats
        spark.read.parquet(state_dir + "_next").write.mode("overwrite").parquet(
            state_dir
        )

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    streamed = {r.k: r.v for r in spark.read.parquet(state_dir).collect()}

    all_changes = spark.createDataFrame(
        [(1, "B1", False), (4, None, True), (2, "B2", False)],
        "k long, v string, _del boolean",
    )
    batch = {r.k: r.v
             for r in merge_into(target0, all_changes, ["k"], "_del").collect()}

    assert streamed == batch == {1: "B1", 2: "B2", 3: "c"}


def test_session_emitter_timeout_and_data_closes(spark, tmp_path):
    """Custom stateful sessionizer (EventTimeTimeout): a session closes
    EITHER when later data proves the gap elapsed (same key) OR when the
    watermark timer fires (key goes quiet); still-open sessions do not
    emit. Exercises the timeout-eviction path running_counter leaves
    unused."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hybridbackend_spark.streaming.ops import (
        read_event_stream,
        run_available_now,
    )
    from hybridbackend_spark.streaming.stateful import session_emitter

    d = str(tmp_path / "sess")
    os.makedirs(d)

    def write(fname, rows):
        tbl = pa.table(
            {
                "event_id": pa.array(list(range(len(rows))), pa.int64()),
                "ts": pa.array(
                    [dt.datetime.fromisoformat(r[1]) for r in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows)),
                "value": pa.array([float(r[2]) for r in rows]),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, f"{d}/{fname}")

    # batch 0: user 1 session A (2 events), user 2 one event
    write("1.parquet", [
        (1, "2024-03-01 10:00:00", 1.0),
        (1, "2024-03-01 10:10:00", 2.0),
        (2, "2024-03-01 10:05:00", 7.5),
    ])
    _time.sleep(1.1)
    # batch 1: user 1 again at 13:00 — the DATA proves session A's gap
    # elapsed (close A); the watermark advance also expires user 2's
    # timer (timeout-close); user 1's 13:00 session stays OPEN (no emit)
    write("2.parquet", [(1, "2024-03-01 13:00:00", 5.0)])

    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    sess = session_emitter(
        stream.withWatermark("ts", "1 second"), gap="30 minutes"
    )
    out = run_available_now(sess, mode="append").collect()

    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    assert set(by_user) == {1, 2}
    a = by_user[1][0]
    assert len(by_user[1]) == 1  # 13:00 session still open -> not emitted
    assert a.n_events == 2 and a.sum_value == 3.0
    assert a.session_start.minute == 0 and a.session_end.minute == 10
    b = by_user[2][0]
    assert b.n_events == 1 and b.sum_value == 7.5


def test_session_emitter_exact_gap_boundary_splits(spark, tmp_path):
    """An event arriving EXACTLY at last_event + gap starts a NEW
    session — session_window's half-open [start, last + gap) contract,
    which session_emitter claims to match."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hybridbackend_spark.streaming.ops import (
        read_event_stream,
        run_available_now,
    )
    from hybridbackend_spark.streaming.stateful import session_emitter

    d = str(tmp_path / "sessb")
    os.makedirs(d)

    def write(fname, rows):
        tbl = pa.table(
            {
                "event_id": pa.array(list(range(len(rows))), pa.int64()),
                "ts": pa.array(
                    [dt.datetime.fromisoformat(r[1]) for r in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows)),
                "value": pa.array([float(r[2]) for r in rows]),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, f"{d}/{fname}")

    # 10:00 then EXACTLY 10:30 with a 30-minute gap: must split
    write("1.parquet", [
        (1, "2024-03-01 10:00:00", 1.0),
        (1, "2024-03-01 10:30:00", 2.0),
    ])
    _time.sleep(1.1)
    # advance the watermark far enough to timer-close the 10:30 session
    write("2.parquet", [(1, "2024-03-01 14:00:00", 0.0)])

    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    sess = session_emitter(
        stream.withWatermark("ts", "1 second"), gap="30 minutes"
    )
    out = sorted(
        run_available_now(sess, mode="append").collect(),
        key=lambda r: r.session_start,
    )
    closed = [r for r in out if r.user_id == 1 and r.session_start.hour == 10]
    assert len(closed) == 2  # two single-event sessions, not one merged
    assert [r.n_events for r in closed] == [1, 1]
    assert closed[0].session_end.minute == 0
    assert closed[1].session_start.minute == 30


def test_zscore_flags_matches_batch_and_ttl_evicts(spark, tmp_path):
    """Streaming z-score anomaly flags: (1) the integer inequality
    reproduces the batch definition bit-for-bit across micro-batches;
    (2) the event-time TTL evicts idle keys — a key returning after
    eviction restarts its baseline, so its early events are unflagged
    even though the lifetime stats would have flagged them."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hybridbackend_spark.streaming.ops import (
        read_event_stream,
        run_available_now,
    )
    from hybridbackend_spark.streaming.stateful import zscore_flags

    d = str(tmp_path / "zs")
    os.makedirs(d)

    def write(fname, rows):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [dt.datetime.fromisoformat(r[2]) for r in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows)),
                "value": pa.array([float(r[3]) for r in rows]),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, f"{d}/{fname}")

    # user 1: 8 quiet events then a spike -> the spike must flag.
    # user 2: same shape, but its spike arrives AFTER the TTL horizon
    # (state evicted by then) -> its spike must NOT flag.
    base = [
        (i, 1, f"2024-03-01 10:0{i}:00", 10.0 + (i % 2)) for i in range(8)
    ] + [
        (100 + i, 2, f"2024-03-01 10:0{i}:00", 10.0 + (i % 2))
        for i in range(8)
    ]
    write("1.parquet", base)
    _time.sleep(1.1)
    # batch 2: user 1 spikes inside the TTL; a watermark-driving event
    # (user 3) pushes event time far past user 2's TTL
    write("2.parquet", [
        (8, 1, "2024-03-01 10:30:00", 500.0),
        (300, 3, "2024-03-05 00:00:00", 1.0),
    ])
    _time.sleep(1.1)
    # batch 3: no user-2 data — its timer fires against the advanced
    # watermark and the state is evicted (data in the same batch as a
    # pending timer would cancel the timeout instead)
    write("3.parquet", [(301, 3, "2024-03-05 00:10:00", 1.0)])
    _time.sleep(1.1)
    # batch 4: user 2's spike — state was evicted, n_prior restarts at
    # 0 and the spike is unflagged
    write("4.parquet", [(108, 2, "2024-03-05 10:00:00", 500.0)])

    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    flags = zscore_flags(
        stream.withWatermark("ts", "1 second"),
        min_prior=8,
        k_sigma=3,
        state_ttl="1 day",
    )
    out = run_available_now(flags, mode="append").collect()
    flagged = {(r.user_id, r.event_id) for r in out}
    assert (1, 8) in flagged  # spike against 8 priors flags
    assert all(u != 2 for u, _ in flagged)  # evicted key restarts clean
    # the flagged row carries the exact integer evidence
    row = [r for r in out if r.user_id == 1][0]
    assert row.cents == 50000 and row.n_prior == 8


def test_stream_hll_actives_tracks_exact_distinct(spark):
    """The streaming HLL's per-window raw estimate tracks the exact
    per-window distinct user count within the m=256 error regime, and
    the integer invariants hold."""
    from hybridbackend_spark.queries import _t, stream_hll_actives

    sf = "/root/testdata/sf0.001"
    got = {r.window_start_sec: r
           for r in stream_hll_actives(spark, sf).collect()}
    ev = _t(spark, sf, "events")
    exact = {
        r.w: r.n
        for r in ev.groupBy(
            (F.floor(F.unix_timestamp("ts") / 21600) * 21600)
            .cast("long").alias("w")
        ).agg(F.count_distinct("user_id").alias("n")).collect()
    }
    assert set(got) == set(exact)
    import math

    for w, r in got.items():
        assert r.n_regs + r.zeros == 256
        # apply the standard small-range (linear counting) correction
        # from the emitted exact integers — raw_est is uncorrected BY
        # DESIGN (rational arithmetic keeps it hash-exact cross-engine)
        est = r.raw_est
        if r.zeros > 0 and est < 2.5 * 256:
            est = 256.0 * math.log(256.0 / r.zeros)
        assert abs(est - exact[w]) <= max(10, 0.25 * exact[w]), (
            w, exact[w], est, r.raw_est
        )


def _write_events_file(d, fname, rows):
    """rows: (event_id, user_id, ts_iso_or_None, value)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [
                    dt.datetime.fromisoformat(r[2]) if r[2] else None
                    for r in rows
                ],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows)),
            "value": pa.array([float(r[3]) for r in rows]),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(tbl, f"{d}/{fname}")


def test_session_emitter_null_ts_batch_past_deadline_closes(spark, tmp_path):
    """r9 advisor (medium): a batch carrying ONLY NULL-ts rows for a key
    whose gap deadline the watermark has ALREADY passed (keys with data
    in the trigger never get hasTimedOut=True) must close the session
    exactly as the timer would — naively re-arming the stored deadline
    would hand GroupState a timestamp at/behind the watermark, raising
    and killing the whole stream."""
    import time as _time

    from hybridbackend_spark.streaming.ops import (
        read_event_stream,
        run_available_now,
    )
    from hybridbackend_spark.streaming.stateful import session_emitter

    d = str(tmp_path / "sess_null")
    os.makedirs(d)
    # batch 0: user 1 opens a session at 10:00 (gap deadline 10:30)
    _write_events_file(d, "1.parquet", [(0, 1, "2024-03-01 10:00:00", 1.0)])
    _time.sleep(1.1)
    # batch 1: user 4 advances the watermark a full day past 10:30
    _write_events_file(d, "2.parquet", [(1, 4, "2024-03-02 00:00:00", 2.0)])
    _time.sleep(1.1)
    # batch 2: user 1 gets ONLY a NULL-ts row — it HAS data, so its
    # expired timer is suppressed, and the update function must close
    # the session itself (deadline 10:30 <= watermark ~Mar-02)
    _write_events_file(d, "3.parquet", [(2, 1, None, 9.0)])

    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    sess = session_emitter(
        stream.withWatermark("ts", "1 second"), gap="30 minutes"
    )
    out = run_available_now(sess, mode="append").collect()
    mine = [r for r in out if r.user_id == 1]
    assert len(mine) == 1  # emitted exactly once, stream did not crash
    assert mine[0].n_events == 1 and mine[0].sum_value == 1.0
    assert mine[0].session_start.hour == 10


def test_zscore_flags_null_ts_batch_rearms_ttl(spark, tmp_path):
    """r9 verdict item 5 / advisor: invoking the stateful function
    clears any armed timer, so an all-NULL-ts batch used to leave a
    key's (n, s, q) state immortal if real data never returned. The fix
    re-arms the TTL from the watermark: after the all-NULL batch the
    key still expires, and a post-TTL spike restarts its baseline
    (n_prior=0 -> unflagged)."""
    import time as _time

    from hybridbackend_spark.streaming.ops import (
        read_event_stream,
        run_available_now,
    )
    from hybridbackend_spark.streaming.stateful import zscore_flags

    d = str(tmp_path / "zs_null")
    os.makedirs(d)
    # batch 0: user 2 builds an 8-event quiet baseline
    _write_events_file(
        d,
        "1.parquet",
        [(100 + i, 2, f"2024-03-01 10:0{i}:00", 10.0 + (i % 2))
         for i in range(8)],
    )
    _time.sleep(1.1)
    # batch 1: user 2 gets ONLY a NULL-ts row (clears its timer; the fix
    # re-arms TTL from the ~10:07 watermark -> expires 2024-03-02 10:07);
    # user 3 drives the watermark to 2024-03-05 for the NEXT batch
    _write_events_file(
        d,
        "2.parquet",
        [(108, 2, None, 11.0), (300, 3, "2024-03-05 00:00:00", 1.0)],
    )
    _time.sleep(1.1)
    # batch 2: no user-2 data -> its re-armed timer fires against the
    # advanced watermark and the state is evicted
    _write_events_file(d, "3.parquet", [(301, 3, "2024-03-05 00:10:00", 1.0)])
    _time.sleep(1.1)
    # batch 3: user 2 spikes — with the state evicted, n_prior restarts
    # at 0 and the spike must NOT flag (without the re-arm the leaked
    # state flags it with n_prior=8)
    _write_events_file(d, "4.parquet", [(109, 2, "2024-03-05 10:00:00", 500.0)])

    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    flags = zscore_flags(
        stream.withWatermark("ts", "1 second"),
        min_prior=8,
        k_sigma=3,
        state_ttl="1 day",
    )
    out = run_available_now(flags, mode="append").collect()
    assert all(r.user_id != 2 for r in out), [
        (r.user_id, r.event_id, r.n_prior) for r in out
    ]


def test_stream_minhash_dedup_prefix_parity(spark, tmp_path):
    """Incremental minhash dedup must equal the batch operator after
    EVERY batch prefix — including the bridge case where a later doc
    merges two components and RETRACTS a previously-kept survivor."""
    from hybridbackend_spark.operators.dedup import minhash_lsh_dedup
    from hybridbackend_spark.streaming.dedup_stream import (
        minhash_dedup_batch_apply,
        stream_survivors,
    )

    w = [f"w{i}" for i in range(1, 12)]
    v = [f"v{i}" for i in range(1, 12)]
    # 12-word docs, 10 3-shingles each. One edge word changed -> 9
    # common shingles (J = 9/11 = 0.818); both edge words changed ->
    # 8 common (J = 8/12 = 0.667). Threshold 0.75 sits between.
    a_txt = " ".join(w + ["w12"])
    b_txt = " ".join(w + ["x12"])              # A~B = 0.818 (last word)
    c_txt = " ".join(["y1"] + w[1:] + ["x12"])  # B~C = 0.818, A~C = 0.667
    d_txt = " ".join(v + ["v12"])
    f_txt = " ".join(v + ["u12"])              # D~F = 0.818
    e_txt = " ".join(["z1"] + v[1:] + ["u12"])  # E~F = 0.818, D~E = 0.667
    batches = [
        [(10, a_txt), (40, d_txt)],
        [(11, b_txt), (42, e_txt)],
        [(12, c_txt), (41, f_txt)],  # F bridges D and E -> retracts 42
    ]
    kw = dict(threshold=0.75, num_hashes=64, bands=32, shingle_n=3)
    state = str(tmp_path / "state")
    seen = []
    for i, rows in enumerate(batches):
        seen += rows
        bdf = spark.createDataFrame(rows, "doc_id: long, text: string")
        minhash_dedup_batch_apply(spark, bdf, state, "text", "doc_id", **kw)
        inc = {r.doc_id for r in stream_survivors(spark, state, "doc_id").collect()}
        full = spark.createDataFrame(seen, "doc_id: long, text: string")
        ref = {r.doc_id for r in minhash_lsh_dedup(full, "text", "doc_id", **kw).collect()}
        assert inc == ref, f"prefix {i}: {inc} != {ref}"
    # semantic spot checks: the A~B~C chain keeps only A; F's bridge
    # collapses {D, E, F} onto D, retracting E (kept after prefix 1)
    assert inc == {10, 40}
    mid_state = str(tmp_path / "state2")
    for rows in batches[:2]:
        bdf = spark.createDataFrame(rows, "doc_id: long, text: string")
        minhash_dedup_batch_apply(spark, bdf, mid_state, "text", "doc_id", **kw)
    mid = {r.doc_id for r in stream_survivors(spark, mid_state, "doc_id").collect()}
    assert 42 in mid  # E survives until the bridge arrives


def test_stream_minhash_dedup_runner_equals_batch(spark, sf_dir, tmp_path):
    """The foreachBatch runner over a multi-file documents stream lands
    on exactly the batch operator's survivor set (the registered
    stream_minhash_dedup_docs contract, exercised at module scale)."""
    from hybridbackend_spark.operators.dedup import minhash_lsh_dedup
    from hybridbackend_spark.streaming.dedup_stream import (
        run_minhash_dedup_stream,
        stream_survivors,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    state = str(tmp_path / "state")
    run_minhash_dedup_stream(
        spark, stream, state, "text", "doc_id",
        checkpoint_dir=str(tmp_path / "ckpt"), threshold=0.8,
    )
    inc = {r.doc_id for r in stream_survivors(spark, state, "doc_id").collect()}
    ref = {
        r.doc_id
        for r in minhash_lsh_dedup(docs, "text", "doc_id", threshold=0.8).collect()
    }
    assert inc == ref and len(inc) > 0


def test_stream_minhash_dedup_docs_removes_its_scratch(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The registered query's scratch directory (a Parquet copy of
    documents, the dedup state, the stream checkpoint) is gone when it
    returns, and the materialized survivors are still the batch
    operator's."""
    import tempfile

    from hybridbackend_spark.operators.dedup import minhash_lsh_dedup
    from hybridbackend_spark.queries import _t, stream_minhash_dedup_docs

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = stream_minhash_dedup_docs(spark, sf_dir)
    assert [
        p.name for p in tmp_path.iterdir()
        if p.name.startswith("hb_stream_mhdedup_")
    ] == []
    got = sorted(r.doc_id for r in out.collect())
    docs = _t(spark, sf_dir, "documents")
    ref = sorted(
        r.doc_id
        for r in minhash_lsh_dedup(
            docs, "text", "doc_id", threshold=0.8, portable=True
        ).collect()
    )
    assert got == ref and len(got) > 0
