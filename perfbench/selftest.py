"""Self-test of the benchmark's tracing.

    python3 perfbench/selftest.py

Runs one known query (``sssp_suppliers`` at sf0.01) traced, twice, and
checks that:

- the counts that are fixed by plan and data (materialize calls, Parquet
  reads, Spark jobs) repeat exactly and equal the counts pinned below.
  Zero materialize calls would mean the wrappers sit on the wrong class:
  on Spark 4 the classic DataFrame overrides
  ``pyspark.sql.DataFrame.localCheckpoint``;
- ``queries.build_s + exec.s`` reconciles with the query's wall time, and
  the span self-times add up to it.

It also prints the tracing overhead against an untraced run. Exit code 0
when every check passes.
"""

from __future__ import annotations

import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import run as bench  # noqa: E402
import tracing  # noqa: E402
from workloads import Workload  # noqa: E402

QUERY = "sssp_suppliers"
# Counts of one traced sssp_suppliers run at sf0.01, taken when the
# benchmark was defined; a change to the query or operator moves them.
PINNED = {"materialize.calls": 7, "sources.reads": 3, "spark.jobs": 43}


def traced_run(b: bench.Bench, fn, counters) -> tuple[dict, list, tuple]:
    tracer = tracing.Tracer()
    patches = tracing.Patches(tracer)
    patches.install()
    try:
        tracer.run = 0
        wall, ids = b.run_query(QUERY, fn, tracer)
    finally:
        patches.restore()
    counters.drain()
    root, bld = tracer.spans[ids[0]], tracer.spans[ids[1]]
    stats = counters.job_stats(counters.new_jobs(), root.start, root.end,
                               (bld.start, bld.end))
    rec = bench.layer_record(
        {"spans": tracer.spans, "spark": [stats], "batches": [],
         "python": counters.python_metrics()},
        b.spark.sparkContext.defaultParallelism)
    return rec, tracer.spans, (wall, ids)


def main() -> int:
    from hybridbackend_spark.queries import get_queries

    w = Workload("selftest", "sf0.01", (QUERY,), 1.0, 0, 0)
    tmp = bench.scratch_env()
    b = bench.Bench(w, 0, 0, True, bench.DEFAULT_DATA)
    fn = get_queries()[QUERY]
    failures = []
    try:
        b.start_session()
        fn(b.spark, b.sf_dir).write.format("noop").mode("overwrite").save()  # warm
        counters = tracing.SparkCounters(b.spark)
        recs = []
        for _ in range(2):
            rec, spans, (wall, (root, bld)) = traced_run(b, fn, counters)
            recs.append(rec)
            ex = next(i for i, s in enumerate(spans) if s.name == "exec")
            parts = (spans[bld].end - spans[bld].start) + (spans[ex].end - spans[ex].start)
            if abs(parts - wall) > 0.01 * wall + 0.002:
                failures.append(f"build_s + exec_s = {parts:.4f} vs wall {wall:.4f}")
            selfs = sum(tracing.self_times(spans).values())
            if abs(selfs - wall) > 1e-6:
                failures.append(f"self times sum {selfs:.6f} vs wall {wall:.6f}")
        for k, want in PINNED.items():
            a, c = recs[0][k][0], recs[1][k][0]
            print(f"{k:20s} {a:8.0f} {c:8.0f}  pinned {want}")
            if a != c:
                failures.append(f"{k} does not repeat: {a} then {c}")
            if a != want:
                failures.append(f"{k} is {a}, pinned {want}")
        t0 = time.perf_counter()
        fn(b.spark, b.sf_dir).write.format("noop").mode("overwrite").save()
        plain = time.perf_counter() - t0
        traced = recs[1]["queries.build_s"][0] + recs[1]["exec.s"][0]
        print(f"traced wall {traced:.3f}s, untraced {plain:.3f}s, "
              f"overhead {traced / plain - 1.0:+.3f}")
    finally:
        b.teardown()
        shutil.rmtree(tmp, ignore_errors=True)
    for f in failures:
        print(f"FAIL {f}")
    print("selftest", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
