"""Per-stage profiler for registered queries (optimization rounds).

Runs each named query with the noop sink (guide §1.4), then reads the
jobs and stages of its timed reps from Spark's status store through
``perfbench/tracing.py``'s ``SparkCounters``, which stays live with the
UI off: wall time, task count, shuffle read/write bytes, input bytes,
spill. Prints a per-query stage table, and optionally writes the
formatted plan to a file (for plans/r12/<q>_before.txt / _after.txt).

Usage:
  python tools/profile_query.py [--plans-dir DIR] [--suffix before] \
      [--reps 2] query [query ...]

The timing here is diagnostic (which stage costs what), not canonical —
bench.py remains the only source of recorded before/after seconds.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

from py4j.protocol import Py4JJavaError

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()

    from hybridbackend_spark.queries import get_queries
    from hybridbackend_spark.session import get_session
    from perfbench.tracing import SparkCounters

    spark = get_session(
        "profile", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    queries = get_queries()
    counters = SparkCounters(spark)

    for name in args.queries:
        fn = queries[name]
        # warm-up (footer caches, codegen)
        df = fn(spark, args.sf_dir)
        df.write.format("noop").mode("overwrite").save()

        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            plan = fn(spark, args.sf_dir)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan)

        # timed reps: the jobs since the warm-up are theirs
        counters.drain()
        counters.new_jobs()
        best = None
        for i in range(args.reps):
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best

        counters.drain()
        jobs = counters.new_jobs()
        stage_ids = sorted(
            {int(j.stageIds().apply(i)) for j in jobs
             for i in range(j.stageIds().size())}
        )
        n_reps_jobs = len(jobs)
        print(f"\n=== {name}: best wall {best:.3f}s over {args.reps} reps, "
              f"{n_reps_jobs} jobs, {len(stage_ids)} stages (all reps) ===")
        print(f"{'stage':>6} {'wall_s':>8} {'tasks':>6} {'in_MB':>8} "
              f"{'shR_MB':>8} {'shW_MB':>8} {'spill_MB':>9}  name")
        rows = []
        for sid in stage_ids:
            try:
                s = counters.store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted or never attempted
                continue
            if str(s.status().toString()) != "COMPLETE":
                continue
            rows.append(
                (
                    sid,
                    s.executorRunTime() / 1000.0,
                    s.numCompleteTasks(),
                    s.inputBytes() / 1e6,
                    s.shuffleReadBytes() / 1e6,
                    s.shuffleWriteBytes() / 1e6,
                    s.diskBytesSpilled() / 1e6,
                    (s.name() or "")[:70],
                )
            )
        rows.sort(key=lambda r: -r[1])
        for r in rows[:14]:
            print(
                f"{r[0]:>6} {r[1]:>8.2f} {r[2]:>6} {r[3]:>8.1f} "
                f"{r[4]:>8.1f} {r[5]:>8.1f} {r[6]:>9.1f}  {r[7]}"
            )
        tot_sh = sum(r[5] for r in rows)
        print(f"total executor-time {sum(r[1] for r in rows):.2f}s, "
              f"shuffle write {tot_sh:.1f} MB across all reps")

    spark.stop()


if __name__ == "__main__":
    main()
