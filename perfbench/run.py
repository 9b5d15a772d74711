"""Benchmark for hybridbackend_spark: one closed-loop client on local[4].

    python3 perfbench/run.py --workload recsys_batch --seed 1 --seconds 20 --trace 0

Each run fills the DuckDB oracle hash cache if it is stale, starts a
session, prepares its inputs, runs every query of the workload once to
check its output against the oracle, warms up, then times seeded-order
passes, as many as ``round(--seconds / nominal_pass_s)`` and at least
two, with the probe's plain Spark SQL statements run between query runs
as the yardstick for the host's speed. With
``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` passes alternate untraced and traced, and it holds the
per-layer split. See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
WORK_DIR = REPO_ROOT / ".perfbench"
DEFAULT_DATA = Path.home() / "testdata"
CORES = 4
MIN_PASSES = 2
STEAL_WARN = 0.1
# The end-to-end metrics in the JSON, each bounded in BENCHMARK.json; the
# rest are printed only.
BOUNDED = ("setup_s", "pass_norm", "query_geomean_norm", "peak_rss_mb")
# Untimed rounds over the probe statements before timing.
WARM_PROBE_ROUNDS = 2
DRIVER_MEMORY = "2g"
T_START = time.perf_counter()

sys.path.insert(0, str(REPO_ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import tracing  # noqa: E402
from workloads import (  # noqa: E402
    PROBE_SQL, WORKLOADS, is_stream, pass_order, probe_session, run_probe)


def log(msg: str) -> None:
    t = time.perf_counter() - T_START
    print(f"[perfbench {t:6.1f}s] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = list(xs)
    return math.exp(statistics.fmean(math.log(max(x, 1e-9)) for x in xs)) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def host_notes() -> list[str]:
    """Things on the host that would distort a run: another Spark JVM, or
    more runnable work than cores."""
    notes = []
    me = os.getpid()
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == me:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            notes.append(f"stray SparkSubmit JVM pid {d}")
    load1 = os.getloadavg()[0]
    if load1 > CORES:
        notes.append(f"loadavg {load1:.2f} > {CORES} cores")
    return notes


class Bench:
    def __init__(self, workload, seed: int, seconds: float, trace: bool,
                 data_root: Path) -> None:
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.data_root = str(data_root)
        self.sf_dir = str(data_root / workload.scale)
        self.stream_dir = None  # the stream shapes' input copy
        self.has_stream = any(is_stream(q) for q in workload.queries)
        self.spark = None
        self.listener = None
        self.saved_max_files = None
        self.attempted = 0
        self.failed = 0
        self.parallelism = 0  # the session's resolved defaultParallelism
        self.probe_runs = 0
        self.peak_rss_mb = 0.0

    # -- session ---------------------------------------------------------

    def _conf(self) -> dict[str, str]:
        py_path = os.pathsep.join(
            p for p in (str(REPO_ROOT), os.environ.get("PYTHONPATH")) if p
        )
        return {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(WORK_DIR / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK_DIR / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK_DIR / 'tmp'}",
            # pandas UDFs import the package in the Python workers,
            # wherever the benchmark is launched from
            "spark.executorEnv.PYTHONPATH": py_path,
            "spark.executorEnv.PYTHONWARNINGS": "ignore::FutureWarning",
        }

    def start_session(self) -> float:
        from hybridbackend_spark.session import get_session

        t0 = time.perf_counter()
        self.spark = get_session("perfbench", extra_conf=self._conf())
        return time.perf_counter() - t0

    def setup(self) -> dict:
        """Start the session, which launches the JVM, then prepare the
        stream input. Returns both times."""
        from hybridbackend_spark.streaming import ops

        from workloads import MAX_FILES_PER_TRIGGER, prepare_stream_input

        t0 = time.perf_counter()
        start = self.start_session()
        if self.has_stream:
            self.stream_dir = prepare_stream_input(
                self.spark, self.sf_dir, str(WORK_DIR))
        total = time.perf_counter() - t0
        if self.has_stream:
            self.saved_max_files = ops.DEFAULT_MAX_FILES_PER_TRIGGER
            ops.DEFAULT_MAX_FILES_PER_TRIGGER = MAX_FILES_PER_TRIGGER
            self.listener = tracing.make_stream_listener()
            self.spark.streams.addListener(self.listener)
        return {"start_s": start, "setup_s": total}

    def teardown(self) -> None:
        """Restore the stream default, stop Spark, and wait for the JVM."""
        if self.has_stream:
            from hybridbackend_spark.streaming import ops

            ops.DEFAULT_MAX_FILES_PER_TRIGGER = self.saved_max_files
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- query runs ------------------------------------------------------

    def cpu_reading(self) -> tuple:
        """CPU used so far by the process tree (Python, JVM, Python
        workers) and by the JVM's JIT compiler threads, for
        ``tracing.work_cpu_delta``: compiling is the JVM warming up, not
        the workload's work."""
        from pyspark import SparkContext

        jvm = SparkContext._gateway.proc.pid
        return tracing.process_tree_cpu_s(os.getpid()), tracing.jit_cpu_s(jvm)

    def query_dir(self, name: str) -> str:
        return self.stream_dir if is_stream(name) else self.sf_dir

    def _after_query(self, name: str) -> None:
        """A stream shape leaves a memory-sink view per run; drop them so
        driver memory does not grow with the number of passes."""
        if is_stream(name):
            for t in self.spark.catalog.listTables():
                if t.isTemporary:
                    self.spark.catalog.dropTempView(t.name)

    def warmup_check(self, queries, checker) -> dict[str, float]:
        """Run every query once, outside the timed passes: collect its
        result and compare its hash with the DuckDB oracle's on the same
        tables. Returns each query's first-run latency (build + collect)."""
        first = {}
        for name in self.w.queries:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                df = queries[name](self.spark, self.query_dir(name))
                cols = df.columns
                rows = [tuple(r) for r in df.collect()]
                first[name] = time.perf_counter() - t0
                reason = checker.compare(name, cols, rows)
            except Exception:
                self.failed += 1
                log(f"FAIL {name}: {traceback.format_exc(limit=3)}")
                continue
            if reason:
                self.failed += 1
                log(f"WRONG {name}: {reason}")
            self._after_query(name)
        return first

    def run_query(self, name: str, fn, tracer=None) -> tuple[float, tuple | None]:
        """One timed query run: build the DataFrame, then execute it with
        a noop write. Returns (wall seconds, (root, build) span ids)."""
        sf_dir = self.query_dir(name)
        if tracer is None:
            t0 = time.perf_counter()
            fn(self.spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0, None
        root = tracer.open("query")
        build = tracer.open("queries.build")
        try:
            df = fn(self.spark, sf_dir)
        finally:
            tracer.close(build)
        ex = tracer.open("exec")
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            tracer.close(ex)
            tracer.close(root)
        s = tracer.spans[root]
        return s.end - s.start, (root, build)

    def timed_pass(self, queries, order: list[str], counters, traced: bool,
                   probe=None) -> dict:
        """One pass over ``order``. A traced pass installs the span
        wrappers and reads the status stores after each query run. An
        untraced pass given the probe session runs probe statements
        before each query run, outside its timed region."""
        tracer = tracing.Tracer() if traced else None
        patches = tracing.Patches(tracer) if traced else None
        rec = {"traced": traced, "queries": [], "batches": [], "spark": [],
               "python": {}, "wall": 0.0, "probes": []}
        host0 = tracing.host_cpu_ticks()
        if patches:
            patches.install()
        try:
            for name in order:
                if probe is not None and not traced:
                    for _ in range(self.w.probes_per_query):
                        i = self.probe_runs
                        self.probe_runs += 1
                        rec["probes"].append((i % len(PROBE_SQL),
                                              run_probe(probe, self.data_root, i)))
                self.attempted += 1
                mark = len(self.listener.batches) if self.listener else 0
                if tracer:
                    tracer.run += 1
                cpu0 = self.cpu_reading()
                try:
                    secs, ids = self.run_query(name, queries[name], tracer)
                except Exception:
                    self.failed += 1
                    log(f"FAIL {name}: {traceback.format_exc(limit=3)}")
                    continue
                cpu = tracing.work_cpu_delta(cpu0, self.cpu_reading())
                rec["queries"].append((name, secs, cpu))
                rec["wall"] += secs
                if counters:
                    counters.drain()
                    jobs = counters.new_jobs()
                    python = counters.python_metrics()
                    if ids:
                        root, build = tracer.spans[ids[0]], tracer.spans[ids[1]]
                        rec["spark"].append(counters.job_stats(
                            jobs, root.start, root.end, (build.start, build.end)))
                        for k, v in python.items():
                            rec["python"][k] = rec["python"].get(k, 0.0) + v
                if self.listener:
                    self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
                    rec["batches"].extend(self.listener.batches[mark:])
                self._after_query(name)
        finally:
            if patches:
                patches.restore()
        rec["steal"] = tracing.host_steal_frac(host0, tracing.host_cpu_ticks())
        if tracer:
            rec["spans"] = tracer.spans
        return rec


def pass_kind(trace: bool, pass_no: int) -> str:
    """An untraced run times every pass. A traced run alternates plain
    and traced passes as ABBA, so neither side always runs first; with
    only two passes it is one of each."""
    if not trace:
        return "plain"
    return ("plain", "traced", "traced", "plain")[pass_no % 4]


def probe_s(passes: list[dict]) -> float:
    """The probe's time: the sum over its statements of each one's median
    seconds."""
    per_sql: dict[int, list[float]] = {}
    for p in passes:
        for i, secs in p["probes"]:
            per_sql.setdefault(i, []).append(secs)
    return sum(median(v) for v in per_sql.values())


def end_to_end(b: Bench, setup: dict, first: dict, passes: list[dict]) -> dict:
    """The end-to-end metrics of an untraced run, as (value, unit). A
    ``_norm`` metric is its ``_s`` twin divided by ``probe_s``, so it
    reads in probes, not seconds."""
    per_query: dict[str, list[float]] = {}
    cpu: dict[str, list[float]] = {}
    for p in passes:
        for name, secs, cpu_s in p["queries"]:
            per_query.setdefault(name, []).append(secs)
            cpu.setdefault(name, []).append(cpu_s)
    meds = {n: median(v) for n, v in per_query.items()}
    cpu_meds = [median(v) for v in cpu.values()]
    probe = probe_s(passes)
    return {
        "setup_s": (setup["setup_s"] + sum(first.values()), "s"),
        "pass_norm": (sum(meds.values()) / probe, "probe"),
        "query_geomean_norm": (geomean(meds.values()) / probe, "probe"),
        "probe_s": (probe, "s"),
        "pass_s": (sum(meds.values()), "s"),
        "query_geomean_s": (geomean(meds.values()), "s"),
        "query_p90_ratio": (
            p90([s / meds[n] for n, v in per_query.items() for s in v]), "ratio"),
        "pass_cpu_s": (sum(cpu_meds), "s"),
        "query_cpu_geomean_s": (geomean(cpu_meds), "s"),
        "peak_rss_mb": (b.peak_rss_mb, "MB"),
    }


def stream_end_to_end(passes: list[dict]) -> dict:
    """Micro-batch latencies of the stream shapes' timed runs, as (value,
    unit): steady batches are those with id >= 1, batch 0 carries the
    state-store and log init."""
    batches = [x for p in passes for x in p["batches"]]
    steady = [x["ms"].get("triggerExecution", 0) / 1e3
              for x in batches if x["batch"] >= 1]
    firsts = [x["ms"].get("triggerExecution", 0) / 1e3
              for x in batches if x["batch"] == 0]
    return {
        "batch_p50_s": (median(steady), "s"),
        "batch_p90_s": (p90(steady), "s"),
        "first_batch_s": (median(firsts), "s"),
        "events_per_s": (events_per_s(passes), "events/s"),
    }


STREAM_MS = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
}
OPERATOR_LAYERS = (
    "operators.joins", "operators.dedup", "operators.similarity",
    "operators.graph", "operators.corpus", "functions.metrics",
)


def events_per_s(passes: list[dict]) -> float:
    """Input rows of the steady micro-batches (id >= 1) over their
    summed ``triggerExecution`` seconds."""
    steady = [x for p in passes for x in p["batches"] if x["batch"] >= 1]
    secs = sum(x["ms"].get("triggerExecution", 0) for x in steady) / 1e3
    return sum(x["input_rows"] for x in steady) / secs if secs else 0.0


SPARK_SUMS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("idle_s", "s"),
    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
)
ARROW_UNITS = {
    "python_run_s": "s", "python_start_s": "s", "python_init_s": "s",
    "bytes_to_python": "bytes", "bytes_from_python": "bytes",
}


def layer_record(pass_: dict, cores: int) -> dict[str, tuple[float, str]]:
    """Per-layer totals of one traced pass, as (value, unit)."""
    spans = pass_["spans"]
    totals = tracing.layer_totals(spans)

    def calls(n):
        return (float(totals.get(n, (0, 0.0))[0]), "count")

    def secs(n):
        return (totals.get(n, (0, 0.0))[1], "s")

    rec = {
        "sources.reads": calls("sources"),
        "sources.resolve_s": secs("sources"),
        "queries.build_s": secs("queries.build"),
        "queries.build_self_s": (sum(
            s.end - s.start - tracing.within(spans, i, ("sources", "materialize"))
            for i, s in enumerate(spans) if s.name == "queries.build"), "s"),
        "exec.s": secs("exec"),
        "materialize.calls": calls("materialize"),
        "materialize.s": secs("materialize"),
    }
    for layer in OPERATOR_LAYERS:
        rec[f"{layer}.calls"] = calls(layer)
        rec[f"{layer}.s"] = secs(layer)

    sp = pass_["spark"]
    for k, unit in SPARK_SUMS:
        rec[f"spark.{k}"] = (sum(q[k] for q in sp), unit)
    rec["queries.build_jobs"] = (sum(q["build_jobs"] for q in sp), "count")
    wall = sum(q["wall_s"] for q in sp)
    run_s = rec["spark.executor_run_s"][0]
    rec["spark.core_util"] = (run_s / max(1e-9, wall * cores), "ratio")

    batches = pass_["batches"]
    for key, src in STREAM_MS.items():
        rec[f"streaming.{key}"] = (float(sum(x["ms"].get(src, 0) for x in batches)), "ms")
    rec["streaming.state_commit_ms"] = (
        float(sum(x["state_commit_ms"] for x in batches)), "ms")
    runs: dict[str, list[dict]] = {}
    for x in batches:
        runs.setdefault(x["run"], []).append(x)
    rec["streaming.state_rows"] = (float(sum(
        max(r, key=lambda x: x["batch"])["state_rows"] for r in runs.values())), "rows")
    rec["streaming.state_mem_mb"] = (sum(
        max(x["state_mem"] for x in r) for r in runs.values()) / 2**20, "MB")
    rec["streaming.input_rows"] = (float(sum(x["input_rows"] for x in batches)), "rows")
    rec["streaming.events_per_s"] = (events_per_s([pass_]), "events/s")

    for k, unit in ARROW_UNITS.items():
        rec[f"arrow.{k}"] = (pass_["python"].get(k, 0.0), unit)
    return rec


def run(args) -> dict:
    from hybridbackend_spark.queries import get_queries

    from check import OracleCheck

    w = WORKLOADS[args.workload]
    b = Bench(w, args.seed, args.seconds, bool(args.trace), Path(args.data))
    queries = get_queries()
    checker = OracleCheck(str(REPO_ROOT), b.sf_dir, str(WORK_DIR / "oracle"))
    try:
        checker.prepare(w.queries)
    except Exception:  # the queries then fail their check
        log(f"oracle prep failed: {traceback.format_exc(limit=3)}")
    try:
        setup = b.setup()
        sc = b.spark.sparkContext
        b.parallelism = sc.defaultParallelism
        log(f"defaultParallelism={b.parallelism} master={sc.master} setup={setup}")
        first = b.warmup_check(queries, checker)
        log("first runs: " + " ".join(f"{k}={v:.2f}" for k, v in first.items()))
        probe = probe_session(b.spark)
        for i in range(WARM_PROBE_ROUNDS * len(PROBE_SQL)):
            run_probe(probe, b.data_root, i)
        for n in range(w.warm_passes):
            b.timed_pass(queries, pass_order(w.queries, b.seed, -1 - n), None, False)
        # peak RSS covers the timed phase, not the check's collected rows
        tracing.reset_peak_rss(os.getpid())
        counters = tracing.SparkCounters(b.spark) if b.trace else None
        n_passes = max(MIN_PASSES, round(b.seconds / w.nominal_pass_s))
        passes = [
            b.timed_pass(queries, pass_order(w.queries, b.seed, n), counters,
                         pass_kind(b.trace, n) == "traced", probe)
            for n in range(n_passes)
        ]
        peaks = tracing.process_tree_peak_rss(os.getpid())
        b.peak_rss_mb = sum(peaks.values())
        log("peak rss MB by pid: " + " ".join(f"{k}={v:.0f}" for k, v in peaks.items()))
        log("probes: " + " ".join(f"{i}:{t:.3f}" for p in passes for i, t in p["probes"]))
        log(f"pass walls: {[round(p['wall'], 3) for p in passes]} "
            f"steal: {[round(p['steal'], 3) for p in passes]}")
        for p in passes:
            log("pass: " + " ".join(f"{n}={t:.2f}/{c:.2f}cpu"
                                    for n, t, c in sorted(p["queries"])))
        if not b.trace:
            return {"e2e": end_to_end(b, setup, first, passes), "b": b,
                    "passes": passes}
        traced = [p for p in passes if p["traced"]]
        plain = [p for p in passes if not p["traced"]]
        recs = [layer_record(p, b.parallelism) for p in traced]
        layers = {k: (median([r[k][0] for r in recs]), unit)
                  for k, (_, unit) in recs[0].items()}
        layers["session.start_s"] = (setup["start_s"], "s")
        layers["session.warmup_s"] = (sum(first.values()), "s")
        layers["trace.overhead_frac"] = (
            median([p["wall"] for p in traced]) / median([p["wall"] for p in plain]) - 1.0,
            "ratio")
        write_spans(w.name, b.seed, traced)
        return {"layers": layers, "b": b, "passes": passes}
    finally:
        b.teardown()


def write_spans(workload: str, seed: int, traced: list[dict]) -> None:
    """Write the traced passes' spans as JSON lines under the work dir."""
    out = WORK_DIR / "traces" / f"{workload}-seed{seed}.jsonl"
    out.parent.mkdir(parents=True, exist_ok=True)
    with open(out, "w") as f:
        for pno, p in enumerate(traced):
            for i, s in enumerate(p["spans"]):
                f.write(json.dumps({
                    "pass": pno, "id": i, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent, "run": s.run,
                }) + "\n")


def scratch_env() -> Path:
    """Point the session's core count and every temp file (stream
    checkpoints, Spark scratch) at the work dir; returns the fresh temp
    dir, which the caller removes."""
    tmp = WORK_DIR / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    return tmp


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=str(DEFAULT_DATA),
                    help="directory holding the sf0.01 and sf0.1 test tables")
    args = ap.parse_args()

    try:
        import pyspark  # noqa: F401

        import hybridbackend_spark
    except ImportError as e:
        log(f"cannot import the library under test: {e}")
        return 2
    if Path(hybridbackend_spark.__file__).resolve().parent.parent != REPO_ROOT:
        log(f"hybridbackend_spark is not the copy in {REPO_ROOT}")
        return 2
    sf_dir = Path(args.data) / WORKLOADS[args.workload].scale
    if not (sf_dir / "events.parquet").exists():
        log(f"test tables not found under {sf_dir}")
        return 2

    notes = host_notes()
    for note in notes:
        log(f"WARNING {note}")
    tmp = scratch_env()
    try:
        res = run(args)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    b = res["b"]
    steal = max(p["steal"] for p in res["passes"])
    if steal > STEAL_WARN:
        notes.append(f"hypervisor steal {steal:.2f} of host CPU in a timed pass")
    for note in notes:
        print(f"{args.workload} host_warning = {note}")
    print(f"{args.workload} default_parallelism = {b.parallelism}")
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in sorted(res["layers"].items())}
    else:
        metrics = {k: {"value": res["e2e"][k][0], "unit": res["e2e"][k][1]}
                   for k in BOUNDED}
        shown = dict(res["e2e"])
        if b.has_stream:
            shown.update(stream_end_to_end(res["passes"]))
        shown["ops_failed_frac"] = (b.failed / max(1, b.attempted), "ratio")
        shown["host_steal_frac"] = (median([p["steal"] for p in res["passes"]]), "ratio")
        for k, (v, u) in shown.items():
            print(f"{args.workload} {k} = {v:.6g} {u}")
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
