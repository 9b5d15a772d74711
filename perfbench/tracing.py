"""Layer tracing for the benchmark's traced runs.

Everything here wraps calls into the library's public functions from the
outside: nothing in ``hybridbackend_spark`` is edited. Three sources feed
the per-layer record:

- ``Tracer`` spans (name, start, end, parent, query-run id), opened by
  wrappers that are patched onto the library's modules and onto PySpark's
  reader and DataFrame classes only while a traced pass runs;
- Spark's status stores (``AppStatusStore`` for jobs and stages,
  ``SQLAppStatusStore`` for the Python-node SQL metrics), which stay live
  with the UI disabled;
- a ``StreamingQueryListener`` that keeps every micro-batch's progress.

The ``/proc`` readers at the end (CPU time, peak RSS, hypervisor steal)
serve the end-to-end metrics.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import re
import sys
import threading
import time
from dataclasses import dataclass

# Modules whose public functions get an ``operators.<name>`` span (the
# ``functions.metrics`` module keeps its own layer name).
OPERATOR_MODULES = {
    "operators.joins": "hybridbackend_spark.operators.joins",
    "operators.dedup": "hybridbackend_spark.operators.dedup",
    "operators.similarity": "hybridbackend_spark.operators.similarity",
    "operators.graph": "hybridbackend_spark.operators.graph",
    "operators.corpus": "hybridbackend_spark.operators.corpus",
    "functions.metrics": "hybridbackend_spark.functions.metrics",
}
READER_METHODS = ("parquet", "orc", "json")
# On Spark 4 the classic DataFrame overrides these; patching the base
# ``pyspark.sql.DataFrame`` would count nothing.
MATERIALIZE_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    run: int  # query-run id


class Tracer:
    """In-memory span recorder. Single client thread, so spans nest."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run = -1
        self._tid = threading.get_ident()

    def open(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.time(), 0.0, parent, self.run))
        self._stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # calls from Spark's own threads (stream executions) are not
            # part of the client's span tree
            if threading.get_ident() != self._tid:
                return fn(*args, **kwargs)
            idx = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)

        return traced


class Patches:
    """Install the tracer's wrappers; ``restore`` puts the originals back.

    A library function imported by name into another module (e.g.
    ``queries.py`` binds ``lookup_join`` at import) is replaced at every
    binding, so the span opens however the call is spelled.
    """

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def _set(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
        from pyspark.sql.readwriter import DataFrameReader

        t = self.tracer
        for m in READER_METHODS:
            self._set(DataFrameReader, m, t.wrap("sources", getattr(DataFrameReader, m)))
        for m in MATERIALIZE_METHODS:
            self._set(ClassicDataFrame, m, t.wrap("materialize", getattr(ClassicDataFrame, m)))
        loaded = [
            mod for name, mod in list(sys.modules.items())
            if name.startswith("hybridbackend_spark") and mod is not None
        ]
        for layer, modname in OPERATOR_MODULES.items():
            mod = importlib.import_module(modname)
            for fname in getattr(mod, "__all__", ()):
                fn = getattr(mod, fname, None)
                if not inspect.isfunction(fn):
                    continue
                wrapped = t.wrap(layer, fn)
                for other in loaded:
                    for attr, val in list(vars(other).items()):
                        if val is fn:
                            self._set(other, attr, wrapped)

    def restore(self) -> None:
        while self._saved:
            owner, attr, value = self._saved.pop()
            setattr(owner, attr, value)


def layer_totals(spans: list[Span]) -> dict[str, tuple[int, float]]:
    """(calls, seconds) per span name, counting only the outermost span of
    each name: a graph helper calling another graph helper is one call."""
    out: dict[str, list] = {}
    for s in spans:
        p, nested = s.parent, False
        while p >= 0:
            if spans[p].name == s.name:
                nested = True
                break
            p = spans[p].parent
        if nested:
            continue
        c = out.setdefault(s.name, [0, 0.0])
        c[0] += 1
        c[1] += s.end - s.start
    return {k: (v[0], v[1]) for k, v in out.items()}


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: duration minus the part covered by child spans."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent >= 0:
            child[s.parent] += s.end - s.start
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
    return out


def within(spans: list[Span], root: int, names: tuple[str, ...]) -> float:
    """Seconds of outermost ``names`` spans under the span at ``root``."""
    total = 0.0
    for i, s in enumerate(spans):
        if s.name not in names:
            continue
        p, under, shadowed = s.parent, False, False
        while p >= 0:
            if spans[p].name in names:
                shadowed = True
            if p == root:
                under = True
                break
            p = spans[p].parent
        if under and not shadowed:
            total += s.end - s.start
    return total


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
_UNITS = {
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
    "h": 3600.0, "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
    "TiB": 1 << 40,
}
_VALUE = re.compile(r"^\s*([0-9][0-9.,]*)\s*([A-Za-zµ]+)?")
_PY_NODE = re.compile(r"Python|Pandas|InArrow")


def parse_metric(text: str) -> float:
    """Parse a rendered SQL metric: ``"1.2 s"`` or the multi-task form
    ``"total (min, med, max ...)\\n1.2 s (0 ms, ...)"``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    """Reads per-run work counts out of Spark's status stores."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.cores = spark.sparkContext.defaultParallelism
        self.last_job = self._newest_job_id()
        self.last_exec = -1
        self._new_executions()

    def drain(self) -> None:
        """Wait until every queued listener event (job ends, stream
        progress) has been handled, so the stores are complete."""
        self.jsc.listenerBus().waitUntilEmpty()

    def _newest_job_id(self) -> int:
        jobs = self.store.jobsList(None)
        return int(jobs.apply(0).jobId()) if jobs.size() else -1

    def new_jobs(self) -> list:
        """JobData of every job since the previous call (newest first)."""
        jobs = self.store.jobsList(None)
        out = []
        for i in range(int(jobs.size())):
            j = jobs.apply(i)
            if int(j.jobId()) <= self.last_job:
                break
            out.append(j)
        if out:
            self.last_job = int(out[0].jobId())
        return out

    def job_stats(self, jobs: list, t0: float, t1: float,
                  build: tuple[float, float]) -> dict:
        """Counters over ``jobs`` for a query run spanning [t0, t1]
        (epoch seconds); ``build`` is the build span's interval."""
        stats = dict.fromkeys(
            ("jobs", "build_jobs", "stages", "tasks", "executor_run_s",
             "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes"), 0.0)
        intervals = []
        seen: set[int] = set()
        for j in jobs:
            stats["jobs"] += 1
            sub = j.submissionTime()
            if sub.isDefined():
                ts = sub.get().getTime() / 1000.0
                if build[0] <= ts <= build[1]:
                    stats["build_jobs"] += 1
            for sid in _seq(j.stageIds()):
                sid = int(sid)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # stage evicted or never attempted
                    continue
                if str(st.status().toString()) == "SKIPPED":
                    continue
                stats["stages"] += 1
                stats["tasks"] += int(st.numCompleteTasks()) + int(st.numFailedTasks())
                stats["executor_run_s"] += st.executorRunTime() / 1000.0
                stats["executor_cpu_s"] += st.executorCpuTime() / 1e9
                stats["shuffle_read_bytes"] += (
                    st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()
                )
                stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
                stats["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                s0, s1 = st.submissionTime(), st.completionTime()
                if s0.isDefined() and s1.isDefined():
                    intervals.append((s0.get().getTime() / 1000.0,
                                      s1.get().getTime() / 1000.0))
        wall = max(t1 - t0, 1e-9)
        stats["idle_s"] = max(0.0, wall - _covered(intervals, t0, t1))
        stats["wall_s"] = wall
        return stats

    def _new_executions(self) -> list:
        """SQLExecutionUIData of every execution since the previous call.
        The list is ordered by id and old entries may be evicted, so read
        a growing window from its tail."""
        count = int(self.sql_store.executionsCount())
        k = 64
        while True:
            window = list(_seq(self.sql_store.executionsList(max(0, count - k), k)))
            if not window or count <= k or int(window[0].executionId()) <= self.last_exec:
                break
            k *= 2
        new = [ex for ex in window if int(ex.executionId()) > self.last_exec]
        if new:
            self.last_exec = int(new[-1].executionId())
        return new

    def python_metrics(self) -> dict[str, float]:
        """Sums of the Python-node SQL metrics (Arrow/pandas boundary)
        over the executions since the previous call."""
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        for ex in self._new_executions():
            if not _PY_NODE.search(str(ex.physicalPlanDescription())):
                continue
            wanted = {}
            for m in _seq(ex.metrics()):
                key = _PY_METRICS.get(str(m.name()))
                if key:
                    wanted[int(m.accumulatorId())] = key
            if not wanted:
                continue
            # Map[Long, String]; iterate it, since a py4j int key would
            # arrive as an Integer and miss every Long key
            for entry in _seq(self.sql_store.executionMetrics(ex.executionId())):
                key = wanted.get(int(entry._1()))
                if key:
                    out[key] += parse_metric(str(entry._2()))
        return out


def _covered(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, t0), min(e, t1)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def make_stream_listener():
    """A StreamingQueryListener that keeps each micro-batch's progress as
    a plain dict: batch id, run id, durations, input and state rows."""
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ops = p.stateOperators or []
            self.batches.append({
                "run": str(p.runId),
                "batch": int(p.batchId),
                "ms": dict(p.durationMs or {}),
                "input_rows": int(p.numInputRows or 0),
                "state_rows": sum(int(s.numRowsTotal) for s in ops),
                "state_mem": sum(int(s.memoryUsedBytes) for s in ops),
                "state_commit_ms": sum(int(s.commitTimeMs) for s in ops),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressLog()


def _process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and each live descendant (the JVM, the Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def reset_peak_rss(root_pid: int) -> None:
    """Reset the peak RSS of the process tree to its current RSS, so a
    later ``process_tree_peak_rss`` covers only what ran after this."""
    for pid in _process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by ``root_pid`` and each live descendant. Time the hypervisor takes
    the CPUs away (steal) is not charged to it, unlike wall time."""
    ticks = 0
    for pid in _process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of stat(5)
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def jit_cpu_s(jvm_pid: int) -> dict[int, float]:
    """CPU seconds used so far by each live JIT compiler thread of the
    JVM, by thread id."""
    out = {}
    task_dir = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/stat") as f:
                text = f.read()
        except OSError:
            continue
        name = text[text.index("(") + 1:text.rindex(")")]
        if "CompilerThre" in name:  # "C1/C2 CompilerThread<n>", cut to 15 chars
            # utime, stime
            ticks = sum(int(x) for x in text.rsplit(")", 1)[1].split()[11:13])
            out[int(tid)] = ticks / _CLK_TCK
    return out


def work_cpu_delta(before: tuple, after: tuple) -> float:
    """CPU seconds between two ``(process_tree_cpu_s, jit_cpu_s)``
    readings, less what the JIT compiler threads used. The JVM stops idle
    compiler threads; one that ended in between keeps its CPU in the
    process total, so only its growth since ``before`` is lost, and it
    is not taken off."""
    total0, jit0 = before
    total1, jit1 = after
    jit = sum(v - jit0.get(tid, 0.0) for tid, v in jit1.items())
    return total1 - total0 - jit


def host_steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time stolen by the hypervisor between two
    ``host_cpu_ticks`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def host_cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def process_tree_peak_rss(root_pid: int) -> dict[int, float]:
    """Peak RSS (VmHWM) in MB of ``root_pid`` and each live descendant."""
    out = {}
    for pid in _process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out
