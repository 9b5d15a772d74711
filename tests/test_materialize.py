"""Lineage cuts (``hybridbackend_spark._materialize``): every cut in the
package calls ``materialize``, the only ``localCheckpoint``/``checkpoint``
call; each site keeps its eager or lazy mode; the few scoped ``persist``
caches are named exceptions. On a multi-process master, a cut made with
a checkpoint dir survives the loss of every executor and one made
without it does not."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import signal
import subprocess
import sys
import textwrap

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "hybridbackend_spark"

# Scoped caches that keep their own persist(), keyed by (module path,
# enclosing top-level function): (number of sites, reason).
KEPT = {
    ("operators/dedup.py", "minhash_lsh_candidates"): (
        1,
        "signatures read twice by ONE eager candidate cut, unpersisted in "
        "a finally",
    ),
    ("queries.py", "_i2i_state_cached"): (
        2,
        "the i2i (ui, sim) state is shared across queries and unpersisted "
        "when its file stamps change",
    ),
}
# Eager and lazy materialize() calls in the package.
EAGER_SITES = 47
LAZY_SITES = 15


def _calls(attrs):
    """``(module path, top-level function or None, attr)`` for each
    ``<expr>.<attr>(...)`` call in the package."""
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for top in ast.parse(path.read_text()).body:
            owner = getattr(top, "name", None)
            for n in ast.walk(top):
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr in attrs
                ):
                    yield rel, owner, n.func.attr


def test_one_module_cuts_lineage():
    sites = sorted(_calls({"localCheckpoint", "checkpoint"}))
    assert sites == [
        ("_materialize.py", "materialize", "checkpoint"),
        ("_materialize.py", "materialize", "localCheckpoint"),
    ], sites


def test_caches_are_the_named_exceptions():
    found = {}
    for rel, owner, _ in _calls({"persist", "cache"}):
        found[(rel, owner)] = found.get((rel, owner), 0) + 1
    assert found == {k: n for k, (n, _) in KEPT.items()}


def test_each_site_keeps_its_mode():
    eager = lazy = 0
    odd = []
    for path in sorted(PKG.rglob("*.py")):
        for n in ast.walk(ast.parse(path.read_text())):
            if not (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Name)
                and n.func.id == "materialize"
            ):
                continue
            kw = [(k.arg, getattr(k.value, "value", k.value)) for k in n.keywords]
            if len(n.args) == 1 and not kw:
                eager += 1
            elif len(n.args) == 1 and kw == [("eager", False)]:
                lazy += 1
            else:
                odd.append((path.name, n.lineno))
    # eager is spelled as the default, lazy as eager=False; nothing else
    assert odd == []
    assert (eager, lazy) == (EAGER_SITES, LAZY_SITES)


def test_materialize_cuts_locally_without_a_checkpoint_dir(spark, monkeypatch):
    from pyspark.sql.classic.dataframe import DataFrame

    from hybridbackend_spark._materialize import materialize

    assert spark.sparkContext.getCheckpointDir() is None
    seen = []
    local = DataFrame.localCheckpoint

    def spy(self, eager=True):
        seen.append(eager)
        return local(self, eager=eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    monkeypatch.setattr(
        DataFrame, "checkpoint", lambda *a, **k: seen.append("reliable")
    )
    df = spark.range(10)
    assert [r.id for r in materialize(df).collect()] == list(range(10))
    assert materialize(df, eager=False).count() == 10
    assert seen == [True, False]


# Runs in its own process: the test session is a local[...] singleton,
# and executors must be separate JVMs to be lost.
_EXECUTOR_LOSS = textwrap.dedent(
    """
    import json, sys, tempfile, time

    from pyspark.sql import SparkSession, functions as F

    from hybridbackend_spark._materialize import materialize

    spark = (
        SparkSession.builder.master("local-cluster[2,1,1024]")
        .config("spark.task.maxFailures", "2")
        .config("spark.stage.maxConsecutiveAttempts", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


    def executors(pred):
        for _ in range(1200):
            ids = set(sc._jsc.sc().getExecutorIds().mkString(",").split(","))
            ids.discard("")
            if pred(ids):
                return ids
            time.sleep(0.1)
        raise TimeoutError(f"executors {ids}")


    try:
        sc = spark.sparkContext
        sc.setLogLevel("OFF")
        old = executors(lambda ids: len(ids) == 2)
        df = (
            spark.range(0, 100_000, numPartitions=4)
            .groupBy((F.col("id") % 97).alias("k"))
            .agg(F.sum("id").alias("s"))
        )
        local_cut = materialize(df)
        sc.setCheckpointDir(tempfile.mkdtemp(dir=sys.argv[1]))
        reliable_cut = materialize(df)
        # every executor, so no block survives on a lucky one;
        # killExecutor would lower the target and no replacement comes
        for i in old:
            sc._jsc.sc().killAndReplaceExecutor(i)
        executors(lambda ids: len(ids) == 2 and not ids & old)
        total = reliable_cut.agg(F.sum("s")).first()[0]
        try:
            local_cut.agg(F.sum("s")).first()
            local_error = ""
        except Exception as e:
            local_error = str(e)
        print(json.dumps({"total": total, "local_error": local_error}))
    finally:
        spark.stop()
    """
)


def test_reliable_cut_survives_executor_loss(tmp_path):
    path = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", _EXECUTOR_LOSS, str(tmp_path)],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": path},
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=600)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    assert proc.returncode == 0, err[-4000:]
    res = json.loads(out.strip().splitlines()[-1])
    assert res["total"] == sum(range(100_000))
    assert "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in res["local_error"]
