"""The integer grid (``hybridbackend_spark._fixed``): its numpy twin of
Spark's ``round`` agrees with Spark at half boundaries, and the grid
rule lives in that one module — every other ``F.round(a * b)`` cast to
BIGINT is a named exception, and no public function takes a grid-scale
option."""

from __future__ import annotations

import ast
import importlib
import inspect
import pathlib

import numpy as np
import pandas as pd

PKG = pathlib.Path(__file__).resolve().parent.parent / "hybridbackend_spark"

# Sites that keep their own ``F.round(a * b).cast("long")``, keyed by
# (module path, enclosing top-level function), each with its reason.
KEPT = {
    ("operators/analytics.py", "equidepth_bins"): (
        "sum_v grids the caller's BIGINT cents column; the double cast "
        "grid() adds would change the arithmetic"
    ),
    ("operators/decomp.py", "covariance_matrix"): (
        "FLOAT array elements multiply in float; the double cast grid() "
        "adds would be a real cast"
    ),
    ("queries.py", "embedding_outliers_labels"): (
        "rounds a squared distance of values already on the micro grid; "
        "there is no unit to apply"
    ),
}

_SCALE_PARAMS = {"scale", "weight_scale", "scale_bits"}

# half-cent boundaries and their float neighbours (negated below too)
_BOUNDARY_VALUES = [
    0.004999999999999999, 0.005, 0.015, 0.025, 0.035, 0.045, 0.125,
    0.145, 1.005, 1.015, 1.115, 2.675, 10.005, 1234.565, 0.5, 1.5, 2.5,
    0.0, 1.23, 2.678,
]


def _round_long_sites(tree: ast.AST):
    """``(function, lineno)`` of each ``F.round(<a * b>).cast("long"|
    "bigint")`` in a module, ``function`` being the enclosing top-level
    def (``None`` at module level)."""
    for top in tree.body:
        owner = top.name if isinstance(top, ast.FunctionDef) else None
        for n in ast.walk(top):
            if not (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "cast"
                and n.args
                and isinstance(n.args[0], ast.Constant)
                and n.args[0].value in ("long", "bigint")
                and isinstance(n.func.value, ast.Call)
            ):
                continue
            inner = n.func.value
            f = inner.func
            if (
                isinstance(f, ast.Attribute)
                and f.attr == "round"
                and isinstance(f.value, ast.Name)
                and f.value.id == "F"
                and inner.args
                and isinstance(inner.args[0], ast.BinOp)
                and isinstance(inner.args[0].op, ast.Mult)
            ):
                yield owner, n.lineno


def test_grid_lives_in_one_module():
    found = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "_fixed.py":
            continue
        for owner, line in _round_long_sites(ast.parse(path.read_text())):
            found.setdefault((rel, owner), []).append(line)
    stray = {k: v for k, v in found.items() if k not in KEPT}
    assert not stray, f"inline grid copies outside _fixed.grid: {stray}"
    # a kept site that is gone should leave the list too
    assert set(found) == set(KEPT), set(KEPT) - set(found)


def test_no_public_grid_scale_options():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        parts = path.relative_to(PKG.parent).with_suffix("").parts
        name = ".".join(p for p in parts if p != "__init__")
        mod = importlib.import_module(name)
        for attr in getattr(mod, "__all__", ()):
            obj = getattr(mod, attr, None)
            if not callable(obj):
                continue
            try:
                params = inspect.signature(obj).parameters
            except (TypeError, ValueError):
                continue
            offenders += [f"{name}.{attr}({p})" for p in params if p in _SCALE_PARAMS]
    assert not offenders, offenders


def test_numpy_round_twin_matches_spark(spark):
    """``spark_round`` (and the streaming cents built on it) agree with
    Spark's ``CAST(round(x * 100) AS BIGINT)`` on ± half boundaries.
    ``sign(v) * floor(|v| * 100 + 0.5)`` did not: for
    0.004999999999999999, ``v * 100 + 0.5`` rounds up to 1.0."""
    from hybridbackend_spark._fixed import CENTS, grid, spark_round
    from hybridbackend_spark.streaming.stateful import _exact_cents

    vals = _BOUNDARY_VALUES + [-v for v in _BOUNDARY_VALUES]
    df = spark.createDataFrame(list(enumerate(vals)), "i int, x double")
    got = dict(df.select("i", grid("x", CENTS)).collect())
    want = [got[i] for i in range(len(vals))]
    assert want[0] == 0  # the half-boundary case above
    assert spark_round(np.array(vals) * CENTS).tolist() == want
    assert _exact_cents(pd.Series(vals)).tolist() == want
