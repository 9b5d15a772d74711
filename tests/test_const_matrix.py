"""The constant-matrix kernel (``operators/similarity.py``): every
driver-side constant matrix of similarity.py, decomp.py and text.py
enters a plan as one ``_consts`` literal, every squared-L2 fold is
``_sqdist`` and every ``(d, i)`` argmin struct is ``_nearest`` — other
sites are named exceptions — the kernels that take a column name or a
Column have one path for both, and a vector of the wrong width raises
on the executor, naming the operator, while a NULL vector keeps its
output."""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

from hybridbackend_spark.operators.similarity import (
    cosine_topk_ivf,
    ivf_assign,
    kcenter_select,
    pq_encode,
    pq_topk,
    random_hyperplane_key,
)
from hybridbackend_spark.operators.text import jl_project

PKG = pathlib.Path(__file__).resolve().parent.parent / "hybridbackend_spark"
MATRIX_MODULES = (
    "operators/similarity.py",
    "operators/decomp.py",
    "operators/text.py",
)
# (module, top-level function) that keeps an ``array`` of per-element
# ``lit`` calls, with its reason
KEPT_LIT_ARRAYS = {
    ("operators/text.py", "quality_signals"): (
        "a stopword list matched by array_contains; no row folds over it"
    ),
    ("operators/text.py", "lang_scores"): (
        "a stopword list matched by array_contains; no row folds over it"
    ),
}
# the kernels that once forked on a column name
ONE_PATH = ("random_hyperplane_key", "ivf_assign", "pq_encode", "pq_topk")


def _is_call(n: ast.AST, name: str) -> bool:
    if not isinstance(n, ast.Call):
        return False
    f = n.func
    return (isinstance(f, ast.Attribute) and f.attr == name) or (
        isinstance(f, ast.Name) and f.id == name
    )


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the docstring constants of a module and its defs."""
    out = set()
    for n in ast.walk(tree):
        body = getattr(n, "body", None)
        if (
            isinstance(body, list)
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
        ):
            out.add(id(body[0].value))
    return out


def _sites(pred) -> set[tuple[str, str | None]]:
    """``(module, top-level function)`` of every node of the matrix
    modules for which ``pred(node, docstrings)`` holds."""
    out = set()
    for rel in MATRIX_MODULES:
        tree = ast.parse((PKG / rel).read_text())
        docs = _docstrings(tree)
        for top in tree.body:
            owner = top.name if isinstance(top, ast.FunctionDef) else None
            out |= {(rel, owner) for n in ast.walk(top) if pred(n, docs)}
    return out


def _double_literal(n: ast.AST, docs: set[int]) -> bool:
    """A string (or f-string part) rendering ``... AS DOUBLE``."""
    return (
        isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and id(n) not in docs
        and re.search(r"\bAS\s+DOUBLE\b", n.value, re.I) is not None
    )


def _lit_array(n: ast.AST, docs: set[int]) -> bool:
    """``array(*[lit(..) for ..])`` or ``array([lit(..) for ..])``."""
    if not _is_call(n, "array"):
        return False
    for a in n.args:
        comp = a.value if isinstance(a, ast.Starred) else a
        if isinstance(comp, (ast.ListComp, ast.GeneratorExp)) and _is_call(
            comp.elt, "lit"
        ):
            return True
    return False


def _sq_diff(n: ast.AST, docs: set[int]) -> bool:
    """``(a - b) * (a - b)``."""
    return (
        isinstance(n, ast.BinOp)
        and isinstance(n.op, ast.Mult)
        and isinstance(n.left, ast.BinOp)
        and isinstance(n.left.op, ast.Sub)
        and ast.dump(n.left) == ast.dump(n.right)
    )


def _argmin_struct(n: ast.AST, docs: set[int]) -> bool:
    """``struct(<..>.alias("d"), <..>.alias("i"))``."""
    if not _is_call(n, "struct"):
        return False
    aliases = {
        a.args[0].value
        for a in n.args
        if _is_call(a, "alias") and a.args and isinstance(a.args[0], ast.Constant)
    }
    return {"d", "i"} <= aliases


@pytest.mark.parametrize(
    "pred, kernel",
    [
        (_double_literal, "_consts"),
        (_sq_diff, "_sqdist"),
        (_argmin_struct, "_nearest"),
    ],
    ids=["double_literal", "sqdist", "argmin_struct"],
)
def test_one_builder_per_matrix_piece(pred, kernel):
    sites = _sites(pred)
    home = ("operators/similarity.py", kernel)
    stray = sites - {home}
    assert not stray, f"built outside similarity.{kernel}: {sorted(stray)}"
    assert home in sites


def test_no_per_coefficient_literal_arrays():
    sites = _sites(_lit_array)
    stray = sites - set(KEPT_LIT_ARRAYS)
    assert not stray, f"per-element lit arrays (use _consts): {sorted(stray)}"
    assert set(KEPT_LIT_ARRAYS) <= sites, set(KEPT_LIT_ARRAYS) - sites


def test_one_path_for_names_and_columns():
    tree = ast.parse((PKG / "operators/similarity.py").read_text())
    defs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    forked = [
        name
        for name in ONE_PATH
        for n in ast.walk(defs[name])
        if _is_call(n, "isinstance")
        and len(n.args) == 2
        and isinstance(n.args[1], ast.Name)
        and n.args[1].id == "str"
    ]
    assert not forked, f"name-vs-Column forks: {forked}"


# -- the width guard ------------------------------------------------------

_CENTS = [[0.0, 0.0], [1.0, 1.0]]
_BOOKS = [[[0.0], [1.0]], [[0.0], [1.0]]]  # m=2 subspaces, dsub=1
# operator name in the error -> a run of it over the frame ``df``
_WIDTH_CASES = {
    "random_hyperplane_key": lambda df: df.select(
        random_hyperplane_key("v", 3, 7, 2)
    ).collect(),
    "ivf_assign": lambda df: ivf_assign(df, "v", _CENTS).collect(),
    "ivf_probe": lambda df: cosine_topk_ivf(
        df, df.filter("id = 1"), "id", "id", "v", "v", _CENTS, k=1
    ).collect(),
    "pq_encode": lambda df: pq_encode(df, "v", _BOOKS).collect(),
    "pq_topk": lambda df: pq_topk(
        df, pq_encode(df.filter("id = 1"), "v", _BOOKS), "id", "id", "v",
        _BOOKS, k=1,
    ).collect(),
    "jl_project": lambda df: jl_project(df, "v", in_dim=2, out_dim=2).collect(),
    "kcenter_select": lambda df: kcenter_select(df, "v", "id", k=2),
}


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        [(1, [0.9, 0.8]), (2, None), (3, [5.0, 5.0, 5.0])],
        "id int, v array<double>",
    )


@pytest.mark.parametrize("op", sorted(_WIDTH_CASES))
def test_wrong_width_raises_naming_the_operator(vecs, op):
    """A 3-d vector against a 2-wide matrix used to zip to NULL-padded
    rows: cell 0 from ivf_assign, a truncated pq_encode code, NULL
    jl_project coordinates."""
    with pytest.raises(Exception, match=f"{op}: expected dim=2, got 3"):
        _WIDTH_CASES[op](vecs)


def test_null_vectors_keep_their_output(vecs):
    ok = vecs.filter("id <> 3")

    def by_id(df, col):
        return {r["id"]: r[col] for r in df.select("id", col).collect()}

    assert by_id(ivf_assign(ok, "v", _CENTS, "c"), "c") == {1: 1, 2: 0}
    assert by_id(pq_encode(ok, "v", _BOOKS, "c"), "c") == {1: [1, 1], 2: [0, 0]}
    keys = ok.withColumn("k", random_hyperplane_key("v", 3, 7, 2))
    assert by_id(keys, "k")[2] is None
    jl = by_id(jl_project(ok, "v", in_dim=2, out_dim=2), "jl_vector")
    assert jl[2] == [None, None] and None not in jl[1]
