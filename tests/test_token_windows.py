"""The token-window kernel (``operators/text.py``): every word n-gram,
adjacent-pair stream, line cut, ordered document rebuild and
single-evaluation binding in text.py and corpus.py is built by one
private helper (``_ngrams``, ``_bigram_pairs``, ``_lines``,
``_in_order``, ``_let``) — every other site is a named exception — the
kernel's grams equal Python's, and window sizes below 1 raise on the
driver."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

PKG = pathlib.Path(__file__).resolve().parent.parent / "hybridbackend_spark"
TOKEN_MODULES = ("operators/text.py", "operators/corpus.py")
# (module, top-level function) that keeps its own construction, with
# its reason
KEPT = {
    ("operators/corpus.py", "bpe_train"): (
        "pairs the symbols of a word's merge state, not the tokens of a "
        "document"
    ),
    ("operators/corpus.py", "chunk_documents"): (
        "overlapping chunks: its stride is a separate option from its "
        "width, where a line's stride is its width"
    ),
}
# exported names deleted for having no caller
GONE = {
    "word_shingles_list",
    "struct_to_fields",
    "assert_fixed_shape",
    "partition_by_hash",
    "normalize_vec",
}


def _is_call(n: ast.AST, name: str) -> bool:
    if not isinstance(n, ast.Call):
        return False
    f = n.func
    return (isinstance(f, ast.Attribute) and f.attr == name) or (
        isinstance(f, ast.Name) and f.id == name
    )


def _calls(n: ast.AST, name: str) -> bool:
    return any(_is_call(m, name) for m in ast.walk(n))


def _sites(pred) -> list[tuple[str, str | None]]:
    """``(module, top-level function)`` of every node of the token
    modules for which ``pred(node, top)`` holds."""
    out = []
    for rel in TOKEN_MODULES:
        for top in ast.parse((PKG / rel).read_text()).body:
            owner = top.name if isinstance(top, ast.FunctionDef) else None
            out += [(rel, owner) for n in ast.walk(top) if pred(n, top)]
    return out


def _bound_to(top: ast.AST, pred) -> set[str]:
    """Names that ``top`` assigns from an expression matching ``pred``."""
    return {
        t.id
        for a in ast.walk(top)
        if isinstance(a, ast.Assign) and pred(a.value)
        for t in a.targets
        if isinstance(t, ast.Name)
    }


def _gram_builder(n: ast.AST, top: ast.AST) -> bool:
    """``transform(sequence(...), i -> ...)`` whose lambda cuts the token
    array: ``slice`` or ``concat_ws`` of ``element_at`` (the sequence may
    be bound to a name first)."""
    if not (_is_call(n, "transform") and len(n.args) == 2):
        return False
    src, fn = n.args
    from_seq = _is_call(src, "sequence") or (
        isinstance(src, ast.Name)
        and src.id in _bound_to(top, lambda m: _is_call(m, "sequence"))
    )
    cuts = _calls(fn, "slice") or any(
        _is_call(m, "concat_ws") and _calls(m, "element_at")
        for m in ast.walk(fn)
    )
    return from_seq and isinstance(fn, ast.Lambda) and cuts


def _pair_builder(n: ast.AST, top: ast.AST) -> bool:
    """``zip_with(slice(x, 1, ..), slice(x, 2, ..), ...)``."""
    return (
        _is_call(n, "zip_with")
        and len(n.args) >= 2
        and all(
            _is_call(a, "slice")
            and len(a.args) >= 2
            and isinstance(a.args[1], ast.Constant)
            and a.args[1].value == k
            for a, k in zip(n.args[:2], (1, 2))
        )
    )


def _line_cut(n: ast.AST, top: ast.AST) -> bool:
    """A strided ``sequence(start, stop, step)`` of window starts."""
    return _is_call(n, "sequence") and len(n.args) == 3


def _ordered_rebuild(n: ast.AST, top: ast.AST) -> bool:
    """``array_sort(collect_list(struct(...)))``."""
    return (
        _is_call(n, "array_sort")
        and bool(n.args)
        and _is_call(n.args[0], "collect_list")
        and bool(n.args[0].args)
        and _is_call(n.args[0].args[0], "struct")
    )


def _single_eval(n: ast.AST, top: ast.AST) -> bool:
    """``element_at(transform(array(x), fn), 1)`` (the transform may be
    bound to a name first)."""

    def over_one(m: ast.AST) -> bool:
        return (
            _is_call(m, "transform")
            and bool(m.args)
            and _is_call(m.args[0], "array")
        )

    if not (_is_call(n, "element_at") and len(n.args) == 2):
        return False
    src = n.args[0]
    return over_one(src) or (
        isinstance(src, ast.Name) and src.id in _bound_to(top, over_one)
    )


@pytest.mark.parametrize(
    "pred, kernel",
    [
        (_gram_builder, "_ngrams"),
        (_pair_builder, "_bigram_pairs"),
        (_line_cut, "_lines"),
        (_ordered_rebuild, "_in_order"),
        (_single_eval, "_let"),
    ],
    ids=["ngrams", "bigram_pairs", "lines", "in_order", "let"],
)
def test_one_builder_per_token_window(pred, kernel):
    sites = set(_sites(pred))
    stray = sites - set(KEPT) - {("operators/text.py", kernel)}
    assert not stray, f"built outside text.{kernel}: {sorted(stray)}"
    assert ("operators/text.py", kernel) in sites


def test_kept_sites_still_exist():
    preds = (_gram_builder, _pair_builder, _line_cut, _ordered_rebuild,
             _single_eval)
    found = {s for p in preds for s in _sites(p)}
    assert set(KEPT) <= found, set(KEPT) - found


def test_deleted_exports_stay_gone():
    exported = set()
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if (
                isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__"
                        for t in node.targets)
                and isinstance(node.value, (ast.List, ast.Tuple))
            ):
                exported |= {
                    e.value for e in node.value.elts
                    if isinstance(e, ast.Constant)
                }
    assert not exported & GONE, exported & GONE


# -- equivalence with Python n-grams --------------------------------------

_DOCS = [
    (1, "  a   b \t c a  b c a "),  # repeated whitespace, repeats
    (2, ""),  # empty text
    (3, "   "),  # whitespace only
    (4, "x"),  # fewer than n tokens for n >= 2
    (5, "A b"),
    (6, "the cat sat on the mat the cat"),
    (7, "b c a"),
]
_EVAL = [(100, "b c a b"), (101, "mat the")]


def _toks(text: str) -> list[str]:
    return text.lower().split()


def _grams(text: str, n: int) -> list[str]:
    t = _toks(text)
    return [" ".join(t[i:i + n]) for i in range(len(t) - n + 1)]


@pytest.mark.parametrize("n", [1, 2, 3])
def test_kernel_grams_match_python(spark, n):
    from hybridbackend_spark.operators.corpus import (
        decontaminate_spans,
        distinct_ngram_diversity,
    )
    from hybridbackend_spark.operators.text import ngram_repetition, word_shingles

    df = spark.createDataFrame(_DOCS, "doc_id long, text string").withColumn(
        "g", F.col("doc_id") % 2
    )
    ev = spark.createDataFrame(_EVAL, "doc_id long, text string")

    rep = ngram_repetition("text", n)
    rows = df.select(
        "doc_id",
        word_shingles("text", n).alias("sh"),
        rep[f"ngram{n}_total"].alias("tot"),
        rep[f"ngram{n}_distinct"].alias("dis"),
    ).collect()
    for r in rows:
        grams = _grams(dict(_DOCS)[r["doc_id"]], n)
        assert r["sh"] == list(dict.fromkeys(grams)), r
        assert (r["tot"], r["dis"]) == (len(grams), len(set(grams))), r

    got = {
        r["g"]: (r["n_tokens"], r["n_types"], r["n_grams"], r["n_distinct_grams"])
        for r in distinct_ngram_diversity(df, "g", n=n).collect()
    }
    want = {}
    for i, text in _DOCS:
        toks, grams = want.setdefault(i % 2, ([], []))
        toks += _toks(text)
        grams += _grams(text, n)
    assert got == {
        g: (len(t), len(set(t)), len(gr), len(set(gr)))
        for g, (t, gr) in want.items()
    }

    ev_grams = {g for _, text in _EVAL for g in _grams(text, n)}
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_gram_hits"], r["n_tokens_covered"])
        for r in decontaminate_spans(df, ev, "text", "doc_id", n=n).collect()
    }
    want = {}
    for i, text in _DOCS:
        hits = [p for p, g in enumerate(_grams(text, n)) if g in ev_grams]
        covered = {p + j for p in hits for j in range(n)}
        want[i] = (len(_toks(text)), len(hits), len(covered))
    assert got == want


# -- window sizes below 1 ---------------------------------------------------


def _builders():
    from hybridbackend_spark.functions.spec import CorpusSpec
    from hybridbackend_spark.operators import corpus as C, dedup as D, text as T

    return {
        "word_shingles": lambda df, w: T.word_shingles("text", w),
        "ngram_repetition": lambda df, w: T.ngram_repetition("text", w),
        "ngram_jaccard_pairs": lambda df, w: D.ngram_jaccard_pairs(
            df, "text", "doc_id", shingle_n=w
        ),
        "dup_ngram_coverage": lambda df, w: C.dup_ngram_coverage(
            df, "doc_id", n=w
        ),
        "distinct_ngram_diversity": lambda df, w: C.distinct_ngram_diversity(
            df, "doc_id", n=w
        ),
        "decontaminate_spans": lambda df, w: C.decontaminate_spans(
            df, df, "text", "doc_id", n=w
        ),
        "substring_dedup": lambda df, w: C.substring_dedup(df, window_tokens=w),
        "line_dedup": lambda df, w: C.line_dedup(df, line_tokens=w),
        "boilerplate_prune": lambda df, w: C.boilerplate_prune(
            df, line_tokens=w
        ),
        "chunk_documents.chunk_tokens": lambda df, w: C.chunk_documents(
            df, chunk_tokens=w
        ),
        "chunk_documents.stride": lambda df, w: C.chunk_documents(df, stride=w),
        "CorpusSpec.decontaminate": lambda df, w: CorpusSpec(
            [{"op": "decontaminate", "eval": "ev", "n": w}]
        ).apply(df, "doc_id", "text", tables={"ev": df}),
    }


@pytest.mark.parametrize("width", [0, -1])
def test_window_sizes_below_one_raise(spark, width):
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    quiet = []
    for name, build in _builders().items():
        try:
            build(df, width)
        except ValueError as e:
            assert ">= 1" in str(e), (name, e)
        else:
            quiet.append(name)
    assert not quiet, f"accepted width {width}: {quiet}"
