"""The media family crosses the Python boundary in one place and decodes
through one dispatch: ``multimodal._row_map`` is the only
``mapInPandas``/``mapInArrow`` call in multimodal.py and mediameta.py,
the media queries synthesize their payloads through it, the strict
``NotImplementedError`` is raised once (in ``multimodal._decode``), and
the built-in parsers and the codec registry are reached only through
``_decode`` — every other site is a named exception."""

from __future__ import annotations

import ast
import importlib
import inspect
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "hybridbackend_spark"
MEDIA_MODULES = ("operators/multimodal.py", "operators/mediameta.py")
MEDIA_QUERIES = {
    "multimodal_png_stats",
    "multimodal_wav_stats",
    "multimodal_mp4_stats",
    "multimodal_mp4_video_stats",
    "media_probe_mixed",
    "image_ahash_mixed",
    "image_neardup_mixed",
}
# the decode dispatch's parts: built-in parsers and the registry walk
DECODE_PARTS = {"_parse_ppm", "_parse_wav", "_split_ppm_stream", "_try_codecs"}
# (module, top-level function) that may reach a part besides _decode and
# the stream split itself, each with its reason
KEPT = {
    ("operators/multimodal.py", "sample_video_frames"): (
        "emits a PPM stream's own frame bytes, which the decoded arrays "
        "_decode returns no longer carry"
    ),
}


def _tree(rel: str) -> ast.Module:
    return ast.parse((PKG / rel).read_text())


def _owned(tree: ast.Module):
    """``(top-level function name or None, node)`` for every node."""
    for top in tree.body:
        owner = top.name if isinstance(top, ast.FunctionDef) else None
        for n in ast.walk(top):
            yield owner, n


def _is_map_call(n: ast.AST) -> bool:
    return (
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in ("mapInPandas", "mapInArrow")
    )


def test_one_map_site_in_the_media_modules():
    sites = [
        (rel, owner)
        for rel in MEDIA_MODULES
        for owner, n in _owned(_tree(rel))
        if _is_map_call(n)
    ]
    assert sites == [("operators/multimodal.py", "_row_map")], sites


def test_media_queries_have_no_map_of_their_own():
    found = {
        top.name: [n.lineno for n in ast.walk(top) if _is_map_call(n)]
        for top in _tree("queries.py").body
        if isinstance(top, ast.FunctionDef) and top.name in MEDIA_QUERIES
    }
    assert set(found) == MEDIA_QUERIES, MEDIA_QUERIES - set(found)
    assert not any(found.values()), found


def test_strict_message_raised_once():
    raises = [
        (path.relative_to(PKG).as_posix(), owner)
        for path in sorted(PKG.rglob("*.py"))
        for owner, n in _owned(ast.parse(path.read_text()))
        if isinstance(n, ast.Raise)
        and n.exc is not None
        and any(
            isinstance(x, ast.Name) and x.id == "_STRICT_MSG"
            for x in ast.walk(n.exc)
        )
    ]
    assert raises == [("operators/multimodal.py", "_decode")], raises


def test_decode_parts_only_reached_through_decode():
    allowed = {"_decode", "_split_ppm_stream"}
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for owner, n in _owned(ast.parse(path.read_text())):
            if (
                isinstance(n, ast.Name)
                and n.id in DECODE_PARTS
                and owner not in allowed
            ):
                found.add((rel, owner))
    assert found == set(KEPT), found ^ set(KEPT)


def test_no_public_audio_framing_options():
    offenders = []
    for rel in MEDIA_MODULES:
        name = "hybridbackend_spark." + rel[:-3].replace("/", ".")
        mod = importlib.import_module(name)
        for attr in mod.__all__:
            obj = getattr(mod, attr)
            if callable(obj) and not isinstance(obj, type):
                params = inspect.signature(obj).parameters
                offenders += [
                    f"{attr}({p})" for p in params if p in ("frame_bytes", "frame_ms")
                ]
    assert not offenders, offenders
