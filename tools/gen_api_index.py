"""Regenerate API.md: one line per public function/class, from docstrings.

Run ``python tools/gen_api_index.py`` from anywhere; it rewrites the
repository's API.md. ``render()`` returns the text without writing it.
"""
import importlib
import inspect
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MODS = [
    "hybridbackend_spark.session",
    "hybridbackend_spark.schema",
    "hybridbackend_spark.sources.tabular",
    "hybridbackend_spark.sources.bucketed",
    "hybridbackend_spark.sources.validate",
    "hybridbackend_spark.operators.structural",
    "hybridbackend_spark.operators.joins",
    "hybridbackend_spark.operators.exchange",
    "hybridbackend_spark.operators.dedup",
    "hybridbackend_spark.operators.similarity",
    "hybridbackend_spark.operators.graph",
    "hybridbackend_spark.operators.analytics",
    "hybridbackend_spark.operators.quality",
    "hybridbackend_spark.operators.decomp",
    "hybridbackend_spark.operators.corpus",
    "hybridbackend_spark.operators.text",
    "hybridbackend_spark.operators.ranking",
    "hybridbackend_spark.operators.profile",
    "hybridbackend_spark.operators.sketch",
    "hybridbackend_spark.operators.timeseries",
    "hybridbackend_spark.operators.layout",
    "hybridbackend_spark.operators.multimodal",
    "hybridbackend_spark.operators.jpeg",
    "hybridbackend_spark.operators.png",
    "hybridbackend_spark.operators.gif",
    "hybridbackend_spark.operators.adpcm",
    "hybridbackend_spark.operators.mp4",
    "hybridbackend_spark.operators.mediameta",
    "hybridbackend_spark.operators.bloom",
    "hybridbackend_spark.operators.zorder",
    "hybridbackend_spark.functions.feature",
    "hybridbackend_spark.functions.windows",
    "hybridbackend_spark.functions.metrics",
    "hybridbackend_spark.functions.rankmetrics",
    "hybridbackend_spark.functions.spec",
    "hybridbackend_spark.functions.udf",
    "hybridbackend_spark.streaming.ops",
    "hybridbackend_spark.streaming.stateful",
]


def render() -> str:
    out = [
        "# API index",
        "",
        "Every public function/class, one line each (generated from",
        "docstrings; regenerate with tools/gen_api_index.py).",
        "",
    ]
    for mname in MODS:
        m = importlib.import_module(mname)
        names = getattr(m, "__all__", None) or sorted(
            n for n in dir(m) if not n.startswith("_")
        )
        out.append(f"## `{mname}`")
        out.append("")
        for n in names:
            obj = getattr(m, n, None)
            doc = (inspect.getdoc(obj) or "").strip().split("\n")[0].rstrip()
            out.append(f"- **`{n}`** — {doc}")
        out.append("")
    return "\n".join(out) + "\n"


def main() -> None:
    with open(os.path.join(ROOT, "API.md"), "w") as f:
        f.write(render())


if __name__ == "__main__":
    main()
