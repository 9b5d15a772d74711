"""hybridbackend_spark: a PySpark-native analytics engine with the query and
data-processing capabilities of DeepRec-AI/HybridBackend, re-expressed
Spark-first (DataFrame/SQL/Catalyst/Structured Streaming).

Library-over-engine: composable DataFrame transforms + SQL functions;
Catalyst supplies optimization (pushdown, pruning, join selection, AQE).

Versioned public API
--------------------
Top level re-exports the session/schema/scan tier (the surface every user
touches); everything else lives in the four stable subpackages, loaded
lazily on first attribute access (PEP 562) so ``import hybridbackend_spark``
stays cheap:

- ``hybridbackend_spark.sources``    — tabular scan/sink, bucketed layout,
  schema-validation CLI (``hbspark-validate`` console script)
- ``hybridbackend_spark.operators``  — joins, dedup, similarity, graph,
  corpus/text, analytics, timeseries, structural, media codecs
- ``hybridbackend_spark.functions``  — feature transforms, metrics,
  windows, UDF registry
- ``hybridbackend_spark.streaming``  — watermarked/stateful streaming ops
- ``hybridbackend_spark.queries``    — the registered query catalog
  (``get_queries()`` / ``get_oracles()``)

Each module declares ``__all__``; anything underscore-prefixed or absent
from ``__all__`` is internal. See API.md for the generated index.
"""

from __future__ import annotations

import importlib

from .schema import (
    Field,
    SchemaMismatchError,
    fields_to_struct,
    infer_fields,
    validate_files,
)
from .session import get_session
from .sources.tabular import (
    narrow_uint64,
    read_csv,
    read_jsonl,
    read_orc,
    read_parquet,
    read_tabular,
    write_compacted,
)

__version__ = "0.1.0"

_SUBPACKAGES = (
    "sources",
    "operators",
    "functions",
    "streaming",
    "plans",
    "queries",
    "schema",
    "session",
)

__all__ = [
    "Field",
    "SchemaMismatchError",
    "fields_to_struct",
    "infer_fields",
    "validate_files",
    "get_session",
    "read_tabular",
    "read_parquet",
    "read_orc",
    "read_csv",
    "read_jsonl",
    "write_compacted",
    "narrow_uint64",
    "__version__",
    *_SUBPACKAGES,
]


def __getattr__(name: str):
    if name in _SUBPACKAGES:
        return importlib.import_module(f".{name}", __name__)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def __dir__() -> list[str]:
    return sorted(__all__)
