"""Columnar tabular sources: Parquet / ORC / CSV scan with projection,
schema validation, default population, and densify.

Spark-first re-expression of the reference scan pipeline
(``Dataset.from_parquet``, ``data/tabular/dataset_v2.py:248-311`` and
``table.py:194-228``): schema resolution from the file footer, declared-field
merge, column projection (Catalyst prunes the Parquet scan to the projected
columns), corrupted-file skipping, default-value population for absent
columns, and optional pad-to-dense for ragged columns.

What the reference does imperatively — row-group partitioning across
workers, multi-file interleave, thread budgets — Spark's split planning
does natively (`spark.sql.files.maxPartitionBytes` governs split size), so
none of it is re-implemented here.

Every table read of the package goes through one private loader,
:func:`_load` (``queries._t`` and so ``session.register_tables``,
:func:`read_tabular`, :func:`read_parquet_with_provenance` and the
events-schema probe of ``streaming.ops.read_event_stream``). Like the
reference, it resolves a Parquet file's schema from its footer once and
afterwards only projects and reads:

- a per-session memo (weakly keyed on the ``SparkSession``, so it dies
  with the session) maps a file's ``(abspath, st_mtime_ns, st_size)``
  stamp to the schema Spark inferred for it. A hit reads with
  ``spark.read.schema(memo).parquet(path)``, which submits no Spark job;
  a miss infers as a plain read does (one job) and stores the result.
  The same entry also holds the footer's :class:`~..schema.Field` list,
  so ``read_tabular(fields=...)`` reads it with pyarrow once per stamp;
- every load still builds a fresh relation, so a self-join of two loads
  keeps distinct attribute ids;
- directories, multi-path reads, glob patterns, URIs with a scheme
  (``hdfs://``, ``s3a://``, ``file:``) and non-Parquet formats bypass the
  memo and read exactly as a plain read does;
- a rewrite is seen through the stamp. One that keeps both the size and
  the mtime (same filesystem clock tick) is not;
- the memo does not watch the session's Parquet-inference confs
  (``spark.sql.legacy.parquet.nanosAsLong``, ``binaryAsString``,
  ``int96AsTimestamp``, ...): changing one mid-session is out of
  contract, the rule ``queries._pin_utc`` sets for the session time
  zone.
"""

from __future__ import annotations

import os
import stat
import weakref
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..schema import Field, infer_fields, merge_fields

__all__ = [
    "read_tabular",
    "read_parquet",
    "read_orc",
    "read_csv",
    "read_jsonl",
    "read_parquet_with_provenance",
    "estimate_row_bytes",
    "write_compacted",
    "narrow_uint64",
]

_LONG_MAX = 9223372036854775807


def narrow_uint64(
    df: DataFrame, columns: Sequence[str] | None = None
) -> DataFrame:
    """Opt-in fast path for uint64 ids that fit in a signed BIGINT.

    Spark has no unsigned integers, so uint64 parquet columns surface as
    DECIMAL(20, 0) — which silently drags every downstream comparison,
    join key, and aggregate into decimal arithmetic (slower than the
    long-typed codegen path and ineligible for some codegen fast paths).
    Users whose ids never exceed 2^63-1 can narrow them back to BIGINT;
    the guard is EXECUTABLE, not assumed: any value above Long.MAX
    raises at scan time via ``raise_error`` instead of wrapping.

    ``columns=None`` narrows every DECIMAL(20, 0) column (the exact type
    uint64 widens to); pass names to narrow a subset.
    """
    if columns is not None:
        missing = [c for c in columns if c not in df.columns]
        if missing:
            raise ValueError(
                f"narrow_uint64: column(s) {missing!r} not in schema "
                f"{df.columns!r} — a typo here would silently skip the "
                "narrowing"
            )
    out = df
    for sf_ in df.schema.fields:
        if columns is not None and sf_.name not in columns:
            continue
        dt = sf_.dataType
        if not (
            isinstance(dt, T.DecimalType) and dt.precision == 20 and dt.scale == 0
        ):
            if columns is not None:
                raise ValueError(
                    f"column {sf_.name!r} is {dt.simpleString()}, not the "
                    "DECIMAL(20,0) a uint64 widens to"
                )
            continue
        c = F.col(sf_.name)
        guarded = (
            F.when(
                c > F.lit(str(_LONG_MAX)).cast("decimal(20,0)"),
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"uint64 column {sf_.name!r} has a value above "
                            "BIGINT range ("
                        ),
                        c.cast("string"),
                        F.lit("); keep the decimal(20,0) widening"),
                    )
                ).cast("decimal(20,0)"),
            )
            .otherwise(c)
            .cast("long")
        )
        out = out.withColumn(sf_.name, guarded)
    return out


@dataclass
class _Footer:
    """One memo entry: a file's stamp, the schema Spark inferred for it
    and the footer's pyarrow field list (each filled on first use)."""

    stamp: tuple[str, int, int]
    schema: T.StructType | None = None
    fields: list[Field] | None = None


# No lock: two threads that miss on one file at once each infer it, and
# the later store wins with the same schema.
_FOOTERS: "weakref.WeakKeyDictionary[SparkSession, dict[str, _Footer]]" = (
    weakref.WeakKeyDictionary()
)


def _stamp(path: str) -> tuple[str, int, int] | None:
    """``(abspath, st_mtime_ns, st_size)`` of a local regular file; None
    for a URI, a directory, a glob or a missing path."""
    if ":" in path.split("/", 1)[0]:
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return os.path.abspath(path), st.st_mtime_ns, st.st_size


def _footer(spark: SparkSession, path: str) -> _Footer | None:
    """The session's memo entry for ``path`` at its current stamp (a
    stale entry is replaced); None when ``path`` bypasses the memo."""
    stamp = _stamp(path)
    if stamp is None:
        return None
    memo = _FOOTERS.setdefault(spark, {})
    entry = memo.get(stamp[0])
    if entry is None or entry.stamp != stamp:
        entry = memo[stamp[0]] = _Footer(stamp)
    return entry


def _load(
    spark: SparkSession,
    paths: str | Sequence[str],
    fmt: str = "parquet",
    **options: str,
) -> DataFrame:
    """The package's one table loader (module docstring: memo key, scope
    and bypass cases). Parquet goes through ``DataFrameReader.parquet``,
    other formats through ``format(fmt).load``."""
    path_list = [paths] if isinstance(paths, str) else list(paths)
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    if fmt != "parquet":
        return reader.format(fmt).load(path_list)
    entry = _footer(spark, path_list[0]) if len(path_list) == 1 else None
    if entry is None:
        return reader.parquet(*path_list)
    if entry.schema is not None:
        return reader.schema(entry.schema).parquet(path_list[0])
    df = reader.parquet(path_list[0])
    entry.schema = df.schema
    return df


def _footer_fields(spark: SparkSession, path: str) -> list[Field]:
    """:func:`~..schema.infer_fields` of ``path``, served from the
    session memo when ``path`` is a local file."""
    entry = _footer(spark, path)
    if entry is None:
        return infer_fields(path)
    if entry.fields is None:
        entry.fields = infer_fields(path)
    return entry.fields


def read_tabular(
    spark: SparkSession,
    paths: str | Sequence[str],
    fmt: str = "parquet",
    fields: Sequence[Field] | None = None,
    field_ignore_case: bool = False,
    field_map_fn=None,
    skip_corrupted_data: bool = False,
    to_dense: bool | dict[str, int] = False,
    widen_uint64_to: str = "decimal",
    **options: str,
) -> DataFrame:
    """Scan Parquet/ORC/CSV into a DataFrame with the engine's field
    semantics.

    - ``fields``: projection + validation. Only these columns are read
      (column pruning reaches the scan); dtype/ragged-rank mismatches
      raise. Fields absent from files but carrying ``default_value`` are
      materialized as constant columns (reference ``populate_defaults``,
      ``data/dataframe.py:458-501``).
    - ``field_map_fn``: transforms the resolved field list before the
      projection is applied (reference ``field_map_fn`` hook,
      ``data/tabular/table.py:83``) — rename/retype/reorder fields.
    - ``skip_corrupted_data``: map to ``spark.sql.files.ignoreCorruptFiles``
      semantics via the per-read option.
    - Remote filesystems: paths with hdfs://, s3a://, oss:// (etc.)
      schemes pass straight through to Spark's Hadoop FS layer — the
      reference's ``OpenArrowFile`` URI resolution is native here.
    - ``to_dense``: pad ragged array columns with their dtype's zero value
      to the per-field target length (dict name->len), reference
      ``to_tensor`` (``data/dataframe.py:332-345``).
    - ``widen_uint64_to``: ``'decimal'`` (default, lossless) keeps
      uint64 columns as DECIMAL(20, 0); ``'long'`` narrows them to
      BIGINT with an executable overflow guard (:func:`narrow_uint64`)
      — the fast path for ids known to fit in 2^63-1.
    """
    if widen_uint64_to not in ("decimal", "long"):
        raise ValueError("widen_uint64_to must be 'decimal' or 'long'")
    path_list = [paths] if isinstance(paths, str) else list(paths)
    if skip_corrupted_data:
        options = {"ignoreCorruptFiles": "true", **options}
    df = _load(spark, path_list, fmt, **options)

    if fields:
        inferred = (
            _footer_fields(spark, path_list[0])
            if fmt in ("parquet", "orc")
            else None
        )
        if inferred is not None:
            merged = merge_fields(fields, inferred, ignore_case=field_ignore_case)
        else:
            merged = list(fields)
        src_names = [f.name for f in merged]
        if field_map_fn is not None:
            # positional mapping: field i of the output is read from file
            # column i of the resolved list, so a rename keeps its data
            merged = list(field_map_fn(merged))
            if len(merged) != len(src_names):
                raise ValueError(
                    "field_map_fn must preserve the field count (rename/"
                    "retype in place; add or drop columns via `fields`)"
                )
        df = _project_and_default(df, merged, field_ignore_case, src_names)

    if to_dense:
        targets = to_dense if isinstance(to_dense, dict) else {}
        from ..operators.structural import pad_to_dense

        for f in fields or []:
            if f.ragged_rank == 1 or f.shape:
                # Explicit dict target wins; to_dense=True pads to the
                # field's declared fixed shape.
                n = targets.get(f.name) or (f.shape[0] if f.shape else None)
                if n:
                    df = df.withColumn(
                        f.name, pad_to_dense(F.col(f.name), n, dtype=f.dtype)
                    )
    if widen_uint64_to == "long":
        df = narrow_uint64(df)
    return df


def _project_and_default(
    df: DataFrame,
    fields: Sequence[Field],
    ignore_case: bool,
    src_names: Sequence[str] | None = None,
) -> DataFrame:
    cols_by_key = {
        (c.lower() if ignore_case else c): c for c in df.columns
    }
    projected = []
    for i, f in enumerate(fields):
        name = src_names[i] if src_names is not None else f.name
        key = name.lower() if ignore_case else name
        src = cols_by_key.get(key)
        if src is not None:
            projected.append(F.col(src).alias(f.name))
        else:
            projected.append(F.lit(f.default_value).cast(f.spark_type).alias(f.name))
    return df.select(*projected)


def read_parquet(spark: SparkSession, paths, **kw) -> DataFrame:
    return read_tabular(spark, paths, fmt="parquet", **kw)


def read_orc(spark: SparkSession, paths, **kw) -> DataFrame:
    return read_tabular(spark, paths, fmt="orc", **kw)


def read_csv(spark: SparkSession, paths, header: bool = True, **kw) -> DataFrame:
    return read_tabular(spark, paths, fmt="csv", header=str(header).lower(), **kw)


def read_jsonl(
    spark: SparkSession,
    paths,
    schema: str | None = None,
    corrupt_column: str | None = None,
    **kw,
) -> DataFrame:
    """Newline-delimited JSON — the lingua franca of LLM corpus interchange
    (one document object per line).

    - ``schema``: DDL string (e.g. ``"doc_id long, text string"``).
      ALWAYS pass one in production: schemaless JSON reads trigger a full
      inference pre-pass over the data — at 100 TB that is a second scan
      before the first byte of real work.
    - ``corrupt_column``: malformed lines land in this column with every
      declared field null (PERMISSIVE mode) instead of failing the job —
      the JSON analog of ``skip_corrupted_data``. Filter
      ``col(corrupt_column).isNull()`` for the clean subset and route the
      rest to a quarantine sink. Without it, malformed lines become
      all-null rows. Spark refuses queries whose ONLY referenced column
      is the corrupt column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_
      RECORD_COLUMN) — reference a data column alongside it, or persist
      the parsed frame first.
    """
    if corrupt_column:
        if schema is None:
            raise ValueError("corrupt_column requires an explicit schema")
        schema = f"{schema}, {corrupt_column} string"
        kw.setdefault("mode", "PERMISSIVE")
        kw["columnNameOfCorruptRecord"] = corrupt_column
    if schema is not None:
        kw["schema_ddl"] = schema
    reader = spark.read.format("json")
    ddl = kw.pop("schema_ddl", None)
    if ddl is not None:
        reader = reader.schema(ddl)
    for k, v in kw.items():
        reader = reader.option(k, v)
    return reader.load([paths] if isinstance(paths, str) else list(paths))


def read_parquet_with_provenance(
    spark: SparkSession,
    paths: str | Sequence[str],
    file_col: str = "_source_file",
    row_col: str = "_source_row",
) -> "DataFrame":
    """Parquet scan with row-level provenance: appends the source file's
    basename and the row's 0-based index WITHIN that file, from Spark's
    hidden ``_metadata`` struct (no shuffle, no ids invented — unlike
    ``monotonically_increasing_id`` these are stable across runs,
    partitionings, and engines, so (file, row) is a durable row address
    for audits, lineage joins, and incremental reprocessing).
    """
    return _load(spark, paths).select(
        "*",
        F.regexp_extract(F.col("_metadata.file_path"), r"([^/]+)$", 1).alias(
            file_col
        ),
        F.col("_metadata.row_index").alias(row_col),
    )


def estimate_row_bytes(paths: str | Sequence[str]) -> float:
    """Average ON-DISK (compressed) bytes per row across the given
    parquet files, from footer metadata only — no data is read. The
    sizing input for :func:`write_compacted`."""
    import pyarrow.parquet as pq

    files = [paths] if isinstance(paths, str) else list(paths)
    rows, byts = 0, 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            byts += sum(
                g.column(c).total_compressed_size for c in range(g.num_columns)
            )
    if rows == 0:
        raise ValueError("no rows in input files")
    return byts / rows


def write_compacted(
    df: "DataFrame",
    path: str,
    row_bytes: float,
    target_mb: float = 256,
    compression: str = "zstd",
    partition_by: Sequence[str] | None = None,
) -> int:
    """Write parquet sized for the small-files problem: choose the file
    count from (row count x estimated bytes/row) / target size, then
    round-robin repartition so every output file lands near
    ``target_mb``. Returns the file count used.

    Why at 100 TB: a 1000-executor job naively writes one file per task
    — hundreds of thousands of KB-scale files that crush the name node
    and every downstream scan's footer-read phase. Compaction to a
    deliberate target (128-512 MB is the usual parquet sweet spot)
    keeps scans row-group-parallel AND file-count-sane. The extra
    round-robin exchange is the documented price; skip it only when the
    upstream partitioning already matches.
    """
    n_rows = df.count()
    n_files = max(1, -(-int(n_rows * row_bytes) // int(target_mb * 1024 * 1024)))
    if partition_by:
        # round-robin would spread EVERY partition value across all tasks
        # (values x tasks files — the small-files problem again); hash on
        # the partition columns instead so each value is written by one
        # task, giving ~one target-sized file per value per task
        cols = [F.col(c) for c in partition_by]
        writer = df.repartition(n_files, *cols).write.mode("overwrite")
        writer = writer.partitionBy(*list(partition_by))
    else:
        writer = df.repartition(n_files).write.mode("overwrite")
    writer.option("compression", compression).parquet(path)
    return n_files
