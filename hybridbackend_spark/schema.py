"""Typed field/schema registry: the engine's data model.

Re-expresses the reference's column model (scalar / fixed-length list /
variable-length list / nested variable-length list with per-field default
values — see reference ``hybridbackend/tensorflow/data/dataframe.py:157-186``
and ``docs/data.md:6-27``) on Spark's type system:

- ``ragged_rank == 0`` and no shape      -> primitive ``StructField``
- ``ragged_rank == 0`` and ``shape=[k]`` -> ``ArrayType(primitive)`` with a
  length-``k`` invariant (validated, not encoded in the type)
- ``ragged_rank == n``                   -> ``n`` nested ``ArrayType`` levels

Spark has no unsigned integers: ``uint8 -> short``, ``uint32 -> long``,
``uint64 -> decimal(20, 0)`` (widened; documented deviation). ``float16``
widens to ``float``. Nulls are allowed (Spark-native superset of the
reference's no-null discipline); ``strict`` validation flags nullable
columns for parity checks (reference ``tensorflow/common/arrow.cc:189-191``).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Iterable, Sequence

from pyspark.sql import types as T

__all__ = [
    "Field",
    "fields_to_struct",
    "infer_fields",
    "validate_files",
    "SchemaMismatchError",
]

# numpy/arrow-style dtype name -> Spark type. Unsigned types widen to the
# next signed type that can hold them (Spark has no unsigned integers).
_DTYPE_TO_SPARK: dict[str, T.DataType] = {
    "bool": T.BooleanType(),
    "int8": T.ByteType(),
    "uint8": T.ShortType(),
    "int16": T.ShortType(),
    "uint16": T.IntegerType(),
    "int32": T.IntegerType(),
    "uint32": T.LongType(),
    "int64": T.LongType(),
    "uint64": T.DecimalType(20, 0),
    "float16": T.FloatType(),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
}


class SchemaMismatchError(ValueError):
    """Raised when declared fields disagree with file schema."""


@dataclass(frozen=True)
class Field:
    """A named, typed column with ragged rank, optional fixed shape and
    default value (mirrors reference ``DataFrame.Field`` semantics)."""

    name: str
    dtype: str = "int64"
    ragged_rank: int = 0
    shape: tuple[int, ...] = dc_field(default=())
    default_value: Any = None

    def __post_init__(self) -> None:
        if self.dtype not in _DTYPE_TO_SPARK:
            raise ValueError(
                f"field {self.name!r}: unsupported dtype {self.dtype!r}; "
                f"one of {sorted(_DTYPE_TO_SPARK)}"
            )
        if self.ragged_rank < 0:
            raise ValueError(f"field {self.name!r}: ragged_rank must be >= 0")
        if self.ragged_rank > 0 and self.shape:
            # Nested variable-length lists cannot also carry a fixed shape.
            raise ValueError(
                f"field {self.name!r}: ragged fields cannot have a fixed shape"
            )
        object.__setattr__(self, "shape", tuple(self.shape))

    @property
    def spark_type(self) -> T.DataType:
        dt: T.DataType = _DTYPE_TO_SPARK[self.dtype]
        # each fixed dim is one ArrayType level (shape=(2,3) -> 2 levels)
        levels = self.ragged_rank if self.ragged_rank > 0 else len(self.shape)
        for _ in range(levels):
            dt = T.ArrayType(dt)
        return dt

    def to_struct_field(self, nullable: bool = True) -> T.StructField:
        return T.StructField(self.name, self.spark_type, nullable)


def fields_to_struct(fields: Sequence[Field], nullable: bool = True) -> T.StructType:
    names = [f.name for f in fields]
    if len(set(names)) != len(names):
        raise SchemaMismatchError(f"duplicate field names in {names}")
    return T.StructType([f.to_struct_field(nullable) for f in fields])


def infer_fields(path: str) -> list[Field]:
    """Read (name, dtype, ragged_rank) from a Parquet/ORC file footer
    without scanning data (reference ``read_schema``,
    ``data/tabular/dataset_v2.py:385-398``)."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    fmt = "orc" if path.endswith((".orc",)) else "parquet"
    ds = pads.dataset(path, format=fmt)
    fields = []
    for name in ds.schema.names:
        at = ds.schema.field(name).type
        # Walk the nesting: a column whose levels are ALL fixed_size_list
        # carries a declared fixed shape (restored from the ARROW:schema
        # footer metadata) -> rank 0 + shape dims, the reference's
        # fixed-length-list field class. Any variable-length level makes
        # the whole nesting ragged (a ragged-of-fixed has no whole-column
        # length invariant, and Field forbids mixing rank with shape).
        dims: list[int] = []
        rank = 0
        while True:
            if pa.types.is_fixed_size_list(at):
                dims.append(at.list_size)
                at = at.value_type
            elif pa.types.is_list(at) or pa.types.is_large_list(at):
                rank += 1
                at = at.value_type
            else:
                break
        dtype = _arrow_dtype_name(at)
        if rank:
            fields.append(Field(name, dtype, ragged_rank=rank + len(dims)))
        else:
            fields.append(Field(name, dtype, shape=tuple(dims)))
    return fields


def _arrow_dtype_name(at) -> str:
    import pyarrow as pa

    if pa.types.is_timestamp(at):
        return "timestamp"
    if pa.types.is_date(at):
        return "date"
    if pa.types.is_large_string(at) or pa.types.is_string(at):
        return "string"
    if pa.types.is_large_binary(at) or pa.types.is_binary(at):
        return "binary"
    name = str(at)
    aliases = {"double": "float64", "float": "float32", "halffloat": "float16"}
    name = aliases.get(name, name)
    if name not in _DTYPE_TO_SPARK:
        raise ValueError(f"unsupported arrow type {at}")
    return name


def merge_fields(
    declared: Sequence[Field] | None,
    inferred: Sequence[Field],
    ignore_case: bool = False,
) -> list[Field]:
    """Merge user-declared fields with file-inferred schema, raising on
    dtype/ragged-rank mismatch (reference ``build_fields``,
    ``data/dataframe.py:610-714``). Declared-but-absent fields are kept —
    they get populated from ``default_value`` downstream."""
    if not declared:
        return list(inferred)
    key = (lambda s: s.lower()) if ignore_case else (lambda s: s)
    by_name = {key(f.name): f for f in inferred}
    merged = []
    for f in declared:
        found = by_name.get(key(f.name))
        if found is None:
            if f.default_value is None:
                raise SchemaMismatchError(
                    f"field {f.name!r} absent from files and has no default_value"
                )
            merged.append(f)
            continue
        # A declared fixed shape is a length invariant over a list column:
        # both render as ArrayType, so shape=(k,) matches a rank-1 file.
        # Files can themselves declare a shape (fixed_size_list footer
        # types infer as rank 0 + shape) — compare effective array levels,
        # and when BOTH sides declare a shape it must match exactly.
        def _levels(fld: Field) -> int:
            if fld.ragged_rank == 0 and fld.shape:
                return len(fld.shape)
            return fld.ragged_rank

        if found.dtype != f.dtype or _levels(found) != _levels(f):
            raise SchemaMismatchError(
                f"field {f.name!r}: declared ({f.dtype}, levels={_levels(f)}) "
                f"!= file ({found.dtype}, levels={_levels(found)})"
            )
        if f.shape and found.shape and f.shape != found.shape:
            raise SchemaMismatchError(
                f"field {f.name!r}: declared shape {f.shape} != file "
                f"fixed shape {found.shape}"
            )
        # Keep declared extras (shape invariant, default) with file identity;
        # a shape (declared, else the file's own fixed shape) implies the
        # ArrayType levels, so the merged rank is 0.
        shape = f.shape or found.shape
        rank = 0 if shape else found.ragged_rank
        merged.append(
            Field(found.name, found.dtype, rank, shape, f.default_value)
        )
    return merged


def validate_files(paths: Iterable[str], strict: bool = False) -> list[str]:
    """Cross-file schema consistency check (reference ``hb.data.validate``
    CLI, ``data/validate.py:40-75``): every file must agree on column
    names, dtypes, ragged ranks, AND declared fixed shapes (the reference
    raises on cross-file ``field.shape`` mismatch at
    ``data/validate.py:68-71``; shapes come from fixed_size_list footer
    types here). Returns a list of human-readable problems (empty ==
    consistent)."""
    problems: list[str] = []
    baseline: dict[str, Field] | None = None
    base_path = ""
    for p in paths:
        fields = {f.name: f for f in infer_fields(p)}
        if baseline is None:
            baseline, base_path = fields, p
            continue
        for name in baseline.keys() | fields.keys():
            a, b = baseline.get(name), fields.get(name)
            if a is None or b is None:
                problems.append(f"{name!r}: present in only one of {base_path}, {p}")
            elif (a.dtype, a.ragged_rank) != (b.dtype, b.ragged_rank):
                problems.append(
                    f"{name!r}: ({a.dtype},rank={a.ragged_rank}) in {base_path} vs "
                    f"({b.dtype},rank={b.ragged_rank}) in {p}"
                )
            elif a.shape != b.shape:
                problems.append(
                    f"{name!r}: shape={a.shape or '()'} in {base_path} vs "
                    f"shape={b.shape or '()'} in {p}"
                )
    if strict and baseline:
        pass  # null-freedom cannot be read from footers alone; checked on scan
    return problems
