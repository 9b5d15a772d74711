"""Fixed-point integer grid: the one quantization rule behind every
exact, mergeable aggregate in the engine.

A double sum is not mergeable: its last bits depend on summation order,
so two partitionings (or Spark against DuckDB) can round a metric to
different digits. An exact metric therefore puts each value on an
integer grid first — ``CAST(round(x * unit) AS BIGINT)``, the same
expression on the same double in both engines — then sums, ranks and
compares integers (squares as DECIMAL(38,0), which a BIGINT overflows
at fact scale) and divides by ``unit`` once, on output. Integer
partials merge exactly across workers in any order.

The unit is part of a metric's definition, so each use names one of
these constants rather than taking an option: :data:`CENTS` for money
and general values, :data:`MICRO` for rates, per-term statistics and
k-means/k-center components, :data:`RANK` for PageRank mass, and
:data:`DYADIC` (a power of two, so rescaling by ``unit**2`` is exact)
for covariance/PCA components and DCG weights. Rounding is Spark's
``round``, half away from zero; :func:`spark_round` is its numpy twin.
``|x * unit| >= 2^63`` aborts the BIGINT cast under ANSI mode, by
design (``sources.validate.corrupt_scale_report`` finds such rows).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F

CENTS = 100
MICRO = 1_000_000
RANK = 1_000_000_000
DYADIC = 1 << 20


def grid(col: Column | str, unit: int) -> Column:
    """``col`` on the ``unit`` grid as BIGINT (NULL stays NULL)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c.cast("double") * unit).cast("long")


def grid_nonneg(col: str, unit: int, who: str) -> Column:
    """:func:`grid` of a value that must be non-negative: a negative raw
    value raises, checked before rounding so one that rounds to 0 is
    caught too; NULL passes through."""
    raw = F.col(col).cast("double")
    return F.when(
        raw < 0,
        F.raise_error(
            F.concat(
                F.lit(f"{who}: negative value "),
                raw.cast("string"),
                F.lit(f" in column {col!r}"),
            )
        ).cast("long"),
    ).otherwise(grid(col, unit))


def ungrid(q: Column, unit: int) -> Column:
    """Grid units back to a double: one division by ``unit``."""
    return q / float(unit)


def grid_sum(col: Column | str, unit: int) -> Column:
    """Aggregate: the exact sum of ``col`` on the ``unit`` grid."""
    return ungrid(F.sum(grid(col, unit)), unit)


def grid_moments(
    n: Column, s: Column, ss: Column, unit: int
) -> tuple[Column, Column]:
    """``(mean, population variance)`` from a count ``n``, the grid sum
    ``s`` and the DECIMAL(38,0) sum of squares ``ss``."""
    fu = float(unit)
    nd = n.cast("double")
    mean = (s / fu) / nd
    return mean, (ss.cast("double") / (fu * fu)) / nd - mean * mean


def spark_round(x):
    """numpy twin of Spark's ``round`` on doubles: half away from zero,
    decided on the exact fractional part ``x - trunc(x)``. Adding 0.5
    and flooring differs: ``0.49999999999999994 + 0.5`` rounds up to
    ``1.0``. Non-finite values pass through."""
    x = np.asarray(x, dtype="float64")
    t = np.trunc(x)
    with np.errstate(invalid="ignore"):  # inf - inf
        return t + np.sign(x) * (np.abs(x - t) >= 0.5)
