"""Declarative data-quality audit (Deequ-style constraint suite).

The reference validates file-level schema consistency before a scan
(``data/validate.py:40-75``, mirrored by ``sources/validate.py``); this
module adds the VALUE-level checks a 100 TB ingest actually gates on:
completeness, key uniqueness, referential integrity, range/set
membership, and freshness — expressed declaratively and executed as ONE
fused scan-aggregation per table plus one anti-join per foreign-key
constraint.

Scale shape: every table-local metric (null fractions, min/max range
violations, duplicate-key count) folds into a single partial+final agg —
one pass over the data regardless of how many constraints are declared.
Referential checks are left-anti joins keyed on the FK (broadcast when
the dimension is small, shuffle otherwise — the hint is left to AQE).
The report is a long-format (constraint, column, metric, passed) table
bounded by the number of constraints, never by the data.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F

from .._fixed import CENTS, grid

__all__ = ["Check", "dq_audit", "k_anonymize", "benford_audit", "BENFORD_EXPECTED"]


@dataclass
class Check:
    """Constraint suite for one table.

    - ``not_null``: columns whose null fraction must be 0.
    - ``unique``: column tuples that must be a candidate key.
    - ``ranges``: col -> (lo, hi) inclusive numeric bounds.
    - ``isin``: col -> allowed value list.
    - ``refs``: (fk_col, ref_df, ref_col) referential constraints.
    - ``min_rows``: table must have at least this many rows.
    """

    not_null: list[str] = field(default_factory=list)
    unique: list[list[str]] = field(default_factory=list)
    ranges: dict[str, tuple[float, float]] = field(default_factory=dict)
    isin: dict[str, list] = field(default_factory=dict)
    refs: list[tuple[str, DataFrame, str]] = field(default_factory=list)
    min_rows: int = 0


def _frac(cond: Column) -> Column:
    return F.sum(F.when(cond, 1).otherwise(0))


def dq_audit(df: DataFrame, check: Check, dp: int = 6) -> DataFrame:
    """Run the constraint suite; return a long-format report:
    (constraint, column, metric DOUBLE, passed BOOLEAN).

    ``metric`` is the violation measure per constraint type (null
    fraction, duplicate-key row count, out-of-range count, orphan
    count, row count). One scan computes every table-local metric;
    uniqueness adds one agg on the key, each FK one anti-join.
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in check.not_null:
        aggs.append(_frac(F.col(c).isNull()).alias(f"_null_{c}"))
    for c, (lo, hi) in check.ranges.items():
        aggs.append(
            _frac(~F.col(c).between(F.lit(lo), F.lit(hi))).alias(f"_rng_{c}")
        )
    for c, allowed in check.isin.items():
        aggs.append(_frac(~F.col(c).isin(allowed)).alias(f"_set_{c}"))
    base = df.agg(*aggs)

    rows: list[DataFrame] = []

    def emit(constraint: str, column: str, metric: Column, passed: Column):
        rows.append(
            base.select(
                F.lit(constraint).alias("constraint"),
                F.lit(column).alias("column"),
                F.round(metric.cast("double"), dp).alias("metric"),
                passed.alias("passed"),
            )
        )

    emit("row_count", "*", F.col("_n"), F.col("_n") >= check.min_rows)
    for c in check.not_null:
        frac = F.when(F.col("_n") > 0, F.col(f"_null_{c}") / F.col("_n"))
        emit("not_null", c, frac, F.col(f"_null_{c}") == 0)
    for c in check.ranges:
        emit("in_range", c, F.col(f"_rng_{c}"), F.col(f"_rng_{c}") == 0)
    for c in check.isin:
        emit("in_set", c, F.col(f"_set_{c}"), F.col(f"_set_{c}") == 0)

    report = rows[0]
    for r in rows[1:]:
        report = report.unionByName(r)

    for key in check.unique:
        dups = (
            df.groupBy(*[F.col(c) for c in key])
            .agg(F.count(F.lit(1)).alias("_k"))
            .filter(F.col("_k") > 1)
            .agg(F.coalesce(F.sum("_k"), F.lit(0)).alias("_d"))
            .select(
                F.lit("unique").alias("constraint"),
                F.lit(",".join(key)).alias("column"),
                F.round(F.col("_d").cast("double"), dp).alias("metric"),
                (F.col("_d") == 0).alias("passed"),
            )
        )
        report = report.unionByName(dups)

    for fk_col, ref_df, ref_col in check.refs:
        orphans = (
            df.select(F.col(fk_col))
            .filter(F.col(fk_col).isNotNull())
            .join(
                ref_df.select(F.col(ref_col).alias(fk_col)).distinct(),
                fk_col,
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("_o"))
            .select(
                F.lit("foreign_key").alias("constraint"),
                F.lit(fk_col).alias("column"),
                F.round(F.col("_o").cast("double"), dp).alias("metric"),
                (F.col("_o") == 0).alias("passed"),
            )
        )
        report = report.unionByName(orphans)
    return report


def k_anonymize(
    df: DataFrame,
    quasi: dict[str, Column],
    k: int,
) -> DataFrame:
    """k-anonymity RELEASE (complements the k_anonymity audit): map each
    quasi-identifier through its generalization expression (``quasi``
    maps output name -> binning Column, e.g. a 1000-unit balance band),
    then SUPPRESS every generalized group smaller than ``k``. Returns
    the released group-level table (generalized columns + n_group), in
    which every row represents >= k individuals by construction.

    One partial+final count aggregation over the generalized keys plus a
    HAVING filter — the entire release costs one shuffle bounded by the
    generalized-group count. Generalization choices (band widths,
    hierarchy levels) are the caller's policy knob; a too-fine choice
    shows up directly as suppressed volume.
    """
    gen = df.select(*[expr.alias(name) for name, expr in quasi.items()])
    names = list(quasi)
    return (
        gen.groupBy(*names)
        .agg(F.count(F.lit(1)).alias("n_group"))
        .filter(F.col("n_group") >= k)
    )


# First-digit probabilities log10(1 + 1/d): computed once here and inlined
# as LITERALS in both engines, so no transcendental runs distributed.
BENFORD_EXPECTED = [
    0.30102999566398114, 0.17609125905568124, 0.12493873660829993,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514,
]


def benford_audit(df: DataFrame, value_col: str, dp: int = 6) -> DataFrame:
    """First-digit (Benford's law) audit of a positive money column —
    the classic fabricated-data / unit-mixup screen. Returns one row per
    digit 1-9: (digit, n, share_pct, expected_pct, dev_pct).

    The value is quantized to integer cents and the leading digit taken
    from its decimal string (scale-invariant, no log10 at runtime — the
    expected shares are compile-time literals). One count agg; digits
    with no observations are densified to 0 so the audit always shows
    all nine rows.
    """
    cents = grid(value_col, CENTS)
    obs = (
        df.filter(cents > 0)
        .select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spark = df.sparkSession
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    exp_map = F.element_at(
        F.array(*[F.lit(p) for p in BENFORD_EXPECTED]), F.col("digit")
    )
    total = obs.agg(F.sum("n").alias("_t"))
    return (
        digits.join(obs, "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.round(
                F.when(
                    F.col("_t") > 0,
                    F.coalesce(F.col("n"), F.lit(0)).cast("double")
                    * 100.0
                    / F.col("_t").cast("double"),
                ),
                dp,
            ).alias("share_pct"),
            F.round(exp_map * 100.0, dp).alias("expected_pct"),
            F.round(
                F.when(
                    F.col("_t") > 0,
                    F.coalesce(F.col("n"), F.lit(0)).cast("double")
                    * 100.0
                    / F.col("_t").cast("double")
                    - exp_map * 100.0,
                ),
                dp,
            ).alias("dev_pct"),
        )
    )
