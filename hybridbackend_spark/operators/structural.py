"""Structural operators over ragged (array) columns and batches.

Spark-first equivalents of the reference's batching/set-structural layer
(SURVEY §2.7): pad-to-dense (``DataFrame.Value.to_tensor``,
``data/dataframe.py:332-345``), default population
(``populate_defaults``, ``data/dataframe.py:458-501``), dedup-restore
gather (``data/deduplicate/dataset.py:28-67`` + ``dataframe.py:301-320``),
deterministic seeded shuffle (``rebatch_buffer.cc:272-286``), rebatch as
explicit batch-id assignment, and fixed-shape validation
(``tensorflow/common/arrow.cc:138-184``).

All functions are expression-level (JVM, whole-stage codegen) — no Python
UDFs. They scale horizontally: every transform is per-row or per-partition
with no driver collect and no shuffle except where semantically required
(seeded global shuffle, exact batch numbering).
"""

from __future__ import annotations

from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from .._materialize import materialize
from ..schema import Field

__all__ = [
    "pad_to_dense",
    "populate_defaults",
    "dedup_restore",
    "gather",
    "seeded_shuffle",
    "scd2_intervals",
    "with_batch_id",
    "arrow_training_feed",
    "unbatch",
    "validate_fixed_shape",
    "changelog_compact",
    "merge_partial_aggregates",
    "incremental_join_update",
    "distinct_sketch_state",
    "merge_distinct_sketches",
    "table_diff",
    "merge_into",
]

_ZERO_BY_DTYPE = {
    "string": "",
    "binary": b"",
}


def pad_to_dense(
    col: Column | str, target_len: int, fill: Any = None, dtype: str | None = None
) -> Column:
    """Pad a variable-length array column to exactly ``target_len`` with
    ``fill``, truncating longer arrays. When ``fill`` is None the default
    comes from ``dtype`` (""/b"" for string/binary, 0 otherwise); pass
    ``dtype`` for non-numeric element types — a bare 0 would not cast.

    Equivalent of the reference ``to_tensor(pad=...)`` densify. Pure
    expression — stays inside codegen.
    """
    c = F.col(col) if isinstance(col, str) else col
    if fill is None:
        fill = _ZERO_BY_DTYPE.get(dtype, 0) if dtype else 0
    fill_lit = F.lit(fill)
    pad_count = F.greatest(F.lit(0), F.lit(target_len) - F.size(c))
    padded = F.concat(c, F.array_repeat(fill_lit, pad_count))
    return F.slice(padded, 1, target_len)


def populate_defaults(df: DataFrame, fields: Sequence[Field]) -> DataFrame:
    """Add any missing columns as constant defaults (scalar or array),
    cast to the field's Spark type."""
    existing = set(df.columns)
    for f in fields:
        if f.name in existing:
            continue
        if f.default_value is None:
            raise ValueError(f"missing column {f.name!r} has no default_value")
        df = df.withColumn(f.name, F.lit(f.default_value).cast(f.spark_type))
    return df


def gather(values: Column | str, indices: Column | str) -> Column:
    """``out[i] = values[indices[i]]`` for two array columns — the gather
    primitive behind dedup-restore (0-based indices)."""
    v = F.col(values) if isinstance(values, str) else values
    idx = F.col(indices) if isinstance(indices, str) else indices
    return F.transform(idx, lambda i: F.element_at(v, (i + 1).cast("int")))


def dedup_restore(
    df: DataFrame, restore_map: Mapping[str, str], drop_index: bool = True
) -> DataFrame:
    """Restore block-deduplicated columns: for each ``value_col -> idx_col``
    mapping, expand ``value_col`` (array of uniques per block) through
    ``idx_col`` (array of inverse indices per block) back to the duplicated
    layout. Reference read-path restore (``data/deduplicate/dataset.py``).
    """
    for value_col, idx_col in restore_map.items():
        df = df.withColumn(value_col, gather(F.col(value_col), F.col(idx_col)))
        if drop_index:
            df = df.drop(idx_col)
    return df


def seeded_shuffle(df: DataFrame, seed: int, partitions: int | None = None) -> DataFrame:
    """Deterministic global shuffle: order rows by ``xxhash64(row, seed)``.

    Unlike ``F.rand(seed)`` (which depends on partition layout), hashing the
    row content with a seed gives the same order regardless of input split
    planning — reproducible across cluster sizes. One shuffle (range
    partition + sort), AQE-friendly.

    Epoch reshuffle (reference ``reshuffle_each_iteration``,
    ``data/rebatch/rebatch_dataset_v2.cc:46-88``): pass a per-epoch seed,
    e.g. ``seeded_shuffle(df, seed=base_seed + epoch)`` — each epoch gets
    an independent order, and any epoch is exactly reproducible from
    ``(base_seed, epoch)`` alone (no driver-side RNG state to checkpoint).
    """
    cols = [F.col(c) for c in df.columns]
    out = df.orderBy(F.xxhash64(*cols, F.lit(seed)))
    if partitions:
        out = out.coalesce(partitions)
    return out


def _range_prefix(
    df: DataFrame,
    order: Sequence[str],
    value: Column,
    out_col: str,
    exclusive: bool = False,
) -> tuple[DataFrame, int | float]:
    """Global running sum of ``value`` in ``order`` order, computed
    DISTRIBUTED: range-partition on the order columns, window-sum within
    each partition (``_pid``), then add the totals of all lower partitions
    as offsets (one driver collect bounded by the partition count,
    accumulated in partition-id order). No single-partition window — the
    plan scales with the data.

    ``out_col`` sums the rows up to and including this one, or strictly
    before it when ``exclusive``. NULL values count as 0, so the result
    does not depend on where the range partitioning cuts. The sum keeps
    Spark's ``sum`` type (bigint for integral input, double for double).
    Returns ``(df with out_col, grand total)``.
    """
    parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = df.repartitionByRange(parts, *order).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
    )
    # An eager cut, not persist: the offsets collected below must see the
    # exact partition layout the downstream plan reads (range sampling
    # could differ on recompute), and a checkpoint is freed with the
    # DataFrame (cache entries leak for the session lifetime).
    local = materialize(ranged.withColumn(
        "_local", F.coalesce(F.sum(value).over(w_local), F.lit(0))
    ))
    totals = dict(local.groupBy("_pid").agg(F.sum(value)).collect())
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid] or 0
    sum_type = local.schema["_local"].dataType
    offset = F.element_at(
        F.create_map(
            *[
                x
                for pid, off in offsets.items()
                for x in (F.lit(pid), F.lit(off).cast(sum_type))
            ]
        ),
        F.col("_pid"),
    ) if offsets else F.lit(0)
    out = local.withColumn(out_col, F.col("_local") + offset)
    return out.drop("_pid", "_local"), acc


def _group_prefix(
    value: Column | str,
    group: Column | str,
    *order: Column | str,
    exclusive: bool = False,
) -> tuple[Column, Column]:
    """Running sum of ``value`` within each ``group`` in ``order`` order,
    and the group total, as two window Columns — the per-group
    counterpart of :func:`_range_prefix`: the sum restarts in every
    group, so one window partition is one group (at the rank-statistics
    callers, one group's distinct-value histogram, never raw rows).

    The running sum covers the rows up to and including this one, or
    strictly before it when ``exclusive`` (then 0, not NULL, on a
    group's first row)."""
    w = (
        Window.partitionBy(group)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
    )
    run = F.sum(value).over(w)
    if exclusive:
        run = F.coalesce(run, F.lit(0))
    return run, F.sum(value).over(Window.partitionBy(group))


def with_batch_id(
    df: DataFrame,
    batch_size: int,
    order_by: Sequence[str] | None = None,
    drop_remainder: bool = False,
) -> DataFrame:
    """Assign a ``batch_id`` column grouping rows into exact
    ``batch_size``-row batches — the relational rendering of the reference's
    ``rebatch`` (``data/rebatch/``). Requires a total order to be
    deterministic; pass ``order_by`` (defaults to all columns).

    Global row numbering is the distributed prefix sum
    :func:`_range_prefix` over a constant 1 (range partition, local
    count, per-partition offsets); its grand total sizes
    ``drop_remainder``. No single-partition window — the plan scales with
    the data. (For training-feed export without exact global numbering,
    prefer per-partition batching via ``maxRecordsPerBatch`` on the Arrow
    boundary — zero shuffle.)
    """
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    out, total = _range_prefix(df, order_by or df.columns, F.lit(1), "_rn")
    rn = F.col("_rn")
    out = out.withColumn("batch_id", ((rn - 1) / batch_size).cast("long"))
    if drop_remainder:
        out = out.filter(rn <= (total // batch_size) * batch_size)
    return out.drop("_rn")


def arrow_training_feed(
    df: DataFrame, batch_size: int, drop_remainder: bool = False
) -> DataFrame:
    """Physical batch-exact training feed with ZERO shuffle (the
    reference's ``rebatch`` buffer, ``data/rebatch/rebatch_buffer.cc``,
    re-expressed at Spark's Arrow boundary): inside each partition,
    incoming Arrow record batches are buffered and re-sliced to EXACTLY
    ``batch_size`` rows; each output row is tagged with
    (``feed_part`` = partition id, ``feed_batch`` = batch ordinal within
    the partition). Every (feed_part, feed_batch) group has exactly
    ``batch_size`` rows except at most one remainder per partition
    (dropped when ``drop_remainder``).

    Unlike :func:`with_batch_id` (exact GLOBAL numbering — needs a range
    shuffle), this is the scale path for feeding trainers: numbering is
    per-partition, so no data moves and the whole operator is a single
    Arrow-boundary pass.
    """
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    import pyarrow as pa
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("feed_part", T.IntegerType()),
            T.StructField("feed_batch", T.LongType()),
        ]
    )

    def _rebatch(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seq = 0
        acc: pa.Table | None = None

        def _tag(tbl: pa.Table, batch_idx: int):
            n = tbl.num_rows
            tbl = tbl.append_column("feed_part", pa.array([pid] * n, pa.int32()))
            tbl = tbl.append_column(
                "feed_batch", pa.array([batch_idx] * n, pa.int64())
            )
            yield from tbl.combine_chunks().to_batches()

        for rb in batches:
            t = pa.Table.from_batches([rb])
            acc = t if acc is None else pa.concat_tables([acc, t])
            while acc.num_rows >= batch_size:
                yield from _tag(acc.slice(0, batch_size), seq)
                acc = acc.slice(batch_size)
                seq += 1
        if acc is not None and acc.num_rows and not drop_remainder:
            yield from _tag(acc, seq)

    return df.mapInArrow(_rebatch, out_schema)


def unbatch(df: DataFrame, array_cols: Sequence[str]) -> DataFrame:
    """Explode parallel array columns row-wise (reference
    ``unbatch_and_to_sparse``, ``data/dataframe.py:510-549``): one output
    row per array position, scalars duplicated."""
    if not array_cols:
        return df
    zipped = F.arrays_zip(*[F.col(c) for c in array_cols])
    other = [c for c in df.columns if c not in array_cols]
    ex = df.select(*other, F.explode(zipped).alias("_z"))
    return ex.select(*other, *[F.col(f"_z.{c}").alias(c) for c in array_cols])


def validate_fixed_shape(df: DataFrame, col: str, k: int) -> DataFrame:
    """Filter helper returning rows violating a fixed-shape invariant
    ``size(col) == k`` (reference shape validation,
    ``tensorflow/common/arrow.cc:138-184``)."""
    return df.filter(F.size(F.col(col)) != k)


def block_dedup_encode(
    df: DataFrame,
    dedup_cols: Sequence[str],
    block_size: int,
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """Writer-side block deduplication (dictionary compression): pack each
    run of ``block_size`` rows into ONE output row where every
    ``dedup_cols`` column becomes (unique values array + inverse-index
    array) and every other column becomes a plain value array.

    Mirrors the reference's offline dedup prep (per-block ``np.unique``
    with inverse indices, ``docs/tutorial/ranking/taobao/data/
    deduplicate.py:42-80``); the reader side is :func:`dedup_restore` /
    :func:`block_dedup_decode` (reference ``data/deduplicate/dataset.py``).

    Uses :func:`with_batch_id` for block numbering — like that operator,
    intended at the storage edge of the pipeline, not mid-plan.

    Rows are collected as ONE struct per row (not one collect_list per
    column): per-column collect_list silently drops nulls, which would
    shorten columns independently and misalign sibling values in the
    block. The struct list is sorted on the ``order_by`` key, so the
    encoded layout is reproducible regardless of shuffle order (matching
    the reference's order-preserving per-block np.unique format); pass a
    unique ``order_by`` for full determinism. Null values in dedup
    columns roundtrip: array_position yields a null index and the decode
    gather restores null.
    """
    order = list(order_by or df.columns)
    rest = [c for c in df.columns if c not in order]
    other = [c for c in df.columns if c not in dedup_cols]
    blocked = with_batch_id(df, block_size, order_by=order)
    row_struct = F.struct(*[F.col(c) for c in order + rest])
    enc = blocked.groupBy("batch_id").agg(
        F.sort_array(F.collect_list(row_struct)).alias("_rows")
    )
    for c in other:
        enc = enc.withColumn(c, F.col("_rows").getField(c))
    for c in dedup_cols:
        enc = enc.withColumn(f"_{c}_all", F.col("_rows").getField(c)).withColumn(
            c, F.array_distinct(F.col(f"_{c}_all"))
        ).withColumn(
            f"{c}_idx",
            F.expr(
                f"transform(_{c}_all, v -> cast(array_position({c}, v) as int) - 1)"
            ),
        ).drop(f"_{c}_all")
    return enc.drop("_rows")


def block_dedup_decode(
    df: DataFrame, dedup_cols: Sequence[str], value_cols: Sequence[str]
) -> DataFrame:
    """Reader-side restore of :func:`block_dedup_encode`: gather each
    dedup column through its inverse index, then explode all per-block
    arrays back to rows."""
    restored = dedup_restore(
        df, {c: f"{c}_idx" for c in dedup_cols}, drop_index=True
    )
    arrays = list(dedup_cols) + list(value_cols)
    return unbatch(restored.drop("batch_id"), arrays)


def changelog_compact(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    tombstone: Column | None = None,
) -> DataFrame:
    """CDC/changelog compaction: keep the LATEST row per key, ordered by
    ``order_by`` (descending, left-to-right tie-break — make the last
    column a unique id for full determinism). ``tombstone`` is an
    optional boolean expression marking delete records: a key whose
    LATEST row is a tombstone disappears from the output entirely (the
    upsert-with-deletes semantics of a Debezium/Kafka compacted topic);
    earlier tombstones are superseded by later upserts like any state.

    One hash shuffle on the key columns + a per-key top-1 window; state
    per key is a single row, so the output is the materialized
    "current state" of an upsert stream at any scale. The batch analog
    of streaming ``dropDuplicates`` compaction.
    """
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in order_by]
    )
    out = (
        df.withColumn("_cc_rn", F.row_number().over(w))
        .filter(F.col("_cc_rn") == 1)
        .drop("_cc_rn")
    )
    if tombstone is not None:
        out = out.filter(~tombstone)
    return out


def scd2_intervals(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    state_cols: Sequence[str],
) -> DataFrame:
    """Slowly-changing-dimension type-2 construction from a changelog:
    collapse consecutive rows whose ``state_cols`` are unchanged (null-safe
    comparison) and emit one versioned interval row per state change with
    ``valid_from`` (first ``order_by[0]`` of the run), ``valid_to`` (start
    of the next run, NULL while current), ``version`` (1-based per key)
    and ``is_current``.

    The inverse of :func:`changelog_compact`: compaction keeps only the
    latest state, SCD2 keeps the full history as non-overlapping
    intervals — the standard warehouse dimension-history encoding.

    One hash shuffle on the key columns; both windows (change detection
    and lead/version numbering) share the same partitioning, so Catalyst
    plans a single exchange. Make ``order_by`` unique per key (append a
    tie-break id) for deterministic versioning under equal timestamps.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    chg = F.lit(False)
    for c in state_cols:
        chg = chg | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    starts = (
        df.withColumn("_is_start", (F.row_number().over(w) == 1) | chg)
        .filter(F.col("_is_start"))
        .drop("_is_start")
    )
    return (
        starts.select(
            *keys,
            *state_cols,
            F.col(order_by[0]).alias("valid_from"),
            F.lead(order_by[0]).over(w).alias("valid_to"),
            F.row_number().over(w).alias("version"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def merge_partial_aggregates(
    state: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    counters: Sequence[str],
) -> DataFrame:
    """Incremental materialized-aggregate maintenance: merge a new
    batch's partial aggregates into an existing aggregate state table.
    Both inputs carry the same ``keys`` + ``counters`` schema; the result
    is one row per key with each counter null-safely ADDED — the merge
    step of any decomposable aggregate kept in partial form (counts,
    sums; keep avg as sum+count and divide on read).

    This is Spark's own partial/final aggregation split lifted to table
    granularity: maintaining a 100 TB rollup means aggregating only the
    delta and merging, never rescanning the base. One shuffle on the
    keys (the full-outer join); both sides are already aggregate-sized.
    The incremental result is bit-equal to a full recompute for integer
    counters (the oracle query proves exactly that equivalence).
    """
    d = delta.select(
        *keys, *[F.col(c).alias(f"_delta_{c}") for c in counters]
    )
    merged = state.join(d, on=list(keys), how="full_outer")
    zero = F.lit(0)
    return merged.select(
        *keys,
        *[
            (
                F.coalesce(F.col(c), zero)
                + F.coalesce(F.col(f"_delta_{c}"), zero)
            ).alias(c)
            for c in counters
        ],
    )


def distinct_sketch_state(
    df: DataFrame,
    keys: Sequence[str],
    sketch_cols: Mapping[str, str],
) -> DataFrame:
    """Mergeable distinct-count state: one Datasketches HLL sketch per
    key per tracked column (``out_name -> source_col``). The sketch
    column is a binary value that :func:`merge_distinct_sketches` can
    combine associatively — the approximate counterpart of
    :func:`merge_partial_aggregates` for COUNT(DISTINCT), which has no
    exact decomposable form. Maintain a 100 TB distinct-users rollup by
    sketching only each new partition and merging (error ~1.6% at the
    default lgConfigK=12).
    """
    return df.groupBy(*keys).agg(
        *[
            F.hll_sketch_agg(src).alias(out)
            for out, src in sketch_cols.items()
        ]
    )


def merge_distinct_sketches(
    state: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    sketch_cols: Sequence[str],
    estimate: bool = False,
) -> DataFrame:
    """Merge two HLL-sketch state tables (full-outer on ``keys``, union
    of each sketch pair; a key missing on one side keeps the other's
    sketch). ``estimate=True`` finalizes each sketch to its distinct
    estimate instead of returning the mergeable binary."""
    d = delta.select(
        *keys, *[F.col(c).alias(f"_delta_{c}") for c in sketch_cols]
    )
    merged = state.join(d, on=list(keys), how="full_outer")
    out_cols = []
    for c in sketch_cols:
        both = F.hll_union(F.col(c), F.col(f"_delta_{c}"))
        one = F.coalesce(F.col(c), F.col(f"_delta_{c}"))
        sk = F.when(
            F.col(c).isNotNull() & F.col(f"_delta_{c}").isNotNull(), both
        ).otherwise(one)
        out_cols.append(
            F.hll_sketch_estimate(sk).alias(c) if estimate else sk.alias(c)
        )
    return merged.select(*keys, *out_cols)


def incremental_join_update(
    old_left: DataFrame,
    old_right: DataFrame,
    delta_left: DataFrame,
    delta_right: DataFrame,
    on: Sequence[str],
) -> DataFrame:
    """Incremental (insert-only) equi-join view maintenance — the JOIN
    companion to :func:`merge_partial_aggregates`: given a maintained
    view ``V = L ⋈ R`` and insert deltas ``dL, dR``, the NEW match rows
    are exactly

        dV = (dL ⋈ R) ∪ (L ⋈ dR) ∪ (dL ⋈ dR)

    so a 100 TB CDC pipeline appends ``dV`` to the stored view instead
    of re-joining the full tables (the three delta joins each have one
    delta-sized side; at typical delta:base ratios that is orders of
    magnitude less shuffle than the full recompute it provably equals).

    This function returns ``dV`` (the caller appends/unions it onto the
    stored view); the algebra is exact for bag semantics under
    insert-only deltas — updates/deletes need retractions, which
    :func:`table_diff` derives. Result column order is L-columns then
    R-columns minus the duplicate join keys, identical to
    ``full_L.join(full_R, on)``.
    """
    if not on:
        raise ValueError("join keys must be non-empty")
    keys = list(on)
    return (
        delta_left.join(old_right, keys)
        .unionAll(old_left.join(delta_right, keys))
        .unionAll(delta_left.join(delta_right, keys))
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Snapshot diff between two versions of a table: one row per key
    that was ``added``, ``removed``, or ``changed`` (unchanged keys are
    dropped). The engine-side primitive behind data regression checks,
    CDC backfills, and reconciliation reports.

    Scale shape: one full-outer shuffle join on the key (both snapshots
    stream; nothing broadcasts), with change detection on a single
    xxhash64 fingerprint of the compared columns — the shuffled payload
    beyond the key is one long per side no matter how wide the table.
    Casting to string before hashing makes the fingerprint
    type-stable; null columns fingerprint distinctly from empty strings
    via a per-column null marker.

    Returns key columns + change_type.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    compare_cols = compare_cols or [
        c for c in old.columns if c not in key_cols
    ]

    def fp(df: DataFrame, out: str) -> DataFrame:
        cols = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
            for c in compare_cols
        ]
        return df.select(
            *key_cols, F.xxhash64(*cols).alias(out)
        )

    o = fp(old, "_old_fp")
    n = fp(new, "_new_fp")
    joined = o.join(n, key_cols, "full_outer")
    return joined.select(
        *key_cols,
        F.when(F.col("_old_fp").isNull(), F.lit("added"))
        .when(F.col("_new_fp").isNull(), F.lit("removed"))
        .when(F.col("_old_fp") != F.col("_new_fp"), F.lit("changed"))
        .alias("change_type"),
    ).filter(F.col("change_type").isNotNull())


def merge_into(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str],
    delete_col: str | None = None,
) -> DataFrame:
    """MERGE INTO semantics over plain DataFrames: source rows UPDATE
    matching target rows (whole-row replace), non-matching source rows
    INSERT, and — when ``delete_col`` names a boolean source column —
    flagged rows DELETE their target match instead. The lakehouse
    upsert primitive, expressed engine-agnostically.

    Scale shape: ONE left-anti join on the key (kept target rows) plus a
    union with the surviving source rows — both sides hash-partition on
    the key, the anti join's build side is the (small) source, and no
    full-outer wide row is ever materialized. Column sets must match
    (modulo ``delete_col``); a mismatch raises immediately rather than
    silently nulling.
    """
    s_cols = [c for c in source.columns if c != delete_col]
    if set(s_cols) != set(target.columns):
        raise ValueError(
            f"schema mismatch: target {sorted(target.columns)} "
            f"vs source {sorted(s_cols)}"
        )
    kept = target.join(source.select(*key_cols).distinct(), key_cols, "left_anti")
    survivors = source
    if delete_col is not None:
        survivors = survivors.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    return kept.unionByName(survivors.select(*target.columns))
