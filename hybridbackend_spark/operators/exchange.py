"""Exchange / partitioning operators (SURVEY §2.11).

The reference implements hash exchanges as explicit ops — modulo partition
(``distribute/partition/partition_by_modulo_ops.cc``), dual-modulo
hierarchical partition (``partition_by_dual_modulo_ops.cc``), and NCCL
all-to-all/allreduce collectives (``distribute/nccl/``). In Spark the
shuffle service IS the collective layer: a repartition by key expression
produces the same data movement, and aggregations do allreduce-equivalent
partial/final merges. This module exposes the reference's partitioning
vocabulary as thin, plan-transparent helpers plus utilities to observe
the resulting distribution (for tests and skew diagnosis).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "partition_by_modulo",
    "partition_by_dual_modulo_keys",
    "partition_sizes",
    "key_skew_report",
    "salted_key",
    "salted_join",
]


def partition_by_modulo(df: DataFrame, key: str, num_partitions: int) -> DataFrame:
    """Hash exchange on ``key % n`` — the reference's
    ``HbPartitionByModulo`` as a Spark repartition. Identical data
    placement to the reference's modulo sharding (shard i holds keys
    with key % n == i), so a following per-partition op sees the same
    grouping."""
    return df.repartition(num_partitions, F.pmod(F.col(key), F.lit(num_partitions)))


def partition_by_dual_modulo_keys(
    key: Column | str, local_size: int, num_nodes: int
) -> tuple[Column, Column]:
    """The reference's two-level (node-local, cross-node) partition keys
    (``partition_by_dual_modulo_ops.cc:46-330``): returns
    (intra_key, inter_key) = (key % local_size, (key / local_size) %
    num_nodes). On Spark this is a physical detail the shuffle service
    owns; exposed for parity and for two-stage aggregations that want
    explicit locality (e.g. partial agg on intra_key, final on
    inter_key)."""
    c = F.col(key) if isinstance(key, str) else key
    intra = F.pmod(c, F.lit(local_size))
    # Exact integer quotient: (c - intra) is an exact multiple of
    # local_size, and decimal division keeps every long representable —
    # float64 division would misplace keys above 2^53.
    quot = ((c - intra).cast("decimal(38,0)") / F.lit(local_size)).cast("long")
    inter = F.pmod(quot, F.lit(num_nodes))
    return intra, inter


def partition_sizes(df: DataFrame) -> DataFrame:
    """Rows per physical partition — observe an exchange's balance."""
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("_pid")
    )


def key_skew_report(df: DataFrame, key: str, top: int = 20) -> DataFrame:
    """Per-key row counts, heaviest first — identify skewed join/agg keys
    that need salting or AQE skew handling."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy(F.col("n_rows").desc())
        .limit(top)
    )


def salted_key(key: Column | str, salt_buckets: int, seed: int = 0) -> Column:
    """Compose a salted key (key, salt) for skew mitigation: spread a hot
    key across ``salt_buckets`` sub-keys; aggregate partially on the
    salted key, then finally on the bare key (two-stage agg)."""
    c = F.col(key) if isinstance(key, str) else key
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id(), F.lit(seed)),
                  F.lit(salt_buckets))
    return F.struct(c.alias("key"), salt.alias("salt"))


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 8,
    seed: int = 0,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: the fact side's hot keys spread across
    ``salt_buckets`` sub-keys (random salt per row), the dim side
    replicates each row once per salt value, and the join runs on
    (key, salt) — a single hot key's probe work lands on
    ``salt_buckets`` reducers instead of one. Use when AQE's skew split
    is not enough (it splits a hot partition's INPUT, but a single
    gigantic key still hashes to one task without salting).

    Cost: the dim side shuffles ``salt_buckets``x — size it to the
    skew, and keep the dim the SMALLER side. Row-level results are
    identical to the plain join (each fact row meets each matching dim
    row exactly once — its salt picks exactly one replica).
    """
    salt = F.pmod(
        F.xxhash64(F.monotonically_increasing_id(), F.lit(seed)),
        F.lit(salt_buckets),
    ).cast("int")
    f = fact.withColumn("_salt", salt)
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    out = f.join(d, [key, "_salt"], how)
    return out.drop("_salt")
