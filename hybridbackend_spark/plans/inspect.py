"""Physical-plan inspection helpers: the engine's scale discipline,
machine-checkable.

The reference enforces its execution strategy in C++ (fixed kernels);
on Spark the strategy lives in the optimizer, so we assert properties of
the chosen physical plan instead: filters/projections reached the scan,
small dims broadcast, shuffle counts are bounded, codegen covers the hot
path. Used by tests and available to users for plan regression gates.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

__all__ = [
    "physical_plan",
    "scan_read_schema",
    "pushed_filters",
    "count_exchanges",
    "has_broadcast_join",
    "codegen_stage_count",
    "assert_column_pruned",
    "assert_filter_pushed",
    "assert_max_shuffles",
    "assert_broadcast_join",
    "broadcast_fact_scan_violations",
    "has_unpartitioned_window",
]

# Nodes that bound a subtree's output independently of input size: a
# broadcast of an aggregate / top-k / limit of a fact table is a bounded
# derived set (legitimate), not the fact table itself.
_REDUCING_NODES = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "GlobalLimit",
    "CollectLimit",
    "TakeOrderedAndProject",
)


def _node_depth(line: str) -> int:
    """Depth of a node in Spark's toString plan tree = count of leading
    tree-drawing characters (':', ' ', '+', '-')."""
    return len(line) - len(line.lstrip(":+- "))


def broadcast_fact_scan_violations(
    df: DataFrame, fact_tables: tuple[str, ...] = ("lineitem", "orders")
) -> list[str]:
    """Return one entry per BroadcastExchange subtree that contains a
    raw scan of a fact table with NO size-reducing node (aggregate /
    limit / top-k) between the exchange and the scan.

    This is the generic 100 TB gate: an explicit broadcast of an
    unreduced fact-proportional relation overrides Catalyst's size check
    and OOMs executors at scale, while broadcasting a bounded aggregate
    or top-k derived FROM a fact table is fine. Run it with
    auto-broadcast disabled so only explicit hints produce exchanges.
    """
    lines = physical_plan(df).splitlines()
    violations: list[str] = []
    for idx, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        d = _node_depth(line)
        reduced_depths: list[int] = []
        for sub in lines[idx + 1 :]:
            sd = _node_depth(sub)
            if sd <= d and sub.strip():
                break  # left the exchange's subtree
            reduced_depths = [r for r in reduced_depths if r < sd]
            if any(n in sub for n in _REDUCING_NODES):
                reduced_depths.append(sd)
            if ("FileScan" in sub or "Scan parquet" in sub) and any(
                t in sub for t in fact_tables
            ):
                if not reduced_depths:
                    violations.append(sub.strip()[:160])
    return violations


def physical_plan(df: DataFrame) -> str:
    # plan metadata (PushedFilters/ReadSchema) truncates at
    # maxMetadataStringLength; raise it before stringifying
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "10000")
    return df._jdf.queryExecution().executedPlan().toString()


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names appearing in the scan's ReadSchema (what is actually
    read off disk after pruning)."""
    plan = physical_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols += [p.split(":")[0].strip() for p in m.group(1).split(",") if p.strip()]
    return cols


def pushed_filters(df: DataFrame) -> str:
    plan = physical_plan(df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    return m.group(1) if m else ""


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (broadcast
    exchanges excluded)."""
    plan = physical_plan(df)
    return len(re.findall(r"Exchange (?!SinglePartition)(?:hash|range)partitioning", plan)) + len(
        re.findall(r"Exchange SinglePartition", plan)
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df) or "BroadcastNestedLoopJoin" in physical_plan(df)


def codegen_stage_count(df: DataFrame) -> int:
    plan = physical_plan(df)
    stages = set(re.findall(r"\*\((\d+)\)", plan))
    stages |= set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
    return len(stages)


def assert_column_pruned(df: DataFrame, must_not_read: list[str]) -> None:
    read = set(scan_read_schema(df))
    bad = read & set(must_not_read)
    if bad:
        raise AssertionError(f"scan reads pruned columns {sorted(bad)}; plan:\n{physical_plan(df)[:2000]}")


def assert_filter_pushed(df: DataFrame, col: str) -> None:
    if col not in pushed_filters(df):
        raise AssertionError(
            f"no pushed filter on {col!r}; PushedFilters=[{pushed_filters(df)}]"
        )


def assert_max_shuffles(df: DataFrame, n: int) -> None:
    got = count_exchanges(df)
    if got > n:
        raise AssertionError(
            f"plan has {got} shuffle exchanges (> {n}); plan:\n{physical_plan(df)[:3000]}"
        )


def assert_broadcast_join(df: DataFrame) -> None:
    if not has_broadcast_join(df):
        raise AssertionError(
            f"expected a broadcast join; plan:\n{physical_plan(df)[:3000]}"
        )


def has_unpartitioned_window(df: DataFrame) -> bool:
    """True when the physical plan contains a window with an EMPTY
    partition spec (WindowExec funnels the input through one task).
    Catalyst constant-folds literal partition keys away, so the only
    honest contract is: global windows are intentional, bounded by a
    guarded upstream aggregate, and ALLOWLISTED in
    tests/test_plan_scale.py — this detector powers that gate."""
    import re

    plan = physical_plan(df)
    # windowspecdefinition(partExprs..., order ASC/DESC..., frame).
    # Empty partition spec => first argument is either the frame itself
    # (no ordering) or an ordering expression carrying ASC/DESC.
    pat = re.compile(
        r"windowspecdefinition\(\s*"
        r"(specifiedwindowframe\(|[^,()]*#\d+[^,()]*\s(?:ASC|DESC))"
    )
    return bool(pat.search(plan))
