"""Print one normalized optimized logical plan per registered query, so a
plan-identity check between two trees is one command per tree plus a
``diff``:

    python tools/plan_dump.py ~/testdata/sf0.01 > after.txt
    (cd ../other-tree && python tools/plan_dump.py ...) > before.txt
    diff before.txt after.txt

Usage: python tools/plan_dump.py [sf_dir] [name ...]   (sf_dir defaults
to ~/testdata/sf0.01)

Each query is BUILT, not collected (queries that cut lineage eagerly
still run those jobs), on the engine session, and printed as
``== name ==`` followed by ``queryExecution().optimizedPlan()`` with the
per-session numbering normalized away (:func:`normalize`). A query that
fails to build prints ``ERROR: <first line>`` instead.

Known flakes: in a full sweep, profile_lineitem, chisq_events,
dataset_shift_orders, decontaminate_spans_docs and distinct_counts can
differ between two sessions of the SAME tree — their distinct-aggregate
``Expand`` lists its groups in expression-id order, which the queries
built before them shift. block_dedup_roundtrip bakes the batch offsets
it collects from a sampled range partition into its plan as literals,
and those can move with the session too. Rebuild such queries by name
in a fresh process on both sides
(``python tools/plan_dump.py sf_dir profile_lineitem ...``) before
reading a difference there as a plan change.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (pattern, replacement), applied in order: expression ids (``#12``,
# ``#12L``), numbered generated names (``rdd_7``, ``sum_3``) and plan ids
_NORMALIZE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\b([A-Za-z]+)_\d+\b"), r"\1_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
]


def normalize(plan: str) -> str:
    """``plan`` with the numbering that differs between two sessions
    building the same query replaced by fixed tokens."""
    for pat, rep in _NORMALIZE:
        plan = pat.sub(rep, plan)
    return plan


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.expanduser(
        "~/testdata/sf0.01"
    )
    only = sys.argv[2:]
    sys.path.insert(0, ROOT)

    import __spark_entry__ as entrymod
    from hybridbackend_spark.session import get_session

    spark = get_session("plan-dump")
    qs = entrymod.queries()
    unknown = [n for n in only if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {', '.join(unknown)}")
    for name in only or qs:
        print(f"== {name} ==")
        try:
            plan = qs[name](spark, sf_dir)._jdf.queryExecution().optimizedPlan()
            print(normalize(plan.toString()))
        except Exception as e:  # report and keep going: one line per query
            print(f"ERROR: {(str(e).splitlines() or [type(e).__name__])[0]}")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
