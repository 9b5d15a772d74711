"""Top-k ranking-quality metrics: NDCG@k, MAP@k, MRR@k.

Extends the evaluation family of ``functions/metrics.py`` (AUC/PR-AUC/
GAUC/calibration, reference parity
``hybridbackend/tensorflow/metrics/{auc,gauc}.py``, plus the
graded-relevance ``ndcg_at_k`` / ``mrr_hitrate_at_k`` variants): this
module is the BINARY-relevance ladder — NDCG, MAP (which the graded
variants don't cover), and MRR in one pass — computed without a window
(one bounded higher-order fold per group instead of a row_number sort)
and with integer sufficient statistics exposed, so results hash-check
as exact integers plus single divisions rather than rounded doubles.

Oracle-exact by construction (the repo's discipline for hash-checked
cross-engine metrics):

- Per group, items are ordered by a caller-supplied score (descending,
  deterministic tiebreak) and binary relevance is folded left-to-right
  over the top-k ONCE with integer accumulators:
  * ``first_rank`` — rank of the first relevant item (0 if none);
  * ``ap_num`` — average-precision numerator scaled by
    ``L = lcm(1..k)`` (2520 at k=10): ``sum over relevant positions p
    of hits@p * (L / p)`` — exact int64;
  * ``dcg_num`` — DCG numerator with per-rank weights
    ``w_p = round(2^20 / log2(p + 1))`` as COMPILE-TIME literals, the
    same integers in the SQL oracle — exact int64.
- IDCG is the prefix sum of the same literals at ``min(R, k)`` (binary
  relevance ⇒ the ideal ranking front-loads all R relevant items).
- The reported doubles are SINGLE divisions of those integers
  (``mrr = 1/first_rank``, ``map = ap_num / (L * min(R, k))``,
  ``ndcg = dcg_num / idcg_num``) — IEEE-correctly-rounded, hence
  bit-identical in any engine. Zero-relevant groups emit 0.0 (ANSI-safe
  guards, no division by zero).

One shuffle on the group key; the per-group fold is a JVM higher-order
expression over an array bounded at k — no UDF, no explode, no window.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from .._fixed import DYADIC

__all__ = [
    "dcg_weights",
    "ranking_metrics",
]


def dcg_weights(k: int) -> list[int]:
    """The integer DCG rank weights ``round(2^20 / log2(p+1))`` for
    p = 1..k — embed the SAME list as literals in oracle SQL."""
    return [round(DYADIC / math.log2(p + 1)) for p in range(1, k + 1)]


def ranking_metrics(
    df: DataFrame,
    group_col: str,
    score: Column,
    rel: Column,
    tiebreak: Column,
    k: int = 10,
) -> DataFrame:
    """Grouped ranking metrics at cutoff ``k``.

    ``score`` orders items within a group (higher = ranked earlier),
    ``tiebreak`` makes the order total (ascending), ``rel`` is 0/1
    relevance. Returns one row per group:
    (group, n_items, n_rel, first_rank, ap_num, dcg_num, idcg_num,
    mrr, map_k, ndcg_k) — integer sufficient statistics plus the
    single-division doubles."""
    if not 1 <= k <= 32:
        raise ValueError("k must be in [1, 32]")
    lcm = math.lcm(*range(1, k + 1))
    w = dcg_weights(k)
    cum_w = [sum(w[: i + 1]) for i in range(k)]

    ordered_rel = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-score).alias("s"),
                    tiebreak.alias("t"),
                    rel.cast("long").alias("r"),
                )
            )
        ),
        lambda st: st["r"],
    )
    g = df.groupBy(group_col).agg(
        ordered_rel.alias("rl"),
        F.sum(rel.cast("long")).alias("n_rel"),
        F.count(F.lit(1)).alias("n_items"),
    )

    lcm_over_p = F.array(*[F.lit(lcm // p) for p in range(1, k + 1)])
    w_arr = F.array(*[F.lit(v) for v in w])
    cum_arr = F.array(*[F.lit(v) for v in cum_w])

    zero = F.lit(0).cast("long")
    init = F.struct(
        zero.alias("pos"),
        zero.alias("hits"),
        zero.alias("apnum"),
        zero.alias("first"),
        zero.alias("dcg"),
    )

    def _step(acc, x):
        p = acc["pos"] + 1
        return F.struct(
            p.alias("pos"),
            (acc["hits"] + x).alias("hits"),
            (
                acc["apnum"]
                + x * (acc["hits"] + 1) * F.element_at(lcm_over_p, p.cast("int"))
            ).alias("apnum"),
            F.when((acc["first"] == 0) & (x == 1), p)
            .otherwise(acc["first"])
            .alias("first"),
            (acc["dcg"] + x * F.element_at(w_arr, p.cast("int"))).alias("dcg"),
        )

    folded = F.aggregate(F.slice("rl", 1, k), init, _step)
    r_at_k = F.least(F.col("n_rel"), F.lit(k).cast("long"))
    idcg = F.when(r_at_k > 0, F.element_at(cum_arr, r_at_k.cast("int"))).otherwise(
        zero
    )
    first = folded["first"]
    apnum = folded["apnum"]
    dcg = folded["dcg"]
    return g.select(
        group_col,
        "n_items",
        "n_rel",
        first.alias("first_rank"),
        apnum.alias("ap_num"),
        dcg.alias("dcg_num"),
        idcg.cast("long").alias("idcg_num"),
        F.when(first > 0, F.lit(1.0) / first).otherwise(0.0).alias("mrr"),
        F.when(
            r_at_k > 0,
            apnum.cast("double") / (r_at_k * lcm).cast("double"),
        )
        .otherwise(0.0)
        .alias("map_k"),
        F.when(idcg > 0, dcg.cast("double") / idcg.cast("double"))
        .otherwise(0.0)
        .alias("ndcg_k"),
    )
