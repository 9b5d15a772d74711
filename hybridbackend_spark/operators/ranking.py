"""Text relevance ranking: TF-IDF / BM25 top-k over a document corpus.

The retrieval primitive of a training-data pipeline (query-targeted
corpus slicing, dedup-cluster canonical selection, eval-set mining).
Extends the reference's text surface (tokenization-based prep in
``docs/tutorial/ranking/taobao/data/``) with the classic sparse ranking
function, shaped for 100 TB:

- postings are filtered to the query's terms BEFORE any shuffle, so all
  aggregations run on ``|docs matching any term| x |query terms|`` rows,
  never the corpus;
- corpus statistics (N, avgdl) are a single-row broadcast; per-term
  document frequencies are a ``|query terms|``-row broadcast;
- the final top-k orders by the 6-dp-rounded score with a document-id
  tie-break, so the selected set is reproducible across engines and
  partitionings (TakeOrderedAndProject, no global sort).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from .._materialize import materialize
from .text import tokens

__all__ = ["bm25_topk", "item_similarity", "rrf_fuse"]


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Rank documents against a bag-of-terms query with BM25.

    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))   (always positive)
    score  = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Returns (id, score, n_hits) for the top ``k`` documents ordered by
    (rounded score desc, id) — ``score`` rounded to 6 dp, ``n_hits`` the
    number of distinct query terms present.
    """
    terms = [t.lower() for t in query_terms]
    toked = docs.select(
        F.col(id_col).alias("_id"), tokens(text_col).alias("_toks")
    )
    stats = toked.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.sum(F.size("_toks")).alias("_sum_dl"),
    )
    # single pass: carry the doc length alongside each posting so no
    # corpus-wide join is ever needed (the shuffle holds only rows whose
    # term matches the query)
    postings = (
        toked.select(
            "_id",
            F.size("_toks").alias("_dl"),
            F.explode("_toks").alias("_term"),
        )
        .filter(F.col("_term").isin(*terms))
        .groupBy("_id", "_term")
        .agg(F.count(F.lit(1)).alias("_tf"), F.min("_dl").alias("_dl"))
    )
    # postings feeds BOTH the score join and the document-frequency
    # agg; without materialization Spark evaluates the corpus scan +
    # explode twice. The filtered postings set is small (query terms
    # only), so an eager cut halves the corpus passes.
    postings = materialize(postings)
    df_per_term = postings.groupBy("_term").agg(
        F.count(F.lit(1)).alias("_df")
    )
    scored = (
        postings.join(F.broadcast(df_per_term), "_term")
        .join(F.broadcast(stats))
        .withColumn("_avgdl", F.col("_sum_dl") / F.col("_n_docs"))
        .withColumn(
            "_idf",
            F.log(
                1.0
                + (F.col("_n_docs") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
            ),
        )
        .withColumn(
            "_s",
            F.col("_idf")
            * (F.col("_tf") * (k1 + 1))
            / (
                F.col("_tf")
                + k1 * (1 - b + b * F.col("_dl") / F.col("_avgdl"))
            ),
        )
        .groupBy("_id")
        .agg(
            F.round(F.sum("_s"), 6).alias("score"),
            F.count(F.lit(1)).alias("n_hits"),
        )
    )
    return (
        scored.orderBy(F.desc("score"), "_id")
        .limit(k)
        .select(F.col("_id").alias(id_col), "score", "n_hits")
    )


def item_similarity(
    interactions: DataFrame,
    user_col: str,
    item_col: str,
    k: int = 10,
    max_user_degree: int | None = None,
    dp: int = 6,
) -> DataFrame:
    """Item-item collaborative-filtering similarity: cosine over binary
    co-occurrence sets, ``sim(i, j) = |U_i ∩ U_j| / sqrt(|U_i| |U_j|)``,
    top-``k`` neighbors per item. The classic i2i recommender built
    relationally.

    Scale shape: distinct (user, item) pairs self-join on the USER key —
    pair fan-out per user is degree^2, so ``max_user_degree`` drops
    power users above the cap BEFORE the join (the standard i2i guard:
    a user who bought everything contributes no signal, only quadratic
    work — same reasoning as the LSH bucket caps). Then one partial-agg
    groupBy((i, j)) count, two tiny degree joins, and a per-item top-k
    window. Co-counts shuffle (i, j) keys only, never user payloads.

    Returns (item, neighbor, n_common, sim, rnk).
    """
    ui = interactions.select(
        F.col(user_col).alias("_u"), F.col(item_col).alias("_i")
    ).distinct()
    if max_user_degree is not None:
        ok = (
            ui.groupBy("_u")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") <= max_user_degree)
            .select("_u")
        )
        ui = ui.join(ok, "_u")
    deg = ui.groupBy("_i").agg(F.count(F.lit(1)).alias("_n"))
    a = ui.alias("a")
    b = ui.alias("b")
    co = (
        a.join(
            b,
            (F.col("a._u") == F.col("b._u"))
            & (F.col("a._i") < F.col("b._i")),
        )
        .groupBy(F.col("a._i").alias("_ia"), F.col("b._i").alias("_ib"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    da = deg.select(F.col("_i").alias("_ia"), F.col("_n").alias("_na"))
    db = deg.select(F.col("_i").alias("_ib"), F.col("_n").alias("_nb"))
    sim = (
        co.join(da, "_ia")
        .join(db, "_ib")
        .withColumn(
            "sim",
            F.round(
                F.col("n_common")
                / F.sqrt(F.col("_na").cast("double") * F.col("_nb")),
                dp,
            ),
        )
    )
    # symmetric neighbor lists: each pair serves both directions
    both = sim.select(
        F.col("_ia").alias("item"), F.col("_ib").alias("neighbor"),
        "n_common", "sim",
    ).unionAll(
        sim.select(
            F.col("_ib").alias("item"), F.col("_ia").alias("neighbor"),
            "n_common", "sim",
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("sim").desc(), F.col("neighbor")
    )
    return (
        both.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def rrf_fuse(
    list_a: DataFrame,
    list_b: DataFrame,
    id_col: str,
    score_a: str = "score",
    score_b: str = "score",
    k: int = 20,
    c: int = 60,
    dp: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings (Cormack et al.
    '09) — the standard hybrid-search combiner for a lexical (BM25) and
    a dense (embedding-cosine) ranker:

        rrf(d) = sum over rankers of 1 / (c + rank_r(d))

    over each ranker's top ``k``, with the conventional ``c = 60``.
    Ranks are (score desc, id) — fully deterministic under ties.

    Scale shape: each input reduces to its global top-k FIRST
    (TakeOrderedAndProject — no full sort), and ranks come from
    collapsing those k rows into ONE sorted array + posexplode — a
    bounded readout with no unpartitioned window, so the global-window
    plan gate stays clean. The fusion itself is a k-vs-k full join; the
    RRF sum is two terms in fixed order (engine-identical doubles).

    Returns (id, rank_a, rank_b, rrf_score); a NULL rank means the
    document appeared in only one ranker's top-k.
    """

    def ranked(df: DataFrame, score_col: str, rank_name: str) -> DataFrame:
        top = df.orderBy(F.col(score_col).desc(), F.col(id_col)).limit(k)
        arr = top.agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col(score_col)).alias("_neg"),
                        F.col(id_col).alias("_id"),
                    )
                )
            ).alias("_l")
        )
        return arr.select(
            F.posexplode("_l").alias("_pos", "_s")
        ).select(
            F.col("_s._id").alias(id_col),
            (F.col("_pos") + 1).cast("long").alias(rank_name),
        )

    a = ranked(list_a, score_a, "rank_a")
    b = ranked(list_b, score_b, "rank_b")
    one = F.lit(1.0)
    cd = F.lit(float(c))
    rrf = F.coalesce(
        one / (cd + F.col("rank_a").cast("double")), F.lit(0.0)
    ) + F.coalesce(one / (cd + F.col("rank_b").cast("double")), F.lit(0.0))
    return a.join(b, id_col, "full").select(
        id_col, "rank_a", "rank_b", F.round(rrf, dp).alias("rrf_score")
    )
