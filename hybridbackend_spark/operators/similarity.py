"""Similarity search over embedding columns: brute-force cosine top-k
(exact baseline) and LSH / IVF / PQ approximate variants (scale path).

Expression-only dot products (``zip_with`` + ``aggregate`` — JVM, codegen)
so the kernels run without Python. At 100 TB the exact path is only for
a broadcast-able query set (queries x corpus partition-local score +
per-query top-k via window); the LSH/IVF paths bound the candidate set
per query by bucket.

The kernels every top-k here (and the vector near-dup operators in
:mod:`.dedup`) share live once, as private helpers:

- :func:`_cos` / :func:`_cos6`: the NaN- and zero-guarded cosine over
  precomputed norms, and its 6-dp rounded score;
- :func:`_topk_per_query`: the ``exclude_self`` filter, ``row_number``
  window over the query id and ``rnk <= k`` projection;
- :func:`_ivf_probe`: the ``n_probe`` nearest-centroid probe list;
- :func:`_as_double_vec`: the ``array<double>`` cast prologue.

Driver-side constant matrices — LSH hyperplanes, IVF/k-means centroids,
PQ codebooks, k-center centers, and the PCA and JL projections of
:mod:`.decomp` and :mod:`.text` — enter a plan through one kernel:

- :func:`_consts` renders the nested list as ONE parsed SQL array
  literal (doubles as ``CAST('<repr>' AS DOUBLE)``, which round-trips
  them exactly; integers as BIGINT). Built per coefficient with
  ``F.lit``, a k x d matrix costs k*d py4j round trips of driver time:
  12-20 s of DataFrame construction per ``cosine_topk_lsh`` call at 6
  tables x 6 bits x dim 64, against ~0.1 s for one parse;
- each row folds over that literal with higher-order functions:
  :func:`_sqdist` is the one squared-L2 fold and :func:`_nearest` the
  one ``(d, i)`` struct array an argmin takes ``array_min`` of (ties to
  the lower row) and a probe list sorts. A broadcast
  ``array<array<double>>`` column (:func:`_sub_argmin`) folds the same
  way, so a name and a Column input take the same single path;
- :func:`_fit` is the one width guard: a non-NULL vector whose length
  is not the matrix width raises on the executor, naming the operator
  (zipped against the rows it would pad with NULLs and give a silently
  wrong answer); a NULL vector passes to the fold unchanged.
"""

from __future__ import annotations

import numbers

from pyspark.sql import Column, DataFrame, Window, functions as F

from .._fixed import MICRO, grid
from .._materialize import materialize

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "random_hyperplane_key",
    "cosine_topk",
    "cosine_topk_lsh",
    "cosine_topk_ann",
    "ANN_AUTO_IVF_MIN_DIM",
    "ivf_assign",
    "ivf_assign_tree",
    "kmeans_train",
    "kmeans_train_tree",
    "quantize_int8",
    "cosine_topk_ivf",
    "pq_random_codebooks",
    "pq_train",
    "pq_encode",
    "pq_decode",
    "pq_topk",
    "kcenter_select",
]


def dot(a: Column, b: Column) -> Column:
    """Element-wise dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm OR any
    non-finite component. The zero guard matters under Spark 4.1 ANSI
    mode (even double division by zero aborts the job); the NaN guard
    matters because Spark orders NaN ABOVE every value, so an unguarded
    NaN cosine would PASS every >= threshold filter and rank first —
    one corrupt embedding must not merge with everything it touches.
    NULL instead drops at filters and sorts last under desc ordering,
    matching DuckDB's NaN-compares-false. One zero/NaN embedding in
    100 TB must not kill (or silently destroy) the run."""
    return _cos(a, b, l2_norm(a), l2_norm(b))


def _cos(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """:func:`cosine` over the vectors' precomputed norms ``na``, ``nb``
    (a norm computed once per vector is the identical double to the
    inline form, so scores are unchanged while a pair join stops
    recomputing it per pair)."""
    den = na * nb
    return F.when(den != 0, F.nanvl(dot(a, b) / den, F.lit(None).cast("double")))


def _cos6(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """The score every cosine top-k and near-dup verify emits:
    :func:`_cos` rounded to 6 dp."""
    return F.round(_cos(a, b, na, nb), 6)


def _as_double_vec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _consts(values: list) -> Column:
    """The nested list ``values`` as one parsed array literal: floats as
    ``CAST('<repr>' AS DOUBLE)``, integers as BIGINT."""

    def sql(x) -> str:
        if isinstance(x, (list, tuple)):
            return f"array({', '.join(map(sql, x))})"
        if isinstance(x, numbers.Integral):
            return f"CAST({int(x)} AS BIGINT)"
        return f"CAST('{float(x)!r}' AS DOUBLE)"

    return F.expr(sql(values))


def _sqdist(v: Column, c: Column) -> Column:
    """Squared L2 between two array<double> columns, a left fold from
    0.0 — the same reduction tree as the oracles'
    ``list_sum(list_transform(list_zip(...)))``, so distances are
    bit-equal across engines."""
    return F.aggregate(
        F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _nearest(v: Column, rows: Column) -> Column:
    """One ``(d, i)`` struct per row of the matrix ``rows``: its squared
    distance to ``v`` and its 0-based index. ``array_min`` of it is the
    argmin, ties to the lower index; ``array_sort`` ranks nearest
    first."""
    return F.transform(
        rows, lambda c, i: F.struct(_sqdist(v, c).alias("d"), i.alias("i"))
    )


def _fit(v: Column, width: int, op: str, out: Column) -> Column:
    """``out`` when the vector ``v`` is NULL or ``width`` long; any other
    length raises on the executor, naming ``op``."""
    return F.when(v.isNull() | (F.size(v) == width), out).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{op}: expected dim={width}, got "),
                F.size(v).cast("string"),
            )
        )
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (driver-side constants,
    folded into the plan as literals)."""
    import math
    import random

    rng = random.Random(seed)
    planes = []
    for _ in range(bits):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def random_hyperplane_key(
    vec: Column | str, bits: int, seed: int = 7, dim: int = 64
) -> Column:
    """Sign-random-projection LSH bucket key: bit i = sign(v . plane_i).
    Cosine-similar vectors collide with probability 1 - theta/pi per bit.

    ``dim`` must equal the vectors' length: raises at runtime on mismatch
    (a shorter/longer vector would zip to null dots and silently send
    everything to bucket 0, degenerating the scale path to all-pairs).
    A NULL vector gets a NULL key: the row can't hash anywhere, and
    downstream equi-joins drop it, SQL-style.
    """
    v = _as_double_vec(vec)
    # Horner over the planes, last first: plane i's bit lands at 1 << i
    planes = _consts(_hyperplanes(dim, bits, seed)[::-1])
    key = F.aggregate(
        planes,
        F.lit(0).cast("long"),
        lambda acc, p: acc * 2 + F.when(dot(v, p) >= 0, 1).otherwise(0),
    )
    return _fit(v, dim, "random_hyperplane_key", F.when(v.isNotNull(), key))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the query set against the
    corpus, score per (query, corpus) pair, per-query top-k via ranking
    window. Scales with |corpus| x |queries| — keep the query side small
    (it is broadcast); the corpus is never shuffled, and the window
    partitions by query id (shuffle = scored pairs, bounded by
    |queries| x |corpus| rows of 3 columns, prune with LSH/IVF beyond)."""
    # norms precomputed once per vector (bit-identical to the inline
    # form, which would recompute the corpus norm once per query)
    q = queries.select(
        F.col(query_id).alias("_qid"), _as_double_vec(query_vec).alias("_qv")
    ).withColumn("_qn", l2_norm(F.col("_qv")))
    c = corpus.select(
        F.col(corpus_id).alias("_cid"), _as_double_vec(corpus_vec).alias("_cv")
    ).withColumn("_cn", l2_norm(F.col("_cv")))
    scored = c.crossJoin(F.broadcast(q)).select(
        "_qid",
        "_cid",
        _cos6(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn"))
        .alias("cos"),
    )
    return _topk_per_query(scored, query_id, k, exclude_self)


def _topk_per_query(
    scored: DataFrame,
    query_id: str,
    k: int,
    exclude_self: bool,
    score: str = "cos",
    ascending: bool = False,
) -> DataFrame:
    """Per-query top-k over ``(_qid, _cid, <score>)`` rows: drop self
    matches when ``exclude_self``, rank each query's rows by ``score``
    (descending, or ascending for a distance), ties to the smaller
    ``_cid``, and keep ranks ``<= k``. Returns ``(query_id,
    neighbor_id, <score>, rnk)``."""
    if exclude_self:
        scored = scored.filter(F.col("_qid") != F.col("_cid"))
    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = Window.partitionBy("_qid").orderBy(order, F.col("_cid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias("neighbor_id"),
            score,
            "rnk",
        )
    )


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 10,
    bits: int = 8,
    n_tables: int = 4,
    seed: int = 7,
    dim: int = 64,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k: ``n_tables`` independent sign-LSH tables;
    candidates = corpus rows sharing a bucket with the query in ANY table;
    exact cosine + top-k over candidates only. Recall grows with tables,
    cost ~ corpus x tables exploded keys, candidate join per bucket.

    High-dim guidance (measured, BENCH_SCALE ``ann_hd``, 20k x 768-d
    clustered vectors, near-neighbor ground truth): the dim-64 defaults
    (bits=6, n_tables=6) read recall@5 = 0.75 at 768d, and widening to
    bits=10/n_tables=12 buys only 0.80 at ~3x the cost — sign-LSH's
    per-bit collision probability (1 - theta/pi) degrades for the
    moderate-angle near-neighbors that dominate at high dim. Prefer
    :func:`cosine_topk_ivf` there: recall@5 = 1.0 at a third of the
    LSH wall on the same fixture — or call :func:`cosine_topk_ann`
    (``strategy="auto"``), which routes on the vector width so the
    defaults do the right thing unprompted."""
    q = queries.select(
        F.col(query_id).alias("_qid"), _as_double_vec(query_vec).alias("_qv")
    )
    c = corpus.select(
        F.col(corpus_id).alias("_cid"), _as_double_vec(corpus_vec).alias("_cv")
    )

    def keyed(df, vec, out):
        return df.select(
            "*",
            F.posexplode(
                F.array(
                    *[
                        random_hyperplane_key(vec, bits, seed + t, dim)
                        for t in range(n_tables)
                    ]
                )
            ).alias("_tbl", out),
        )

    qk = keyed(q, "_qv", "_qbkt").withColumnRenamed("_tbl", "_qtbl")
    ck = keyed(c, "_cv", "_cbkt")
    # Score BEFORE deduplicating candidates: cosine is deterministic per
    # (qid, cid), so distinct over (ids, cos) removes the same
    # multi-table duplicates as distinct over the raw candidate rows —
    # but the dedup exchange now carries two ids + one double instead of
    # both full vectors (~100x smaller shuffle payload at dim=64). The
    # redundant per-duplicate cosine evals (<= n_tables per pair) are
    # cheap JVM-side map work and never leave the stage.
    cands = ck.join(
        F.broadcast(qk),
        (F.col("_tbl") == F.col("_qtbl")) & (F.col("_cbkt") == F.col("_qbkt")),
    )
    scored = cands.select(
        "_qid", "_cid", F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("cos")
    ).distinct()
    return _topk_per_query(scored, query_id, k, exclude_self)


def _ivf_probe(v: Column, centroids: list[list[float]], n_probe: int) -> Column:
    """Ids of the ``n_probe`` centroids nearest to the array<double>
    vector ``v``, nearest first (the :func:`ivf_assign` argmin structs,
    sorted and sliced)."""
    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    ranked = F.array_sort(_nearest(v, _consts(centroids)))
    probes = F.transform(F.slice(ranked, 1, n_probe), lambda s: s["i"])
    return _fit(v, len(centroids[0]), "ivf_probe", probes)


def ivf_assign(
    df: DataFrame,
    vec_col: Column | str,
    centroids: list[list[float]],
    out_col: str = "ivf_cell",
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse quantizer).
    ``centroids`` are driver-side constants (train offline / sample);
    assignment is a per-row argmin over one literal matrix — no shuffle.

    A column name and a Column take the same path, the
    :func:`_nearest` fold over the :func:`_consts` literal:
    ``tests/test_dedup_similarity.py::test_ivf_pq_sql_parity`` pins the
    two inputs to identical cells. A non-NULL vector of another width
    than the centroids raises; a NULL vector lands in cell 0."""
    v = _as_double_vec(vec_col)
    best = F.array_min(_nearest(v, _consts(centroids)))["i"]
    return df.withColumn(out_col, _fit(v, len(centroids[0]), "ivf_assign", best))


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF approximate top-k: corpus pre-partitioned by nearest centroid;
    each query probes its ``n_probe`` nearest cells only. Equi-join on the
    cell id replaces the cross join — cost ~ corpus/|cells| x n_probe per
    query.

    High-dim guidance (measured, BENCH_SCALE ``ann_hd``, 20k x 768-d
    clustered vectors): k=8 centroids + n_probe=2 — the dim-64
    registered parameters — hold recall@5 = 1.0 at 768d at a third of
    sign-LSH's wall (12.6s vs 34.3s; LSH reads 0.75 there), because the
    trained quantizer adapts to the data's cluster structure where
    LSH's random hyperplanes cannot. The scale knobs stay the usual
    IVF trade: more centroids shrink cells (less verify work), more
    probes buy recall on boundary queries."""
    v = _as_double_vec(query_vec)
    c_assigned = ivf_assign(
        corpus.select(F.col(corpus_id).alias("_cid"), _as_double_vec(corpus_vec).alias("_cv")),
        "_cv",
        centroids,
        "_cell",
    )
    q_probed = queries.select(
        F.col(query_id).alias("_qid"),
        v.alias("_qv"),
        F.explode(_ivf_probe(v, centroids, n_probe)).alias("_cell"),
    )
    scored = c_assigned.join(F.broadcast(q_probed), "_cell").select(
        "_qid", "_cid", F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("cos")
    )
    return _topk_per_query(scored, query_id, k, exclude_self)


# strategy="auto" routes cosine top-k to IVF at or above this vector
# width. Measured recall@5 of the dim-64 registered LSH parameters
# (bits=6, n_tables=6) vs IVF k8p2 on 20k-row clustered fixtures with
# near-neighbor ground truth (BENCH_SCALE ``ann_hd`` + the round-12
# ``ann_dim_sweep`` at the cutoff boundary):
#
#   dim   LSH recall (sec)   IVF recall (sec, excl. train)
#   128   0.85 (14.5)        1.0 (5.5)
#   256   0.70 (14.7)        1.0 (6.3)
#   768   0.75 (48.1)        1.0 (16.2)   (widened LSH b10t12: 0.80 @ 3x)
#
# sign-LSH's per-bit collision probability (1 - theta/pi) degrades for
# the moderate-angle near-neighbors that dominate as dim grows, where a
# trained coarse quantizer adapts to the data's cluster structure — IVF
# dominates on BOTH recall and cost from 128 dims up, so the cutoff
# sits at 128 (initially set to 256 on the 768d reading alone; the
# boundary sweep moved it). Below the cutoff the LSH arm keeps its
# value-oracled dim-64 behavior (no training round trips, fully
# expression-side). Same defaults-should-self-select principle as
# ``dedup._resolve_int8_filter``; the reference analog is the lookup
# rewrite picking the physical strategy for the user (hybridbackend
# graph/optimize_lookup.cc:29-40).
ANN_AUTO_IVF_MIN_DIM = 128


def _resolve_ann_strategy(strategy: str, dim: int) -> str:
    """Resolve the ``strategy`` knob of :func:`cosine_topk_ann`:
    ``"lsh"`` / ``"ivf"`` pass through; ``"auto"`` picks IVF at or above
    ``ANN_AUTO_IVF_MIN_DIM`` vector dims and LSH below (rationale and
    measurements at the constant's definition)."""
    if strategy == "auto":
        return "ivf" if dim >= ANN_AUTO_IVF_MIN_DIM else "lsh"
    if strategy in ("lsh", "ivf"):
        return strategy
    raise ValueError(
        f"strategy must be 'lsh', 'ivf', or 'auto', got {strategy!r}"
    )


def cosine_topk_ann(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 10,
    dim: int = 64,
    strategy: str = "auto",
    bits: int = 6,
    n_tables: int = 6,
    seed: int = 7,
    centroids: list[list[float]] | None = None,
    ivf_k: int = 8,
    n_probe: int = 2,
    kmeans_iters: int = 2,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k with a self-selecting physical strategy.

    ``strategy="auto"`` (default) routes on the vector width the caller
    already knows: sign-LSH below ``ANN_AUTO_IVF_MIN_DIM`` dims (the
    regime where its dim-64 parameters are value-oracled and recall is
    high), IVF at or above it (where the same LSH parameters measured
    recall@5 = 0.75 while IVF read 1.0 at a third of the cost — see the
    constant's comment). Explicit ``"lsh"`` / ``"ivf"`` override the
    router; both arms return the identical output contract
    ``(query_id, neighbor_id, cos, rnk)`` as :func:`cosine_topk_lsh` /
    :func:`cosine_topk_ivf`, which the router delegates to verbatim.

    The IVF arm trains its coarse quantizer with :func:`kmeans_train`
    (``ivf_k`` centroids, ``kmeans_iters`` Lloyd iterations, seeded by
    the ``corpus_id`` order — deterministic) unless ``centroids`` are
    passed; training is two bounded Spark round trips per iteration and
    the centroid literal is k x dim driver-side floats.
    """
    resolved = _resolve_ann_strategy(strategy, dim)
    if resolved == "lsh":
        return cosine_topk_lsh(
            queries, corpus, query_id, corpus_id, query_vec, corpus_vec,
            k=k, bits=bits, n_tables=n_tables, seed=seed, dim=dim,
            exclude_self=exclude_self,
        )
    if centroids is None:
        centroids = kmeans_train(
            corpus, corpus_vec, k=ivf_k, iters=kmeans_iters, id_col=corpus_id
        )
    return cosine_topk_ivf(
        queries, corpus, query_id, corpus_id, query_vec, corpus_vec,
        centroids=centroids, k=k, n_probe=n_probe,
        exclude_self=exclude_self,
    )


def kmeans_train(
    df: DataFrame,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    init: list[list[float]] | None = None,
    id_col: str | None = None,
) -> list[list[float]]:
    """Distributed Lloyd k-means over an embedding column — trains the
    IVF coarse quantizer (:func:`ivf_assign` / :func:`cosine_topk_ivf`
    consume the result) instead of requiring offline centroids.

    Each iteration is one Spark round trip, all heavy work distributed:
    assignment is :func:`ivf_assign`'s per-row argmin over one centroid
    literal (zero shuffle),
    the update is posexplode -> groupBy(cell, dim) partial+final sums ->
    a driver collect bounded by k x dim rows (centroids must fit on the
    driver by definition). Empty cells keep their previous centroid.

    Determinism: init is either explicit or the k smallest-``id_col``
    rows; argmin tie-breaks on the lower cell id; per-element means sum
    exact integers on the micro grid (:mod:`hybridbackend_spark._fixed`),
    so the trained centroids are bit-reproducible across partitionings —
    and across engines (the DuckDB oracle unrolls the same iterations).
    """
    # NULL-vector rows can neither seed nor move a centroid — exclude
    # them up front (a NULL seed would crash list(None) on the driver)
    df = df.filter(F.col(vec_col).isNotNull())
    if init is None:
        if id_col is None:
            raise ValueError("pass init centroids or id_col for seeding")
        seed_rows = (
            df.select(F.col(id_col), _as_double_vec(vec_col).alias("_v"))
            .orderBy(id_col)
            .limit(k)
            .collect()
        )
        centroids = [list(r["_v"]) for r in seed_rows]
    else:
        centroids = [list(map(float, c)) for c in init]
    if len(centroids) != k:
        raise ValueError(f"need {k} init centroids, got {len(centroids)}")

    vecs = df.select(_as_double_vec(vec_col).alias("_v"))
    for _ in range(iters):
        assigned = ivf_assign(vecs, "_v", centroids, "_cell")
        sums = (
            assigned.select(
                "_cell", F.posexplode("_v").alias("_pos", "_x")
            )
            .groupBy("_cell", "_pos")
            .agg(
                F.sum(grid("_x", MICRO)).alias("_s"),
                F.count(F.lit(1)).alias("_n"),
            )
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in sums:
            by_cell.setdefault(r["_cell"], {})[r["_pos"]] = r["_s"] / (
                float(MICRO) * r["_n"]
            )
        centroids = [
            [by_cell[c][p] for p in sorted(by_cell[c])]
            if c in by_cell
            else centroids[c]  # empty cell: carry previous centroid
            for c in range(k)
        ]
    return centroids


def _sub_argmin(
    assigned: DataFrame,
    vec_col: str,
    sub: dict[int, list[list[float]]],
    out_col: str = "_j",
) -> DataFrame:
    """Argmin over each row's coarse cell's sub-centroids, shipped as ONE
    broadcast row per coarse cell holding an array<array<double>> — the
    argmin is the :func:`_nearest` fold per row, so the whole stage is
    join-free-shuffle (broadcast) and produces zero extra rows. Rows in a
    coarse cell with no sub-centroids get ``out_col = 0``."""
    rows = [
        (int(c1), [[float(x) for x in cv] for cv in cvs])
        for c1, cvs in sub.items()
    ]
    scdf = assigned.sparkSession.createDataFrame(
        rows, "_c1 int, _subs array<array<double>>"
    )
    best = F.array_min(_nearest(_as_double_vec(vec_col), F.col("_subs")))
    return (
        assigned.join(F.broadcast(scdf), "_c1", "left")
        .withColumn(out_col, F.coalesce(best["i"], F.lit(0)))
        .drop("_subs")
    )


def ivf_assign_tree(
    df: DataFrame,
    vec_col: str,
    coarse: list[list[float]],
    sub: dict[int, list[list[float]]],
    out_col: str = "ivf_cell",
) -> DataFrame:
    """Two-level IVF assignment for LARGE K — the K∝n growth path.

    Flat :func:`ivf_assign` folds every row over all K centroids of its
    plan literal: O(n*K*d) work (QUADRATIC once K scales with n) and a
    K x d literal that stops being practical long before K=800. This
    routes each vector through a k1-way argmin to a coarse cell, then
    the same argmin fold over that cell's k2 sub-centroids shipped as a
    broadcast array<array<double>> column — O(n*(k1+k2)*d) with k1 ~ k2
    ~ sqrt(K), zero shuffle.
    The standard IVF answer to "more data needs more cells" (SemDeDup /
    FAISS coarse-quantizer practice, arXiv:2303.09540).

    The final cell id is ``coarse_cell * max_k2 + sub_index`` — stable
    and replayable given the same (coarse, sub) constants.
    """
    max_k2 = max((len(v) for v in sub.values()), default=1) or 1
    a = ivf_assign(df, vec_col, coarse, "_c1")
    a = _sub_argmin(a, vec_col, sub, "_j")
    return a.withColumn(
        out_col, (F.col("_c1") * max_k2 + F.col("_j")).cast("int")
    ).drop("_c1", "_j")


def kmeans_train_tree(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k1: int,
    k2: int,
    iters: int = 2,
    train_frac: float | None = None,
) -> tuple[list[list[float]], dict[int, list[list[float]]]]:
    """Hierarchical two-level Lloyd k-means: K = k1*k2 total cells at
    O(n*(k1+k2)*d) per iteration — the trainer behind
    :func:`ivf_assign_tree` when K must scale with n (flat
    :func:`kmeans_train` re-assigns against all K literal centroids per
    iteration, quadratic under K∝n).

    Level 1 trains ``k1`` coarse centroids with :func:`kmeans_train`;
    level 2 trains EVERY coarse cell's ``k2`` sub-centroids
    simultaneously: one broadcast-array argmin assigns (no shuffle), one
    (cell, sub, dim) partial-agg sums the update, and the driver collect
    is bounded by k1*k2*d rows (the centroids must fit on the driver by
    definition). Same determinism contract as :func:`kmeans_train`:
    id-seeded init (k2 smallest ids per coarse cell), argmin ties to the
    lower index, exact integer-grid means — bit-reproducible across
    partitionings. Cells with fewer than k2 rows train fewer
    sub-centroids; empty updates carry the previous value.

    Returns ``(coarse, sub)`` ready for :func:`ivf_assign_tree`.

    ``train_frac`` (round-10): train on a DETERMINISTIC hash-sample of
    the rows (``xxhash64(id) pmod 10^6 < frac * 10^6`` — partition- and
    order-independent, so still bit-reproducible) instead of the full
    table. Standard coarse-quantizer practice — FAISS subsamples
    training to a multiple of K by default (arXiv:2401.08281 §3.1) —
    because Lloyd iterations only need enough points per cell to place
    the centroids, while the full-data ASSIGNMENT pass downstream is
    unchanged. Cuts the per-iteration O(n*(k1+k2)*d) train cost by the
    sampling factor; centroids differ from full-data training, so leave
    it ``None`` where bit-parity with the full-data trainer matters.

    Measured fidelity/cost frontier (BENCH_SCALE ``kPropN_tree_mb*``
    arms, survivors metric of the downstream semantic dedup vs the
    full-data trainer's). The cost is DIM-DEPENDENT — at high dim the
    subsample moves centroids enough to change survivor counts, so pick
    the fraction off the measured curve, not the low-dim habit:

    - dim 64, 200k rows (r10): frac 0.25 -> train 2.3x cheaper,
      survivors +0.12% — effectively free.
    - dim 768, 200k rows (r11, same-run arms): full train 223s / 842
      survivors; frac 0.25 -> 140s, 791 (**-6.1%**); frac 0.5 -> 151s,
      815 (-3.2%); frac 0.75 -> 191s, 834 (-0.95%).

    Guidance: below ~256 dims any fraction >= 0.25 is safe; at 768+
    dims frac 0.75 keeps survivors within ~1% for ~15% less training,
    frac 0.5 is the balanced point, and frac 0.25 is a real -6%
    fidelity trade that should be a deliberate choice.
    """
    if k1 < 1 or k2 < 1:
        raise ValueError("k1 and k2 must be >= 1")
    if train_frac is not None:
        if not 0.0 < train_frac <= 1.0:
            raise ValueError("train_frac must be in (0, 1]")
        df = df.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000))
            < int(train_frac * 1_000_000)
        )
    coarse = kmeans_train(df, vec_col, k=k1, iters=iters, id_col=id_col)
    a = materialize(ivf_assign(
        df.select(
            F.col(id_col).alias("_id"), _as_double_vec(vec_col).alias("_v")
        ),
        "_v",
        coarse,
        "_c1",
    ))  # coarse routing reused every iteration
    w = Window.partitionBy("_c1").orderBy("_id")
    seeds = (
        a.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k2)
        .select("_c1", (F.col("_rn") - 1).alias("_j"), "_v")
        .collect()
    )  # bounded: <= k1*k2 rows
    by_cell: dict[int, dict[int, list[float]]] = {}
    for r in seeds:
        by_cell.setdefault(r["_c1"], {})[r["_j"]] = list(r["_v"])
    sub = {c1: [m[j] for j in sorted(m)] for c1, m in by_cell.items()}
    for _ in range(iters):
        assigned = _sub_argmin(a, "_v", sub, "_j")
        upd = (
            assigned.select(
                "_c1", "_j", F.posexplode("_v").alias("_p", "_x")
            )
            .groupBy("_c1", "_j", "_p")
            .agg(
                F.sum(grid("_x", MICRO)).alias("_s"),
                F.count(F.lit(1)).alias("_n"),
            )
            .collect()
        )  # bounded: <= k1*k2*d rows
        means: dict[tuple[int, int], dict[int, float]] = {}
        for r in upd:
            means.setdefault((r["_c1"], r["_j"]), {})[r["_p"]] = r["_s"] / (
                float(MICRO) * r["_n"]
            )
        for (c1, j), dims in means.items():
            sub[c1][j] = [dims[p] for p in sorted(dims)]
    return coarse, sub


def quantize_int8(
    df: DataFrame, vec_col: str, out_q: str = "q", out_scale: str = "scale"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max(|x|)``,
    ``q_i = round(x_i / scale * 127)`` — the standard 4x compression for
    embedding storage/ANN at scale, as pure array expressions (zero
    shuffle, zero Python). Zero vectors quantize to all-zero with scale 0.
    Dequantization is ``q_i * scale / 127``; the roundtrip error is
    bounded by ``scale / 254`` per element. A vector containing NaN
    (scale NaN) quantizes to all-zero like the zero vector — under
    Spark 4.1 ANSI an unguarded ``round(NaN).cast('int')`` would abort
    the whole job, and NaN==0 is false so the zero-vector branch alone
    does not cover it.
    """
    v = _as_double_vec(vec_col)
    s = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.when(
        (s > 0) & ~F.isnan(s),
        F.transform(v, lambda x: F.round(x / s * 127).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.withColumn(out_scale, s).withColumn(out_q, q)


# ---------------------------------------------------------------------------
# Product quantization (PQ): m subspace codebooks, codes of m small ints per
# vector, asymmetric-distance (ADC) top-k. The memory story at 100 TB:
# a 64-dim float corpus (256 B/vector) compresses to m=4 bytes + the
# codebooks (k_sub x dim floats, broadcast literals) — the corpus side of
# an ANN probe shrinks ~64x, and the per-pair score is m table lookups
# instead of a dim-length dot product. Reference anchor: the reference
# shards/quantizes embedding tables for exactly this reason
# (tensorflow/embedding/sharding.py) — the full-precision table never
# moves to the probe.
# ---------------------------------------------------------------------------


def pq_random_codebooks(
    dim: int, m: int, ksub: int, seed: int = 7, sigma: float = 0.15
) -> list[list[list[float]]]:
    """Deterministic seeded codebooks (no training): codebooks[j][c] is a
    (dim/m)-length centroid for subspace j. Useful as a fixed quantizer
    and for engine-differential tests; for data-adapted codebooks use
    :func:`pq_train`."""
    import random

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    rng = random.Random(seed)
    dsub = dim // m
    return [
        [[rng.gauss(0.0, sigma) for _ in range(dsub)] for _ in range(ksub)]
        for _ in range(m)
    ]


def pq_train(
    df: DataFrame,
    vec_col: str,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    id_col: str | None = None,
    dim: int = 64,
) -> list[list[list[float]]]:
    """Train PQ codebooks: slice each vector into ``m`` contiguous
    subvectors and run the distributed Lloyd trainer
    (:func:`kmeans_train`) independently per subspace. m x iters bounded
    Spark rounds; all heavy work stays distributed, the driver only ever
    holds k_sub x dim floats."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    books = []
    for j in range(m):
        sub = df.select(
            *([F.col(id_col)] if id_col else []),
            F.slice(_as_double_vec(vec_col), j * dsub + 1, dsub).alias("_sub"),
        )
        books.append(
            kmeans_train(sub, "_sub", k=ksub, iters=iters, id_col=id_col)
        )
    return books


def pq_encode(
    df: DataFrame,
    vec_col: Column | str,
    codebooks: list[list[list[float]]],
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode vectors to PQ codes: per subspace, argmin over the codebook
    (ties break to the lowest code). Pure projection — zero shuffle, zero
    Python; the codebooks fold into the plan as one literal. A non-NULL
    vector must be ``m * dsub`` long."""
    dsub = len(codebooks[0][0])
    v = _as_double_vec(vec_col)
    codes = F.transform(
        _consts(codebooks),
        lambda book, j: F.array_min(
            _nearest(F.slice(v, j * dsub + 1, dsub), book)
        )["i"],
    )
    return df.withColumn(
        out_col, _fit(v, len(codebooks) * dsub, "pq_encode", codes)
    )


def pq_decode(code_col: Column | str, codebooks: list[list[list[float]]]) -> Column:
    """Reconstruct the quantized vector (concatenation of the selected
    codebook centroids) — the dequantizer, used by tests to bound
    reconstruction error."""
    c = F.col(code_col) if isinstance(code_col, str) else code_col
    return F.flatten(
        F.zip_with(c, _consts(codebooks), lambda cd, bk: F.element_at(bk, cd + 1))
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: Column | str,
    codebooks: list[list[list[float]]],
    code_col: str = "pq_code",
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Asymmetric-distance PQ top-k: each query precomputes a LUT of
    squared distances to every codebook centroid (m x k_sub doubles, once
    per query); each (query, corpus) pair then costs m array lookups —
    never touching full-precision corpus vectors. The query side
    (with LUTs) is broadcast; the corpus side carries only (id, code).
    Returns (query_id, neighbor_id, adist, rnk), adist rounded to 6dp.
    """
    dsub = len(codebooks[0][0])
    qv = _as_double_vec(query_vec)
    lut = F.transform(
        _consts(codebooks),
        lambda book, j: F.transform(
            book, lambda c: _sqdist(F.slice(qv, j * dsub + 1, dsub), c)
        ),
    )
    lut = _fit(qv, len(codebooks) * dsub, "pq_topk", lut)
    q = queries.select(F.col(query_id).alias("_qid"), lut.alias("_lut"))
    c = corpus.select(F.col(corpus_id).alias("_cid"), F.col(code_col).alias("_code"))
    # adist folds subspaces j = 0..m-1 in order — same tree as the
    # oracle's ordered list_sum
    adist = F.aggregate(
        F.zip_with(
            F.col("_code"), F.col("_lut"), lambda cd, l: F.element_at(l, cd + 1)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "_qid", "_cid", F.round(adist, 6).alias("adist")
    )
    return _topk_per_query(
        scored, query_id, k, exclude_self, score="adist", ascending=True
    )


def kcenter_select(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
) -> list:
    """Greedy k-center coreset selection (farthest-point traversal):
    start from the smallest id, then repeatedly add the point FARTHEST
    from the current selection — the classic 2-approximation for
    maximum-diversity / coverage data selection (active learning seeds,
    eval-set construction, codebook init).

    Distributed shape: the running min-distance-to-selection maintains
    as a column — each round computes distances to ONE new center
    (per-row expression, zero shuffle) and takes an ordered ``take(1)``
    argmax (distance desc, id asc — deterministic). k rounds = k bounded
    driver round trips, like the Lloyd trainer. Distances quantize to
    the integer micro grid before the argmax so selection is
    bit-reproducible across layouts and engines.

    Returns the ordered list of selected ids.
    """
    base = df.select(
        F.col(id_col).alias("_id"), _as_double_vec(vec_col).alias("_v")
    ).filter(F.col("_v").isNotNull())  # a NULL vector can't be a center
    first = base.orderBy("_id").take(1)
    if not first:
        return []
    selected = [first[0]["_id"]]
    center_vec = list(first[0]["_v"])
    v = F.col("_v")

    def qdist_to(cent: list) -> Column:
        d = grid(F.sqrt(_sqdist(v, _consts(cent))), MICRO)
        return _fit(v, len(center_vec), "kcenter_select", d)

    cur = materialize(base.withColumn("_mind", qdist_to(center_vec)))
    for _ in range(k - 1):
        far = cur.orderBy(F.col("_mind").desc(), "_id").take(1)
        if not far or far[0]["_mind"] == 0:
            break
        selected.append(far[0]["_id"])
        next_vec = list(
            base.filter(F.col("_id") == far[0]["_id"]).take(1)[0]["_v"]
        )
        cur = materialize(cur.withColumn(
            "_mind", F.least(F.col("_mind"), qdist_to(next_vec))
        ))
    return selected
