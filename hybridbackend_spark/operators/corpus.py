"""Corpus-preparation operators for LLM training-data pipelines:
deterministic hash splits, repetition-based quality signals, contiguous
sequence packing, and overlapping document chunking.

These extend the reference's data-prep surface (its tutorials do offline
corpus prep with pandas, e.g. ``docs/tutorial/ranking/taobao/data/
prep_3_merge.py``) with the operations a 100 TB text pipeline needs.
Everything is expression-level or partial-agg shaped — no Python row
loops, no driver-side data:

- ``hash_bucket``/``hash_split``: pure expressions, zero shuffle. The
  bucket is the first 8 hex digits of md5 — portable across engines
  (DuckDB: ``('0x' || substr(md5(x),1,8))::BIGINT``), stable across
  runs/cluster sizes, and uniform enough for split fractions.
- ``repetition_signals``: explode grams -> two key-partial aggregations.
  Shuffle keys are (doc_id, gram) then doc_id; both combine map-side, so
  shuffled bytes scale with distinct grams, not corpus bytes.
- ``pack_sequences``: the shared distributed prefix sum
  ``structural._range_prefix`` (range partition + local window +
  per-partition offsets), never a single-partition window.
- ``chunk_documents``: per-row array expressions + one explode; no
  shuffle at all.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from .._fixed import CENTS, MICRO, grid, grid_moments, ungrid
from .._materialize import materialize
from .structural import _range_prefix
from .text import (
    _bigram_pairs,
    _c,
    _in_order,
    _let,
    _lines,
    _ngrams,
    _widths,
    spread_small_scan,
    tokens,
    word_shingles,
)

__all__ = [
    "hash_bucket",
    "hash_split",
    "repetition_signals",
    "pack_sequences",
    "chunk_documents",
    "stratified_sample",
    "stratified_topn",
    "neyman_sample",
    "weighted_sample",
    "negative_samples",
    "line_dedup",
    "boilerplate_prune",
    "substring_dedup",
    "bpe_train",
    "bpe_encode",
    "unigram_surprisal",
    "bigram_surprisal",
    "pmi_bigrams",
    "kneser_ney_bigram",
    "dsir_importance",
    "hashed_linear_classifier",
    "distinct_ngram_diversity",
    "token_budget_mix",
    "ipf_rake_weights",
    "slice_overlap_matrix",
    "temperature_sample",
    "vocab_encode",
    "distribution_drift",
    "dup_ngram_coverage",
    "uniform_sample_exact",
    "decontaminate_spans",
]


def hash_bucket(
    key: Column | str, n_buckets: int = 10_000, seed: int = 0
) -> Column:
    """Deterministic bucket in [0, n_buckets) from md5 of the key.

    Unlike ``xxhash64`` this is reproducible in any engine with md5
    (the DuckDB oracle uses the identical arithmetic), so assignment
    decisions made here can be re-derived downstream of the pipeline.
    """
    h = F.md5(F.concat_ws(":", _c(key).cast("string"), F.lit(str(seed))))
    return F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(n_buckets)
    )


def hash_split(
    df: DataFrame,
    key: Column | str,
    weights: Mapping[str, float] | None = None,
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split (train/val/test by default) by
    deterministic hash of ``key`` — the standard leakage-safe alternative
    to ``randomSplit`` (same key always lands in the same split, across
    runs and across derived tables keyed by the same id)."""
    weights = dict(weights or {"train": 0.98, "val": 0.01, "test": 0.01})
    total = sum(weights.values())
    bucket = hash_bucket(key, n_buckets=1_000_000, seed=seed)
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        cond = bucket < int(acc * 1_000_000)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition statistics (Gopher-rule family): distinct
    word ratio, top-word fraction, duplicate-bigram fraction. High
    repetition marks boilerplate/spam for corpus filtering.

    One explode of tagged words and :func:`text._ngrams` bigrams (over
    the :func:`text._let`-bound token array) -> count per (doc, kind,
    gram) -> aggregate per doc. Both aggregations partial-combine
    map-side.
    """
    tagged = _let(
        tokens(_c(text_col)),
        lambda ws: F.concat(
            F.transform(
                ws, lambda w: F.struct(F.lit(1).alias("kind"), w.alias("g"))
            ),
            F.transform(
                _ngrams(ws, 2),
                lambda g: F.struct(F.lit(2).alias("kind"), g.alias("g")),
            ),
        ),
    )
    grams = df.select(F.col(id_col), F.explode(tagged).alias("t")).select(
        id_col, F.col("t.kind").alias("kind"), F.col("t.g").alias("g")
    )
    counts = grams.groupBy(id_col, "kind", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    is_w = F.col("kind") == 1
    is_b = F.col("kind") == 2
    agg = counts.groupBy(id_col).agg(
        F.sum(F.when(is_w, F.col("c"))).cast("long").alias("n_words"),
        F.count(F.when(is_w, F.lit(1))).cast("long").alias("n_distinct_words"),
        F.max(F.when(is_w, F.col("c"))).cast("long").alias("top_word_count"),
        F.coalesce(F.sum(F.when(is_b, F.col("c"))), F.lit(0))
        .cast("long")
        .alias("n_bigrams"),
        F.count(F.when(is_b, F.lit(1))).cast("long").alias("n_distinct_bigrams"),
    )
    return agg.select(
        id_col,
        "n_words",
        "n_distinct_words",
        F.round(F.col("n_distinct_words") / F.col("n_words"), 6).alias(
            "distinct_word_ratio"
        ),
        F.round(F.col("top_word_count") / F.col("n_words"), 6).alias(
            "top_word_frac"
        ),
        F.when(F.col("n_bigrams") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                (F.col("n_bigrams") - F.col("n_distinct_bigrams"))
                / F.col("n_bigrams"),
                6,
            )
        )
        .alias("dup_bigram_frac"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    budget: int,
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """Contiguous concat-and-chunk sequence packing: documents in
    ``order_by`` order are laid end-to-end in token space and cut into
    ``budget``-token bins. A document's bin is where its first token
    lands (documents may spill across bin boundaries — the standard
    LLM-pretraining packing, zero padding waste).

    Adds ``cum_tokens`` (inclusive running total, the distributed prefix
    sum :func:`structural._range_prefix`; a NULL token count adds 0),
    ``bin_id``, and ``bin_offset`` (start position of the document within
    its bin).
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    out, _ = _range_prefix(
        df, order_by or [id_col], F.col(token_count_col), "cum_tokens"
    )
    start = F.col("cum_tokens") - F.col(token_count_col)
    # exact integer div/mod — float division drifts above 2^53 total tokens
    return (
        out.withColumn("_start", start)
        .withColumn("bin_id", F.expr(f"_start div {int(budget)}"))
        .withColumn("bin_offset", F.pmod(F.col("_start"), F.lit(int(budget))))
        .drop("_start")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document into overlapping token-window chunks
    (``chunk_tokens`` wide, starts every ``stride`` tokens) — the
    retrieval-indexing / context-window prep primitive. Start positions
    are the multiples of ``stride`` below the token count, so every
    token is covered and the final chunk may be short.

    Pure per-row array expressions + one explode: no shuffle.
    """
    _widths(chunk_tokens=chunk_tokens, stride=stride)
    toks = tokens(_c(text_col))
    bound = df.withColumn("_toks", toks).filter(F.size("_toks") > 0)
    starts = F.sequence(F.lit(0), F.size("_toks") - 1, F.lit(stride))
    exploded = bound.select(
        id_col, "_toks", F.explode(starts).alias("start")
    )
    piece = F.slice(F.col("_toks"), F.col("start") + 1, chunk_tokens)
    return exploded.select(
        id_col,
        (F.col("start") / stride).cast("long").alias("chunk_id"),
        F.col("start").cast("long").alias("start"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
    )


def stratified_sample(
    df: DataFrame,
    strata: Column | str,
    key: Column | str,
    fractions: Mapping[str, float],
    default_fraction: float = 0.0,
    seed: int = 0,
    denom: int = 10_000,
) -> DataFrame:
    """Deterministic per-stratum downsampling as a PURE FILTER.

    Keeps a row iff ``hash_bucket(key) < fraction(stratum) * denom`` — no
    shuffle, no RNG state, no sort: at 100 TB this is a map-only pass
    whose selectivity is exact-in-expectation and whose membership
    decision is reproducible row-by-row (rerunning the pipeline, or
    re-deriving the sample in another engine, selects the same rows).
    This is the corpus-rebalancing primitive (e.g. downweight the
    dominant language) used before expensive downstream stages.
    """
    bucket = hash_bucket(key, denom, seed)
    s = _c(strata)
    thresh: Column = F.lit(int(round(default_fraction * denom)))
    for value, frac in sorted(fractions.items()):
        thresh = F.when(s == value, F.lit(int(round(frac * denom)))).otherwise(
            thresh
        )
    return df.filter(bucket < thresh)


def stratified_topn(
    df: DataFrame,
    strata: Column | str,
    key: Column | str,
    n: int,
    seed: int = 0,
) -> DataFrame:
    """Exactly ``n`` rows per stratum, chosen by deterministic hash order
    (md5 of the key, ties broken by the key itself).

    One shuffle on the stratum column + a per-stratum top-n window — the
    exact-quota companion to :func:`stratified_sample` (which is
    shuffle-free but only exact in expectation). Skewed strata are a
    bounded problem: the window keeps only n rows per partition group
    after the sort, and heavily skewed strata can be pre-filtered with
    :func:`stratified_sample` at ~2x the target rate first.
    """
    h = F.md5(F.concat_ws(":", _c(key).cast("string"), F.lit(str(seed))))
    w = (
        Window.partitionBy(_c(strata)).orderBy(h, _c(key))
    )
    return (
        df.withColumn("_ss_rn", F.row_number().over(w))
        .filter(F.col("_ss_rn") <= n)
        .drop("_ss_rn")
    )


def weighted_sample(
    df: DataFrame,
    key: Column | str,
    weight: str,
    k: int,
    seed: int = 0,
    priority_col: str = "priority",
) -> DataFrame:
    """Deterministic weight-BIASED sampling without replacement: each
    row gets priority ``(u * 100000) div weight`` where ``u`` is a
    40-bit uniform integer derived from md5 of (key, seed), and the k
    rows with the SMALLEST priorities are the sample. Ties break on the
    key.

    Bias semantics (honest): heavier rows are monotonically more likely
    to be picked, but inclusion probabilities are NOT exactly
    proportional to weight — min-of-(u/w) selects between two rows with
    a 2:1 weight ratio at p=3/4, not 2/3. The exactly-proportional
    Efraimidis-Spirakis scheme keys on ``u^(1/w)``, which requires
    transcendental math with no engine-portable integer form; this
    operator trades that exactness for a selection that any SQL engine
    re-derives bit-identically (the DuckDB oracle recomputes the exact
    sample). When mixture ratios must be accurate, use
    :func:`temperature_mixture` / :func:`stratified_sample` instead.

    Priorities are pure integer arithmetic on an md5-derived value —
    stable across runs and partition layouts. The top-k is a
    TakeOrdered (per-partition heap + driver merge of k), never a global
    sort. ``weight`` must be a positive integral column; rows with
    NULL/zero/negative weight are EXCLUDED (a zero weight would either
    raise under ANSI division or produce a NULL priority whose sort
    position differs between engines).
    """
    h = F.md5(F.concat_ws(":", _c(key).cast("string"), F.lit(str(seed))))
    u = F.conv(F.substring(h, 1, 10), 16, 10).cast("long")
    return (
        df.filter(F.col(weight) > 0)
        .withColumn("_ws_u", u)
        # the weight column enters via the Column API (any name works);
        # only the two internal aliases appear in the div expression
        # (integer div — u*100000 exceeds 2^53, double floor would drift)
        .withColumn("_ws_w", F.col(weight).cast("long"))
        .withColumn(priority_col, F.expr("(_ws_u * 100000) div _ws_w"))
        .drop("_ws_u", "_ws_w")
        .orderBy(F.col(priority_col), _c(key))
        .limit(k)
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_tokens: int = 3,
) -> DataFrame:
    """C4-style global line-level exact deduplication: cut every document
    into consecutive ``line_tokens``-token lines, keep only the FIRST
    occurrence of each distinct line corpus-wide (first = smallest
    (doc id, line position)), and reconstruct each document from its
    surviving lines in order. Documents whose every line was seen earlier
    vanish entirely — the same semantics C4 applies at the
    newline-delimited-line level.

    Two shuffles, both with map-side partial aggregation: (1) group by
    line text with a ``min(struct(id, pos))`` winner — shuffled bytes are
    one struct per DISTINCT line per map partition, not the corpus; (2)
    group by doc id to reassemble. No windows, no driver data.
    """
    _, lines = _lines(df, id_col, text_col, line_tokens)
    winners = lines.groupBy("_line").agg(
        F.min(F.struct(id_col, "_pos", "_n_lines")).alias("_w")
    )
    kept = winners.select(
        F.col(f"_w.{id_col}").alias(id_col),
        F.col("_w._pos").alias("_pos"),
        F.col("_w._n_lines").alias("_n_lines"),
        "_line",
    )
    return kept.groupBy(id_col).agg(
        F.max("_n_lines").alias("n_lines"),
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(_in_order("_pos", "_line"), " ").alias("dedup_text"),
    )


def unigram_surprisal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_v: int | None = None,
) -> DataFrame:
    """Quality scoring by a corpus-trained unigram language model: each
    token's surprisal is measured in whole bits as
    ``floor(log2(total_tokens)) - floor(log2(token_count))`` — EXACT
    integer arithmetic (binary digit counts), so per-doc averages are
    bit-identical on any engine / partition order, unlike float
    ``ln(p)`` sums. High average surprisal = rare-token-heavy documents
    (often noise); low = boilerplate. The standard cheap stand-in for a
    KenLM-style perplexity filter.

    One corpus pass builds the vocabulary (count per token, map-side
    combine); the vocab (optionally capped to ``top_v`` by frequency) is
    broadcast back onto the exploded token stream; one doc-key
    aggregation scores. Out-of-vocabulary tokens (possible only when
    capped) cost ``floor(log2(total)) + 1`` bits.
    """
    words = df.select(F.col(id_col), F.explode(tokens(_c(text_col))).alias("_tok"))
    vocab = words.groupBy("_tok").agg(F.count(F.lit(1)).alias("_c"))
    if top_v is not None:
        vocab = vocab.orderBy(F.desc("_c"), "_tok").limit(top_v)
    total = vocab.agg(F.sum("_c").alias("_total"))
    # floor(log2(x)) == length(bin(x)) - 1 for x >= 1: exact in integers
    bits_total = F.length(F.bin(F.col("_total"))) - 1
    bits_tok = F.length(F.bin(F.col("_c"))) - 1
    scored = (
        words.join(F.broadcast(vocab), "_tok", "left")
        .join(F.broadcast(total))
        .select(
            id_col,
            F.coalesce(bits_total - bits_tok, bits_total + 1).alias("_bits"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_toks"),
        F.round(F.sum("_bits") / F.count(F.lit(1)), 6).alias("avg_surprisal_bits"),
    )


def temperature_sample(
    df: DataFrame,
    strata_col: str,
    key: Column | str,
    target_frac: float = 0.5,
    seed: int = 0,
) -> DataFrame:
    """Temperature-based mixture rebalancing (T=0.5): resample the corpus
    so each stratum's share moves from ``n_s/N`` toward
    ``sqrt(n_s/N)/Z`` — the standard multiplicity-flattening used for
    multilingual / multi-source training mixes (dominant sources
    downweighted, tails upweighted), at an overall ``target_frac`` of the
    corpus. Per-stratum keep rate:
    ``min(1, (w_s/sum(w)) * target_frac*N / n_s)`` with
    ``w_s = floor(sqrt(n_s * 1e12 / N))``.

    Engine-exact determinism: sqrt is IEEE-correctly-rounded, the weight
    is floor-quantized to an integer before the cross-stratum sum (float
    summation order can never flip it), and membership is a pure md5
    filter on ``key`` (same scheme as :func:`stratified_sample` — no RNG,
    reproducible row-by-row). One tiny stratum aggregate broadcast back;
    the corpus itself is never shuffled.
    """
    denom = 1 << 20
    n = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n"))
    tot = n.agg(F.sum("_n").alias("_total"))
    w = (
        n.join(F.broadcast(tot))
        .withColumn(
            "_wq",
            F.floor(F.sqrt(F.col("_n") * 1e12 / F.col("_total"))).cast("long"),
        )
    )
    wsum = w.agg(F.sum("_wq").alias("_wsum"))
    rate = (
        w.join(F.broadcast(wsum))
        .withColumn(
            "_rate",
            F.least(
                F.lit(1.0),
                (F.col("_wq") / F.col("_wsum") * (target_frac * F.col("_total")))
                / F.col("_n"),
            ),
        )
        .select(strata_col, "_rate")
    )
    bucket = hash_bucket(key, denom, seed)
    return (
        df.join(F.broadcast(rate), strata_col)
        .filter(bucket < F.floor(F.col("_rate") * denom).cast("long"))
        .drop("_rate")
    )


def vocab_encode(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_v: int = 1000,
) -> DataFrame:
    """Build a frequency-ranked vocabulary (ids 1..``top_v`` by count
    desc, token asc — a deterministic total order) and encode each
    document as its array of token ids, 0 for out-of-vocabulary. The
    tokenizer-training + corpus-encoding step of a pretraining pipeline,
    minus the BPE merges.

    The vocabulary ranking sorts only the AGGREGATED vocab (≤``top_v``
    rows after the count + top-k, never the corpus); ids join back
    broadcast, so the corpus sees one explode + one doc-key rebuild
    aggregation — shuffle bytes are token ids, not text.
    """
    words = df.select(
        F.col(id_col), F.posexplode(tokens(_c(text_col))).alias("_pos", "_tok")
    )
    vocab = (
        words.groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.desc("_c"), "_tok")
        .limit(top_v)
    )
    ids = vocab.select(
        "_tok",
        F.row_number()
        .over(Window.orderBy(F.desc("_c"), "_tok"))
        .cast("long")
        .alias("_id"),
    )
    return (
        words.join(F.broadcast(ids), "_tok", "left")
        .select(id_col, "_pos", F.coalesce("_id", F.lit(0)).alias("_id"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            _in_order("_pos", "_id").alias("token_ids"),
        )
    )


def negative_samples(
    positives: DataFrame,
    user_col: str,
    item_col: str,
    n_items: int,
    k: int = 2,
    seed: int = 0,
) -> DataFrame:
    """Deterministic negative sampling for implicit-feedback training:
    for each (user, positive item) pair, draw ``k`` pseudo-random
    candidate items from [0, n_items) by md5 hash of (user, item, slot,
    seed), then drop candidates the user actually interacted with
    (a left-anti join against the full positive set — rejection, not
    wrap-around, so the surviving negatives are uniform over the user's
    non-items).

    Scale shape: the explode is k small integer columns per positive (no
    payload duplication); the anti join is an equi-join on (user,
    candidate) against the deduplicated positive set — both sides shuffle
    once on the user key. Deterministic across runs/partitionings (md5
    arithmetic, reproducible in any engine) — re-running training data
    generation yields byte-identical negatives, unlike ``rand()``.
    """
    pos = positives.select(
        F.col(user_col).alias("_u"), F.col(item_col).alias("_i")
    ).distinct()
    cands = pos.select(
        "_u",
        "_i",
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("slot"),
    ).withColumn(
        "neg_item",
        hash_bucket(
            F.concat_ws("|", F.col("_u"), F.col("_i"), F.col("slot")),
            n_buckets=n_items,
            seed=seed,
        ),
    )
    survivors = cands.join(
        pos.select(F.col("_u").alias("_pu"), F.col("_i").alias("_pi")),
        (F.col("_u") == F.col("_pu")) & (F.col("neg_item") == F.col("_pi")),
        "left_anti",
    )
    return survivors.select(
        F.col("_u").alias(user_col),
        F.col("_i").alias(item_col),
        "slot",
        "neg_item",
    )


def distribution_drift(
    df: DataFrame,
    group_col: str,
    text_col: str,
    out_col: str = "drift_bits",
) -> DataFrame:
    """Per-group token-distribution drift vs the whole corpus, in whole
    bits: the average over token OCCURRENCES in the group of
    ``corpus_surprisal - group_surprisal``, where surprisal is the exact
    integer ``floor(log2)`` form used by :func:`unigram_surprisal`
    (binary digit counts — no float log, so the statistic is
    bit-identical across engines). A discrete KL(group || corpus)-style
    drift score: ~0 when the group looks like the corpus, positive when
    it concentrates on tokens the corpus finds rare — the standard
    monitor for source mix shifts in a training-data pipeline.

    Plan shape: explode -> (group, token) partial-agg -> token partial-agg
    for the corpus counts -> joins keyed on the token (vocab-sized, not
    corpus-sized) -> one final group aggregation. Shuffled bytes scale
    with |groups x vocab|, independent of document bytes.

    Eager materialization: building this DataFrame RUNS a Spark job —
    the (group, token) counts feed four consumers and are cut with
    ``_materialize.materialize`` at build time; the cut's blocks or
    files are held until the returned DataFrame is garbage-collected.
    """
    w = df.select(F.col(group_col), F.explode(tokens(text_col)).alias("_tok"))
    # (group, token) counts feed FOUR consumers (corpus counts, group
    # totals, grand total, and the scoring join) — materialize once so
    # the corpus explode doesn't re-run per branch.
    gt = materialize(
        w.groupBy(group_col, "_tok")
        .agg(F.count(F.lit(1)).alias("_cg"))
    )
    corpus = gt.groupBy("_tok").agg(F.sum("_cg").alias("_cc"))
    totals = gt.groupBy(group_col).agg(F.sum("_cg").alias("_tg"))
    grand = corpus.agg(F.sum("_cc").alias("_t"))
    # corpus is vocab-sized (can be huge) -> shuffle join on the token;
    # totals is |groups| and grand is 1 row -> broadcast.
    j = (
        gt.join(corpus, "_tok")
        .join(F.broadcast(totals), group_col)
        .crossJoin(F.broadcast(grand))
    )
    bits_g = F.length(F.bin(F.col("_tg"))) - F.length(F.bin(F.col("_cg")))
    bits_c = F.length(F.bin(F.col("_t"))) - F.length(F.bin(F.col("_cc")))
    return (
        j.withColumn("_d", F.col("_cg") * (bits_c - bits_g).cast("long"))
        .groupBy(group_col)
        .agg(
            F.max("_tg").alias("n_tokens"),
            F.round(F.sum("_d") / F.max("_tg"), 6).alias(out_col),
        )
    )


def boilerplate_prune(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_tokens: int = 3,
    max_df: int = 2,
) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate removal: cut documents into
    consecutive ``line_tokens``-token lines, count each distinct line's
    document frequency corpus-wide, and drop every occurrence of lines
    appearing in MORE than ``max_df`` documents (headers, footers, nav
    chrome, cookie banners). The complement of :func:`line_dedup` —
    that keeps the first copy of a duplicated line; this removes common
    lines everywhere, preserving rare (informative) text.

    Scale shape: explode -> groupBy(line) counting DISTINCT docs via a
    (line, doc) pre-dedup (both aggregations combine map-side; shuffled
    bytes scale with distinct lines, not corpus bytes) -> broadcast-free
    equi-join back on the line key -> reassemble by doc. Returns
    (id, n_lines, n_kept, pruned_text); documents made of nothing but
    boilerplate survive with empty text, so downstream length filters
    see them.
    """
    docs, lines = _lines(df, id_col, text_col, line_tokens)
    # document frequency per line (distinct docs, two partial-agg rounds)
    df_counts = (
        lines.select(id_col, "_line")
        .distinct()
        .groupBy("_line")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    kept = (
        lines.join(df_counts, "_line")
        .filter(F.col("_df") <= max_df)
        .select(id_col, "_n_lines", "_pos", "_line")
    )
    return (
        docs.join(
            kept.groupBy(id_col).agg(
                F.count(F.lit(1)).alias("n_kept"),
                F.array_join(_in_order("_pos", "_line"), " ").alias(
                    "pruned_text"
                ),
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.col("_n_lines").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("pruned_text", F.lit("")).alias("pruned_text"),
        )
    )


def bigram_surprisal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality scoring by a corpus-trained BIGRAM language model: each
    token-pair's conditional surprisal is
    ``floor(log2(n(w1))) - floor(log2(n(w1, w2)))`` whole bits — the
    integer-exact analog of ``-log2 P(w2|w1)`` (same binary-digit-count
    trick as :func:`unigram_surprisal`, so per-doc averages are
    bit-identical across engines and partitionings). Low average = the
    corpus keeps predicting the document (templates, boilerplate); high
    = unusual token sequences. One step closer to a KenLM-style
    perplexity filter than the unigram score, still with zero floats in
    the aggregation.

    Two corpus passes (unigram counts, bigram counts), both partial-agg
    shuffles keyed on the gram; scoring joins the exploded pair stream
    against both tables on their natural keys. Shuffle volume scales
    with distinct grams, never corpus bytes.

    Returns (id, n_pairs, avg_bits).
    """
    pairs = _bigram_pairs(df, text_col, id_col)
    uni = (
        df.select(F.explode(tokens(_c(text_col))).alias("_w1"))
        .groupBy("_w1")
        .agg(F.count(F.lit(1)).alias("_n1"))
    )
    bi = pairs.groupBy("_w1", "_w2").agg(F.count(F.lit(1)).alias("_n12"))
    bits1 = F.length(F.bin(F.col("_n1"))) - 1
    bits12 = F.length(F.bin(F.col("_n12"))) - 1
    scored = (
        pairs.join(bi, ["_w1", "_w2"])
        .join(uni, "_w1")
        .select(id_col, (bits1 - bits12).alias("_bits"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.sum("_bits") / F.count(F.lit(1)), 6).alias("avg_bits"),
    )


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 5,
) -> DataFrame:
    """Exact substring deduplication (the Lee et al. 2022 recipe,
    re-expressed relationally): any ``window_tokens``-token span whose
    text occurs ANYWHERE else in the corpus keeps only its first
    occurrence (smallest (doc id, position)); every other occurrence is
    masked out token-by-token and documents are rebuilt from the
    surviving tokens. Finer-grained than :func:`line_dedup` (overlapping
    windows catch duplicated spans at ANY offset, not just aligned
    lines).

    Plan shape — three partial-agg shuffles, all keyed small:
    (1) rolling window texts -> groupBy(window) with a min(struct(doc,
    pos)) winner (shuffle = distinct windows after map-side combine);
    (2) duplicated occurrences explode to their covered token positions
    -> distinct (doc, pos) mask; (3) tokens anti-join the mask on (doc,
    pos) and reassemble per doc. Shuffled bytes scale with distinct
    window texts + masked positions, never corpus bytes squared. At 100
    TB, hash the window text (xxhash64) instead of shuffling raw
    strings — kept raw here so the oracle can replay it.

    Returns (id, n_tokens, n_masked, dedup_text).
    """
    k = window_tokens
    _widths(window_tokens=k)
    toks = tokens(_c(text_col))
    # Tokenize ONCE: `base` feeds three consumers (token rows, window
    # texts, the final length readout), so without a cut the tokenize
    # pass re-runs per consumer — and on a single-file corpus it runs
    # inside the lone scan task each time. Spread first (round-12,
    # guide §2.5 input skew), project to (id, tokens) only, and
    # lazily materialize (guide §1.2 remove passes: one tokenize pass
    # + one ~corpus-sized materialization beats three corpus passes).
    base = materialize(
        spread_small_scan(df)
        .select(F.col(id_col), toks.alias("_toks"))
        .filter(F.size("_toks") > 0),
        eager=False,
    )
    tok_rows = base.select(
        F.col(id_col), F.posexplode("_toks").alias("_pos", "_tok")
    )
    windows = base.select(
        F.col(id_col),
        F.posexplode(_ngrams(F.col("_toks"), k)).alias("_pos", "_win"),
    )
    first = windows.groupBy("_win").agg(
        F.min(F.struct(id_col, "_pos")).alias("_first"),
        F.count(F.lit(1)).alias("_n"),
    )
    dups = (
        windows.join(first, "_win")
        .filter(
            (F.col("_n") > 1)
            & ~(
                (F.col(f"_first.{id_col}") == F.col(id_col))
                & (F.col("_first._pos") == F.col("_pos"))
            )
        )
        .select(id_col, "_pos")
    )
    mask = dups.select(
        id_col, F.explode(F.sequence(F.col("_pos"), F.col("_pos") + k - 1)).alias("_pos")
    ).distinct()
    kept = tok_rows.join(mask, [id_col, "_pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_kept"),
        F.array_join(_in_order("_pos", "_tok"), " ").alias("dedup_text"),
    )
    return (
        base.select(id_col, F.size("_toks").cast("long").alias("n_tokens"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("_kept", F.lit(0)))
            .cast("long")
            .alias("n_masked"),
            F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
        )
    )


def _bpe_apply_merge(sym_col: Column, a: str, b: str) -> Column:
    """Greedy left-to-right application of one BPE merge (a, b) -> ab to
    a symbol array, as a single fold expression (no Python per row)."""
    merged = F.lit(a + b)
    return F.aggregate(
        sym_col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 10,
) -> list[tuple[str, str]]:
    """Train byte-pair-encoding merges ON the engine — the tokenizer-
    construction step of an LLM data pipeline, distributed: word
    frequencies come from one corpus pass; each merge round counts
    adjacent symbol pairs over the DISTINCT-word table (weighted by word
    count, partial-agg combined) and the driver receives exactly one
    (pair, count) row via an ordered take(1). Ties break lexicographic,
    so training is deterministic across layouts.

    Scale shape: rounds touch the distinct-word table (vocabulary-sized,
    NOT corpus-sized — the classic BPE trick); per-round shuffle is
    distinct adjacent pairs. Lineage is cut every round. ``num_merges``
    Spark rounds total.

    Returns the ordered merge list [(a, b), ...].
    """
    words = materialize(
        df.select(F.explode(tokens(_c(text_col))).alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_sym",
            F.expr("transform(sequence(1, length(_w)), i -> substring(_w, i, 1))"),
        )
    )
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs = (
            words.filter(F.size("_sym") >= 2)
            .select(
                "_n",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("_sym"), 1, F.size("_sym") - 1),
                        F.slice(F.col("_sym"), 2, F.size("_sym") - 1),
                        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                    )
                ).alias("_p"),
            )
            .groupBy("_p.a", "_p.b")
            .agg(F.sum("_n").alias("_c"))
            .orderBy(F.col("_c").desc(), "a", "b")
            .take(1)
        )
        if not pairs:
            break
        top = pairs[0]
        merges.append((top["a"], top["b"]))
        words = materialize(words.withColumn(
            "_sym", _bpe_apply_merge(F.col("_sym"), top["a"], top["b"])
        ))
    return merges


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply trained BPE merges (in training order) to every token of
    every document: returns (id, token, subwords array<string>). Pure
    fold expressions — zero Python, zero shuffle beyond the explode."""
    out = df.select(
        F.col(id_col), F.explode(tokens(_c(text_col))).alias("token")
    ).withColumn(
        "subwords",
        F.expr("transform(sequence(1, length(token)), i -> substring(token, i, 1))"),
    )
    for a, b in merges:
        out = out.withColumn(
            "subwords", _bpe_apply_merge(F.col("subwords"), a, b)
        )
    return out


def neyman_sample(
    df: DataFrame,
    strata: str,
    key: str,
    value: str,
    total_n: int,
    seed: int = 0,
) -> DataFrame:
    """Optimal (Neyman) allocation stratified sampling: stratum h gets
    quota ``n_h = floor(total_n * N_h * sigma_h / sum_g(N_g sigma_g))``
    — variance-proportional allocation, the survey-sampling optimum for
    estimating the mean of ``value`` (high-variance strata earn more
    samples than proportional allocation gives them).

    Statistics are engine-exact (cents-grid sums and squares,
    :mod:`hybridbackend_spark._fixed`): sigma is quantized to integer
    micro-units BEFORE the cross-stratum sum, so allocation never
    depends on float summation order. Membership is the deterministic md5 hash order of
    :func:`stratified_topn`. One stats aggregate + one windowed top-n_h;
    the corpus shuffles once on the stratum key.
    """
    q = grid(value, CENTS)
    stats = df.groupBy(strata).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(q).alias("_s"),
        F.sum((q * q).cast("decimal(38,0)")).alias("_ss"),
    )
    _, var = grid_moments(F.col("_n"), F.col("_s"), F.col("_ss"), CENTS)
    # quantize N_h * sigma_h to integer micro-units before summing
    weight = F.floor(
        F.sqrt(F.greatest(var, F.lit(0.0))) * F.col("_n") * 1_000_000
    ).cast("long")
    weights = stats.select(strata, F.col("_n"), weight.alias("_w"))
    wsum = weights.agg(
        F.sum("_w").alias("_wtot"), F.sum("_n").alias("_ntot")
    )
    # when EVERY stratum has zero variance the Neyman weights all
    # vanish (_wtot = 0) and the allocation is undefined — fall back
    # to proportional allocation (w_h = N_h) instead of letting the
    # division ANSI-abort (any allocation estimates a constant mean
    # exactly, so proportional is the natural degenerate choice)
    quota = (
        weights.join(F.broadcast(wsum))
        .select(
            strata,
            # double division: total_n * w can overflow a long at fact
            # scale; w fits a double exactly enough for a floor quota
            F.floor(
                F.lit(float(total_n))
                * F.when(
                    F.col("_wtot") != 0,
                    F.col("_w").cast("double")
                    / F.col("_wtot").cast("double"),
                ).otherwise(
                    F.col("_n").cast("double")
                    / F.col("_ntot").cast("double")
                )
            ).cast("long").alias("_quota"),
        )
    )
    h = F.md5(F.concat_ws(":", F.col(key).cast("string"), F.lit(str(seed))))
    w = Window.partitionBy(strata).orderBy(h, F.col(key))
    return (
        df.join(F.broadcast(quota), strata)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("_quota"))
        .drop("_rn", "_quota")
    )


def pmi_bigrams(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    dp: int = 6,
) -> DataFrame:
    """Pointwise mutual information of adjacent token pairs — the
    classic collocation / phrase-mining signal (Church & Hanks '90):
    ``pmi = ln(c_xy * N / (c_x * c_y))`` over the corpus bigram stream,
    with the marginals taken over bigram FIRST/SECOND positions so the
    three counts share one event space.

    All counts are exact integers from gram-keyed partial+final aggs
    (shuffle volume ~ distinct grams, never corpus bytes); the marginals
    are group-bys of the already-compressed bigram table; the grand
    total joins back as a broadcast single row. Each PMI value is one
    fixed-shape ``ln`` of an integer ratio — deterministic across
    engines, no float accumulation anywhere.

    Returns (w1, w2, c_xy, c_x, c_y, pmi) for pairs with
    ``c_xy >= min_count`` (marginals still count ALL pairs).
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    bi = _bigram_pairs(df, text_col).groupBy("_w1", "_w2").agg(
        F.count(F.lit(1)).alias("c_xy")
    )
    left = bi.groupBy("_w1").agg(F.sum("c_xy").alias("c_x"))
    right = bi.groupBy("_w2").agg(F.sum("c_xy").alias("c_y"))
    total = bi.agg(F.sum("c_xy").alias("_n"))
    scored = (
        bi.filter(F.col("c_xy") >= min_count)
        .join(left, "_w1")
        .join(right, "_w2")
        .crossJoin(F.broadcast(total))
    )
    ratio = (F.col("c_xy").cast("double") * F.col("_n").cast("double")) / (
        F.col("c_x").cast("double") * F.col("c_y").cast("double")
    )
    return scored.select(
        F.col("_w1").alias("w1"),
        F.col("_w2").alias("w2"),
        F.col("c_xy").cast("long").alias("c_xy"),
        F.col("c_x").cast("long").alias("c_x"),
        F.col("c_y").cast("long").alias("c_y"),
        F.round(F.log(ratio), dp).alias("pmi"),
    )


def kneser_ney_bigram(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    discount_num: int = 3,
    discount_den: int = 4,
    dp: int = 6,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram language model (Kneser & Ney '95,
    the workhorse smoothing of KenLM-style n-gram LMs used for
    perplexity-based corpus filtering):

        P(w2|w1) = (c(w1,w2) - d) / c(w1.)
                 + d * N1+(w1.) / c(w1.) * N1+(.w2) / B

    with discount ``d = discount_num/discount_den`` (default 3/4),
    ``N1+(w1.)`` = distinct continuations of w1, ``N1+(.w2)`` = distinct
    left contexts of w2 (the continuation probability — counting TYPES,
    not tokens, is the Kneser-Ney insight), and ``B`` = total distinct
    bigram types.

    Every sufficient statistic is an exact integer over the compressed
    bigram-type table (type counts are group-by count(*)s — no distinct
    explosion beyond the bigram agg itself); the probability is one
    fixed-shape scalar expression of them, so both engines produce
    identical doubles. Returns (w1, w2, c_xy, n_follow, n_prec, p_kn)
    for pairs with ``c_xy >= min_count`` (statistics still use ALL
    pairs; c >= 1 > d keeps the discounted term positive).
    """
    if not (0 < discount_num < discount_den):
        raise ValueError("discount must be in (0, 1)")
    bi = _bigram_pairs(df, text_col).groupBy("_w1", "_w2").agg(
        F.count(F.lit(1)).alias("c_xy")
    )
    left = bi.groupBy("_w1").agg(
        F.sum("c_xy").alias("c_tot"),
        F.count(F.lit(1)).alias("n_follow"),
    )
    right = bi.groupBy("_w2").agg(F.count(F.lit(1)).alias("n_prec"))
    types = bi.agg(F.count(F.lit(1)).alias("_b"))
    scored = (
        bi.filter(F.col("c_xy") >= min_count)
        .join(left, "_w1")
        .join(right, "_w2")
        .crossJoin(F.broadcast(types))
    )
    d = F.lit(discount_num).cast("double") / F.lit(discount_den).cast("double")
    ctot = F.col("c_tot").cast("double")
    p_kn = (F.col("c_xy").cast("double") - d) / ctot + (
        d * F.col("n_follow").cast("double") / ctot
    ) * (F.col("n_prec").cast("double") / F.col("_b").cast("double"))
    return scored.select(
        F.col("_w1").alias("w1"),
        F.col("_w2").alias("w2"),
        F.col("c_xy").cast("long").alias("c_xy"),
        F.col("n_follow").cast("long").alias("n_follow"),
        F.col("n_prec").cast("long").alias("n_prec"),
        F.round(p_kn, dp).alias("p_kn"),
    )


def dsir_importance(
    df: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR-style data selection via importance resampling (Xie et al.
    '23, "Data Selection for Language Models via Importance
    Resampling"): score every document by how much more likely its
    hashed-n-gram features are under a TARGET domain (rows matching
    ``target_pred``) than under the raw corpus, then keep documents
    that look more target-like than corpus-average.

    Engine-exact adaptation: tokens hash into ``n_buckets`` md5 buckets
    (:func:`hash_bucket` — replayable in any engine); both the target
    and raw bucket LMs use Laplace-smoothed WHOLE-BIT log2 integer
    surprisal (``length(bin(x))`` — the same zero-float trick as
    :func:`unigram_surprisal`), so each bucket's log-ratio weight

        w_b = (bits(t_b+1) - bits(r_b+1)) + (bits(R+B) - bits(T+B))

    is an exact integer and every per-doc sum is BIGINT — immune to
    float summation order. ``selected = dsir_bits > 0`` (more
    target-like than average), the deterministic analog of DSIR's
    Gumbel resampling.

    Scale shape: one conditional-agg pass builds BOTH bucket LMs
    (<= n_buckets rows, broadcast back to the token stream — never a
    fact-side shuffle for the weights); totals ride along as one
    broadcast row; one doc-keyed partial agg scores. Documents with
    zero tokens carry no evidence and are omitted.

    Returns (id, n_toks, dsir_bits, selected).
    """
    toks = spread_small_scan(df).select(
        F.col(id_col),
        target_pred.alias("_is_t"),
        F.explode(tokens(_c(text_col))).alias("_tok"),
    ).select(
        id_col, "_is_t", hash_bucket(F.col("_tok"), n_buckets).alias("_b")
    )
    # compress the token stream to per-(id, is_t, bucket) counts FIRST
    # and cut the lineage: both the bucket-LM build and the per-doc
    # scoring pass are exact integer sums over these counts, so the
    # tokenize+md5 pass over the corpus runs ONCE instead of once per
    # consumer (round-12, guide §1.2/§2.3; sums regroup exactly —
    # integer addition is associative)
    grouped = materialize(
        toks.groupBy(id_col, "_is_t", "_b")
        .agg(F.count(F.lit(1)).alias("_cnt")),
        eager=False,
    )
    lm = grouped.groupBy("_b").agg(
        F.sum("_cnt").alias("_r"),
        F.sum(F.when(F.col("_is_t"), F.col("_cnt")).otherwise(0)).alias(
            "_t"
        ),
    )
    # distinct names (not _R/_T): Spark resolves case-insensitively
    totals = lm.agg(
        F.sum("_r").alias("_rtot"), F.sum("_t").alias("_ttot")
    )

    def bits(c: Column) -> Column:
        return F.length(F.bin(c))

    weights = lm.crossJoin(F.broadcast(totals)).select(
        "_b",
        (
            (bits(F.col("_t") + 1) - bits(F.col("_r") + 1))
            + (
                bits(F.col("_rtot") + n_buckets)
                - bits(F.col("_ttot") + n_buckets)
            )
        ).alias("_w"),
    )
    scored = grouped.join(F.broadcast(weights), "_b").groupBy(id_col).agg(
        F.sum("_cnt").cast("long").alias("n_toks"),
        F.sum(F.col("_cnt") * F.col("_w")).cast("long").alias("dsir_bits"),
    )
    return scored.select(
        id_col, "n_toks", "dsir_bits", (F.col("dsir_bits") > 0).alias("selected")
    )


def hashed_linear_classifier(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1 << 16,
    seed: int = 1,
    dp: int = 6,
) -> DataFrame:
    """fastText-style hashed bag-of-words linear classifier scoring —
    the CCNet/fastText quality-filter shape (Wenzek et al. '20 score
    every CommonCrawl doc with a linear model over hashed token
    features; the per-doc cost is O(tokens), embarrassingly parallel):
    tokens hash into ``n_buckets`` buckets (:func:`hash_bucket`, md5 —
    engine-replayable), each bucket carries a weight, the doc logit is
    the MEAN bucket weight, and the score is its sigmoid.

    Weights here are derived deterministically from the bucket id
    (md5 again, integer milli-units in [-1000, +1000]) — a stand-in
    with the exact production plumbing: swap in trained weights as a
    broadcast (bucket, weight) table joined onto the token stream and
    NOTHING else changes (the weight side is <= n_buckets rows, always
    broadcastable; the fact side never shuffles). Hash-derived weights
    keep the whole computation expression-level AND let the DuckDB
    oracle replay every bit: the weight sum is an exact BIGINT, the
    logit is ONE division, the sigmoid ONE exp.

    Returns (id, n_toks, w_sum, score); empty/whitespace-only docs
    carry no features and are omitted (same contract as
    :func:`dsir_importance`).
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(_c(text_col))).alias("_tok")
    ).select(
        id_col, hash_bucket(F.col("_tok"), n_buckets, seed).alias("_b")
    )
    w_unit = 1000  # weight 1.0
    w = (
        hash_bucket(
            F.concat(F.lit("w:"), F.col("_b").cast("string")),
            2 * w_unit + 1,
            seed,
        )
        - w_unit
    )
    scored = toks.select(F.col(id_col), w.alias("_w")).groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_toks"),
        F.sum("_w").cast("long").alias("w_sum"),
    )
    logit = F.col("w_sum").cast("double") / (
        F.col("n_toks").cast("double") * float(w_unit)
    )
    return scored.select(
        id_col,
        "n_toks",
        "w_sum",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), dp).alias("score"),
    )


def distinct_ngram_diversity(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    n: int = 2,
    dp: int = 6,
) -> DataFrame:
    """Corpus diversity readout per slice: distinct-n (unique word
    n-grams / total n-grams — the classic generation-diversity metric,
    Li et al. '16) plus type-token ratio. Low distinct-n flags
    template/boilerplate-heavy sources; the per-slice numbers are what
    a mixture designer reads next to quality scores.

    Scale shape: one explode + two (group, gram)-keyed partial aggs —
    counts only, no pairwise work. Ratios are single divisions of exact
    BIGINTs.

    Returns (group, n_tokens, n_types, n_grams, n_distinct_grams,
    ttr, distinct_n).
    """
    toked = df.select(
        F.col(group_col).alias("_g"), tokens(_c(text_col)).alias("_toks")
    )
    tok = toked.select("_g", F.explode("_toks").alias("_t"))
    tok_stats = tok.groupBy("_g").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("_t").alias("n_types"),
    )
    grams = toked.select(
        "_g", F.explode(_ngrams(F.col("_toks"), n)).alias("_gr")
    )
    gram_stats = grams.groupBy("_g").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("_gr").alias("n_distinct_grams"),
    )
    joined = tok_stats.join(gram_stats, "_g", "left")
    return joined.select(
        F.col("_g").alias(group_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce(F.col("n_distinct_grams"), F.lit(0))
        .cast("long")
        .alias("n_distinct_grams"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.col("n_types").cast("double")
                / F.col("n_tokens").cast("double"),
                dp,
            ),
        ).alias("ttr"),
        F.when(
            F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
            F.round(
                F.col("n_distinct_grams").cast("double")
                / F.col("n_grams").cast("double"),
                dp,
            ),
        ).alias("distinct_n"),
    )


def token_budget_mix(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    budget_frac_pct: int = 50,
    max_epochs: int = 2,
    rounds: int = 2,
) -> DataFrame:
    """Training-mixture token allocation: given per-source token counts,
    a global token budget (``budget_frac_pct``% of the corpus total) and
    a repetition cap (``max_epochs`` passes over any one source — the
    "don't repeat data too often" rule of mixture design), allocate the
    budget proportionally to source size with the cap enforced by
    ``rounds`` rounds of water-filling: each round distributes the
    remaining budget proportionally among uncapped sources, capped
    sources keep their cap. A FIXED round count keeps the computation a
    deterministic dataflow (each round is one tiny agg + broadcast over
    <= |sources| rows); exact water-filling converges in <= |sources|
    rounds, and two rounds already place >99% of the budget in typical
    skews — the residual is reported, not hidden.

    Engine-exact: token counts and every allocation are BIGINT (the
    proportional share is the exact integral division ``(budget * T_s)
    div T`` in DECIMAL(38,0) arithmetic — NOT floor of a scaled decimal
    quotient, whose half-up rounding at the result scale could cross an
    integer boundary); no float accumulation anywhere.

    Returns (group, n_tokens, cap, alloc, residual) where residual is
    the still-unplaced budget after the final round (same value on
    every row — a scalar readout).
    """
    # the per-group counts are referenced by `total`, by every
    # water-filling round (whose crossJoin-of-agg structure doubles the
    # reference count per round) and by the residual readout — without a
    # lineage cut the corpus tokenize pass replays ~2^(rounds+2) times
    # (round-12, guide §1.2; same cut ipf_rake_weights already applies
    # to its state). <= |groups| rows, trivially materialized.
    counts = materialize(
        df.select(
            F.col(group_col).alias("_g"),
            F.size(tokens(_c(text_col))).alias("_nt"),
        )
        .groupBy("_g")
        .agg(F.sum("_nt").cast("long").alias("n_tokens"))
    )
    total = counts.agg(F.sum("n_tokens").alias("_tot"))
    alloc = counts.crossJoin(F.broadcast(total)).select(
        "_g",
        "n_tokens",
        (F.col("n_tokens") * max_epochs).alias("_cap"),
        F.expr(f"(_tot * {int(budget_frac_pct)}) div 100").alias("_budget"),
        F.lit(0).cast("long").alias("_alloc"),
    )
    for _ in range(rounds):
        # remaining budget + uncapped-source token mass (2-row broadcast)
        room = alloc.agg(
            (F.max("_budget") - F.sum("_alloc")).alias("_left"),
            F.sum(
                F.when(F.col("_alloc") < F.col("_cap"), F.col("n_tokens"))
                .otherwise(F.lit(0))
            ).alias("_umass"),
        )
        share = F.expr(
            "(cast(_left as decimal(38,0)) * cast(n_tokens as decimal(38,0)))"
            " div cast(_umass as decimal(38,0))"
        )
        alloc = alloc.crossJoin(F.broadcast(room)).select(
            "_g",
            "n_tokens",
            "_cap",
            "_budget",
            F.when(
                (F.col("_alloc") < F.col("_cap")) & (F.col("_umass") > 0),
                F.least(F.col("_cap"), F.col("_alloc") + share),
            )
            .otherwise(F.col("_alloc"))
            .alias("_alloc"),
        )
    residual = alloc.agg(
        (F.max("_budget") - F.sum("_alloc")).alias("residual")
    )
    return alloc.crossJoin(F.broadcast(residual)).select(
        F.col("_g").alias(group_col),
        "n_tokens",
        F.col("_cap").cast("long").alias("cap"),
        F.col("_alloc").cast("long").alias("alloc"),
        F.col("residual").cast("long").alias("residual"),
    )


def ipf_rake_weights(
    df: DataFrame,
    row_col: str,
    col_col: str,
    row_targets: DataFrame,
    col_targets: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Iterative proportional fitting (raking) of cell weights so the
    weighted (row, col) contingency table matches BOTH target margins —
    the standard dataset-reweighting step (balance a corpus across
    source x language without per-cell targets; survey raking; Sinkhorn
    normalization is the same iteration).

    ``row_targets`` = (row value, ``target``) and ``col_targets`` =
    (col value, ``target``); each round rescales weights to match row
    margins, then column margins. A FIXED ``rounds`` count keeps the
    computation a deterministic dataflow (classical raking converges
    geometrically; the residual max margin error is reported per cell
    so the cut-off is visible, not hidden).

    Engine-exactness: weights live on the integer micro grid
    (:data:`~hybridbackend_spark._fixed.MICRO` units = weight 1.0, which
    keeps ``cell_rows * MICRO`` inside BIGINT up to ~9e12 rows per
    cell) and each rescale is the exact integral division
    ``(w * target_units) div margin_units`` in DECIMAL(38,0) — margin
    sums are BIGINT sums of integers, so no float accumulation ever
    happens and both engines walk identical integer states. Targets are
    quantized to the same grid once at entry.

    Scale shape: the cell table is aggregate-sized (|rows| x |cols|);
    each round is two tiny keyed aggs joined back — broadcast-sized at
    any corpus scale.

    Returns (row, col, n, weight, row_err, col_err) where weight is the
    fitted per-cell weight (double, = integer units / MICRO) and the
    errs are the final signed margin residuals in weight units.
    """
    cells = df.groupBy(
        F.col(row_col).alias("_r"), F.col(col_col).alias("_c")
    ).agg(F.count(F.lit(1)).alias("_n"))
    rt = row_targets.select(
        F.col(row_targets.columns[0]).alias("_r"),
        grid("target", MICRO).alias("_rt"),
    )
    ct = col_targets.select(
        F.col(col_targets.columns[0]).alias("_c"),
        grid("target", MICRO).alias("_ct"),
    )
    # state: per-cell weighted mass in integer units, start at n * 1.0.
    # The state is consumed TWICE per round (margin agg + rescale join),
    # so without a lineage cut each round re-evaluates the whole chain
    # and the DAG cost doubles per round — materialize the
    # aggregate-sized (|rows| x |cols|) state instead, the same cut the
    # iterative graph operators apply.
    state = materialize(cells.select(
        "_r", "_c", "_n", (F.col("_n") * MICRO).alias("_wu")
    ))
    for _ in range(rounds):
        rm = state.groupBy("_r").agg(F.sum("_wu").alias("_rm"))
        state = (
            state.join(F.broadcast(rm), "_r")
            .join(F.broadcast(rt), "_r")
            .select(
                "_r",
                "_c",
                "_n",
                F.expr(
                    "(cast(_wu as decimal(38,0)) * cast(_rt as decimal(38,0)))"
                    " div cast(_rm as decimal(38,0))"
                ).alias("_wu"),
            )
        )
        cm = state.groupBy("_c").agg(F.sum("_wu").alias("_cm"))
        state = (
            state.join(F.broadcast(cm), "_c")
            .join(F.broadcast(ct), "_c")
            .select(
                "_r",
                "_c",
                "_n",
                F.expr(
                    "(cast(_wu as decimal(38,0)) * cast(_ct as decimal(38,0)))"
                    " div cast(_cm as decimal(38,0))"
                ).alias("_wu"),
            )
        )
        state = materialize(state)
    rm = state.groupBy("_r").agg(F.sum("_wu").alias("_rmf"))
    cm = state.groupBy("_c").agg(F.sum("_wu").alias("_cmf"))
    out = (
        state.join(F.broadcast(rm), "_r")
        .join(F.broadcast(cm), "_c")
        .join(F.broadcast(rt), "_r")
        .join(F.broadcast(ct), "_c")
    )
    return out.select(
        F.col("_r").alias(row_col),
        F.col("_c").alias(col_col),
        F.col("_n").cast("long").alias("n"),
        F.round(
            F.col("_wu").cast("double")
            / (F.col("_n").cast("double") * float(MICRO)),
            6,
        ).alias("weight"),
        F.round(ungrid(F.col("_rmf") - F.col("_rt"), MICRO), 6).alias("row_err"),
        F.round(ungrid(F.col("_cmf") - F.col("_ct"), MICRO), 6).alias("col_err"),
    )


def slice_overlap_matrix(
    df: DataFrame,
    group_col: str,
    index_col: Column,
    text_col: str = "text",
    n: int = 3,
    dp: int = 6,
    max_slices: int = 62,
) -> DataFrame:
    """Exact pairwise shingle-overlap matrix between corpus slices
    (sources, snapshots, languages): for every slice pair, the count of
    shared distinct word n-grams, the union size, and their Jaccard —
    the corpus-governance readout behind "how much does source A
    duplicate source B" (the exact companion to the KMV sketch overlap).

    Scale shape — ONE pass, no slice-pair self-join over shingles: each
    distinct shingle aggregates to a single BIGINT bitmask of the
    slices containing it (``bit_or(1 << slice_index)``, map-side
    combining), the mask table collapses to (mask -> shingle count) —
    bounded by co-occurrence patterns that actually exist, not by
    shingles — and each mask row explodes only into its own set-bit
    pairs (<= max_slices^2 fan-out per row). Per-slice distinct counts
    fall out of the same mask table, and union = |A| + |B| - inter.
    Compare: the naive inverted-index self-join shuffles every shingle
    once per containing-slice pair.

    ``index_col`` must map each slice to a distinct bit position in
    [0, max_slices); this is VALIDATED (driver-side count checks on the
    slice-label table, which is bounded by the number of slices).

    Returns (src_a, src_b, inter_sz, union_sz, jaccard) for pairs with
    at least one shared shingle.
    """
    sh = df.select(
        index_col.cast("int").alias("_i"),
        F.col(group_col).alias("_src"),
        F.explode(word_shingles(_c(text_col), n)).alias("_sh"),
    )
    labels = df.select(
        index_col.cast("int").alias("_i"), F.col(group_col).alias("_src")
    ).distinct()
    labels = materialize(labels)
    n_lab = labels.count()
    if n_lab == 0:
        return labels.select(
            F.col("_src").alias("src_a"),
            F.col("_src").alias("src_b"),
            F.lit(0).cast("long").alias("inter_sz"),
            F.lit(0).cast("long").alias("union_sz"),
            F.lit(0.0).alias("jaccard"),
        )
    bounds = labels.agg(
        F.min("_i").alias("lo"),
        F.max("_i").alias("hi"),
        F.count_distinct("_i").alias("nd"),
        F.count_distinct("_src").alias("ns"),
    ).collect()[0]
    if bounds["lo"] < 0 or bounds["hi"] >= max_slices:
        raise ValueError(
            f"slice index out of [0, {max_slices}): {bounds['lo']}..{bounds['hi']}"
        )
    # BOTH directions: a duplicated index merges two slices into one
    # bit; a duplicated label splits one slice across two bits (and
    # fabricates self-pairs)
    if bounds["nd"] != n_lab or bounds["ns"] != n_lab:
        raise ValueError("index_col does not map slices 1:1 to bits")
    masks = sh.groupBy("_sh").agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), _i)")).alias("m")
    )
    counts = masks.groupBy("m").agg(F.count(F.lit(1)).alias("c"))
    hi = int(bounds["hi"])
    bits = (
        f"filter(sequence(0, {hi}), b -> ((m >> b) & 1) = 1)"
    )
    per_src = counts.select(
        F.explode(F.expr(bits)).alias("_i"), "c"
    ).groupBy("_i").agg(F.sum("c").alias("_nsrc"))
    pair_expr = (
        f"flatten(transform({bits}, i -> "
        f"transform(filter({bits}, j -> j > i), "
        "j -> named_struct('i', i, 'j', j))))"
    )
    inter = (
        counts.select(F.explode(F.expr(pair_expr)).alias("_p"), "c")
        .groupBy(F.col("_p.i").alias("_ia"), F.col("_p.j").alias("_ib"))
        .agg(F.sum("c").alias("inter_sz"))
    )
    la = labels.select(F.col("_i").alias("_ia"), F.col("_src").alias("src_a"))
    lb = labels.select(F.col("_i").alias("_ib"), F.col("_src").alias("src_b"))
    na = per_src.select(F.col("_i").alias("_ia"), F.col("_nsrc").alias("_na"))
    nb = per_src.select(F.col("_i").alias("_ib"), F.col("_nsrc").alias("_nb"))
    out = (
        inter.join(F.broadcast(la), "_ia")
        .join(F.broadcast(lb), "_ib")
        .join(F.broadcast(na), "_ia")
        .join(F.broadcast(nb), "_ib")
    )
    union = F.col("_na") + F.col("_nb") - F.col("inter_sz")
    return out.select(
        "src_a",
        "src_b",
        F.col("inter_sz").cast("long").alias("inter_sz"),
        union.cast("long").alias("union_sz"),
        F.round(
            F.col("inter_sz").cast("double") / union.cast("double"), dp
        ).alias("jaccard"),
    )


def dup_ngram_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
    dp: int = 6,
) -> DataFrame:
    """Cross-document duplicated n-gram coverage — the memorization-risk
    readout of "Deduplicating Training Data Makes Language Models
    Better" (Lee et al. 2022): per document, the fraction of its
    DISTINCT word ``n``-grams that also occur in at least
    ``min_docs - 1`` OTHER documents. High coverage marks boilerplate /
    near-template docs whose spans the model will see many times even
    after doc-level exact dedup (the metric intra-doc repetition cannot
    see — that one is within-doc, this one is corpus-wide).

    Scale shape: one explode of per-doc-distinct shingles (so a gram
    counts each doc ONCE — the corpus count IS the doc frequency), one
    gram-keyed partial-agg count, one co-keyed join back, one per-doc
    agg. The exact-dedup class of plan: gram-keyed shuffles only, never
    pairwise. Heavy-tail grams (present in every doc) produce large
    count rows but fan back out through an equi-join, not a broadcast
    of the tail.

    Returns (id, n_grams, n_dup_grams, dup_frac) for EVERY input doc
    (docs shorter than ``n`` tokens report 0/0/0.0).
    """
    base = df.select(F.col(id_col).alias("_id"), _c(text_col).alias("_t"))
    g = base.select(
        "_id", F.explode(word_shingles(F.col("_t"), n)).alias("_g")
    )
    counts = g.groupBy("_g").agg(F.count(F.lit(1)).alias("_nd"))
    per = (
        g.join(counts, "_g")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("_nd") >= min_docs, 1).otherwise(0)
            ).alias("n_dup_grams"),
        )
    )
    out = base.select("_id").join(per, "_id", "left")
    ng = F.coalesce(F.col("n_grams"), F.lit(0))
    nd = F.coalesce(F.col("n_dup_grams"), F.lit(0))
    return out.select(
        F.col("_id").alias(id_col),
        ng.cast("long").alias("n_grams"),
        nd.cast("long").alias("n_dup_grams"),
        F.when(
            ng > 0,
            F.round(nd.cast("double") / ng.cast("double"), dp),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


def uniform_sample_exact(
    df: DataFrame,
    key_col: str,
    id_col: str,
    k: int = 100,
    oversample: float = 4.0,
) -> DataFrame:
    """Exact-k uniform sample per key by deterministic hash rank — the
    distributed replacement for a per-key reservoir sample: the k
    smallest md5 ranks of the id ARE a uniform k-subset, and the same
    rows come back on every engine and every rerun (reproducible eval
    subsets / debug samples from a 100 TB fact table).

    Scale path: a hash THRESHOLD pre-filter keeps ~``oversample * k``
    expected survivors per key before the rank window, so the per-key
    sort never sees the raw fact table. The pre-filter is
    exactness-GUARDED, not assumed: survivor counts are LEFT-joined
    against the full per-key counts (so a key whose rows were ALL
    dropped by the pre-filter still fails the check instead of
    vanishing from the output), the violation test is a distributed
    filter, and the driver collects at most one offending row for the
    error message — O(1) driver data regardless of key cardinality.
    Under-coverage raises rather than silently returning a biased
    sample. Rows with a NULL key are excluded up front (an equi-join
    can never sample them) rather than tripping the guard.

    Returns the sampled rows (all original columns) plus ``_rn`` (the
    1-based hash rank within the key).
    """
    if k <= 0 or oversample <= 0:
        raise ValueError("k and oversample must be positive")
    hv = F.conv(
        F.substring(F.md5(_c(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    # NULL keys are excluded from the sample (the equi-join below can
    # never match them), so they must be excluded from the coverage
    # guard too — otherwise a single NULL-key row aborts the job with
    # an "under-covered key" error no oversample can fix
    df = df.filter(F.col(key_col).isNotNull())
    n_per = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("_n"))
    joined = df.join(F.broadcast(n_per), key_col).withColumn("_hv", hv)
    frac = F.least(
        F.lit(1.0), F.lit(float(oversample * k)) / F.col("_n").cast("double")
    )
    surv = joined.filter(
        F.col("_hv").cast("double") < frac * F.lit(float(16 ** 8))
    )
    surv_cnt = surv.groupBy(key_col).agg(F.count(F.lit(1)).alias("_s"))
    bad = (
        n_per.join(surv_cnt, key_col, "left")
        .select(
            key_col,
            "_n",
            F.coalesce(F.col("_s"), F.lit(0)).alias("_s"),
        )
        .filter(F.col("_s") < F.least(F.lit(k), F.col("_n")))
    )
    offender = bad.limit(1).collect()
    if offender:
        r = offender[0]
        n_bad = bad.agg(F.count(F.lit(1)).alias("_c")).collect()[0]["_c"]
        raise ValueError(
            f"hash pre-filter under-covered {n_bad} key(s): e.g. key "
            f"{r[key_col]!r} kept {r['_s']} < min(k={k}, n={r['_n']}) "
            "rows; raise the oversample factor"
        )
    w = Window.partitionBy(key_col).orderBy("_hv", id_col)
    return (
        surv.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_n", "_hv")
    )


def decontaminate_spans(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    dp: int = 6,
) -> DataFrame:
    """SPAN-level train/eval decontamination accounting — the standard
    n-gram overlap removal protocol (GPT-3 appendix C / PaLM-style):
    every position where a corpus document's n-gram also occurs in the
    eval set marks its n tokens as contaminated; the union of those
    windows is what the cleaning pass would excise. Document-level
    flags (:func:`~..operators.dedup.contamination_check`) tell you
    WHICH docs overlap; this tells you HOW MUCH of each doc is
    removable — the number that decides "drop the doc" vs "cut the
    spans".

    Scale shape: eval n-grams are ONE distinct set, broadcast; the
    corpus makes a single positional-shingle pass (posexplode) into
    the broadcast join; covered-token counting explodes only HIT
    windows (n rows per hit). No corpus shuffle before the match
    filter, no pairwise stage.
    Both sides' grams are :func:`text._ngrams` (the eval side through
    ``word_shingles``), so the join matches on one spelling.

    Returns per corpus doc: (id, n_tokens, n_gram_hits,
    n_tokens_covered, frac_covered) — every corpus doc reported,
    zero-filled when clean.
    """
    # the tokenized corpus feeds BOTH the positional-shingle pass and
    # the per-doc length readout: spread past a single-file scan and cut
    # the lineage so tokenization runs once (round-12, guide §1.2/§2.5)
    toked = materialize(spread_small_scan(corpus).select(
        F.col(id_col).alias("_id"), tokens(_c(text_col)).alias("_toks")
    ), eager=False)
    ev_grams = (
        eval_df.select(
            F.explode(word_shingles(_c(text_col), n)).alias("_g")
        )
        .distinct()
    )
    posgrams = toked.select(
        "_id",
        F.posexplode(_ngrams(F.col("_toks"), n)).alias("_p", "_g"),
    )
    hits = posgrams.join(F.broadcast(ev_grams), "_g").select("_id", "_p")
    cov = (
        hits.withColumn(
            "_cp", F.explode(F.sequence(F.col("_p"), F.col("_p") + n - 1))
        )
        .groupBy("_id")
        .agg(
            F.countDistinct("_p").alias("n_gram_hits"),
            F.countDistinct("_cp").alias("n_tokens_covered"),
        )
    )
    base = toked.select("_id", F.size("_toks").alias("n_tokens"))
    out = base.join(cov, "_id", "left")
    nh = F.coalesce(F.col("n_gram_hits"), F.lit(0))
    nc = F.coalesce(F.col("n_tokens_covered"), F.lit(0))
    return out.select(
        F.col("_id").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        nh.cast("long").alias("n_gram_hits"),
        nc.cast("long").alias("n_tokens_covered"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(nc.cast("double") / F.col("n_tokens"), dp),
        )
        .otherwise(F.lit(0.0))
        .alias("frac_covered"),
    )
