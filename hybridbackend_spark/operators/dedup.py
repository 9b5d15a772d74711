"""Deduplication operators for large-scale corpus curation: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design notes (the point of each algorithm at 100 TB):
- exact: one hash-groupBy — the shuffle key is a 64-bit content hash, not
  the document body, so shuffle volume is rows x ~40 bytes.
- MinHash+LSH: signatures via explode + partial-aggregated mins (shuffle =
  |ids| x num_hashes longs, independent of document length); candidates
  via banded bucket self-join. Collisions within a band bucket are the
  ONLY pairs ever compared — never the quadratic all-pairs.
- SimHash: sketch via explode + bit-vote sums (same shape), candidates via
  banded key equality (catches pairs within Hamming distance < bands).
- n-gram Jaccard: exact pairs from a hashed-shingle inverted index with
  per-pair common counts out of the join's groupBy; ``max_df`` caps
  heavy-tail shingles at extreme scale.
- embedding cosine: exact within LSH/IVF buckets — see similarity module.

Everything is expression-level: no Python UDFs at all.
MinHash permutations use the affine trick: h_k(x) = (a_k * x + b_k) mod p
over a single xxhash64 of each shingle — one hash per shingle, k cheap
affine maps (standard MinHash construction, cf. Broder '97).
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from .._materialize import materialize
from .text import spread_small_scan, tokens, word_shingles

__all__ = [
    "content_hash",
    "exact_dedup",
    "exact_dedup_keep",
    "minhash_signatures",
    "minhash_band_rows",
    "minhash_lsh_candidates",
    "minhash_lsh_dedup",
    "minhash_lsh_join",
    "simhash_sketches",
    "simhash_candidates",
    "ngram_jaccard_pairs",
    "prefix_setsim_join",
    "cosine_near_dup_pairs",
    "semantic_dedup",
    "semantic_dedup_tree",
    "contamination_check",
    "blocked_levenshtein_pairs",
]

# Mersenne prime 2^31-1: small enough that (h * a + b) stays inside a
# signed 64-bit long (ANSI mode rejects overflow), large enough for MinHash.
_MERSENNE_P = (1 << 31) - 1


def _portable_hash(col: Column, hex_digits: int) -> Column:
    """Deterministic integer hash reproducible in ANY engine with md5:
    the first ``hex_digits`` md5 hex digits as an integer (DuckDB:
    ``('0x' || substr(md5(x), 1, n))::BIGINT``). ``hex_digits <= 15`` so
    the value fits a signed 64-bit long exactly in every engine.

    xxhash64 (the default base hash) is faster but engine-specific;
    portable mode trades ~one md5 per shingle for an oracle that can
    recompute the identical signatures.
    """
    if not 0 < hex_digits <= 15:
        raise ValueError("hex_digits must be in (0, 15]")
    return F.conv(F.substring(F.md5(col), 1, hex_digits), 16, 10).cast("long")


def content_hash(col: Column | str, normalize: bool = True) -> Column:
    """64-bit content hash for exact dedup. ``normalize`` lowercases and
    collapses whitespace first (whitespace-insensitive exactness)."""
    c = F.col(col) if isinstance(col, str) else col
    if normalize:
        c = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.xxhash64(c)


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, normalize: bool = True
) -> DataFrame:
    """Exact deduplication keeping the smallest id per normalized content:
    one hash-groupBy on the content hash. Returns the surviving rows'
    ids + group sizes (dup_count)."""
    h = content_hash(text_col, normalize).alias("_h")
    return (
        df.select(F.col(id_col), h)
        .groupBy("_h")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("_h")
    )


def exact_dedup_keep(
    df: DataFrame, text_col: str, id_col: str, normalize: bool = True
) -> DataFrame:
    """Exact dedup that returns the surviving ROWS (all columns), not
    just ids: keep the smallest ``id_col`` per normalized content.

    Same survivor set as ``exact_dedup(df, ...)`` followed by a join
    back on ``id_col`` — but computed as one min-window over the content
    hash and a filter, so a pipeline that needs the survivors' payload
    columns pays ONE exchange (by content hash) instead of two (the
    dedup groupBy plus the id join) and evaluates ``df``'s projection
    once instead of once per join side (round-12, guide §2.4: two
    operations keyed the same way share one exchange; the join-back
    re-evaluated the upstream quality scoring on both sides)."""
    h = content_hash(text_col, normalize)
    w = Window.partitionBy(h)
    return (
        df.withColumn("_min_id", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_min_id"))
        .drop("_min_id")
    )


def _affine_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine MinHash maps (python-side
    constants; folded into the plan as literals)."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_P - 1), rng.randrange(0, _MERSENNE_P - 1))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """MinHash signatures as ``num_hashes`` columns ``mh0..mhK`` per id.

    Plan shape (the scale-correct one): shingle -> xxhash64 -> explode ->
    ONE groupBy(id) with ``num_hashes`` partial-aggregated ``min`` exprs
    (each an affine map of the same base hash modulo a Mersenne prime).
    Map-side combine collapses each partition to one row per id before the
    shuffle, so shuffle volume is |ids| x num_hashes longs regardless of
    document length. (A single per-row expression tree recomputing the
    shingle array per hash function dies in codegen — measured, not
    guessed.)

    Empty documents get the sentinel ``_MERSENNE_P`` in every slot.

    ``portable=True`` swaps the xxhash64 base hash for the md5-derived
    :func:`_portable_hash` so an external SQL engine can recompute the
    exact signatures (the DuckDB oracle does) — same plan shape, ~one
    md5 per shingle extra cost.
    """
    base = (
        _portable_hash(F.col("_s"), 8) % _MERSENNE_P
        if portable
        else F.abs(F.xxhash64("_s")) % _MERSENNE_P
    )
    df = spread_small_scan(df)
    sh = df.select(
        F.col(id_col),
        F.explode_outer(word_shingles(text_col, shingle_n)).alias("_s"),
    ).select(
        # Keep nulls null: docs with < shingle_n tokens shingle to [],
        # which explode_outer turns into one null row; xxhash64 skips
        # null inputs and would hash to the seed, masking the sentinel.
        id_col,
        F.when(F.col("_s").isNotNull(), base).alias("_h"),
    )
    aggs = [
        F.coalesce(
            F.min((F.col("_h") * a + b) % _MERSENNE_P), F.lit(_MERSENNE_P)
        ).alias(f"mh{k}")
        for k, (a, b) in enumerate(_affine_coeffs(num_hashes, seed))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_band_rows(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bucket) LSH index rows from a :func:`minhash_signatures`
    frame — the banding step factored out so the streaming incremental
    dedup (``streaming.dedup_stream``) can maintain the index as an
    APPEND-ONLY table across microbatches (band keys are a deterministic
    function of the document alone). Empty-document sentinel signatures
    are excluded: they can never verify (Jaccard over empty shingle sets
    is null), and they form the worst all-collide bucket. A non-empty
    doc's minhash is always < ``_MERSENNE_P`` (it is a value mod P);
    only the sentinel equals P, so one comparison removes every
    sentinel row."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    band_keys = [
        F.xxhash64(
            F.lit(b), F.concat_ws(",", *[F.col(f"mh{b * r + j}") for j in range(r)])
        )
        for b in range(bands)
    ]
    return sig.filter(F.col("mh0") != _MERSENNE_P).select(
        F.col(id_col), F.posexplode(F.array(*band_keys)).alias("band", "bucket")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    portable: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH over MinHash
    signatures: rows whose signature agrees on ALL rows of any band land in
    the same bucket. Returns distinct (id_a, id_b) with id_a < id_b.

    Plan shape: signatures (see :func:`minhash_signatures`) -> ``bands``
    bucket keys per row -> posexplode -> self-join on (band, bucket).
    Collisions within a band bucket are the only pairs ever compared —
    never the quadratic all-pairs.

    Degenerate buckets: empty documents (sentinel signature) are excluded
    from banding unconditionally — they can never verify (Jaccard over
    empty shingle sets is null), so exclusion is semantics-preserving for
    dedup while removing the worst all-collide bucket. ``max_bucket``
    additionally DROPS any (band, bucket) whose member count exceeds the
    cap before the self-join — a hard quadratic-fan-out bound that AQE
    skew-splitting alone cannot provide (it splits a hot key's work, but
    the pair count inside one bucket is still n^2). Documented
    approximation: pairs that agree ONLY on capped bands are missed; with
    boilerplate-heavy corpora those buckets are near-identical slabs whose
    members still collide on their other bands, so measured recall on
    normal near-dup pairs is unchanged (tests/test_dedup_similarity.py).
    Mirrors the ``max_df`` heavy-tail guard of
    :func:`ngram_jaccard_pairs`.

    The self-join references the signature subtree twice, so signatures
    are persisted for the duration of ONE eager computation of the
    candidate pairs (``materialize``), then unpersisted — no cached
    blocks outlive the call, and the returned DataFrame is a
    materialized, lineage-free pair list (the ContextCleaner releases
    its checkpoint when the DataFrame is dropped).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    sig = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n, seed, portable
    )
    sig = sig.persist()
    try:
        with_bands = minhash_band_rows(sig, id_col, num_hashes, bands)
        if max_bucket is not None:
            ok = (
                with_bands.groupBy("band", "bucket")
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") <= max_bucket)
                .select("band", "bucket")
            )
            # same (band, bucket) key as the self-join below — the extra
            # aggregate co-partitions with it, no new shuffle of the pairs
            with_bands = with_bands.join(ok, ["band", "bucket"])
        a = with_bands.alias("a")
        b = with_bands.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
            )
            .distinct()
        )
        return materialize(pairs)
    finally:
        sig.unpersist()


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    portable: bool = False,
    max_bucket: int | None = None,
    keep: str = "min_id",
) -> DataFrame:
    """Near-dup dedup: LSH candidates -> exact Jaccard verify at
    ``threshold`` -> keep ONE representative per CONNECTED COMPONENT of
    verified pairs (true transitive closure via iterative min-label
    propagation, :func:`~hybridbackend_spark.operators.graph.
    connected_components` — a chain A~B~C keeps only one doc even when
    A and C are not directly similar).

    ``keep`` selects the canonical representative:
    - ``"min_id"``: the smallest id (cheapest — the component label IS
      the winner, no extra pass);
    - ``"longest"``: the longest document (``length(trim(text))``, ties
      to the smaller id) — what curation pipelines actually keep, since
      near-dup clusters usually contain truncated variants of one
      source. One extra tiny aggregate over the clustered ids only.

    Returns surviving ids.
    """
    if keep not in ("min_id", "longest"):
        raise ValueError("keep must be 'min_id' or 'longest'")
    from .graph import connected_components

    cands = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_n, seed, portable,
        max_bucket,
    )
    verified = _verify_jaccard(df, cands, text_col, id_col, shingle_n, threshold)
    comp = connected_components(verified, "id_a", "id_b")
    if keep == "min_id":
        losers = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
    else:
        quality = df.select(
            F.col(id_col).alias("_qid"),
            F.length(F.trim(F.col(text_col))).alias("_q"),
        )
        ranked = comp.join(quality, comp.id == F.col("_qid")).select(
            "id", "component", "_q"
        )
        winners = (
            ranked.groupBy("component")
            .agg(F.min(F.struct((-F.col("_q")).alias("nq"), F.col("id").alias("i"))).alias("_w"))
            .select(F.col("_w.i").alias("_win"))
        )
        losers = comp.select("id").join(
            winners, comp.id == F.col("_win"), "left_anti"
        ).select(F.col("id").alias(id_col))
    return df.select(id_col).distinct().join(losers, id_col, "left_anti")


def _verify_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    threshold: float,
) -> DataFrame:
    # Only documents that appear in a candidate pair need shingles: a
    # semi-join against the pair ids (small — broadcast by AQE) before
    # the shingle projection skips tokenize+shingle for every
    # non-candidate doc (round-12, guide §2.3 "project before the
    # exchange" applied to an opaque-cost expression: the shingle array
    # was computed for the whole corpus, then joined away). In the
    # streaming incremental dedup this is the difference between
    # per-batch O(touched docs) and per-batch O(corpus-so-far).
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = df.join(cand_ids, id_col, "left_semi").select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("_sh")
    )
    j = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("_sh", "_sha"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("_sh", "_shb"), "id_b")
        .withColumn("_inter", F.size(F.array_intersect("_sha", "_shb")))
        .withColumn(
            "jaccard",
            F.col("_inter")
            / (F.size("_sha") + F.size("_shb") - F.col("_inter")).cast("double"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def simhash_sketches(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_bits: int = 48,
    portable: bool = False,
) -> DataFrame:
    """SimHash sketch per id (column ``sketch``, long): for each bit
    position, sum +1/-1 votes of each token-hash bit; sign -> bit.

    Same explode -> partial-agg shape as :func:`minhash_signatures`:
    tokens -> xxhash64 -> explode -> groupBy(id) with ``num_bits``
    conditional-sum aggregates -> bits assembled into one long.
    ``num_bits <= 63`` to stay in signed range (``<= 60`` with
    ``portable=True`` — the md5-derived base hash carries 60 bits).
    """
    if not 0 < num_bits <= (60 if portable else 63):
        raise ValueError("num_bits out of range for this base hash")
    base = (
        _portable_hash(F.col("_t"), 15)
        if portable
        else F.xxhash64("_t")
    )
    toks = spread_small_scan(df).select(
        F.col(id_col), F.explode_outer(tokens(text_col)).alias("_t")
    ).select(id_col, base.alias("_h"))
    votes = [
        F.sum(
            F.when(F.shiftright("_h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(num_bits)
    ]
    voted = toks.groupBy(id_col).agg(*votes)
    sketch = F.lit(0).cast("long")
    for i in range(num_bits):
        sketch = sketch + F.when(
            F.coalesce(F.col(f"v{i}"), F.lit(0)) > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return voted.select(F.col(id_col), sketch.alias("sketch"))


def simhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_bits: int = 48,
    bands: int = 4,
    portable: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup candidates via SimHash banding: split the sketch into
    ``bands`` contiguous bit blocks; docs sharing any block are candidates
    (guaranteed to catch pairs within Hamming distance < bands).

    Empty documents are excluded before sketching — they all vote to the
    same degenerate sketch and would form an all-collide bucket in every
    band. ``max_bucket`` drops any (band, block) bucket larger than the
    cap before the self-join, bounding the quadratic fan-out a boilerplate
    block would otherwise produce (same guard and recall caveat as
    :func:`minhash_lsh_candidates`)."""
    r = num_bits // bands
    nonempty = df.filter(F.size(tokens(F.col(text_col))) > 0)
    sk = simhash_sketches(nonempty, text_col, id_col, num_bits, portable)
    mask = (1 << r) - 1
    with_bands = sk.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.shiftright("sketch", b * r).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band", "block"),
    )
    if max_bucket is not None:
        ok = (
            with_bands.groupBy("band", "block")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket)
            .select("band", "block")
        )
        with_bands = with_bands.join(ok, ["band", "block"])
    a, b = with_bands.alias("a"), with_bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (J >= threshold) via a hashed
    shingle inverted index: explode distinct shingles -> hash to long ->
    self-join on the hash -> per-pair common count -> Jaccard from
    |a|, |b|, |common|. No array intersections — the common count comes
    out of the join's groupBy (map-side combined), and the join carries
    only (id, hash64) rows.

    Join fan-out is sum(df_g^2) over shingles g. On natural-language
    corpora this is benign after distinct-per-doc shingling; for
    heavy-tailed corpora (boilerplate shingles with df in the millions)
    set ``max_df`` to drop ubiquitous shingles from the index (documented
    approximation: Jaccard then ignores those shingles) or use
    ``minhash_lsh_candidates`` + verify as the discovery path.
    """
    sh = spread_small_scan(df).select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("_sh")
    )
    inv = sh.select(id_col, F.explode("_sh").alias("_g")).select(
        id_col, F.xxhash64("_g").alias("_h")
    )
    if max_df is not None:
        ok = (
            inv.groupBy("_h")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("_h")
        )
        inv = inv.join(ok, "_h")
        sizes_src = inv.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    else:
        sizes_src = sh.select(id_col, F.size("_sh").alias("_n"))
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(
            b,
            (F.col("a._h") == F.col("b._h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    sa = sizes_src.select(F.col(id_col).alias("id_a"), F.col("_n").alias("_na"))
    sb = sizes_src.select(F.col(id_col).alias("id_b"), F.col("_n").alias("_nb"))
    # no broadcast hint: sizes is per-DOC (fact-proportional) — a forced
    # broadcast OOMs the driver at corpus scale; AQE still auto-picks
    # broadcast when the table is genuinely small
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("_common")
            / (F.col("_na") + F.col("_nb") - F.col("_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def prefix_setsim_join(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    tau_num: int = 1,
    tau_den: int = 2,
    max_prefix_bucket: int = 20_000,
    strategy: str = "auto",
) -> DataFrame:
    """EXACT-threshold set-similarity self-join (token-set Jaccard >=
    tau_num/tau_den) via PPJoin prefix filtering — the scalable exact
    companion to the approximate LSH family and to
    :func:`ngram_jaccard_pairs` (whose inverted index explodes EVERY
    token).

    Theorem (prefix filter): order each set's tokens by a global total
    order (document frequency ascending, then token — rare first). If
    J(A, B) >= tau then |A ∩ B| >= tau*|A| (from J >= tau and |B| >=
    |A ∩ B|), so fewer than ceil(tau*|A|) tokens of A are outside the
    intersection — A and B MUST share a token within A's first
    p_A = |A| - ceil(tau*|A|) + 1 tokens (and symmetrically B's).
    Candidate generation therefore explodes only prefixes (a
    (1-tau)-fraction of each set), joins on the token, and cannot miss
    a qualifying pair.

    Over-generation is cut BEFORE any pair materializes downstream,
    with the two standard exactness-preserving in-join filters
    (Xiao et al. '08 PPJoin):

    - LENGTH: J >= n/d forces n*max(|A|,|B|) <= d*min(|A|,|B|).
    - POSITIONAL: for the matching prefix token at ranks (rA, rB), the
      witness with minimal rank has no common token before it (a
      common earlier token would itself be a prefix match on both
      sides — contradiction), so i <= 1 + min(|A|-rA, |B|-rB); a true
      pair must pass ``ub*(d+n) >= n*(|A|+|B|)`` at that witness, and
      since ub grows as ranks shrink, per-row filtering keeps a pair
      iff its minimal witness passes.

    Verification then joins each surviving pair to its two (distinct)
    token ARRAYS and counts ``size(array_intersect(A, B))`` — one row
    per candidate pair, never the pair x tokens explode. (The round-8
    100x scale tier caught the exploded form sorting ~1.7 BILLION
    intermediate rows through a merge join and spilling the disk full
    at 500k docs; the array verify shuffles each pair once. The exact
    integer verify ``i*(d+n) >= n*(|A|+|B|)`` keeps the result EQUAL
    to brute force — no float thresholds.)

    TWO exact strategies, regime-matched (``strategy="auto"`` picks by
    tau; both return identical results — the difference is the plan):

    - ``"index"`` (auto for tau < 0.7): intersection counts straight
      off the full inverted index — ``a JOIN b USING (token)`` grouped
      per pair with map-side combine; shuffle = one (id, id, count) row
      per co-shingle pair, no arrays, no candidate stage. At low tau
      the prefix is ~half of every set anyway, so prefix filtering
      saves little while its array verify ships every candidate's
      token arrays: the round-8 100x tier measured the prefix path at
      16.8 GB shuffled / 14 GB spilled for 500k docs where the index
      path ships <1 GB.
    - ``"prefix"`` (auto for tau >= 0.7): PPJoin — short rare-token
      prefixes generate candidates even when the FULL index has fat
      buckets; in-join length+positional filters prune; verify via
      ``size(array_intersect(A, B))`` per surviving pair (never the
      pair x tokens explode, which the 100x tier caught sorting ~1.7B
      intermediate rows and spilling the disk full).

    Scale shape at 100 TB: enumeration cost is sum over index-token
    buckets of C(bucket, 2) — bounded for natural shingle units and
    GUARDED, not assumed: ``max_prefix_bucket`` raises on
    boilerplate-shingle corpora (a shared shingle in >20k docs means
    quadratic enumeration on that bucket in EITHER scheme — dedup
    boilerplate first, use a larger shingle unit, or raise the cap
    deliberately). No stage is all-pairs. Reference parity: the
    reference has no set-similarity join; this is north-star
    corpus-curation surface (Chaudhuri et al. '06 prefix filter,
    Xiao et al. '08 PPJoin).
    """
    n, d = tau_num, tau_den
    if not 0 < n <= d:
        raise ValueError(f"need 0 < tau_num <= tau_den, got {n}/{d}")
    if strategy not in ("auto", "prefix", "index"):
        raise ValueError("strategy must be auto|prefix|index")
    if strategy == "auto":
        strategy = "prefix" if 10 * n >= 7 * d else "index"
    # the inverted index is read 4-5x (bucket guard, sizes, both join
    # sides / dfreq+ranked+tsets): materialize it once instead of
    # re-tokenizing the corpus per reference (round-12, guide §1.2; the
    # guard's collect is an action anyway, so the eager cut adds no
    # extra job)
    tok = materialize(
        spread_small_scan(df)
        .select(F.col(id_col), F.explode(tokens_col).alias("_t"))
        .distinct()
    )
    sizes = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("_sz"))

    def _bucket_guard(index_df, what: str) -> None:
        biggest = (
            index_df.groupBy("_t")
            .agg(F.count(F.lit(1)).alias("_c"))
            .agg(F.max("_c").alias("_mx"))
            .collect()[0]["_mx"]
        )
        if biggest is not None and biggest > max_prefix_bucket:
            raise ValueError(
                f"a {what} token occurs in {biggest} documents > "
                f"max_prefix_bucket={max_prefix_bucket}: candidate "
                "enumeration is quadratic in that bucket. Dedup "
                "boilerplate first, use a larger shingle unit, or raise "
                "the cap deliberately."
            )

    if strategy == "index":
        _bucket_guard(tok, "shingle-index")
        ia = tok.select(F.col(id_col).alias("id_a"), "_t")
        ib = tok.select(F.col(id_col).alias("id_b"), "_t")
        inter = (
            ia.join(ib, "_t")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter_sz"))
        )
        saj = sizes.select(
            F.col(id_col).alias("id_a"), F.col("_sz").alias("_sa")
        )
        sbj = sizes.select(
            F.col(id_col).alias("id_b"), F.col("_sz").alias("_sb")
        )
        return (
            inter.join(saj, "id_a")
            .join(sbj, "id_b")
            .filter(
                F.col("inter_sz") * (d + n)
                >= n * (F.col("_sa") + F.col("_sb"))
            )
            .select(
                "id_a",
                "id_b",
                F.col("inter_sz").cast("long").alias("inter_sz"),
                (F.col("_sa") + F.col("_sb") - F.col("inter_sz"))
                .cast("long")
                .alias("union_sz"),
            )
        )

    dfreq = tok.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    ranked = tok.join(dfreq, "_t").withColumn(
        "_rk",
        F.row_number().over(Window.partitionBy(id_col).orderBy("_df", "_t")),
    )
    # prefix length |A| - ceil(tau*|A|) + 1, all integer arithmetic
    pref = ranked.join(sizes, id_col).filter(
        F.col("_rk")
        <= F.expr(f"_sz - (({n} * _sz + {d - 1}) DIV {d}) + 1")
    )
    _bucket_guard(pref, "prefix")
    a = pref.select(
        F.col(id_col).alias("id_a"), "_t",
        F.col("_rk").alias("_rka"), F.col("_sz").alias("_sa"),
    )
    b = pref.select(
        F.col(id_col).alias("id_b"), "_t",
        F.col("_rk").alias("_rkb"), F.col("_sz").alias("_sb"),
    )
    sa, sb = F.col("_sa"), F.col("_sb")
    ub = 1 + F.least(sa - F.col("_rka"), sb - F.col("_rkb"))
    cand = (
        a.join(b, "_t")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (n * F.greatest(sa, sb) <= d * F.least(sa, sb))
            & (ub * (d + n) >= n * (sa + sb))
        )
        .groupBy("id_a", "id_b")
        .agg(F.first("_sa").alias("_sa"), F.first("_sb").alias("_sb"))
    )
    tsets = tok.groupBy(id_col).agg(F.collect_list("_t").alias("_ts"))
    va = tsets.select(F.col(id_col).alias("id_a"), F.col("_ts").alias("_tsa"))
    vb = tsets.select(F.col(id_col).alias("id_b"), F.col("_ts").alias("_tsb"))
    inter = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "inter_sz",
            F.size(F.array_intersect(F.col("_tsa"), F.col("_tsb")))
            .cast("long"),
        )
    )
    return (
        inter
        # J = i/(|A|+|B|-i) >= n/d  <=>  i*(d+n) >= n*(|A|+|B|)
        .filter(
            F.col("inter_sz") * (d + n) >= n * (F.col("_sa") + F.col("_sb"))
        )
        .select(
            "id_a",
            "id_b",
            "inter_sz",
            (F.col("_sa") + F.col("_sb") - F.col("inter_sz"))
            .cast("long")
            .alias("union_sz"),
        )
    )


def _md5_shards(
    cells: DataFrame, cell: str, id_col: str, max_cell_rows: int | None
) -> DataFrame:
    """Add ``_shard`` to rows keyed by ``cell``: a cell larger than
    ``max_cell_rows`` rows is sub-split into ``ceil(|cell| /
    max_cell_rows)`` shards by a deterministic md5 hash of the id (so an
    oracle can replay the split bit-for-bit at any scale); smaller
    cells, and every cell when ``max_cell_rows`` is None, are shard 0.
    Comparing pairs only within a shard bounds the work at
    ``max_cell_rows / 2`` pairs per row and probed cell, LINEAR in n
    where a fixed cell count makes it O(n^2 / k); pairs across shards of
    an oversized cell go uncompared."""
    if max_cell_rows is None:
        return cells.withColumn("_shard", F.lit(0))
    if max_cell_rows < 1:
        raise ValueError("max_cell_rows must be >= 1")
    counts = cells.groupBy(cell).agg(F.count(F.lit(1)).alias("_cn"))
    return (
        cells.join(F.broadcast(counts), cell)
        .withColumn(
            "_nsh",
            F.expr(
                f"CAST((_cn + {max_cell_rows - 1}) DIV {max_cell_rows} "
                "AS INT)"
            ),
        )
        .withColumn(
            "_shard",
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.col(id_col).cast("string")), 1, 4),
                    16,
                    10,
                ).cast("int"),
                F.col("_nsh"),
            ),
        )
        .drop("_cn", "_nsh")
    )


def _int8_sketch(vecs: DataFrame, *keep: str) -> DataFrame:
    """The int8 sketch ``(*keep, _s, _q)`` of ``(_v, _nrm)`` rows,
    checkpointed: the UNIT vector quantized to int8 bytes (8x smaller
    than doubles) plus its per-vector scale ``_s = max|u|``.

    NaN-proof guards throughout: Spark evaluates NaN > 0 as TRUE (NaN
    orders above everything), and round(NaN).cast("byte") ABORTS under
    ANSI. Zero/NaN norms quantize to all-zero and take
    :func:`_int8_bound`'s always-pass margin, so a corrupt embedding
    falls through to the exact verify (which NULLs its cosine): it is
    never pruned, never accepted early, and never kills the job."""
    nrm_ok = (F.col("_nrm") > 0) & ~F.isnan(F.col("_nrm"))
    u = F.transform(
        F.col("_v"),
        lambda x: F.when(nrm_ok, x / F.col("_nrm")).otherwise(F.lit(0.0)),
    )
    lite = vecs.withColumn("_u", u).withColumn(
        "_s", F.array_max(F.transform(F.col("_u"), F.abs))
    )
    q = F.when(
        (F.col("_s") > 0) & ~F.isnan(F.col("_s")),
        F.transform(
            F.col("_u"),
            lambda x: F.round(x / F.col("_s") * 127).cast("byte"),
        ),
    ).otherwise(F.transform(F.col("_u"), lambda x: F.lit(0).cast("byte")))
    # materialize the per-id sketch ONCE (round-12, found via the
    # bucketed near-dup arm: 6x wall regression without it): projection
    # collapse inlines the _s subtree (array_max over the unit vector)
    # into q's per-element lambda — a dim^2 blowup per row — and
    # re-evaluates the sketch on both sides of the pair join. Bounded:
    # n x (dim + ~40) bytes.
    return materialize(lite.select(*keep, "_s", q.alias("_q")))


def _int8_bound(
    qa: Column, qb: Column, sa: Column, sb: Column
) -> tuple[Column, Column]:
    """``(approx, margin)`` for two :func:`_int8_sketch` rows: the
    quantized cosine and a PROVABLE bound on its error. With
    u = v/|v|, s = max|u| and per-element error <= s/254,
    |cos - approx| <= sqrt(d)*(s_a + s_b)/254 + d*s_a*s_b/254^2, so
    keeping ``approx >= threshold - margin`` can never drop a pair the
    exact verify would keep."""
    dq = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x.cast("int") * y.cast("int")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ).cast("double")
    d = F.size(qa).cast("double")
    approx = dq * sa * sb / F.lit(127.0 * 127.0)
    # zero/NaN-scale rows always pass to the exact verify, which alone
    # decides their fate (NULL cosine -> dropped): cos is in [-1, 1], so
    # margin 2 is an always-pass, and a NaN approx lands there via the
    # isnan() terms — Spark's NaN-orders-above-all comparisons can't
    # sneak a corrupt pair past
    margin = F.when(
        (sa == 0) | (sb == 0) | F.isnan(sa) | F.isnan(sb), F.lit(2.0)
    ).otherwise(
        F.sqrt(d) * (sa + sb) / F.lit(254.0)
        + d * sa * sb / F.lit(254.0 * 254.0)
        # the exact verify rounds cos to 6 dp half-up, so a pair at
        # cos = threshold - 5e-7 still rounds up to threshold and is
        # KEPT there — the filter's slack must cover that too or the
        # superset claim has a 5e-7 hole
        + F.lit(5e-7)
    )
    return approx, margin


def _exact_cos(pairs: DataFrame, vecs: DataFrame, id_col: str) -> DataFrame:
    """``(id_a, id_b, cos)``: ``(id_a, id_b)`` pairs joined on both ids
    to the ``(_v, _nrm)`` rows of ``vecs`` (each vector shipped once
    per pair, keyed by id) and scored with the 6-dp guarded cosine."""
    from .similarity import _cos6

    def side(s: str) -> DataFrame:
        return vecs.select(
            F.col(id_col).alias(f"id_{s}"),
            F.col("_v").alias(f"_v{s}"),
            F.col("_nrm").alias(f"_n{s}"),
        )

    return (
        pairs.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .select(
            "id_a",
            "id_b",
            _cos6(
                F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
            ).alias("cos"),
        )
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    bucket_bits: int = 0,
    seed: int = 7,
    dim: int = 64,
    n_tables: int = 1,
    int8_filter: bool | str = "auto",
    blocking: str = "auto",
    ivf_k: int = 8,
    n_probe: int = 2,
    kmeans_iters: int = 2,
    centroids: list[list[float]] | None = None,
    max_cell_rows: int | None = 10_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs. ``bucket_bits = 0`` compares
    all pairs (exact; quadratic — small corpora / verify stage only).
    ``bucket_bits = k`` buckets vectors by k random-hyperplane signs in
    each of ``n_tables`` independent tables (deterministic seeded planes);
    only pairs sharing a bucket in SOME table are compared — the scale
    path. Recall per pair is 1-(1-p^k)^T with p = 1-theta/pi; tune k down
    or T up to raise recall. ``dim`` must match the embedding
    dimensionality (raises per-row otherwise — a mismatch would silently
    degenerate bucketing to one bucket).

    Scale shape: the self-join shuffles only (id, table, bucket) rows —
    vectors are re-joined afterwards for the surviving candidates, so
    shuffle volume is |ids| x T keys, not T copies of the embeddings.

    ``int8_filter`` (round-12; the :func:`semantic_dedup` int8 pass
    offered on the bucketed pair plan — same candidate-pairs shape, same
    768-d doubles blowup): before re-joining the full double vectors,
    candidate pairs first join the int8 unit-vector sketches (dim BYTES
    per side instead of 8 x dim), and pairs whose approximate cosine is
    provably below ``threshold`` are pruned — the same error bound as
    the semantic path (|cos - approx| <= sqrt(d)(s_a+s_b)/254 +
    d s_a s_b / 254^2, plus the verify's 6-dp rounding slack), so the
    survivor set is a PROVABLE SUPERSET of the true pairs and the
    output is bit-for-bit the unfiltered path's. Unlike
    ``semantic_dedup`` there is no accept-sure branch: this operator
    EMITS the exact rounded cosine, so every surviving pair must reach
    the exact verify regardless — the win is pruning the
    below-threshold bulk (at near-dup thresholds most bucket collisions
    score far below) out of the two shuffling double-vector joins.
    ``"auto"`` resolves on ``dim`` like the semantic knob (on at >=
    ``_INT8_AUTO_MIN_DIM``, off below — testdata dim-64 plans and oracle
    hashes unchanged); ignored when ``bucket_bits = 0`` (the quadratic
    arm scores the cross join directly — there is no pair list to
    prune).

    ``blocking`` (round-13, VERDICT item 6 — the last high-dim vector
    entry point without the ANN router): how candidate pairs are
    BLOCKED when ``bucket_bits > 0``. ``"lsh"`` = the sign-hyperplane
    tables above; ``"ivf"`` = assign each vector to its ``n_probe``
    nearest of ``ivf_k`` trained centroids
    (:func:`~.similarity.kmeans_train`, deterministic — or pass
    ``centroids``) and compare pairs sharing a probed cell — the
    trained quantizer adapts to cluster structure where random
    hyperplanes degrade at high dim (BENCH_SCALE ``ann_hd``: recall@5
    1.0 vs 0.75 at 768d at a third of the cost; the ``ann_dim_sweep``
    boundary evidence put the cutoff at 128). ``"auto"`` (default)
    routes on the vector width via the shared
    ``similarity.ANN_AUTO_IVF_MIN_DIM`` cutoff: LSH below 128 dims
    (the value-oracled regime — dim-64 declared queries are
    bit-unchanged), IVF at or above. Both arms share the verify
    pipeline (int8 pre-filter + exact cosine), so the emitted pairs
    are exactly-scored either way; which near-dups are FOUND remains
    recall-by-design, as for any blocking choice.

    ``max_cell_rows`` (IVF arm only): in-cell pair enumeration is
    quadratic in cell population — with a FIXED ``ivf_k`` that is
    O(n^2 / k), a scale hazard no blocking scheme should default to
    (the first bench run of the unguarded arm filled the disk). Cells
    larger than the bound are sub-split into
    ``ceil(|cell| / max_cell_rows)`` deterministic md5 shards and
    pairs compared only within a shard — work <= n * max_cell_rows
    * n_probe / 2, LINEAR in n; the same fidelity trade (and the same
    shard hash) as :func:`semantic_dedup`'s cap. Size ``ivf_k`` so
    cells stay under the cap when recall matters; ``None`` disables.
    """
    from .similarity import (
        _as_double_vec,
        _cos6,
        _resolve_ann_strategy,
        l2_norm,
        random_hyperplane_key,
    )

    use_int8 = _resolve_int8_filter(int8_filter, dim) and bucket_bits > 0

    # norm precomputed once per vector (bit-identical to the inline form,
    # which would recompute it per candidate pair)
    v = df.select(
        F.col(id_col), _as_double_vec(vec_col).alias("_v")
    ).withColumn("_nrm", l2_norm(F.col("_v")))
    if bucket_bits > 0:
        resolved = _resolve_ann_strategy(blocking, dim)
        if resolved == "ivf":
            from .similarity import _ivf_probe, kmeans_train

            if centroids is None:
                centroids = kmeans_train(
                    df.select(F.col(id_col), F.col(vec_col)),
                    vec_col,
                    k=ivf_k,
                    iters=kmeans_iters,
                    id_col=id_col,
                )
            keyed = v.select(
                F.col(id_col),
                F.explode(_ivf_probe(F.col("_v"), centroids, n_probe)).alias("_bkt"),
            )
            keyed = _md5_shards(keyed, "_bkt", id_col, max_cell_rows)
        else:
            keys = [
                random_hyperplane_key("_v", bucket_bits, seed + t, dim)
                for t in range(n_tables)
            ]
            keyed = v.select(
                F.col(id_col),
                F.posexplode(F.array(*keys)).alias("_tbl", "_bkt"),
            )
        a, b = keyed.alias("a"), keyed.alias("b")
        same_block = F.col("a._bkt") == F.col("b._bkt")
        if resolved == "ivf":
            same_block = same_block & (F.col("a._shard") == F.col("b._shard"))
        else:
            same_block = same_block & (F.col("a._tbl") == F.col("b._tbl"))
        pairs = (
            a.join(
                b,
                same_block & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
        if use_int8:
            # prune with the _int8_sketch of each side before the exact
            # re-join ships the double vectors
            lite = _int8_sketch(v, id_col)
            sk = pairs.join(
                lite.select(
                    F.col(id_col).alias("id_a"),
                    F.col("_s").alias("_sa"),
                    F.col("_q").alias("_qa"),
                ),
                "id_a",
            ).join(
                lite.select(
                    F.col(id_col).alias("id_b"),
                    F.col("_s").alias("_sb"),
                    F.col("_q").alias("_qb"),
                ),
                "id_b",
            )
            approx, margin = _int8_bound(
                F.col("_qa"), F.col("_qb"), F.col("_sa"), F.col("_sb")
            )
            pairs = sk.filter(approx >= F.lit(threshold) - margin).select(
                "id_a", "id_b"
            )
        scored = _exact_cos(pairs, v, id_col)
    else:
        a, b = v.alias("a"), v.alias("b")
        scored = (
            a.crossJoin(b)
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                _cos6(
                    F.col("a._v"), F.col("b._v"), F.col("a._nrm"), F.col("b._nrm")
                ).alias("cos"),
            )
        )
    return scored.filter(F.col("cos") >= threshold)


def blocked_levenshtein_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_keys: Sequence[Column],
    max_distance: int = 2,
    max_block_rows: int = 10_000,
) -> DataFrame:
    """Blocked fuzzy record linkage: candidate pairs share at least one
    blocking key; survivors are verified with exact
    ``levenshtein(name_a, name_b) <= max_distance`` — the standard
    entity-resolution shape (block -> verify) for near-duplicate
    customers/suppliers/titles where token-set similarity is the wrong
    granularity (single-character typos).

    Blocking is RECALL-BY-DESIGN, not exact: a pair is found iff it
    collides on some key, so key design (prefixes, length bands, digit
    tails, phonetic codes) is the caller's recall contract — the
    standard trade of record linkage (Fellegi-Sunter blocking). What IS
    guaranteed: no false positives (exact edit-distance verify) and no
    all-pairs stage (pairs are generated per block only).

    Scale guard: any block holding more than ``max_block_rows`` rows
    RAISES (the `_enforce_max_obs` discipline) — a degenerate key (a
    constant prefix) silently turns blocking into the quadratic join it
    exists to avoid, so it must fail loudly, not degrade.

    Returns (id_a, id_b, distance), id_a < id_b, deduplicated across
    blocks.
    """
    if max_distance < 0:
        raise ValueError("max_distance must be >= 0")
    if not block_keys:
        raise ValueError("need at least one blocking key")
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(name_col).alias("_nm"),
        F.posexplode(F.array(*[k.cast("string") for k in block_keys])).alias(
            "_kix", "_key"
        ),
    ).filter(F.col("_key").isNotNull())
    sizes = keyed.groupBy("_kix", "_key").agg(F.count(F.lit(1)).alias("_n"))
    oversize = sizes.filter(F.col("_n") > max_block_rows)
    # executable guard: one tiny agg; raises before the pair join runs
    bad = oversize.limit(1).collect()
    if bad:
        r = bad[0]
        raise ValueError(
            f"blocking key #{r['_kix']} value {r['_key']!r} holds "
            f"{r['_n']} rows (> max_block_rows={max_block_rows}); "
            "refine the blocking keys instead of joining quadratically"
        )
    a = keyed.select("_kix", "_key", F.col("_id").alias("id_a"),
                     F.col("_nm").alias("_na"))
    b = keyed.select("_kix", "_key", F.col("_id").alias("id_b"),
                     F.col("_nm").alias("_nb"))
    # Verify BEFORE the cross-block dedup (the cosine_topk_lsh lesson):
    # distance is deterministic per pair, so distinct over (ids,
    # distance) removes multi-block duplicates while the exchange
    # carries two ids + one int — never the name payloads — and the
    # threshold filter prunes non-matches map-side before the shuffle.
    return (
        a.join(b, ["_kix", "_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("_na"), F.col("_nb")).alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
        .distinct()
    )


def contamination_check(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    min_common: int = 10,
) -> DataFrame:
    """Train/eval decontamination: corpus documents sharing at least
    ``min_common`` distinct word n-grams with any eval document.

    The eval side is small by definition (a benchmark set), so its
    exploded shingles BROADCAST; the corpus explodes map-side into a
    broadcast hash join — no corpus shuffle until after the match filter,
    and the only aggregation runs on (corpus_doc, eval_doc) pairs that
    actually share a shingle. At 100 TB this is one pass over the corpus.

    Returns (corpus_id, eval_id, n_common) for flagged pairs.
    """
    ev = eval_docs.select(
        F.col(id_col).alias("eval_id"),
        F.explode(word_shingles(text_col, shingle_n)).alias("_g"),
    )
    cp = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.explode(word_shingles(text_col, shingle_n)).alias("_g"),
    )
    return (
        cp.join(F.broadcast(ev), "_g")
        .groupBy("corpus_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


# int8_filter="auto" enables the sketch pass at or above this vector
# width — the measured crossover (BENCH_SCALE semdedup_arms / _768,
# round 10): at dim=768 int8 halves the dedup shuffle at identical
# survivors; at dim=64 it is par to slightly ahead, so auto stays off
# there to skip the quantize pass on small in-memory jobs.
_INT8_AUTO_MIN_DIM = 256


def _resolve_int8_filter(int8_filter: bool | str, dim: int) -> bool:
    """Resolve the ``int8_filter`` knob: booleans pass through; "auto"
    keys on the vector width known from the centroids (driver-side —
    no extra Spark job), enabling at >= ``_INT8_AUTO_MIN_DIM`` dims
    where the sketch pass is measured to win on shuffle."""
    if int8_filter == "auto":
        return dim >= _INT8_AUTO_MIN_DIM
    if isinstance(int8_filter, bool):
        return int8_filter
    raise ValueError(
        f"int8_filter must be True, False, or 'auto', got {int8_filter!r}"
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
    n_blocks: int = 8,
    max_cell_rows: int | None = None,
    int8_filter: bool | str = "auto",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign each embedding to its nearest centroid (the
    IVF coarse quantizer — train with :func:`~.similarity.kmeans_train`),
    compare cosines ONLY within a cell (never the quadratic all-pairs),
    take TRUE connected components of the >= ``threshold`` pairs, and
    keep the smallest id of each near-dup group. Returns ``(id_col,
    cell)`` survivors.

    The in-cell self-join does NOT join on the bare cell id — with K
    cells that key has K distinct values, so one reducer would own an
    entire cell's quadratic work. Each row also gets a hash sub-block in
    [0, B); the join key is (cell, block_lo, block_hi), with each row
    exploded into the B-or-fewer block pairs it participates in. That
    multiplies shuffled vector bytes by ~B/2 but raises the key count
    from K to K*B*(B+1)/2, so the quadratic work of a cell spreads over
    B^2/2 reducers — the standard blocked self-join rewrite for skewed
    all-pairs-within-group. Pairs across different blocks are ordered by
    block, same-block pairs by id, so every unordered pair is produced
    exactly once.

    Eager materialization: building this DataFrame RUNS Spark jobs
    (verified pairs are cut with ``_materialize.materialize`` before the
    connected-components loop, which is itself iterative and eager), so
    plan construction is not lazy here and the cut's blocks or files are
    held until the returned DataFrame is garbage-collected.
    Callers that separate plan-build from execution pay the compute at
    build time.

    Cross-cell near-duplicates are uncompared by design — the SemDeDup
    trade-off that bounds join fan-out to the largest cell; raise
    fidelity with more/better centroids. Reference analog: per-block
    unique() dedup (docs/tutorial/ranking/taobao/data/deduplicate.py:
    42-80) — the "block" here is a semantic cluster, not a row range.

    ``max_cell_rows`` (round-6, added after the scale sweep measured
    3.1x super-linear growth at 10x data with a FIXED centroid count):
    in-cell comparison is quadratic in cell population, so with K fixed
    the total work is O(n^2 / K). When set, any cell larger than the
    bound is sub-split into ceil(|cell| / max_cell_rows) shards by a
    deterministic md5 hash of the id, and pairs are compared only
    within a shard — total work <= n * max_cell_rows / 2, LINEAR in n.
    Pairs across shards of an oversized cell go uncompared: the same
    fidelity trade-off class as the cell bound itself (and as LSH
    bucket caps); the exact-fidelity alternative is scaling K with n
    (retrain centroids via similarity.kmeans_train). The shard hash is
    md5-derived, so an oracle can replay the sub-split bit-for-bit at
    any scale; cells within the bound are untouched (shards == 1).

    ``int8_filter`` (round-9; pair plan rebuilt round-10): the blocked
    self-join ships every vector ~n_blocks/2 times; with this flag it
    ships an int8 sketch of the UNIT vector (1 byte/dim vs 8) plus one
    scale double, filters candidates by quantized cosine with a
    PROVABLE error margin
    (|cos - approx| <= sqrt(d)(s_a+s_b)/254 + d*s_a*s_b/254^2, plus the
    5e-7 slack of the verify's 6-dp rounding), accepts pairs whose
    quantized score clears ``threshold + margin`` WITHOUT touching the
    doubles (the bound proves the exact verify would keep them), and
    re-joins exact doubles (shipped once, keyed by id) only for the
    boundary band — the output is bit-for-bit identical to the exact
    path (pinned by test), only the shuffle shrinks.

    Measured regime (BENCH_SCALE ``semdedup_arms`` / ``_768``, 200k
    vectors): at dim=768 int8 halves the dedup shuffle (5.0 vs 10.4 GB)
    at identical survivors and ~7% less wall; at dim=64 it is par to
    slightly ahead. Default ``"auto"`` (round-11): the engine keys the
    decision on the vector width it already knows from ``centroids`` —
    on at >= 256 dims (the measured shuffle win), off below (skips the
    quantize pass on small in-memory jobs). Pass ``True``/``False`` to
    force either arm; the OUTPUT is bit-for-bit identical either way
    (pinned by test), only the plan changes.
    """
    from .similarity import ivf_assign

    return _semantic_dedup_cells(
        df,
        vec_col,
        id_col,
        lambda v: ivf_assign(v, "_v", centroids, "_cell"),
        len(centroids[0]) if centroids else 0,
        threshold,
        n_blocks,
        max_cell_rows,
        int8_filter,
    )


def semantic_dedup_tree(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    coarse: list[list[float]],
    sub: dict[int, list[list[float]]],
    threshold: float = 0.95,
    n_blocks: int = 8,
    max_cell_rows: int | None = None,
    int8_filter: bool | str = "auto",
) -> DataFrame:
    """:func:`semantic_dedup` with the TWO-LEVEL quantizer
    (:func:`~.similarity.ivf_assign_tree`) — the exact-fidelity growth
    path where K scales with n: more data buys more cells (bounding
    in-cell quadratic work by the cell population) instead of the
    ``max_cell_rows`` shard cap's fidelity trade. Train ``(coarse, sub)``
    with :func:`~.similarity.kmeans_train_tree`; everything downstream of
    the assignment (blocked self-join, threshold verify, CC closure,
    smallest-id survivor) is identical code to :func:`semantic_dedup`,
    including the ``int8_filter="auto"`` vector-width default."""
    from .similarity import ivf_assign_tree

    return _semantic_dedup_cells(
        df,
        vec_col,
        id_col,
        lambda v: ivf_assign_tree(v, "_v", coarse, sub, "_cell"),
        len(coarse[0]) if coarse else 0,
        threshold,
        n_blocks,
        max_cell_rows,
        int8_filter,
    )


def _semantic_dedup_cells(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    assign: Callable[[DataFrame], DataFrame],
    dim: int,
    threshold: float,
    n_blocks: int,
    max_cell_rows: int | None,
    int8_filter: bool | str,
) -> DataFrame:
    """Shared in-cell near-dup pipeline: cast vectors to doubles, add
    ``_cell`` to the ``(id, _v)`` rows with ``assign``, hash sub-blocks,
    optional shard cap, blocked self-join, cosine verify, CC closure,
    smallest-id survivors (see :func:`semantic_dedup`). ``dim`` resolves
    ``int8_filter="auto"``."""
    from .graph import connected_components
    from .similarity import _as_double_vec, _cos6, l2_norm

    use_int8 = _resolve_int8_filter(int8_filter, dim)
    v = df.select(F.col(id_col), _as_double_vec(vec_col).alias("_v"))
    cells = (
        assign(v)
        .withColumn("_blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)))
        # norm precomputed ONCE per vector (identical double to the
        # inline form, so scores are unchanged); the pair join would
        # otherwise recompute it per candidate pair
        .withColumn("_nrm", l2_norm(F.col("_v")))
    )
    cells = _md5_shards(cells, "_cell", id_col, max_cell_rows)
    cells = materialize(cells)

    def blocked_pairs(side: DataFrame):
        lo = side.withColumn(
            "_hi", F.explode(F.sequence(F.col("_blk"), F.lit(n_blocks - 1)))
        ).alias("a")
        hi = side.withColumn(
            "_lo", F.explode(F.sequence(F.lit(0), F.col("_blk")))
        ).alias("b")
        same_blk = F.col("a._blk") == F.col("b._blk")
        return lo.join(
            hi,
            (F.col("a._cell") == F.col("b._cell"))
            & (F.col("a._shard") == F.col("b._shard"))
            & (F.col("a._blk") == F.col("b._lo"))
            & (F.col("a._hi") == F.col("b._blk"))
            & (
                (F.col("a._blk") < F.col("b._blk"))
                | (same_blk & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            ),
        )

    pair_ids = (
        F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
        F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
    )
    if use_int8:
        # int8 candidate pass: the blocked self-join ships every vector
        # ~n_blocks/2 times, so it shuffles the _int8_sketch instead and
        # keeps the provable superset _int8_bound admits. Survivors
        # re-join the exact doubles (keyed by id — shipped ONCE, not B/2
        # times) and pass the IDENTICAL rounded-cosine verify, so the
        # output is bit-for-bit the exact path's.
        lite = _int8_sketch(cells, id_col, "_cell", "_shard", "_blk")
        approx, margin = _int8_bound(
            F.col("a._q"), F.col("b._q"), F.col("a._s"), F.col("b._s")
        )
        cand = (
            blocked_pairs(lite)
            .filter(approx >= F.lit(threshold) - margin)
            .select(
                *pair_ids,
                # accept-sure flag: approx - margin >= threshold means
                # cos >= threshold + 5e-7 (margin already carries the
                # 6-dp rounding slack), so round6(cos) >= threshold is
                # PROVEN — the pair lands in the output either way and
                # the CC closure only consumes (id_a, id_b). Only the
                # boundary band re-joins exact doubles: without this
                # split, a merge-heavy corpus (most in-cell pairs far
                # above threshold — the hd768x100 tier) re-attached
                # 2 x dim doubles to EVERY candidate pair through two
                # shuffling joins, ~290 GB where the sure path ships
                # 16 bytes/pair (found as an ENOSPC in round 10).
                # NaN guard (round-11 advisor): a +/-inf element makes
                # _nrm = inf, so the unit vector holds inf/inf = NaN,
                # _s = NaN, and approx = dq*sa*sb = NaN even though q is
                # all-zero — Spark evaluates NaN - 2.0 >= threshold as
                # TRUE (NaN orders above everything), which would mark
                # the corrupt pair "sure" and bypass the exact verify
                # that NULLs it. The margin-2.0 always-pass branch
                # already routes such rows INTO the candidate set;
                # ~isnan forces them down the band (exact-verify)
                # branch where they belong.
                (
                    ~F.isnan(approx)
                    & (approx - margin >= F.lit(threshold))
                ).alias("_sure"),
            )
        )
        # materialize once: both the sure branch and the band branch
        # consume cand, and without this the quadratic blocked-pair
        # scan would run twice (16-17 bytes/row, so the checkpoint is
        # small even when most in-cell pairs are candidates)
        cand = materialize(cand)
        band = (
            _exact_cos(
                cand.filter(~F.col("_sure")).select("id_a", "id_b"), cells, id_col
            )
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b")
        )
        pairs = (
            cand.filter(F.col("_sure"))
            .select("id_a", "id_b")
            .unionByName(band)
        )
    else:
        pairs = (
            blocked_pairs(cells)
            .select(
                *pair_ids,
                _cos6(
                    F.col("a._v"), F.col("b._v"), F.col("a._nrm"), F.col("b._nrm")
                ).alias("cos"),
            )
            .filter(F.col("cos") >= threshold)
        )
    comp = connected_components(pairs, "id_a", "id_b")
    dropped = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return cells.select(id_col, F.col("_cell").alias("cell")).join(
        dropped, id_col, "left_anti"
    )


def minhash_lsh_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    portable: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """Cross-corpus near-duplicate LINKAGE: find (left, right) pairs with
    shingle Jaccard >= ``threshold`` between two tables — eval-vs-train
    contamination sweeps, incremental-crawl-vs-corpus dedup, record
    linkage — without ever broadcasting either side or forming the
    |left| x |right| cross product.

    Plan shape: each side computes MinHash signatures independently
    (partial-agg mins — shuffle = ids x num_hashes longs per side), bands
    explode to (band, bucket) keys, and the only join is the equi-join of
    the two banded sides on (band, bucket). Unlike
    :func:`minhash_lsh_candidates` this is a genuine two-table join, so
    both sides stream through the shuffle — neither corpus needs to fit
    anywhere. Candidates verify with exact Jaccard. ``max_bucket`` caps
    the fan-out of a degenerate bucket by its COMBINED (left + right)
    member count, bounding per-bucket pair work at max_bucket^2/4.

    Returns (id_left, id_right, jaccard).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands

    def banded(df: DataFrame, out_id: str) -> DataFrame:
        sig = minhash_signatures(
            df, text_col, id_col, num_hashes, shingle_n, seed, portable
        )
        band_keys = [
            F.xxhash64(
                F.lit(b),
                F.concat_ws(",", *[F.col(f"mh{b * r + j}") for j in range(r)]),
            )
            for b in range(bands)
        ]
        return sig.filter(F.col("mh0") != _MERSENNE_P).select(
            F.col(id_col).alias(out_id),
            F.posexplode(F.array(*band_keys)).alias("band", "bucket"),
        )

    lb = banded(left, "id_left")
    rb = banded(right, "id_right")
    if max_bucket is not None:
        combined = (
            lb.select("band", "bucket")
            .unionAll(rb.select("band", "bucket"))
            .groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket)
            .select("band", "bucket")
        )
        lb = lb.join(combined, ["band", "bucket"])
        rb = rb.join(combined, ["band", "bucket"])
    # the pair list is read three times below (join + two member-id
    # semi-joins): cut its lineage so the banded join runs once
    cands = materialize(
        lb.join(rb, ["band", "bucket"])
        .select("id_left", "id_right")
        .distinct(),
        eager=False,
    )

    # only candidate-pair members need exact shingles: semi-join each
    # side against its candidate ids BEFORE the shingle projection
    # (round-12, guide §2.3 — same fix as _verify_jaccard; previously
    # BOTH corpora were re-tokenized wholesale just to be joined away)
    sh_l = left.join(
        cands.select(F.col("id_left").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    ).select(
        F.col(id_col).alias("id_left"),
        word_shingles(text_col, shingle_n).alias("_sha"),
    )
    sh_r = right.join(
        cands.select(F.col("id_right").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    ).select(
        F.col(id_col).alias("id_right"),
        word_shingles(text_col, shingle_n).alias("_shb"),
    )
    j = (
        cands.join(sh_l, "id_left")
        .join(sh_r, "id_right")
        .withColumn("_inter", F.size(F.array_intersect("_sha", "_shb")))
        .withColumn(
            "jaccard",
            F.col("_inter")
            / (F.size("_sha") + F.size("_shb") - F.col("_inter")).cast("double"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select(
        "id_left", "id_right", F.round("jaccard", 6).alias("jaccard")
    )
