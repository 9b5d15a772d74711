"""Corpus-prep operators: hash splits, repetition signals, sequence
packing, document chunking (operators/corpus.py)."""

import pytest
from pyspark.sql import functions as F

from hybridbackend_spark.operators.corpus import (
    chunk_documents,
    hash_bucket,
    hash_split,
    pack_sequences,
    repetition_signals,
)


def test_hash_split_deterministic_and_complete(spark):
    df = spark.range(2000).withColumnRenamed("id", "k")
    a = hash_split(df, "k", seed=7).orderBy("k").collect()
    b = hash_split(df, "k", seed=7).orderBy("k").collect()
    assert a == b  # same seed -> identical assignment
    splits = {r["split"] for r in a}
    assert splits <= {"train", "val", "test"}
    n_train = sum(1 for r in a if r["split"] == "train")
    assert n_train > 1800  # ~98% of 2000
    # different seed reassigns some keys
    c = hash_split(df, "k", seed=8).orderBy("k").collect()
    assert any(x["split"] != y["split"] for x, y in zip(a, c))


def test_hash_bucket_matches_duckdb(spark):
    import duckdb

    got = (
        spark.range(100)
        .select(hash_bucket("id", n_buckets=1000, seed=3).alias("b"))
        .collect()
    )
    want = duckdb.sql(
        "SELECT (('0x' || substr(md5(r || ':3'), 1, 8))::BIGINT % 1000) "
        "FROM (SELECT range::VARCHAR r FROM range(100))"
    ).fetchall()
    assert [r["b"] for r in got] == [w[0] for w in want]


def test_repetition_signals_planted(spark):
    rows = [
        (1, "a a a a"),  # 1 distinct word; bigram 'a a' x3 all dups
        (2, "a b c d"),  # all distinct
        (3, "x"),  # single word: no bigrams
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert out[1]["n_words"] == 4 and out[1]["n_distinct_words"] == 1
    assert out[1]["top_word_frac"] == 1.0
    assert out[1]["dup_bigram_frac"] == round(2 / 3, 6)  # 3 bigrams, 1 distinct
    assert out[2]["distinct_word_ratio"] == 1.0
    assert out[2]["dup_bigram_frac"] == 0.0
    assert out[3]["n_bigrams"] if "n_bigrams" in out[3] else True
    assert out[3]["dup_bigram_frac"] == 0.0


def test_pack_sequences_bins(spark):
    # docs of 60 tokens each, budget 100: starts 0,60,120,180,240 ->
    # bins 0,0,1,1,2 with offsets 0,60,20,80,40
    df = spark.createDataFrame(
        [(i, 60) for i in range(5)], ["doc_id", "n_tok"]
    )
    out = (
        pack_sequences(df, "doc_id", "n_tok", budget=100)
        .orderBy("doc_id")
        .collect()
    )
    assert [r["bin_id"] for r in out] == [0, 0, 1, 1, 2]
    assert [r["bin_offset"] for r in out] == [0, 60, 20, 80, 40]
    assert [r["cum_tokens"] for r in out] == [60, 120, 180, 240, 300]


def test_pack_sequences_matches_single_partition_window(spark, sf_dir):
    from hybridbackend_spark.operators.text import token_count
    from pyspark.sql import Window

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", token_count("text").cast("long").alias("n_tok"))
    )
    got = pack_sequences(docs, "doc_id", "n_tok", budget=512)
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    want = docs.withColumn("cum_tokens", F.sum("n_tok").over(w))
    pairs = {r["doc_id"]: r["cum_tokens"] for r in want.collect()}
    for r in got.collect():
        assert r["cum_tokens"] == pairs[r["doc_id"]]


def test_pack_sequences_null_token_count_layout_independent(spark):
    # a NULL token count adds 0 whether or not its row sits alone in a
    # range partition — the single-partition-window answer in every layout
    df = spark.createDataFrame(
        [(1, 3), (2, None), (3, 2)], "doc_id long, n_tok long"
    )
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        for parts in (1, 8):
            spark.conf.set(key, str(parts))
            got = {
                r["doc_id"]: r["cum_tokens"]
                for r in pack_sequences(df, "doc_id", "n_tok", budget=4).collect()
            }
            assert got == {1: 3, 2: 3, 3: 5}, parts
    finally:
        spark.conf.set(key, prev)


def test_chunk_documents_boundaries(spark):
    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text), (2, "a b"), (3, "")],
                               ["doc_id", "text"])
    out = chunk_documents(df, chunk_tokens=4, stride=3)
    rows = sorted(
        out.collect(), key=lambda r: (r["doc_id"], r["chunk_id"])
    )
    d1 = [r for r in rows if r["doc_id"] == 1]
    # starts 0,3,6,9 -> lengths 4,4,4,1
    assert [r["start"] for r in d1] == [0, 3, 6, 9]
    assert [r["n_chunk_tokens"] for r in d1] == [4, 4, 4, 1]
    assert d1[0]["chunk_text"] == "w0 w1 w2 w3"
    assert d1[-1]["chunk_text"] == "w9"
    # every token covered, overlap of 1 between consecutive chunks
    d2 = [r for r in rows if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["chunk_text"] == "a b"
    assert not any(r["doc_id"] == 3 for r in rows)  # empty doc -> no chunks


def test_chunk_documents_no_shuffle(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        chunk_documents(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_chunk_documents_matches_python_reference(spark):
    # randomized differential test: 60 docs of varying token counts vs a
    # direct python rendering of the chunking convention
    import random

    rng = random.Random(123)
    rows = [
        (i, " ".join(f"t{rng.randrange(50)}" for _ in range(rng.randrange(0, 40))))
        for i in range(60)
    ]
    chunk, stride = 7, 5
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_id"], r["chunk_id"]): (r["start"], r["chunk_text"], r["n_chunk_tokens"])
        for r in chunk_documents(df, chunk_tokens=chunk, stride=stride).collect()
    }
    want = {}
    for i, text in rows:
        toks = text.split() if text.strip() else []
        for start in range(0, len(toks), stride):
            piece = toks[start : start + chunk]
            want[(i, start // stride)] = (start, " ".join(piece), len(piece))
    assert got == want


def test_pack_sequences_matches_python_reference(spark):
    import random

    rng = random.Random(7)
    rows = [(i, rng.randrange(1, 300)) for i in range(500)]
    budget = 256
    df = spark.createDataFrame(rows, ["doc_id", "n_tok"]).repartition(7)
    got = {
        r["doc_id"]: (r["cum_tokens"], r["bin_id"], r["bin_offset"])
        for r in pack_sequences(df, "doc_id", "n_tok", budget=budget).collect()
    }
    cum = 0
    for i, n in rows:  # rows are already in doc_id order
        start = cum
        cum += n
        assert got[i] == (cum, start // budget, start % budget)


def test_stratified_sample_deterministic_and_stratified(spark):
    from hybridbackend_spark.operators.corpus import stratified_sample

    df = spark.range(4000).selectExpr(
        "id", "CASE WHEN id % 4 = 0 THEN 'big' ELSE 'small' END AS grp"
    )
    out1 = stratified_sample(df, "grp", "id", {"big": 0.8}, default_fraction=0.05)
    out2 = stratified_sample(df, "grp", "id", {"big": 0.8}, default_fraction=0.05)
    ids1 = sorted(r["id"] for r in out1.collect())
    assert ids1 == sorted(r["id"] for r in out2.collect())  # reproducible
    by = {r["grp"]: r["n"] for r in out1.groupBy("grp").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    # 1000 'big' at 80% and 3000 'small' at 5%: loose binomial bounds
    assert 700 <= by["big"] <= 900
    assert 90 <= by["small"] <= 230
    # repartitioning must not change membership (layout-independent)
    ids3 = sorted(
        r["id"]
        for r in stratified_sample(
            df.repartition(13), "grp", "id", {"big": 0.8}, default_fraction=0.05
        ).collect()
    )
    assert ids3 == ids1


def test_stratified_topn_exact_quota(spark):
    from pyspark.sql import functions as F

    from hybridbackend_spark.operators.corpus import stratified_topn

    df = spark.range(500).selectExpr("id", "concat('s', id % 7) AS grp")
    out = stratified_topn(df, "grp", "id", n=12)
    counts = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert counts == {f"s{i}": 12 for i in range(7)}
    # deterministic across layouts
    a = sorted(r["id"] for r in out.collect())
    b = sorted(r["id"] for r in stratified_topn(df.repartition(9), "grp", "id", n=12).collect())
    assert a == b


def test_negative_samples_deterministic_and_disjoint(spark):
    from hybridbackend_spark.operators.corpus import negative_samples

    pos = spark.createDataFrame(
        [(u, i) for u in range(5) for i in range(u, u + 4)], ["user_id", "item_id"]
    )
    out = negative_samples(pos, "user_id", "item_id", n_items=10, k=3, seed=1)
    rows = out.collect()
    # no sampled negative is a positive of the same user
    positives = {(u, i) for u, i in pos.collect()}
    assert all((r["user_id"], r["neg_item"]) not in positives for r in rows)
    assert all(0 <= r["neg_item"] < 10 for r in rows)
    # at most k candidates per positive pair survive
    from collections import Counter

    per_pair = Counter((r["user_id"], r["item_id"]) for r in rows)
    assert all(v <= 3 for v in per_pair.values())
    # deterministic: identical output for a different input layout
    again = negative_samples(
        pos.repartition(7), "user_id", "item_id", n_items=10, k=3, seed=1
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # a different seed draws a different candidate set
    other = negative_samples(
        pos, "user_id", "item_id", n_items=10, k=3, seed=2
    ).collect()
    assert sorted(map(tuple, rows)) != sorted(map(tuple, other))


def test_line_dedup_first_occurrence_wins(spark):
    from hybridbackend_spark.operators.corpus import line_dedup

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),          # lines: "a b c", "d e f"
            (2, "a b c x y z"),          # "a b c" dup of doc1 -> only "x y z"
            (3, "d e f a b c"),          # both lines seen -> doc vanishes
            (4, "g h"),                  # short doc, one partial line
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in line_dedup(df, line_tokens=3).collect()}
    assert out[1]["dedup_text"] == "a b c d e f"
    assert out[1]["n_lines"] == 2 and out[1]["n_kept"] == 2
    assert out[2]["dedup_text"] == "x y z"
    assert out[2]["n_kept"] == 1
    assert 3 not in out  # fully duplicated doc removed
    assert out[4]["dedup_text"] == "g h"


def test_line_dedup_layout_invariant(spark):
    from hybridbackend_spark.operators.corpus import line_dedup

    rows = [(i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(10))) for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = sorted(map(tuple, line_dedup(df).collect()))
    b = sorted(map(tuple, line_dedup(df.repartition(11, "text")).collect()))
    assert a == b


def test_unigram_surprisal_exact_bits(spark):
    from hybridbackend_spark.operators.corpus import unigram_surprisal

    # corpus counts: a=4, b=2, c=1, d=1 -> total=8 (bits_total=3)
    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "b b c"), (3, "d")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in unigram_surprisal(df).collect()}
    # a: 3-2=1 bit; b: 3-1=2; c: 3-0=3; d: 3-0=3
    assert out[1]["avg_surprisal_bits"] == 1.0
    assert out[2]["avg_surprisal_bits"] == round((2 + 2 + 3) / 3, 6)
    assert out[3]["avg_surprisal_bits"] == 3.0
    assert out[1]["n_toks"] == 4


def test_unigram_surprisal_top_v_oov(spark):
    from hybridbackend_spark.operators.corpus import unigram_surprisal

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "z")], ["doc_id", "text"]
    )
    # top_v=1 keeps only 'a' (count 3): total=3 -> bits_total=1,
    # a costs 1-1=0 bits, OOV ('b','z') cost bits_total+1=2
    out = {r["doc_id"]: r for r in unigram_surprisal(df, top_v=1).collect()}
    assert out[1]["avg_surprisal_bits"] == round((0 + 0 + 0 + 2) / 4, 6)
    assert out[2]["avg_surprisal_bits"] == 2.0


def test_temperature_sample_flattens_mix(spark):
    from hybridbackend_spark.operators.corpus import temperature_sample

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, ["id", "src"])
    out = temperature_sample(df, "src", F.col("id"), target_frac=0.5, seed=0)
    counts = {r["src"]: r["n"] for r in out.groupBy("src").agg(F.count("*").alias("n")).collect()}
    # T=0.5 target shares ~ sqrt(0.9):sqrt(0.1) = 0.75:0.25 of 500 kept
    assert 300 < counts["big"] < 450
    assert counts["small"] > 60  # upweighted vs its 50-doc proportional share
    # deterministic
    again = temperature_sample(df.repartition(13), "src", F.col("id"), 0.5, 0)
    assert sorted(r["id"] for r in out.collect()) == sorted(
        r["id"] for r in again.collect()
    )


def test_vocab_encode_rank_and_oov(spark):
    from hybridbackend_spark.operators.corpus import vocab_encode

    df = spark.createDataFrame(
        [(1, "b a b c b a"), (2, "a q")], ["doc_id", "text"]
    )
    # counts: b=3, a=3, c=1, q=1 -> ids: a=2? No: order (count desc, tok asc)
    # -> a(3)=1, b(3)=2, c(1)=3, q(1)=4
    out = {r["doc_id"]: r for r in vocab_encode(df, top_v=3).collect()}
    assert out[1]["token_ids"] == [2, 1, 2, 3, 2, 1]
    assert out[2]["token_ids"] == [1, 0]  # q beyond top_v -> OOV 0
    assert out[2]["n_toks"] == 2


def test_weighted_sample_deterministic_and_weighted(spark):
    from pyspark.sql import functions as F

    from hybridbackend_spark.operators.corpus import weighted_sample

    # 500 light rows (weight 10) + 500 heavy rows (weight 1000)
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 500, F.lit(10)).otherwise(F.lit(1000)).alias("w"),
    )
    out = weighted_sample(df, key="k", weight="w", k=100, seed=3)
    rows = out.collect()
    assert len(rows) == 100
    heavy = sum(1 for r in rows if r["k"] >= 500)
    # heavy rows are 100x likelier; expect the sample dominated by them
    assert heavy > 85
    # identical selection regardless of partition layout
    ids1 = {r["k"] for r in rows}
    ids2 = {
        r["k"]
        for r in weighted_sample(
            df.repartition(13), key="k", weight="w", k=100, seed=3
        ).collect()
    }
    assert ids1 == ids2
    # different seed -> different sample (with overwhelming probability)
    ids3 = {
        r["k"]
        for r in weighted_sample(df, key="k", weight="w", k=100, seed=4).collect()
    }
    assert ids1 != ids3


def test_distribution_drift_zero_for_identical_groups(spark):
    from hybridbackend_spark.operators.corpus import distribution_drift

    # two groups with the SAME token distribution -> same bit costs in
    # group and corpus models up to the total-size bit difference; a
    # skewed third group must drift more than the uniform ones
    rows = (
        [("g1", "alpha beta gamma delta")] * 4
        + [("g2", "alpha beta gamma delta")] * 4
        + [("g3", "zeta zeta zeta zeta")] * 2
    )
    df = spark.createDataFrame(rows, ["source", "text"])
    got = {r["source"]: r for r in
           distribution_drift(df, "source", "text").collect()}
    assert set(got) == {"g1", "g2", "g3"}
    # identical groups get identical drift
    assert got["g1"]["drift_bits"] == got["g2"]["drift_bits"]
    # the group concentrated on a corpus-rare token drifts strictly more
    assert got["g3"]["drift_bits"] > got["g1"]["drift_bits"]
    assert got["g1"]["n_tokens"] == 16


def test_boilerplate_prune_drops_common_lines(spark):
    from hybridbackend_spark.operators.corpus import boilerplate_prune

    df = spark.createDataFrame(
        [
            (1, "cookie banner text unique alpha one"),   # banner + unique
            (2, "cookie banner text unique beta two"),    # banner + unique
            (3, "cookie banner text unique gamma three"), # banner + unique
            (4, "only rare content here zz yy"),
        ],
        ["doc_id", "text"],
    )
    # "cookie banner text" appears in 3 docs > max_df=2 -> dropped from all
    out = {r["doc_id"]: r for r in boilerplate_prune(df, max_df=2).collect()}
    assert out[1]["pruned_text"] == "unique alpha one"
    assert out[2]["pruned_text"] == "unique beta two"
    assert out[3]["pruned_text"] == "unique gamma three"
    assert out[4]["pruned_text"] == "only rare content here zz yy"
    assert out[1]["n_lines"] == 2 and out[1]["n_kept"] == 1


def test_boilerplate_prune_all_boilerplate_survives_empty(spark):
    from hybridbackend_spark.operators.corpus import boilerplate_prune

    df = spark.createDataFrame(
        [(i, "same old footer") for i in range(5)], ["doc_id", "text"]
    )
    out = boilerplate_prune(df, max_df=2).collect()
    assert len(out) == 5  # docs survive (empty), visible to length filters
    assert all(r["pruned_text"] == "" and r["n_kept"] == 0 for r in out)


def test_bigram_surprisal_template_vs_novel(spark):
    from hybridbackend_spark.operators.corpus import bigram_surprisal

    # 5 identical template docs + one doc REUSING the template's words in
    # a novel order: common unigrams, unseen pairs -> high conditional
    # bits, while the template's own pairs are fully predicted (~0 bits)
    rows = [(i, "the same template sentence repeats here") for i in range(5)]
    rows.append((9, "same the here sentence template repeats"))
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r["doc_id"]: r["avg_bits"] for r in bigram_surprisal(df).collect()}
    assert out[0] < out[9]
    assert out[9] > 0


def test_bigram_surprisal_exact_bits(spark):
    from hybridbackend_spark.operators.corpus import bigram_surprisal

    # corpus: "a b" x3 and "a c" x1 -> n(a)=4, n(a,b)=3, n(a,c)=1
    rows = [(0, "a b"), (1, "a b"), (2, "a b"), (3, "a c")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r["doc_id"]: (r["n_pairs"], r["avg_bits"]) for r in
           bigram_surprisal(df).collect()}
    # bits(a)=floor(log2 4)=2; bits(a,b)=floor(log2 3)=1 -> 1 bit
    assert out[0] == (1, 1.0)
    # bits(a,c)=floor(log2 1)=0 -> 2 bits
    assert out[3] == (1, 2.0)


def test_substring_dedup_masks_repeated_spans(spark):
    from hybridbackend_spark.operators.corpus import substring_dedup

    shared = "one two three four five"          # 5-token span, shared
    df = spark.createDataFrame(
        [
            (1, f"{shared} alpha beta"),         # first occurrence survives
            (2, f"gamma delta {shared}"),        # later occurrence masked
            (3, "totally different words here"), # untouched (only 4 tokens)
        ],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r for r in substring_dedup(df, window_tokens=5).collect()}
    assert out[1]["dedup_text"] == f"{shared} alpha beta"
    assert out[1]["n_masked"] == 0
    assert out[2]["dedup_text"] == "gamma delta"
    assert out[2]["n_masked"] == 5
    assert out[3]["dedup_text"] == "totally different words here"


def test_substring_dedup_overlapping_windows_mask_union(spark):
    from hybridbackend_spark.operators.corpus import substring_dedup

    # doc 2 repeats a 7-token span of doc 1: three overlapping duplicated
    # 5-windows whose union masks all 7 tokens
    span = "a b c d e f g"
    df = spark.createDataFrame(
        [(1, f"{span} tail1 tail2"), (2, f"{span} other words")],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r for r in substring_dedup(df, window_tokens=5).collect()}
    assert out[1]["n_masked"] == 0
    assert out[2]["n_masked"] == 7
    assert out[2]["dedup_text"] == "other words"


def _py_bpe_train(texts, num_merges):
    """Pure-python BPE reference (word-frequency table, greedy L2R apply,
    lexicographic tie-break)."""
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.lower().split():
            words[w] += 1
    syms = {w: list(w) for w in words}
    merges = []
    for _ in range(num_merges):
        pairs = Counter()
        for w, n in words.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        for w in syms:
            s, out = syms[w], []
            for tok in s:
                if out and out[-1] == a and tok == b:
                    out[-1] = a + b
                else:
                    out.append(tok)
            syms[w] = out
    return merges, syms


def test_bpe_train_matches_python_reference(spark):
    from hybridbackend_spark.operators.corpus import bpe_encode, bpe_train

    texts = [
        "low lower lowest low low",
        "new newer newest new new new",
        "wider wide widest",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = bpe_train(df, "text", num_merges=8)
    want, ref_syms = _py_bpe_train(texts, 8)
    assert got == want

    enc = bpe_encode(df, got)
    for r in enc.collect():
        assert r["subwords"] == ref_syms[r["token"]]


def test_bpe_train_layout_invariant(spark):
    from hybridbackend_spark.operators.corpus import bpe_train

    rows = [(i, " ".join(f"w{(i * 3 + j) % 11}ab" for j in range(6)))
            for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = bpe_train(df, "text", num_merges=5)
    b = bpe_train(df.repartition(13, "text"), "text", num_merges=5)
    assert a == b


def test_neyman_sample_variance_proportional_quotas(spark):
    import random

    from hybridbackend_spark.operators.corpus import neyman_sample

    rng = random.Random(5)
    rows = []
    # stratum 'wild': high variance; 'tame': near-constant; equal sizes
    for i in range(600):
        rows.append((i, "wild", rng.uniform(0.0, 1000.0)))
    for i in range(600, 1200):
        rows.append((i, "tame", 500.0 + rng.uniform(-1.0, 1.0)))
    df = spark.createDataFrame(rows, "k: long, s: string, v: double")
    out = neyman_sample(df, "s", "k", "v", total_n=200)
    by = {r["s"]: r["n"] for r in
          out.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()}
    # equal N, sigma ratio ~ 290:0.58 -> essentially all quota to 'wild'
    assert by.get("wild", 0) > 190
    assert by.get("tame", 0) <= 5
    # determinism across layouts
    a = sorted(r["k"] for r in out.collect())
    b = sorted(
        r["k"]
        for r in neyman_sample(
            df.repartition(7, "v"), "s", "k", "v", total_n=200
        ).collect()
    )
    assert a == b


def _py_bigrams(texts):
    from collections import Counter

    bi = Counter()
    for t in texts:
        ws = t.lower().split()
        for a, b in zip(ws, ws[1:]):
            bi[(a, b)] += 1
    return bi


def test_pmi_bigrams_matches_python(spark):
    import math

    from hybridbackend_spark.operators.corpus import pmi_bigrams

    texts = [
        "the cat sat on the mat",
        "the cat ate the fish",
        "a dog sat on the rug",
        "the cat sat again",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {
        (r.w1, r.w2): r
        for r in pmi_bigrams(df, "text", min_count=2).collect()
    }
    bi = _py_bigrams(texts)
    n = sum(bi.values())
    cx, cy = {}, {}
    for (a, b), c in bi.items():
        cx[a] = cx.get(a, 0) + c
        cy[b] = cy.get(b, 0) + c
    want = {k: c for k, c in bi.items() if c >= 2}
    assert set(got) == set(want)
    for (a, b), c in want.items():
        r = got[(a, b)]
        assert (r.c_xy, r.c_x, r.c_y) == (c, cx[a], cy[b])
        exp = math.log((c * n) / (cx[a] * cy[b]))
        assert abs(r.pmi - round(exp, 6)) < 1e-9


def test_pmi_bigrams_bad_min_count_raises(spark):
    from hybridbackend_spark.operators.corpus import pmi_bigrams

    df = spark.createDataFrame([("a b",)], "text string")
    with pytest.raises(ValueError):
        pmi_bigrams(df, "text", min_count=0)


def test_kneser_ney_matches_python(spark):
    from hybridbackend_spark.operators.corpus import kneser_ney_bigram

    texts = [
        "the cat sat on the mat",
        "the cat ate the fish",
        "a dog sat on the rug",
        "the cat sat again",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {
        (r.w1, r.w2): r
        for r in kneser_ney_bigram(df, "text", min_count=2).collect()
    }
    bi = _py_bigrams(texts)
    types = len(bi)
    ctot, nfollow, nprec = {}, {}, {}
    for (a, b), c in bi.items():
        ctot[a] = ctot.get(a, 0) + c
        nfollow[a] = nfollow.get(a, 0) + 1
        nprec[b] = nprec.get(b, 0) + 1
    d = 0.75
    for (a, b), c in bi.items():
        if c < 2:
            continue
        r = got[(a, b)]
        assert (r.c_xy, r.n_follow, r.n_prec) == (c, nfollow[a], nprec[b])
        exp = (c - d) / ctot[a] + (d * nfollow[a] / ctot[a]) * (
            nprec[b] / types
        )
        assert abs(r.p_kn - round(exp, 6)) < 1e-9
    # sanity: P(.|w1) over ALL continuations of w1 sums to <= 1 and the
    # discounted mass is redistributed (probability-like output)
    full = {
        (r.w1, r.w2): r.p_kn
        for r in kneser_ney_bigram(df, "text", min_count=1).collect()
    }
    for a in ctot:
        s = sum(p for (x, _), p in full.items() if x == a)
        assert s <= 1.0 + 1e-6


def test_kneser_ney_bad_discount_raises(spark):
    from hybridbackend_spark.operators.corpus import kneser_ney_bigram

    df = spark.createDataFrame([("a b",)], "text string")
    with pytest.raises(ValueError):
        kneser_ney_bigram(df, "text", discount_num=5, discount_den=4)


def test_dsir_importance_matches_python_replay(spark):
    import hashlib

    from hybridbackend_spark.operators.corpus import dsir_importance

    rows = [
        (1, "alpha beta gamma", "tgt"),
        (2, "alpha alpha delta", "tgt"),
        (3, "omega psi chi", "raw"),
        (4, "alpha omega beta", "raw"),
        (5, "", "raw"),  # zero tokens -> omitted
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    B = 64
    got = {
        r.doc_id: r
        for r in dsir_importance(
            df, F.col("src") == "tgt", "doc_id", "text", n_buckets=B
        ).collect()
    }
    assert set(got) == {1, 2, 3, 4}

    def bucket(tok):
        return int(hashlib.md5(f"{tok}:0".encode()).hexdigest()[:8], 16) % B

    r_cnt, t_cnt = {}, {}
    for _, text, src in rows:
        for tok in text.lower().split():
            b = bucket(tok)
            r_cnt[b] = r_cnt.get(b, 0) + 1
            if src == "tgt":
                t_cnt[b] = t_cnt.get(b, 0) + 1
    R, T = sum(r_cnt.values()), sum(t_cnt.values())
    bits = lambda x: len(bin(x)) - 2
    for doc_id, text, _ in rows:
        tk = text.lower().split()
        if not tk:
            continue
        score = sum(
            (bits(t_cnt.get(bucket(w), 0) + 1) - bits(r_cnt[bucket(w)] + 1))
            + (bits(R + B) - bits(T + B))
            for w in tk
        )
        r = got[doc_id]
        assert (r.n_toks, r.dsir_bits, r.selected) == (
            len(tk), score, score > 0
        )


def test_slice_overlap_matrix_exact(spark):
    from hybridbackend_spark.operators.corpus import slice_overlap_matrix

    rows = [
        ("s0", 0, "a b c d e"),        # shingles: abc bcd cde
        ("s1", 1, "a b c x y"),        # abc bcx cxy
        ("s1", 1, "b c d q r"),        # bcd cdq dqr
        ("s2", 2, "zz yy xx"),         # zzyyxx (disjoint)
    ]
    df = spark.createDataFrame(rows, "src string, i int, text string")
    out = {
        (r.src_a, r.src_b): r
        for r in slice_overlap_matrix(
            df, "src", F.col("i"), "text", n=3
        ).collect()
    }
    # s0 = {abc,bcd,cde}; s1 = {abc,bcx,cxy,bcd,cdq,dqr}; inter = {abc,bcd}
    r01 = out[("s0", "s1")]
    assert (r01.inter_sz, r01.union_sz) == (2, 3 + 6 - 2)
    assert r01.jaccard == round(2 / 7, 6)
    # s2 shares nothing -> no row at all
    assert ("s0", "s2") not in out and ("s1", "s2") not in out


def test_slice_overlap_matrix_guards(spark):
    from hybridbackend_spark.operators.corpus import slice_overlap_matrix

    df = spark.createDataFrame(
        [("s0", 99, "a b c")], "src string, i int, text string"
    )
    with pytest.raises(ValueError, match="out of"):
        slice_overlap_matrix(df, "src", F.col("i"), "text", max_slices=62)
    dup = spark.createDataFrame(
        [("s0", 1, "a b c"), ("s1", 1, "a b c")],
        "src string, i int, text string",
    )
    with pytest.raises(ValueError, match="1:1"):
        slice_overlap_matrix(dup, "src", F.col("i"), "text")


def test_slice_overlap_matches_bruteforce_random(spark):
    import random

    from hybridbackend_spark.operators.corpus import slice_overlap_matrix

    rng = random.Random(11)
    vocab = [f"w{k}" for k in range(12)]
    rows = []
    for s in range(5):
        for d in range(6):
            text = " ".join(rng.choice(vocab) for _ in range(rng.randrange(3, 15)))
            rows.append((f"s{s}", s, text))
    df = spark.createDataFrame(rows, "src string, i int, text string")
    got = {
        (r.src_a, r.src_b): (r.inter_sz, r.union_sz)
        for r in slice_overlap_matrix(df, "src", F.col("i"), "text").collect()
    }
    # brute force in python
    sets = {}
    for src, _, text in rows:
        toks = text.split()
        sh = {
            " ".join(toks[k : k + 3]) for k in range(len(toks) - 2)
        }
        sets.setdefault(src, set()).update(sh)
    for a in range(5):
        for b in range(a + 1, 5):
            sa, sb = sets[f"s{a}"], sets[f"s{b}"]
            inter = len(sa & sb)
            if inter:
                assert got[(f"s{a}", f"s{b}")] == (inter, len(sa | sb))
            else:
                assert (f"s{a}", f"s{b}") not in got


def test_slice_overlap_duplicate_label_rejected(spark):
    from hybridbackend_spark.operators.corpus import slice_overlap_matrix

    # one label split across two bit positions must be rejected (it
    # would fabricate self-pairs and split per-slice counts)
    df = spark.createDataFrame(
        [("s0", 0, "a b c"), ("s0", 1, "a b c"), ("s1", 2, "a b c")],
        "src string, i int, text string",
    )
    with pytest.raises(ValueError, match="1:1"):
        slice_overlap_matrix(df, "src", F.col("i"), "text")


def _md5_bucket(key: str, n: int, seed: int = 0) -> int:
    import hashlib

    return int(hashlib.md5(f"{key}:{seed}".encode()).hexdigest()[:8], 16) % n


def test_hashed_linear_classifier_matches_python(spark):
    import math

    from hybridbackend_spark.operators.corpus import hashed_linear_classifier

    rows = [
        (1, "the quick brown fox"),
        (2, "THE the The"),  # case-folds to one token type
        (3, "   "),  # whitespace-only: no features, omitted
        (4, "lorem"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in hashed_linear_classifier(df, "doc_id", "text").collect()
    }
    assert 3 not in got
    for doc_id, text in rows:
        toks = text.lower().split()
        if not toks:
            continue
        ws = [
            _md5_bucket(f"w:{_md5_bucket(t, 1 << 16, 1)}", 2001, 1) - 1000
            for t in toks
        ]
        r = got[doc_id]
        assert (r.n_toks, r.w_sum) == (len(toks), sum(ws))
        logit = sum(ws) / (len(toks) * 1000.0)
        assert r.score == round(1.0 / (1.0 + math.exp(-logit)), 6)


def test_distinct_ngram_diversity_matches_python(spark):
    from hybridbackend_spark.operators.corpus import distinct_ngram_diversity

    rows = [
        ("a", "x y x y x"),       # heavy repetition
        ("a", "x y"),
        ("b", "p q r s"),          # all distinct
        ("c", "solo"),             # no bigrams
    ]
    df = spark.createDataFrame(rows, "src string, text string")
    got = {
        r.src: r
        for r in distinct_ngram_diversity(df, "src", "text", n=2).collect()
    }
    # src a: tokens x y x y x | x y -> 7 tokens, 2 types;
    # bigrams: [x y, y x, x y, y x] + [x y] -> 5 grams, 2 distinct
    assert (got["a"].n_tokens, got["a"].n_types) == (7, 2)
    assert (got["a"].n_grams, got["a"].n_distinct_grams) == (5, 2)
    assert got["a"].ttr == round(2 / 7, 6)
    assert got["a"].distinct_n == round(2 / 5, 6)
    assert (got["b"].n_grams, got["b"].n_distinct_grams) == (3, 3)
    assert got["b"].distinct_n == 1.0
    # no bigrams -> NULL ratio, zero counts
    assert (got["c"].n_grams, got["c"].n_distinct_grams) == (0, 0)
    assert got["c"].distinct_n is None


def test_token_budget_mix_waterfill_and_caps(spark):
    from hybridbackend_spark.operators.corpus import token_budget_mix

    # skewed sources: big=12 tokens, small=2, tiny=1; total=15
    rows = [
        ("big", " ".join(["t"] * 12)),
        ("small", "a b"),
        ("tiny", "z"),
    ]
    df = spark.createDataFrame(rows, "src string, text string")
    out = {
        r.src: r
        for r in token_budget_mix(
            df, "src", "text", budget_frac_pct=80, max_epochs=1, rounds=2
        ).collect()
    }
    budget = 15 * 80 // 100  # 12
    # round 1: shares floor(12*T_s/15) = big 9, small 1, tiny 0
    # (tiny capped at 1 epoch = 1 token; its share floor(12/15)=0)
    # round 2: left = 12-10 = 2 over uncapped mass {big 12, small 2, tiny 1}
    # big += floor(2*12/15)=1 -> 10, small += floor(2*2/15)=0, tiny += 0
    assert out["big"].cap == 12 and out["big"].alloc == 10
    assert out["small"].alloc == 1 and out["tiny"].alloc == 0
    total_alloc = sum(r.alloc for r in out.values())
    assert total_alloc <= budget
    assert all(r.residual == budget - total_alloc for r in out.values())
    assert all(r.alloc <= r.cap for r in out.values())
    # max_epochs binds: with a tight cap everything saturates
    capped = {
        r.src: r
        for r in token_budget_mix(
            df, "src", "text", budget_frac_pct=100, max_epochs=1, rounds=2
        ).collect()
    }
    assert all(r.alloc == r.cap == r.n_tokens for r in capped.values())
    assert all(r.residual == 0 for r in capped.values())


def test_ipf_rake_matches_python_and_hits_margins(spark):
    """Pure-Python integer-state replay of the raking rounds, plus the
    statistical contract: after 3 rounds the weighted margins sit
    within integer-truncation distance of both targets."""
    from hybridbackend_spark.operators.corpus import ipf_rake_weights

    # skewed 3x2 table
    cells = {("s1", "en"): 60, ("s1", "de"): 20, ("s2", "en"): 10,
             ("s2", "de"): 5, ("s3", "en"): 4, ("s3", "de"): 1}
    rows = [(r, c) for (r, c), n in cells.items() for _ in range(n)]
    df = spark.createDataFrame(rows, "src string, lg string")
    total = sum(cells.values())
    rt = spark.createDataFrame(
        [(r, total / 3.0) for r in ("s1", "s2", "s3")],
        "src string, target double",
    )
    ct_counts = {"en": 74.0, "de": 26.0}
    ct = spark.createDataFrame(list(ct_counts.items()),
                               "lg string, target double")
    got = {
        (r.src, r.lg): r
        for r in ipf_rake_weights(df, "src", "lg", rt, ct, rounds=3).collect()
    }

    # integer-state replay
    SC = 1_000_000
    wu = {k: n * SC for k, n in cells.items()}
    rtu = {r: round(SC * total / 3.0) for r in ("s1", "s2", "s3")}
    ctu = {c: round(SC * v) for c, v in ct_counts.items()}
    for _ in range(3):
        rm = {}
        for (r, c), w in wu.items():
            rm[r] = rm.get(r, 0) + w
        wu = {(r, c): (w * rtu[r]) // rm[r] for (r, c), w in wu.items()}
        cm = {}
        for (r, c), w in wu.items():
            cm[c] = cm.get(c, 0) + w
        wu = {(r, c): (w * ctu[c]) // cm[c] for (r, c), w in wu.items()}
    for (r, c), n in cells.items():
        # integer states are identical; compare the final 6dp rendering
        # with a half-ulp tolerance (python round() is banker's, the
        # engines round half-up - both are within 1e-6 of the state)
        assert abs(got[(r, c)].weight - wu[(r, c)] / (n * SC)) <= 1e-6, (r, c)
    # margins: row residuals within truncation noise of the equalized
    # target, column residuals near zero (col step runs last)
    for rr in got.values():
        assert abs(rr.row_err) < 0.2          # rows raked one step earlier
        assert abs(rr.col_err) < 1e-4         # cols exact up to truncation
    # small sources get up-weighted, big sources down-weighted
    assert got[("s3", "en")].weight > 1.0 > got[("s1", "en")].weight


def test_dup_ngram_coverage_edges(spark):
    """Template clones light up; unique docs and sub-n docs report 0."""
    from hybridbackend_spark.operators.corpus import dup_ngram_coverage

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),       # clone A
        (2, "alpha beta gamma delta epsilon zeta"),       # clone A
        (3, "one two three four five six seven"),         # unique
        (4, "short doc"),                                  # < n tokens
        (5, ""),                                           # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dup_ngram_coverage(df, "doc_id", "text",
                                                   n=5).collect()}
    assert len(got) == 5  # every doc reported, including gramless ones
    assert got[1].dup_frac == 1.0 and got[2].dup_frac == 1.0
    assert got[1].n_grams == 2  # 6 tokens -> 2 distinct 5-grams
    assert got[3].dup_frac == 0.0 and got[3].n_grams == 3
    assert (got[4].n_grams, got[4].n_dup_grams, got[4].dup_frac) == (0, 0, 0.0)
    assert (got[5].n_grams, got[5].dup_frac) == (0, 0.0)


def test_uniform_sample_exact_selection_and_guard(spark):
    """Hash-rank sampling: (a) selects exactly the k smallest md5 ranks
    per key (verified against an unfiltered full-sort reference, which
    also proves the pre-filter dropped nothing it needed); (b) keys
    with n <= k return all rows; (c) the exactness guard RAISES when
    the oversample cannot cover k, never returning a biased sample."""
    import hashlib

    import pytest

    from hybridbackend_spark.operators.corpus import uniform_sample_exact

    rows = [(i, "a") for i in range(2000)] + [(10_000 + i, "b")
                                              for i in range(30)]
    df = spark.createDataFrame(rows, "event_id long, event_type string")
    got = uniform_sample_exact(df, "event_type", "event_id", k=50)
    by_key = {}
    for r in got.collect():
        by_key.setdefault(r.event_type, []).append(r.event_id)

    def ref(ids, k):
        ranked = sorted(
            ids, key=lambda i: (int(hashlib.md5(str(i).encode())
                                    .hexdigest()[:8], 16), i)
        )
        return sorted(ranked[:k])

    assert sorted(by_key["a"]) == ref(list(range(2000)), 50)
    assert sorted(by_key["b"]) == ref([10_000 + i for i in range(30)], 50)
    assert len(by_key["b"]) == 30  # n <= k: every row kept
    # oversample too small -> expected survivors << k -> guard fires
    with pytest.raises(ValueError, match="under-covered"):
        uniform_sample_exact(
            df, "event_type", "event_id", k=50, oversample=0.1
        )
    # a key whose rows were ALL dropped by the hash pre-filter must
    # fail the guard too (left-join against full per-key counts), not
    # silently vanish from the output: frac = 1e-6/2000 drops every
    # 'a' row (md5 ranks are deterministic, so this never flakes)
    with pytest.raises(ValueError, match="under-covered"):
        uniform_sample_exact(
            df, "event_type", "event_id", k=1, oversample=1e-6
        )
    # NULL keys are excluded, never sampled AND never guard-aborted:
    # the equi-join can't match them, so before the round-9 fix a
    # single NULL-key row tripped the left-join guard with an
    # "under-covered key" no oversample could fix
    with_null = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None)], "event_id long, event_type string"
    )
    got_nn = uniform_sample_exact(
        with_null, "event_type", "event_id", k=5
    ).collect()
    assert sorted(r.event_id for r in got_nn) == [1, 2]
    assert all(r.event_type == "a" for r in got_nn)


def test_decontaminate_spans_window_union(spark):
    """Covered-token counting is the UNION of hit windows (overlapping
    hits don't double-count); clean docs report zero-filled rows."""
    from hybridbackend_spark.operators.corpus import decontaminate_spans

    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            # hits at positions 0 and 1 (overlapping windows) ->
            # covered = union([0,2], [1,3]) = 4 tokens of 6
            (1, "alpha beta gamma delta zz yy"),
            (2, "totally clean text here"),
            (3, "xx"),  # shorter than n: no grams, zero row
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in decontaminate_spans(
        corpus, ev, "text", "doc_id", n=3).collect()}
    assert len(got) == 3
    assert (got[1].n_gram_hits, got[1].n_tokens_covered) == (2, 4)
    assert got[1].frac_covered == round(4 / 6, 6)
    assert (got[2].n_gram_hits, got[2].n_tokens_covered,
            got[2].frac_covered) == (0, 0, 0.0)
    assert (got[3].n_tokens, got[3].n_gram_hits) == (1, 0)
