import pytest
from pyspark.sql import functions as F

from hybridbackend_spark.operators.text import (
    bpe_ish_token_count,
    char_shingles,
    fingerprint,
    lang_id,
    quality_score,
    quality_signals,
    token_count,
    tokens,
    word_shingles,
)


def _one(spark, text, expr):
    return spark.createDataFrame([(text,)], "text: string").select(
        expr.alias("x")
    ).collect()[0]["x"]


def test_tokens_and_count(spark):
    assert _one(spark, "Hello  World foo", tokens("text")) == ["hello", "world", "foo"]
    assert _one(spark, "Hello  World foo", token_count("text")) == 3
    assert _one(spark, "   ", token_count("text")) == 0


def test_bpe_ish_token_count(spark):
    # 3 word pieces + 2 punctuation marks
    assert _one(spark, "hello, world!", bpe_ish_token_count("text")) == 4


def test_word_shingles(spark):
    got = _one(spark, "a b c d", word_shingles("text", 3))
    assert got == ["a b c", "b c d"]
    # shorter than n: no shingles (full n-gram semantics; the MinHash
    # sentinel path relies on the empty set)
    assert _one(spark, "a b", word_shingles("text", 3)) == []
    assert _one(spark, "", word_shingles("text", 3)) == []


def test_char_shingles(spark):
    assert _one(spark, "abcd", char_shingles("text", 3)) == ["abc", "bcd"]
    # shorter than n: the whole (trimmed) text is the one shingle
    assert _one(spark, " Ab ", char_shingles("text", 3)) == ["ab"]
    # no text: no shingles, not one empty shingle
    assert _one(spark, "", char_shingles("text", 3)) == []
    assert _one(spark, " \t ", char_shingles("text", 3)) == []
    for n in (0, -1):
        with pytest.raises(ValueError, match="n must be >= 1"):
            char_shingles("text", n)


def test_quality_signals_and_score(spark):
    text = "the cat sat on the mat with 42 things."
    sigs = quality_signals(F.col("text"))
    df = spark.createDataFrame([(text,)], "text: string").select(
        *[v.alias(k) for k, v in sigs.items()]
    )
    row = df.collect()[0]
    assert row["n_tokens"] == 9
    assert row["digit_ratio"] == pytest.approx(2 / len(text))
    assert 0 < row["stopword_ratio"] < 1
    score = _one(spark, text, quality_score("text"))
    assert 0.0 <= score <= 1.0


def test_lang_id(spark):
    assert _one(spark, "the cat and the dog of a house", lang_id("text")) == "en"
    assert _one(spark, "der hund und die katze ist da", lang_id("text")) == "de"
    assert _one(spark, "zzz qqq xxx", lang_id("text")) == "und"


def test_fingerprint_order_sensitive(spark):
    a = _one(spark, "ab", fingerprint("text"))
    b = _one(spark, "ba", fingerprint("text"))
    assert a != b
    # deterministic
    assert a == _one(spark, "ab", fingerprint("text"))
    # fp('ab') = 1*97 + 2*98 = 293
    assert a == 293


def test_redact_pii_each_type(spark):
    from hybridbackend_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@foo.org or x@y.io, ip 192.168.0.1, "
                "call +44 123-4567-890, id 123-45-6789 end"),
            (2, "clean text with no pii at all"),
        ],
        ["id", "t"],
    )
    r = redact_pii("t")
    out = {
        row["id"]: row
        for row in df.select(
            "id", r["redacted"].alias("red"), *[
                r[f"n_{k}"].alias(f"n_{k}")
                for k in ("email", "ipv4", "phone", "ssn_like")
            ]
        ).collect()
    }
    assert out[1]["n_email"] == 2
    assert out[1]["n_ipv4"] == 1
    assert out[1]["n_phone"] == 1
    assert out[1]["n_ssn_like"] == 1
    red = out[1]["red"]
    assert "<EMAIL>" in red and "<IP>" in red and "<PHONE>" in red and "<ID>" in red
    assert "@" not in red and "192.168" not in red and "6789" not in red
    assert out[2]["red"] == "clean text with no pii at all"
    assert out[2]["n_email"] == 0


def test_redact_pii_email_swallows_phone_digits_consistently(spark):
    # an address whose mailbox is all digits must redact as EMAIL (counted
    # once), never partially as a phone
    from hybridbackend_spark.operators.text import redact_pii

    df = spark.createDataFrame([(1, "x 555-123-4567-999@spam.net y")], ["id", "t"])
    r = redact_pii("t")
    row = df.select(
        r["redacted"].alias("red"), r["n_email"].alias("ne"), r["n_phone"].alias("np")
    ).collect()[0]
    assert row["ne"] == 1
    assert "<EMAIL>" in row["red"]
    assert "spam.net" not in row["red"]


def test_extract_urls_and_domains(spark):
    from hybridbackend_spark.operators.text import (
        extract_urls,
        registrable_domain,
        url_host,
    )

    df = spark.createDataFrame(
        [(1, "go to https://a.b.example.com/x/y.html and http://plain.org, done")],
        ["id", "t"],
    )
    row = df.select(
        extract_urls("t").alias("urls"),
        registrable_domain(url_host(F.lit("https://a.b.example.com/x"))).alias("d1"),
        registrable_domain(F.lit("localhost")).alias("d2"),
    ).collect()[0]
    assert row["urls"] == ["https://a.b.example.com/x/y.html", "http://plain.org"]
    assert row["d1"] == "example.com"
    assert row["d2"] == "localhost"


def test_hashing_vectorize_dense_matches_sparse(spark):
    from pyspark.sql import functions as F

    from hybridbackend_spark.operators.text import hashing_vectorize

    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta gamma"), (3, "")],
        "doc_id: long, text: string",
    )
    sparse = {
        (r["doc_id"], r["bucket"]): r["weight"]
        for r in hashing_vectorize(df, dense=False).collect()
    }
    dense = {
        r["doc_id"]: r["vector"]
        for r in hashing_vectorize(df, dense=True).collect()
    }
    for (doc, bucket), w in sparse.items():
        assert dense[doc][bucket] == w
    for doc, vec in dense.items():
        assert len(vec) == 64
        assert sum(1 for x in vec if x != 0) == sum(
            1 for (d, _) in sparse if d == doc
        )
    assert 3 not in dense  # empty doc -> no tokens -> no vector row


def test_hashing_vectorize_idf_downweights_common(spark):
    from hybridbackend_spark.operators.text import hashing_vectorize

    # 'common' in all 4 docs; 'rare' once -> rare bucket outweighs
    rows = [(i, "common") for i in range(3)] + [(9, "common rare")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    sp = {
        (r["doc_id"], r["bucket"]): r["weight"]
        for r in hashing_vectorize(df, dense=False).collect()
    }
    doc9 = {b: w for (d, b), w in sp.items() if d == 9}
    assert len(doc9) == 2
    w_common, w_rare = sorted(doc9.values())
    # n=4: idf(common, df=4)=1+2-2=1; idf(rare, df=1)=1+2-0=3
    assert (w_common, w_rare) == (1, 3)


def test_jl_project_preserves_relative_distances(spark):
    import random

    from pyspark.sql import functions as F

    from hybridbackend_spark.operators.text import jl_project

    rng = random.Random(1)
    base = [rng.gauss(0, 1) for _ in range(64)]
    near = [x + rng.gauss(0, 0.01) for x in base]
    far = [rng.gauss(0, 1) for _ in range(64)]
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], "id: long, vector: array<double>"
    )
    out = {r["id"]: r["jl_vector"] for r in
           jl_project(df, out_dim=16).collect()}
    assert all(len(v) == 16 for v in out.values())

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    # the near pair stays far closer than the far pair after projection
    assert d2(out[0], out[1]) * 10 < d2(out[0], out[2])
    # determinism: same seed -> identical projection
    again = {r["id"]: r["jl_vector"] for r in
             jl_project(df, out_dim=16).collect()}
    assert out == again


def test_top_keywords_rare_token_wins(spark):
    from hybridbackend_spark.operators.text import top_keywords

    docs = spark.createDataFrame(
        [
            (1, "common common rare"),
            (2, "common boring words"),
            (3, "common boring words"),
            (4, "common boring words"),
        ],
        "doc_id long, text string",
    )
    out = top_keywords(docs, k=1).collect()
    d1 = next(r for r in out if r.doc_id == 1)
    # 'rare' (df=1) outweighs 'common' (df=4, tf=2): idf bits win
    assert d1.token == "rare"
    assert all(r.rank == 1 for r in out)


def test_symspell_match_exact_distance_semantics(spark):
    """Deletion-variant candidates + levenshtein verify = exactly the
    distance<=1 pairs: substitutions, insertions, deletions match;
    distance-2 pairs generated by the variant join are filtered out."""
    from hybridbackend_spark.operators.text import symspell_match

    vocab = spark.createDataFrame(
        [("hello", 100), ("help", 50), ("spark", 80), ("shark", 10)],
        ["tok", "cnt"],
    )
    queries = spark.createDataFrame(
        [("helo",),   # deletion of hello (d=1), substitution of help (d=1)
         ("spork",),  # substitution of spark (d=1)
         ("sparkle",),  # d=2 from spark -> no match
         ("sprak",),  # transposition of spark: d=2, but deletion
                      # variants intersect -> candidate that MUST be
                      # filtered by the levenshtein verify
         ("hello",)],  # exact
        ["q"],
    )
    got = {
        (r.q, r.tok)
        for r in symspell_match(
            queries, vocab, query_col="q", vocab_col="tok"
        ).collect()
    }
    assert ("helo", "hello") in got
    assert ("helo", "help") in got  # substitution o->p, d=1
    assert ("spork", "spark") in got
    assert ("hello", "hello") in got
    assert all(q != "sparkle" for q, _ in got)
    # the transposition candidate survives variant-join generation but
    # fails the exact distance verify
    assert all(q != "sprak" for q, _ in got)


def test_deletion_variants_count_and_content(spark):
    from hybridbackend_spark.operators.text import deletion_variants

    df = spark.createDataFrame([("abc",)], ["tok"])
    vs = {r.variant for r in deletion_variants(df, "tok").collect()}
    assert vs == {"abc", "bc", "ac", "ab"}


def test_deletion_variants_depth2_and_empty_guard(spark):
    from hybridbackend_spark.operators.text import deletion_variants

    df = spark.createDataFrame([("abc",)], ["tok"])
    vs = {
        r.variant for r in deletion_variants(df, "tok", depth=2).collect()
    }
    # depth 0..2: original, 3 single deletions, 3 double deletions
    assert vs == {"abc", "bc", "ac", "ab", "a", "b", "c"}
    # empty / single-char tokens must not fabricate variants via Spark's
    # DOWNWARD sequence(1, 0) (which yields [1, 0], not [])
    df2 = spark.createDataFrame([("x",), ("",)], ["tok"])
    vs2 = {
        (r.tok, r.variant)
        for r in deletion_variants(df2, "tok", depth=2).collect()
    }
    assert vs2 == {("x", "x"), ("x", ""), ("", "")}


def test_symspell_match_depth2_true_symspell(spark):
    """max_distance=2 finds pairs whose depth-1 deletion neighborhoods
    are DISJOINT (the round-5 advisor's counterexamples): two
    substitutions ('abcd'/'axcy') and two deletions ('abcd'/'ab'),
    while d=3 pairs stay excluded."""
    from hybridbackend_spark.operators.text import symspell_match

    vocab = spark.createDataFrame(
        [("abcd", 1), ("spark", 2)], ["tok", "cnt"]
    )
    queries = spark.createDataFrame(
        [("axcy",),   # 2 substitutions -> d=2
         ("ab",),     # 2 deletions -> d=2
         ("sprak",),  # transposition -> d=2, matches at depth 2
         ("a",),      # d=3 from abcd -> candidate via deletions but
                      # must fail the levenshtein verify
         ("sparkles",)],  # d=3 from spark -> no match
        ["q"],
    )
    got = {
        (r.q, r.tok)
        for r in symspell_match(
            queries, vocab, query_col="q", vocab_col="tok", max_distance=2
        ).collect()
    }
    assert ("axcy", "abcd") in got
    assert ("ab", "abcd") in got
    assert ("sprak", "spark") in got
    assert all(q not in ("a", "sparkles") for q, _ in got)


def test_symspell_match_rejects_bad_distance(spark):
    from hybridbackend_spark.operators.text import symspell_match

    df = spark.createDataFrame([("a", 1)], ["tok", "cnt"])
    q = spark.createDataFrame([("a",)], ["q"])
    with pytest.raises(ValueError):
        symspell_match(q, df, query_col="q", vocab_col="tok",
                       max_distance=0)


def test_textrank_hub_word_outranks_peripherals(spark, sf_dir):
    # the full bit-exact replay is the driver oracle; here check the
    # ranking SEMANTICS on the real corpus: a word must beat another it
    # strictly dominates in graph position (higher degree, shared hub)
    from hybridbackend_spark.queries import textrank_keywords_docs

    rows = textrank_keywords_docs(spark, sf_dir).collect()
    assert len(rows) > 0
    ranks = {r.word: r.rank for r in rows}
    # every rank carries the damping floor of the integer scheme
    assert all(r >= 150000000 for r in ranks.values())
    # deterministic across runs
    again = {r.word: r.rank for r in textrank_keywords_docs(spark, sf_dir).collect()}
    assert ranks == again
