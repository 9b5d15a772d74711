from pyspark.sql import functions as F

from hybridbackend_spark.operators.dedup import (
    cosine_near_dup_pairs,
    exact_dedup,
    minhash_lsh_candidates,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash_candidates,
    simhash_sketches,
)
from hybridbackend_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_ivf,
    cosine_topk_lsh,
    ivf_assign,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog again and again today"),
    (1, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
    (2, "completely different text about spark query engines and columnar scans"),
    (3, "THE  QUICK brown fox jumps over the lazy dog again and again today"),
    (4, "unrelated words describing benchmark harness throughput numbers"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id: long, text: string")


def test_exact_dedup_normalized(spark):
    # doc 3 == doc 0 after lowercase + whitespace collapse
    out = exact_dedup(_docs(spark), "text", "doc_id")
    rows = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    assert rows[0] == 2 and 3 not in rows
    assert out.count() == 4


def test_minhash_lsh_finds_near_dups(spark):
    cands = minhash_lsh_candidates(_docs(spark), "text", "doc_id")
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (0, 3) in pairs  # exact dup modulo case/space
    assert (0, 1) in pairs  # one-word difference
    survivors = {
        r["doc_id"] for r in minhash_lsh_dedup(_docs(spark), "text", "doc_id").collect()
    }
    assert 0 in survivors and 2 in survivors and 4 in survivors
    assert 3 not in survivors


def test_ngram_jaccard_pairs(spark):
    out = ngram_jaccard_pairs(_docs(spark), "text", "doc_id", threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert pairs[(0, 3)] == 1.0
    assert (0, 1) in pairs and pairs[(0, 1)] < 1.0
    assert (0, 2) not in pairs


def test_simhash_near_for_near_texts(spark):
    sk = {r["doc_id"]: r["sketch"] for r in
          simhash_sketches(_docs(spark), "text", "doc_id").collect()}
    assert sk[0] == sk[3]  # same token multiset
    ham_near = bin(sk[0] ^ sk[1]).count("1")
    ham_far = bin(sk[0] ^ sk[2]).count("1")
    assert ham_near < ham_far
    cands = simhash_candidates(_docs(spark), "text", "doc_id")
    assert (0, 3) in {(r["id_a"], r["id_b"]) for r in cands.collect()}


def _vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (4, [-1.0, 0.0, 0.0]),   # anti-parallel to 0
    ]
    return spark.createDataFrame(rows, "vec_id: long, v: array<float>")


def test_cosine_near_dup_pairs_exact(spark):
    out = cosine_near_dup_pairs(_vecs(spark), "v", "vec_id", threshold=0.9)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert pairs == {(0, 1)}


def test_cosine_topk_bruteforce(spark):
    v = _vecs(spark)
    out = cosine_topk(v.filter("vec_id = 0"), v, "vec_id", "vec_id", "v", "v", k=2)
    rows = sorted((r["rnk"], r["neighbor_id"]) for r in out.collect())
    assert rows[0] == (1, 1)  # nearest neighbor of 0 is 1
    # exclude_self=False: the query ranks itself first at cos 1.0
    out = cosine_topk(
        v.filter("vec_id = 0"), v, "vec_id", "vec_id", "v", "v", k=2,
        exclude_self=False,
    )
    rows = sorted((r["rnk"], r["neighbor_id"], r["cos"]) for r in out.collect())
    assert [r[:2] for r in rows] == [(1, 0), (2, 1)] and rows[0][2] == 1.0


def test_cosine_topk_lsh_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(q, emb, "vec_id", "vec_id", "embedding", "embedding", k=5)
    approx = cosine_topk_lsh(
        q, emb, "vec_id", "vec_id", "embedding", "embedding",
        k=5, bits=4, n_tables=8,
    )
    e = {(r["vec_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["vec_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5  # 8 tables x 4 bits on 500 vecs: decent recall


def test_ivf_assign_and_topk(spark):
    v = _vecs(spark)
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    assigned = {r["vec_id"]: r["ivf_cell"] for r in
                ivf_assign(v, "v", cents).collect()}
    assert assigned[0] == 0 and assigned[2] == 1 and assigned[3] == 2
    out = cosine_topk_ivf(
        v.filter("vec_id = 0"), v, "vec_id", "vec_id", "v", "v",
        centroids=cents, k=2, n_probe=1,
    )
    got = {r["neighbor_id"] for r in out.collect()}
    assert 1 in got  # near-dup in the same probed cell


def test_ivf_n_probe_must_be_positive(spark):
    # n_probe=0 sliced an empty probe list: both IVF callers returned no
    # rows instead of raising
    import pytest

    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.99, 0.1, 0.0]), (2, [0.0, 0.0, 1.0])]
    v = spark.createDataFrame(rows, "vec_id: long, v: array<float>")
    cents = [[1.0, 0.0, 0.0], [0.0, 0.0, 1.0]]

    def topk(n_probe):
        return cosine_topk_ivf(
            v, v, "vec_id", "vec_id", "v", "v",
            centroids=cents, k=1, n_probe=n_probe,
        )

    def pairs(n_probe):
        return cosine_near_dup_pairs(
            v, "v", "vec_id", threshold=0.9, bucket_bits=1, dim=3,
            blocking="ivf", centroids=cents, n_probe=n_probe,
        )

    assert topk(1).count() == 2 and pairs(1).count() == 1
    for build in (topk, pairs):
        with pytest.raises(ValueError, match="n_probe"):
            build(0)


def test_resolve_ann_strategy():
    import pytest

    from hybridbackend_spark.operators.similarity import (
        ANN_AUTO_IVF_MIN_DIM,
        _resolve_ann_strategy,
    )

    assert _resolve_ann_strategy("auto", 64) == "lsh"
    assert _resolve_ann_strategy("auto", ANN_AUTO_IVF_MIN_DIM - 1) == "lsh"
    assert _resolve_ann_strategy("auto", ANN_AUTO_IVF_MIN_DIM) == "ivf"
    assert _resolve_ann_strategy("auto", 768) == "ivf"
    assert _resolve_ann_strategy("lsh", 768) == "lsh"  # explicit overrides
    assert _resolve_ann_strategy("ivf", 64) == "ivf"
    with pytest.raises(ValueError, match="strategy"):
        _resolve_ann_strategy("annoy", 64)


def test_cosine_topk_ann_auto_lsh_parity(spark, sf_dir):
    # auto at the testdata's dim 64 must route to LSH and reproduce the
    # registered parameters' output exactly (oracle hashes stay valid)
    from hybridbackend_spark.operators.similarity import cosine_topk_ann

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    via_lsh = cosine_topk_lsh(
        q, emb, "vec_id", "vec_id", "embedding", "embedding",
        k=5, bits=6, n_tables=6,
    )
    via_auto = cosine_topk_ann(
        q, emb, "vec_id", "vec_id", "embedding", "embedding", k=5, dim=64
    )
    lhs = sorted(map(tuple, via_lsh.collect()))
    rhs = sorted(map(tuple, via_auto.collect()))
    assert lhs == rhs and len(lhs) > 0


def test_cosine_topk_ann_auto_ivf_at_high_dim(spark):
    # 256-d near-dup fixture: auto must route to IVF (trained in-line
    # via kmeans_train) and find the planted neighbor; the explicit
    # "ivf" arm with the same knobs must match the router bit-for-bit
    from hybridbackend_spark.operators.similarity import (
        cosine_topk_ann,
        cosine_topk_ivf,
        kmeans_train,
    )

    d = 256
    base_a = [1.0] + [0.0] * (d - 1)
    near_a = [0.99, 0.1] + [0.0] * (d - 2)
    base_b = [0.0, 0.0, 1.0] + [0.0] * (d - 3)
    rows = [(0, base_a), (1, near_a), (2, base_b)]
    v = spark.createDataFrame(rows, "vec_id: long, v: array<float>")
    q = v.filter("vec_id = 0")
    auto = cosine_topk_ann(
        v.filter("vec_id = 0"), v, "vec_id", "vec_id", "v", "v",
        k=1, dim=d, ivf_k=2, n_probe=1,
    )
    got = [(r["neighbor_id"], r["rnk"]) for r in auto.collect()]
    assert got == [(1, 1)]
    cents = kmeans_train(v, "v", k=2, iters=2, id_col="vec_id")
    explicit = cosine_topk_ivf(
        q, v, "vec_id", "vec_id", "v", "v", centroids=cents, k=1, n_probe=1
    )
    assert sorted(map(tuple, explicit.collect())) == sorted(
        map(tuple, auto.collect())
    )


def test_cosine_near_dup_bucketed_int8_parity(spark):
    # the int8 pre-filter is a provable superset pruner: forced ON vs
    # forced OFF must be bit-identical on a fixture that includes the
    # adversarial inputs (zero vector, NaN element, +/-inf element —
    # the round-11 accept-sure escape shape) and pairs straddling the
    # threshold boundary
    import math
    import random

    from hybridbackend_spark.operators.dedup import cosine_near_dup_pairs

    rng = random.Random(5)
    d = 16
    base = [rng.uniform(-1, 1) for _ in range(d)]
    near = [x + rng.uniform(-0.01, 0.01) for x in base]
    mid = [x + rng.uniform(-0.5, 0.5) for x in base]
    rows = [
        (0, base),
        (1, near),
        (2, mid),
        (3, [rng.uniform(-1, 1) for _ in range(d)]),
        (4, [0.0] * d),                        # zero norm
        (5, [math.nan] + base[1:]),            # NaN element
        (6, [math.inf] + base[1:]),            # inf -> NaN unit vector
        (7, [-math.inf] + near[1:]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, v: array<double>")
    # both blocking arms prune with the same int8 sketch
    for kw in (
        dict(threshold=0.9, bucket_bits=2, seed=3, dim=d, n_tables=4),
        dict(
            threshold=0.9, bucket_bits=2, dim=d, blocking="ivf",
            centroids=[base, rows[3][1]], n_probe=1,
        ),
    ):
        off = cosine_near_dup_pairs(df, "v", "vec_id", int8_filter=False, **kw)
        on = cosine_near_dup_pairs(df, "v", "vec_id", int8_filter=True, **kw)
        off_rows = sorted(map(tuple, off.collect()))
        on_rows = sorted(map(tuple, on.collect()))
        assert off_rows == on_rows
        ids_in_pairs = {i for r in on_rows for i in r[:2]}
        assert (0, 1) in {r[:2] for r in on_rows}  # the planted near-dup
        assert not ids_in_pairs & {4, 5, 6, 7}  # corrupt rows never merge


def test_cosine_near_dup_int8_auto_resolution(spark):
    # auto keys on dim: OFF at the testdata's 64 (registered plans and
    # oracle hashes unchanged), ON at 256+; bad knob values raise
    import pytest

    from hybridbackend_spark.operators.dedup import (
        _INT8_AUTO_MIN_DIM,
        _resolve_int8_filter,
        cosine_near_dup_pairs,
    )

    assert not _resolve_int8_filter("auto", 64)
    assert _resolve_int8_filter("auto", _INT8_AUTO_MIN_DIM)
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.99, 0.1])], "vec_id: long, v: array<double>"
    )
    with pytest.raises(ValueError, match="int8_filter"):
        cosine_near_dup_pairs(
            df, "v", "vec_id", bucket_bits=1, dim=2, int8_filter="sometimes"
        )


def test_cosine_near_dup_blocking_router(spark):
    """Round-13 (VERDICT item 6): the blocking router. At dim < 128
    "auto" must BE the LSH arm (bit-identical pairs — the declared
    dim-64 queries cannot move); at dim >= 128 "auto" resolves to IVF
    blocking, whose pairs are exactly-scored (subset of brute force,
    identical cosines) and find the planted high-dim near-dup."""
    import random

    import pytest

    from hybridbackend_spark.operators.dedup import cosine_near_dup_pairs
    from hybridbackend_spark.operators.similarity import (
        ANN_AUTO_IVF_MIN_DIM,
        _resolve_ann_strategy,
    )

    assert _resolve_ann_strategy("auto", 64) == "lsh"
    assert _resolve_ann_strategy("auto", ANN_AUTO_IVF_MIN_DIM) == "ivf"

    # dim-64 regime: auto == explicit lsh, bit-for-bit
    kw = dict(threshold=0.9, bucket_bits=1, seed=7, dim=3)
    auto_rows = sorted(
        map(
            tuple,
            cosine_near_dup_pairs(
                _vecs(spark), "v", "vec_id", blocking="auto", **kw
            ).collect(),
        )
    )
    lsh_rows = sorted(
        map(
            tuple,
            cosine_near_dup_pairs(
                _vecs(spark), "v", "vec_id", blocking="lsh", **kw
            ).collect(),
        )
    )
    assert auto_rows == lsh_rows

    # high-dim regime: 128-d clustered fixture; auto -> IVF blocking
    rng = random.Random(13)
    d = ANN_AUTO_IVF_MIN_DIM
    c1 = [rng.uniform(-1, 1) for _ in range(d)]
    c2 = [rng.uniform(-1, 1) for _ in range(d)]
    rows = []
    for i in range(6):  # two tight clusters of 3
        base = c1 if i < 3 else c2
        rows.append(
            (i, [x + rng.uniform(-0.01, 0.01) for x in base])
        )
    df = spark.createDataFrame(rows, "vec_id: long, v: array<double>")
    exact = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in cosine_near_dup_pairs(
            df, "v", "vec_id", threshold=0.9
        ).collect()
    }

    def ivf_pairs(**kw):
        return {
            (r["id_a"], r["id_b"], r["cos"])
            for r in cosine_near_dup_pairs(
                df,
                "v",
                "vec_id",
                threshold=0.9,
                bucket_bits=8,
                dim=d,
                blocking="auto",
                centroids=[c1, c2],
                n_probe=1,
                **kw,
            ).collect()
        }

    got = ivf_pairs()
    assert got <= exact  # exactly-scored subset
    # within-cluster near-dups land in the same trained cell
    assert {(p[0], p[1]) for p in got} >= {(0, 1), (0, 2), (3, 4), (3, 5)}
    # md5 shard cap: a no-op at or above every cell's size (3 rows), a
    # pair subset below it, and rejected below 1
    assert ivf_pairs(max_cell_rows=None) == got == ivf_pairs(max_cell_rows=3)
    capped = ivf_pairs(max_cell_rows=2)
    assert capped and capped < got
    with pytest.raises(ValueError, match="max_cell_rows"):
        ivf_pairs(max_cell_rows=0)


def test_cosine_near_dup_pairs_bucketed(spark):
    from hybridbackend_spark.operators.dedup import cosine_near_dup_pairs

    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(_vecs(spark), "v", "vec_id", 0.9).collect()
    }
    bucketed = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(
            _vecs(spark), "v", "vec_id", 0.9, bucket_bits=1, seed=7, dim=3
        ).collect()
    }
    # bucketed results are a subset of exact (candidates only shrink)
    assert bucketed <= exact
    # determinism
    again = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(
            _vecs(spark), "v", "vec_id", 0.9, bucket_bits=1, seed=7, dim=3
        ).collect()
    }
    assert bucketed == again


def test_connected_components_chain_and_star(spark):
    from hybridbackend_spark.operators.graph import connected_components

    # (1,3),(2,3): the pattern min-id absorption gets wrong — node 2
    # never appears as the larger pair member yet is in component 1
    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (10, 11), (11, 12), (12, 13), (20, 21)],
        "id_a: long, id_b: long",
    )
    comp = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10, 12: 10, 13: 10,
        20: 20, 21: 20,
    }


def test_minhash_lsh_dedup_transitive_chain(spark):
    # docs 1 and 3 similar, 2 and 3 similar, 1 and 2 NOT similar:
    # a transitive closure keeps only doc 1; absorption would keep doc 2
    from hybridbackend_spark.operators.dedup import (
        minhash_lsh_dedup,
        ngram_jaccard_pairs,
    )

    toks = [f"w{i}x" for i in range(60)]
    rows = [
        (1, " ".join(toks[0:40])),
        (3, " ".join(toks[4:44])),
        (2, " ".join(toks[8:48])),
        (50, " ".join(f"z{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, "text", "doc_id", 3, 0.7).collect()
    }
    assert exact == {(1, 3), (2, 3)}  # the planted chain, nothing else
    survivors = {
        r["doc_id"]
        for r in minhash_lsh_dedup(df, "text", "doc_id", threshold=0.7).collect()
    }
    assert survivors == {1, 50}


def test_portable_mode_same_semantics(spark):
    """portable=True (md5 base hash, oracle-reproducible) must behave like
    the default xxhash64 mode on the planted corpus: same near-dup
    discovery, same dedup survivors, same simhash near/far ordering."""
    cands = minhash_lsh_candidates(_docs(spark), "text", "doc_id", portable=True)
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (0, 3) in pairs and (0, 1) in pairs
    survivors = {
        r["doc_id"]
        for r in minhash_lsh_dedup(
            _docs(spark), "text", "doc_id", portable=True
        ).collect()
    }
    assert 0 in survivors and 3 not in survivors
    sk = {
        r["doc_id"]: r["sketch"]
        for r in simhash_sketches(
            _docs(spark), "text", "doc_id", portable=True
        ).collect()
    }
    assert sk[0] == sk[3]
    assert bin(sk[0] ^ sk[1]).count("1") < bin(sk[0] ^ sk[2]).count("1")


def test_kmeans_train_recovers_planted_clusters(spark):
    from hybridbackend_spark.operators.similarity import ivf_assign, kmeans_train

    # 3 tight planted clusters around orthogonal anchors
    import random

    rng = random.Random(5)
    anchors = [[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]]
    rows = []
    for i in range(90):
        a = anchors[i % 3]
        rows.append((i, [x + rng.uniform(-0.5, 0.5) for x in a]))
    df = spark.createDataFrame(rows, ["vid", "vec"])
    cents = kmeans_train(df, "vec", k=3, iters=3, id_col="vid")
    assigned = {
        r["vid"]: r["cell"]
        for r in ivf_assign(df, "vec", cents, "cell").select("vid", "cell").collect()
    }
    # every point of a planted cluster lands in one cell, 3 distinct cells
    cells = [{assigned[i] for i in range(90) if i % 3 == m} for m in range(3)]
    assert all(len(c) == 1 for c in cells)
    assert len(set().union(*cells)) == 3
    # trained centroids sit near the anchors
    for c in cents:
        best = min(sum((x - y) ** 2 for x, y in zip(c, a)) for a in anchors)
        assert best < 0.3


def test_kmeans_train_empty_cell_keeps_previous(spark):
    from hybridbackend_spark.operators.similarity import kmeans_train

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0])], ["vid", "vec"]
    )
    far = [100.0, 100.0]  # captures nothing -> must survive verbatim
    cents = kmeans_train(
        df, "vec", k=2, iters=2, init=[[0.5, 0.5], far]
    )
    assert cents[1] == far


def test_ivf_assign_tree_and_train(spark):
    """Two-level quantizer (the K∝n growth path): (a) with one
    sub-centroid per cell equal to the coarse centroid, tree assignment
    == flat assignment exactly; (b) hierarchical training is
    deterministic across reruns; (c) semantic_dedup_tree with that
    degenerate tree returns the identical survivor set to the flat
    semantic_dedup."""
    from pyspark.sql import functions as F

    from hybridbackend_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_tree,
    )
    from hybridbackend_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_tree,
        kmeans_train,
        kmeans_train_tree,
    )

    import random

    rng = random.Random(7)
    anchors = [[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0],
               [5.0, 5.0, 0.0]]
    rows = [
        (i, [x + rng.uniform(-0.5, 0.5) for x in anchors[i % 4]])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, ["vid", "vec"])
    v = df.select("vid", F.transform("vec", lambda x: x.cast("double"))
                  .alias("_v"))

    flat_c = kmeans_train(df, "vec", k=4, iters=2, id_col="vid")
    degenerate = {i: [c] for i, c in enumerate(flat_c)}
    a = ivf_assign(v, "_v", flat_c, "cf")
    b = ivf_assign_tree(v, "_v", flat_c, degenerate, "ct")
    assert a.join(b, "vid").filter(F.col("cf") != F.col("ct")).count() == 0

    s_flat = sorted(
        (r.vec_id, r.cell) for r in semantic_dedup(
            df.withColumnRenamed("vid", "vec_id"), "vec", "vec_id",
            centroids=flat_c, threshold=0.9,
        ).collect()
    )
    s_tree = sorted(
        (r.vec_id, r.cell) for r in semantic_dedup_tree(
            df.withColumnRenamed("vid", "vec_id"), "vec", "vec_id",
            flat_c, degenerate, threshold=0.9,
        ).collect()
    )
    assert s_flat == s_tree and len(s_flat) > 0

    # int8 candidate pass: provable-superset margin filter + exact
    # re-verify => output bit-identical to the exact path (clustered
    # data puts many pairs near the threshold, exercising the margin);
    # a ZERO vector, a NaN vector, and an INF vector ride along — ANSI
    # would abort on the zero division, and Spark orders NaN ABOVE
    # every value so an unguarded NaN cosine would pass every threshold
    # and merge with everything; the inf row is the round-11 advisor
    # repro: _nrm = inf makes the unit vector inf/inf = NaN, so
    # approx = NaN and an un-guarded accept-sure flag (NaN - margin >=
    # threshold is TRUE in Spark) would skip the exact verify and merge
    # the corrupt row via a bogus sure edge; all three must instead
    # yield NULL cosine (pairs dropped), survive as singletons, and
    # decide IDENTICALLY in both paths
    df2 = df.union(spark.createDataFrame(
        [(999, [0.0, 0.0, 0.0]), (998, [float("nan"), 1.0, 1.0]),
         (997, [float("inf"), 1.0, 1.0])],
        ["vid", "vec"],
    ))
    for thr in (0.5, 0.9):
        e = sorted(
            (r.vec_id, r.cell) for r in semantic_dedup(
                df2.withColumnRenamed("vid", "vec_id"), "vec", "vec_id",
                centroids=flat_c, threshold=thr,
            ).collect()
        )
        i8 = sorted(
            (r.vec_id, r.cell) for r in semantic_dedup(
                df2.withColumnRenamed("vid", "vec_id"), "vec", "vec_id",
                centroids=flat_c, threshold=thr, int8_filter=True,
            ).collect()
        )
        assert e == i8
        ids = {vid for vid, _ in e}
        # degenerate rows survive solo
        assert 999 in ids and 998 in ids and 997 in ids

    c1, sub = kmeans_train_tree(df, "vec", "vid", k1=2, k2=2, iters=2)
    c1b, subb = kmeans_train_tree(df, "vec", "vid", k1=2, k2=2, iters=2)
    assert c1 == c1b and sub == subb
    t = ivf_assign_tree(v, "_v", c1, sub, "cell")
    # every row assigned, cell ids live in [0, k1*max_k2)
    got = t.agg(F.count(F.lit(1)), F.min("cell"), F.max("cell")).collect()[0]
    assert got[0] == 120 and got[1] >= 0 and got[2] < 4

    # train_frac (round-10): the hash-sampled trainer is deterministic
    # across repeated runs AND partitionings (xxhash64-keyed sample is
    # layout-independent), trains on a strict subset, and the sampled
    # quantizer still assigns every row
    mb1 = kmeans_train_tree(
        df, "vec", "vid", k1=2, k2=2, iters=2, train_frac=0.5
    )
    mb2 = kmeans_train_tree(
        df.repartition(7), "vec", "vid", k1=2, k2=2, iters=2,
        train_frac=0.5,
    )
    assert mb1 == mb2
    t2 = ivf_assign_tree(v, "_v", mb1[0], mb1[1], "cell")
    assert t2.count() == 120
    import pytest as _pytest

    with _pytest.raises(ValueError, match="train_frac"):
        kmeans_train_tree(df, "vec", "vid", k1=2, k2=2, train_frac=0.0)


def test_int8_filter_auto_resolution(spark):
    """int8_filter="auto" (round-11): the resolver keys on the vector
    width known from the centroids — on at >= 256 dims (the measured
    shuffle win), off below — and the auto default produces output
    bit-identical to the forced-off exact path at a >= 256-dim input
    (the parity contract makes auto purely a plan decision)."""
    import pytest

    from hybridbackend_spark.operators.dedup import (
        _INT8_AUTO_MIN_DIM,
        _resolve_int8_filter,
        semantic_dedup,
    )

    assert _INT8_AUTO_MIN_DIM == 256
    assert _resolve_int8_filter(True, 2) is True
    assert _resolve_int8_filter(False, 4096) is False
    assert _resolve_int8_filter("auto", 64) is False
    assert _resolve_int8_filter("auto", 255) is False
    assert _resolve_int8_filter("auto", 256) is True
    assert _resolve_int8_filter("auto", 768) is True
    with pytest.raises(ValueError, match="int8_filter"):
        _resolve_int8_filter("yes", 768)

    # e2e at dim 256: default (auto -> int8 on) == forced-off exact path
    import random

    rng = random.Random(11)
    base = [[rng.uniform(-1, 1) for _ in range(256)] for _ in range(3)]
    rows = []
    for i in range(36):
        b = base[i % 3]
        rows.append(
            (i, [x + rng.uniform(-0.02, 0.02) for x in b])
        )
    df = spark.createDataFrame(rows, ["vec_id", "vec"])
    cents = [base[0], base[1]]
    auto = sorted(
        (r.vec_id, r.cell)
        for r in semantic_dedup(
            df, "vec", "vec_id", centroids=cents, threshold=0.9
        ).collect()
    )
    exact = sorted(
        (r.vec_id, r.cell)
        for r in semantic_dedup(
            df, "vec", "vec_id", centroids=cents, threshold=0.9,
            int8_filter=False,
        ).collect()
    )
    assert auto == exact and 0 < len(auto) < 36


def test_contamination_check_planted(spark):
    from hybridbackend_spark.operators.dedup import contamination_check

    eval_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = [
        (1, "prefix words " + eval_text + " suffix words"),  # contains eval -> many shared
        (2, "alpha beta gamma nothing else in common here at all"),  # 1 shared 3-gram
        (3, "completely disjoint vocabulary sentence with other words"),
    ]
    ev = spark.createDataFrame([(100, eval_text)], ["doc_id", "text"])
    cp = spark.createDataFrame(corpus, ["doc_id", "text"])
    out = contamination_check(cp, ev, "text", "doc_id", shingle_n=3, min_common=5)
    rows = out.collect()
    assert {(r["corpus_id"], r["eval_id"]) for r in rows} == {(1, 100)}
    # doc 1 embeds all 8 eval 3-grams
    assert rows[0]["n_common"] == 8
    # loosening the threshold surfaces doc 2's single shared shingle
    loose = contamination_check(cp, ev, "text", "doc_id", 3, 1)
    got = {r["corpus_id"]: r["n_common"] for r in loose.collect()}
    assert got == {1: 8, 2: 1}


def test_quantize_int8_roundtrip_bounds(spark):
    from pyspark.sql import functions as F

    from hybridbackend_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [
            (0, [0.5, -1.0, 0.25, 0.0]),
            (1, [3.0, 2.0, -3.0, 1.5]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector
        ],
        ["vid", "vec"],
    )
    out = quantize_int8(df, "vec").collect()
    by = {r["vid"]: r for r in out}
    assert by[0]["scale"] == 1.0 and by[0]["q"] == [64, -127, 32, 0]
    assert by[1]["scale"] == 3.0 and by[1]["q"][0] == 127 and by[1]["q"][2] == -127
    assert by[2]["scale"] == 0.0 and by[2]["q"] == [0, 0, 0, 0]
    # dequant error bounded by scale/254
    deq = quantize_int8(df, "vec").select(
        "vid",
        F.expr(
            "array_max(zip_with(vec, q, (v, qq) ->"
            " abs(v - qq * scale / 127.0)))"
        ).alias("err"),
        "scale",
    ).collect()
    for r in deq:
        if r["scale"] > 0:
            assert r["err"] <= r["scale"] / 254 + 1e-12
    # NaN component: scale is NaN, quantizes to all-zero like the zero
    # vector — an unguarded round(NaN).cast('int') aborts the job
    # under Spark 4.1 ANSI (NaN==0 is false, so the zero-vector branch
    # alone doesn't cover it)
    nan_df = spark.createDataFrame(
        [(9, [1.0, float("nan"), 0.5, 0.0])], ["vid", "vec"]
    )
    nr = quantize_int8(nan_df, "vec").collect()[0]
    import math

    assert math.isnan(nr["scale"]) and nr["q"] == [0, 0, 0, 0]


def test_semantic_dedup_within_cell_only(spark):
    from hybridbackend_spark.operators.dedup import semantic_dedup

    # centroids on two axes of a 4-dim space
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
    rows = [
        # cell 0: 1~2~3 a near-dup chain (cos ~1), 4 distinct
        (1, [1.0, 0.02, 0.0, 0.0]),
        (2, [1.0, 0.021, 0.0, 0.0]),
        (3, [1.0, 0.022, 0.0, 0.0]),
        (4, [1.0, 0.9, 0.0, 0.0]),
        # cell 1: 5 is near-identical to 1 in ANGLE to its own cellmates?
        # no — 5/6 are near-dups of each other inside cell 1
        (5, [0.0, 0.0, 1.0, 0.01]),
        (6, [0.0, 0.0, 1.0, 0.011]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = semantic_dedup(df, "embedding", "vec_id", cents, threshold=0.999)
    got = {r["vec_id"]: r["cell"] for r in out.collect()}
    # chain 1~2~3 collapses transitively to 1; 5~6 collapses to 5
    assert set(got) == {1, 4, 5}
    assert got[1] == 0 and got[4] == 0 and got[5] == 1


def test_semantic_dedup_misses_cross_cell_pairs_by_design(spark):
    from hybridbackend_spark.operators.dedup import semantic_dedup

    cents = [[1.0, 0.0], [0.0, 1.0]]
    # two identical vectors placed in DIFFERENT cells can't be compared
    rows = [(1, [1.0, 0.99]), (2, [0.99, 1.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = semantic_dedup(df, "embedding", "vec_id", cents, threshold=0.9)
    assert {r["vec_id"] for r in out.collect()} == {1, 2}


def _degenerate_corpus(spark):
    """Normal near-dup pairs + a planted degenerate bucket: 40 copies of
    one boilerplate slab (identical signatures, so every band collides)
    and 20 empty documents (sentinel signatures)."""
    rows = list(DOCS)
    slab = "terms of service apply to all users of this website always"
    rows += [(100 + i, slab) for i in range(40)]
    rows += [(500 + i, "") for i in range(20)]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_minhash_bucket_cap_bounds_pairs_keeps_recall(spark):
    docs = _degenerate_corpus(spark)
    uncapped = minhash_lsh_candidates(docs, "text", "doc_id")
    capped = minhash_lsh_candidates(docs, "text", "doc_id", max_bucket=10)
    pairs_un = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    pairs_cap = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # empty docs never pair even uncapped (sentinel exclusion)
    assert not any(a >= 500 or b >= 500 for a, b in pairs_un)
    # the 40-doc slab contributes C(40,2)=780 pairs uncapped; the cap
    # removes them wholesale
    assert len(pairs_un) >= 780
    assert len(pairs_cap) < 50
    assert not any(a >= 100 for a, b in pairs_cap)
    # recall on normal near-dup pairs is unchanged by the cap
    assert (0, 3) in pairs_cap and (0, 1) in pairs_cap


def test_simhash_bucket_cap_and_empty_exclusion(spark):
    docs = _degenerate_corpus(spark)
    uncapped = simhash_candidates(docs, "text", "doc_id")
    capped = simhash_candidates(docs, "text", "doc_id", max_bucket=10)
    pairs_un = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    pairs_cap = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # empty docs excluded before sketching in both modes
    assert not any(a >= 500 or b >= 500 for a, b in pairs_un | pairs_cap)
    assert len(pairs_un) >= 780
    assert len(pairs_cap) < 50
    assert (0, 3) in pairs_cap


def test_pq_encode_decode_roundtrip_bound(spark):
    """Decoded vectors must be the concatenated nearest centroids; the
    quantization error per subspace is bounded by the distance to the
    chosen centroid (by argmin definition, <= distance to any other)."""
    from hybridbackend_spark.operators.similarity import (
        pq_decode,
        pq_encode,
        pq_random_codebooks,
    )

    books = pq_random_codebooks(dim=8, m=2, ksub=4, seed=3)
    import random

    rng = random.Random(9)
    rows = [(i, [rng.gauss(0.0, 0.15) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vid", "vec"])
    enc = pq_encode(df, "vec", books)
    out = enc.withColumn("dec", pq_decode("pq_code", books)).collect()
    for r in out:
        assert len(r["pq_code"]) == 2 and all(0 <= c < 4 for c in r["pq_code"])
        # decoded == concat of selected centroids
        expect = books[0][r["pq_code"][0]] + books[1][r["pq_code"][1]]
        assert r["dec"] == expect
        # argmin optimality per subspace: chosen centroid beats the others
        for j in range(2):
            sub = r["vec"][j * 4 : (j + 1) * 4]
            dists = [
                sum((a - b) ** 2 for a, b in zip(sub, cent))
                for cent in books[j]
            ]
            assert dists[r["pq_code"][j]] == min(dists)


def test_pq_train_tightens_codebooks(spark):
    """Trained codebooks must reconstruct planted clustered data better
    than the random init they started from."""
    from hybridbackend_spark.operators.similarity import (
        pq_decode,
        pq_encode,
        pq_random_codebooks,
        pq_train,
    )

    import random

    rng = random.Random(17)
    anchors = [[2.0, 2.0, -2.0, -2.0], [-2.0, 2.0, 2.0, -2.0]]
    rows = []
    for i in range(60):
        a = anchors[i % 2]
        rows.append(
            (i, [x + rng.uniform(-0.2, 0.2) for x in a] * 2)  # dim 8
        )
    df = spark.createDataFrame(rows, ["vid", "vec"])

    def mse(books):
        enc = pq_encode(df, "vec", books)
        err = enc.select(
            F.aggregate(
                F.zip_with(
                    F.col("vec").cast("array<double>"),
                    pq_decode("pq_code", books),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("e")
        ).agg(F.avg("e")).collect()[0][0]
        return err

    rand_books = pq_random_codebooks(dim=8, m=2, ksub=2, seed=3, sigma=1.0)
    trained = pq_train(df, "vec", m=2, ksub=2, iters=3, id_col="vid", dim=8)
    assert mse(trained) < mse(rand_books)
    # irreducible noise floor: 8 dims of uniform(+-0.2) noise has
    # E[sum (x-mean)^2] = 8 * 0.4^2/12 ~ 0.107; trained books must sit at it
    assert mse(trained) < 0.15


def test_pq_topk_matches_bruteforce_on_decoded(spark):
    """ADC top-1 must agree with exact nearest-neighbor computed on the
    DECODED (quantized) corpus — PQ's approximation lives entirely in the
    quantizer, not in the distance machinery."""
    from hybridbackend_spark.operators.similarity import (
        pq_decode,
        pq_encode,
        pq_random_codebooks,
        pq_topk,
    )

    import random

    rng = random.Random(23)
    books = pq_random_codebooks(dim=8, m=2, ksub=4, seed=5)
    rows = [(i, [rng.gauss(0.0, 0.2) for _ in range(8)]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vid", "vec"])
    enc = pq_encode(df, "vec", books)
    q = df.filter(F.col("vid") < 3)
    top = pq_topk(q, enc, "vid", "vid", "vec", books, code_col="pq_code", k=1)
    got = {r["vid"]: (r["neighbor_id"], r["adist"]) for r in top.collect()}

    dec = {r["vid"]: r["d"] for r in enc.select("vid", pq_decode("pq_code", books).alias("d")).collect()}
    for qid, qvec in [(r[0], r[1]) for r in rows[:3]]:
        best = min(
            (
                (sum((a - b) ** 2 for a, b in zip(qvec, dec[cid])), cid)
                for cid, _ in [(r[0], None) for r in rows]
                if cid != qid
            ),
        )
        assert got[qid][0] == best[1]
        assert abs(got[qid][1] - round(best[0], 6)) < 1e-6


def test_minhash_lsh_join_links_cross_corpus(spark):
    from hybridbackend_spark.operators.dedup import minhash_lsh_join

    left = _docs(spark)
    right = spark.createDataFrame(
        [
            # near-dup of left doc 0 (one token differs)
            (100, "the quick brown fox jumps over the lazy dog again and again yesterday"),
            # verbatim copy of left doc 2
            (101, "completely different text about spark query engines and columnar scans"),
            # matches nothing on the left
            (102, "entirely novel content with no counterpart whatsoever anywhere"),
        ],
        "doc_id: long, text: string",
    )
    out = minhash_lsh_join(
        left, right, "text", "doc_id", threshold=0.5, shingle_n=3
    )
    links = {(r["id_left"], r["id_right"]): r["jaccard"] for r in out.collect()}
    assert (2, 101) in links and links[(2, 101)] == 1.0  # verbatim
    assert any(l == 0 and r == 100 for (l, r) in links)  # near-dup found
    assert not any(r == 102 for (_, r) in links)  # novel doc unlinked


def test_minhash_lsh_join_max_bucket_caps_fanout(spark):
    from hybridbackend_spark.operators.dedup import minhash_lsh_join

    # 30 identical left docs + 1 identical right doc: every band bucket
    # would fan out 30 pairs; a cap of 10 combined members kills them,
    # while a distinct near-dup pair on an uncrowded bucket survives
    boiler = [(i, "repeated slab of boilerplate text exactly the same") for i in range(30)]
    left = spark.createDataFrame(
        boiler + [(40, "rare unique document about columnar engines today")],
        "doc_id: long, text: string",
    )
    right = spark.createDataFrame(
        [
            (200, "repeated slab of boilerplate text exactly the same"),
            (201, "rare unique document about columnar engines today"),
        ],
        "doc_id: long, text: string",
    )
    capped = minhash_lsh_join(
        left, right, "text", "doc_id", threshold=0.8, max_bucket=10
    )
    rows = {(r["id_left"], r["id_right"]) for r in capped.collect()}
    assert (40, 201) in rows           # normal pair unaffected by the cap
    assert not any(r == 200 for (_, r) in rows)  # degenerate bucket dropped

    uncapped = minhash_lsh_join(
        left, right, "text", "doc_id", threshold=0.8
    )
    assert any(r["id_right"] == 200 for r in uncapped.collect())


def test_minhash_dedup_keep_longest(spark):
    from hybridbackend_spark.operators.dedup import minhash_lsh_dedup

    # docs 0/1/3 cluster; doc 1 is the longest variant -> it wins under
    # keep="longest" while keep="min_id" keeps doc 0
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again and again"),
            (1, "the quick brown fox jumps over the lazy dog again and again with extra trailing context"),
            (3, "the quick brown fox jumps over the lazy dog again and again"),
            (7, "completely unrelated content about columnar execution"),
        ],
        "doc_id: long, text: string",
    )
    longest = {
        r["doc_id"]
        for r in minhash_lsh_dedup(
            docs, "text", "doc_id", threshold=0.6, keep="longest"
        ).collect()
    }
    min_id = {
        r["doc_id"]
        for r in minhash_lsh_dedup(
            docs, "text", "doc_id", threshold=0.6
        ).collect()
    }
    assert longest == {1, 7}
    assert min_id == {0, 7}


def test_kcenter_select_farthest_traversal(spark):
    from hybridbackend_spark.operators.similarity import kcenter_select

    # 3 clusters at corners; greedy must visit all corners before
    # densifying any one cluster
    pts = [
        (0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.0, 0.1]),
        (10, [10.0, 0.0]), (11, [10.1, 0.0]),
        (20, [0.0, 10.0]), (21, [0.0, 10.1]),
    ]
    df = spark.createDataFrame(pts, "vec_id: long, v: array<double>")
    sel = kcenter_select(df, "v", "vec_id", k=3)
    assert sel[0] == 0                 # deterministic start: min id
    assert {sel[1], sel[2]} <= {10, 11, 20, 21}
    # one from each far cluster, not two from the same
    assert not ({sel[1], sel[2]} <= {10, 11})
    assert not ({sel[1], sel[2]} <= {20, 21})
    # exhausted distinct points: k larger than spread stops growing sanely
    sel7 = kcenter_select(df, "v", "vec_id", k=7)
    assert len(sel7) == 7 and len(set(sel7)) == 7


def test_kcenter_select_layout_invariant(spark):
    from hybridbackend_spark.operators.similarity import kcenter_select

    import random

    rng = random.Random(2)
    pts = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)]
    df = spark.createDataFrame(pts, "vec_id: long, v: array<double>")
    a = kcenter_select(df, "v", "vec_id", k=5)
    b = kcenter_select(df.repartition(13), "v", "vec_id", k=5)
    assert a == b


def test_prefix_setsim_join_equals_bruteforce(spark):
    """Prefix filtering is COMPLETE: the result equals the quadratic
    brute force at the same threshold, on sets engineered so some
    qualifying pairs share no token in the first position (the naive
    'first-token blocking' would miss them)."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from hybridbackend_spark.operators.dedup import prefix_setsim_join

    sets = {
        1: ["a", "b", "c", "d"],
        2: ["a", "b", "c", "e"],      # J(1,2)=3/5 >= 1/2
        3: ["b", "c", "d", "e"],      # J(1,3)=3/5, J(2,3)=3/5
        4: ["x", "y", "z"],           # unrelated
        5: ["x", "y", "z", "w", "v"],  # J(4,5)=3/5
        6: ["q"],                      # singleton, no partner
        7: ["a", "q"],                 # J(6,7)=1/2 exactly (boundary)
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in sets.items()], "id long, toks array<string>"
    )
    got = {
        (r.id_a, r.id_b, r.inter_sz, r.union_sz)
        for r in prefix_setsim_join(df, "id", "toks").collect()
    }
    want = set()
    for x, y in combinations(sorted(sets), 2):
        a, b = set(sets[x]), set(sets[y])
        i, u = len(a & b), len(a | b)
        if u and 2 * i >= u:  # J >= 1/2
            want.add((x, y, i, u))
    assert got == want
    assert (6, 7, 1, 2) in got  # boundary pair included


def test_prefix_setsim_join_prefix_actually_prunes(spark):
    """The candidate stage explodes only prefix rows: with tau=1/2 a
    4-token set contributes 3 prefix tokens, not 4 (sz - ceil(sz/2) +
    1). Checked through the physical behavior: two sets overlapping
    ONLY in their last-ranked (most frequent) token and J < tau never
    reach the verify, while the result stays exact."""
    from pyspark.sql import functions as F

    from hybridbackend_spark.operators.dedup import prefix_setsim_join

    # 'z' is the most frequent token (df=4) -> ranked last in every
    # prefix ordering; sets 1-4 share ONLY 'z' (J = 1/7 < 1/2)
    df = spark.createDataFrame(
        [
            (1, ["a1", "a2", "a3", "z"]),
            (2, ["b1", "b2", "b3", "z"]),
            (3, ["c1", "c2", "c3", "z"]),
            (4, ["d1", "d2", "d3", "z"]),
        ],
        "id long, toks array<string>",
    )
    assert prefix_setsim_join(df, "id", "toks").count() == 0


def test_prefix_setsim_join_rejects_bad_threshold(spark):
    import pytest

    from hybridbackend_spark.operators.dedup import prefix_setsim_join

    df = spark.createDataFrame([(1, ["a"])], "id long, toks array<string>")
    with pytest.raises(ValueError):
        prefix_setsim_join(df, "id", "toks", tau_num=3, tau_den=2)


def test_semantic_dedup_max_cell_rows_bounds_and_noop(spark):
    """Below the bound the shard split is a NO-OP (same survivors as
    unbounded); an oversized cell is sub-split deterministically and
    still dedups within shards."""
    from hybridbackend_spark.operators.dedup import semantic_dedup

    # one centroid -> everything lands in one cell
    cents = [[1.0, 0.0]]
    vecs = [(i, [1.0, 0.001 * i]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    unbounded = {
        r.vec_id
        for r in semantic_dedup(
            df, "embedding", "vec_id", cents, threshold=0.9999
        ).collect()
    }
    noop = {
        r.vec_id
        for r in semantic_dedup(
            df, "embedding", "vec_id", cents, threshold=0.9999,
            max_cell_rows=100,
        ).collect()
    }
    assert noop == unbounded  # bound not hit -> identical
    # bound hit: 40 rows, max_cell_rows=10 -> 4 shards; survivors are
    # deterministic and a superset of the unbounded survivors (pairs
    # across shards go uncompared, so fewer ids are dropped)
    capped1 = {
        r.vec_id
        for r in semantic_dedup(
            df, "embedding", "vec_id", cents, threshold=0.9999,
            max_cell_rows=10,
        ).collect()
    }
    capped2 = {
        r.vec_id
        for r in semantic_dedup(
            df.repartition(7), "embedding", "vec_id", cents,
            threshold=0.9999, max_cell_rows=10,
        ).collect()
    }
    assert capped1 == capped2  # layout-invariant determinism
    assert capped1 >= unbounded
    # threshold so tight only near-identical vectors pair: each shard
    # still finds its internal near-dups (not a degenerate keep-all)
    assert len(capped1) < 40 or len(unbounded) == 40

    import pytest

    with pytest.raises(ValueError):
        semantic_dedup(
            df, "embedding", "vec_id", cents, max_cell_rows=0
        )


def test_blocked_levenshtein_matches_bruteforce_and_guards(spark):
    from hybridbackend_spark.operators.dedup import blocked_levenshtein_pairs

    names = [
        (1, "alpha-001"), (2, "alpha-002"), (3, "alpha-102"),
        (4, "beta-001"), (5, "beta-002"), (6, "gamma-xyz"),
        (7, "alpha-0010"),  # longer: caught only via the tail key
    ]
    df = spark.createDataFrame(names, "id long, nm string")
    keys = [
        F.expr("substr(nm, 1, 5)"),                       # family prefix
        F.expr("substr(nm, length(nm) - 2, 3)"),          # 3-char tail
    ]
    got = {
        (r.id_a, r.id_b): r.distance
        for r in blocked_levenshtein_pairs(
            df, "id", "nm", keys, max_distance=2
        ).collect()
    }
    # brute force restricted to the same blocking recall
    import itertools

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a):
            cur = [i + 1]
            for j, cb in enumerate(b):
                cur.append(min(prev[j + 1] + 1, cur[j] + 1,
                               prev[j] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {}
    for (ia, na), (ib, nb) in itertools.combinations(names, 2):
        shares = (na[:5] == nb[:5]) or (na[-3:] == nb[-3:])
        if shares and lev(na, nb) <= 2:
            want[(min(ia, ib), max(ia, ib))] = lev(na, nb)
    assert got == want
    # sanity on the fixture: the tail key contributes a pair the prefix
    # key alone would give too (1,7 share both), and blocking excludes
    # the cross-family (3,5) pair even though lev("alpha-102",
    # "beta-002") may be small
    assert (1, 2) in got and got[(1, 2)] == 1
    # oversize block raises loudly
    import pytest as _pt

    with _pt.raises(ValueError, match="max_block_rows"):
        blocked_levenshtein_pairs(
            df, "id", "nm", [F.lit("same")], max_distance=1,
            max_block_rows=3,
        )
    with _pt.raises(ValueError):
        blocked_levenshtein_pairs(df, "id", "nm", [], max_distance=1)


def test_random_hyperplane_key_sql_parity(spark, sf_dir):
    """The SQL-string fast path (column NAME input, one F.expr parse) must
    produce bit-identical keys to the Column-builder path for every table
    seed, including the NULL-vector guard — the round-12 build-time
    optimization must not move a single bucket."""
    from hybridbackend_spark.operators.similarity import random_hyperplane_key

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").alias("_v")
    )
    old = emb.select(
        "vec_id",
        *[
            random_hyperplane_key(F.col("_v"), 6, 7 + t, 64).alias(f"k{t}")
            for t in range(4)
        ],
    )
    new = emb.select(
        "vec_id",
        *[
            random_hyperplane_key("_v", 6, 7 + t, 64).alias(f"k{t}")
            for t in range(4)
        ],
    )
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
    nul = spark.sql("SELECT CAST(NULL AS ARRAY<DOUBLE>) AS _v")
    assert (
        nul.select(random_hyperplane_key("_v", 4, 7, 64).alias("k"))
        .collect()[0]["k"]
        is None
    )


def test_ivf_pq_sql_parity(spark, sf_dir):
    """The SQL-string fast paths for the IVF/PQ argmin trees (column NAME
    input, one F.expr parse — the round-12 session-4 driver-time
    optimization) must be bit-identical to the Column-builder paths:
    ivf_assign cells, pq_encode codes, and the pq_topk LUT ranking must
    not move a single assignment/neighbor."""
    from hybridbackend_spark.operators.similarity import (
        ivf_assign,
        kmeans_train,
        pq_encode,
        pq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_train(emb, "embedding", k=4, iters=1, id_col="vec_id")
    as_col = emb.withColumn("_e", F.col("embedding"))
    old_cells = ivf_assign(as_col, F.col("_e"), cents, "cell").select(
        "vec_id", "cell"
    )
    new_cells = ivf_assign(emb, "embedding", cents, "cell").select(
        "vec_id", "cell"
    )
    assert old_cells.exceptAll(new_cells).count() == 0
    assert new_cells.exceptAll(old_cells).count() == 0

    # tiny deterministic codebooks: 2 subspaces x 3 codewords over dim 64
    dim = 64
    dsub = dim // 2
    books = [
        [[0.1 * (c + 1)] * dsub for c in range(3)],
        [[-0.05 * (c + 1)] * dsub for c in range(3)],
    ]
    old_codes = pq_encode(as_col, F.col("_e"), books, "code").select(
        "vec_id", "code"
    )
    new_codes = pq_encode(emb, "embedding", books, "code").select(
        "vec_id", "code"
    )
    assert old_codes.exceptAll(new_codes).count() == 0
    assert new_codes.exceptAll(old_codes).count() == 0

    # LUT path: Column-input query side vs named-column query side
    enc = pq_encode(emb, "embedding", books, "pq_code")
    q = emb.filter(F.col("vec_id") < 3)
    new_topk = pq_topk(q, enc, "vec_id", "vec_id", "embedding", books, k=4)
    old_topk = pq_topk(
        q.withColumn("_e", F.col("embedding")),
        enc,
        "vec_id",
        "vec_id",
        F.col("_e"),
        books,
        k=4,
    )
    assert old_topk.exceptAll(new_topk).count() == 0
    assert new_topk.exceptAll(old_topk).count() == 0
