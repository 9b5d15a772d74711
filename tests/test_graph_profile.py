"""PageRank (integer-exact, fixed iterations) and single-pass column
profiling."""

from pyspark.sql import functions as F

from hybridbackend_spark.operators.graph import pagerank, personalized_pagerank
from hybridbackend_spark.operators.profile import profile_columns


def _expected_pagerank(edges, iterations=3, damping_pct=85, scale=10**9):
    """Plain-Python replica of the integer-exact update."""
    from collections import defaultdict

    out = defaultdict(list)
    nodes = set()
    for s, t in edges:
        out[s].append(t)
        nodes.add(s)
        nodes.add(t)
    rank = {n: scale for n in nodes}
    base = (100 - damping_pct) * scale // 100
    for _ in range(iterations):
        sums = defaultdict(int)
        for s, ts in out.items():
            c = rank[s] // len(ts)
            for t in ts:
                sums[t] += c
        rank = {n: base + (damping_pct * sums.get(n, 0)) // 100 for n in nodes}
    return rank


def test_pagerank_matches_exact_reference(spark):
    # star with a hub plus a chain; directed, includes a dangling sink (5)
    edges = [(1, 2), (1, 3), (1, 4), (2, 1), (3, 1), (4, 1), (4, 5)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=3).collect()}
    assert got == _expected_pagerank(edges)
    # hub collects more mass than leaves
    assert got[1] > got[2] > got[5] or got[1] > got[2]


def test_pagerank_layout_invariant(spark):
    edges = [(i, (i * 7) % 20) for i in range(20) if i != (i * 7) % 20]
    df = spark.createDataFrame(edges, ["src", "dst"])
    a = {r["node"]: r["rank"] for r in pagerank(df).collect()}
    b = {
        r["node"]: r["rank"]
        for r in pagerank(df.repartition(11), iterations=3).collect()
    }
    assert a == b


def test_profile_columns_stats(spark):
    rows = [
        (1, 2.0, "x"),
        (2, None, "y"),
        (3, 4.0, None),
        (3, 6.0, "x"),
    ]
    df = spark.createDataFrame(rows, ["k", "v", "s"])
    prof = {r["column_name"]: r for r in profile_columns(df).collect()}
    assert set(prof) == {"k", "v", "s"}
    k = prof["k"]
    assert (k["n_rows"], k["n_null"], k["n_distinct"]) == (4, 0, 3)
    assert (k["min_value"], k["max_value"]) == ("1", "3")
    assert k["mean_value"] == 2.25
    v = prof["v"]
    assert (v["n_null"], v["n_distinct"]) == (1, 3)
    assert v["mean_value"] == 4.0  # avg of 2,4,6
    s = prof["s"]
    assert s["mean_value"] is None  # non-numeric: no mean
    assert (s["n_null"], s["n_distinct"]) == (1, 2)


def test_profile_columns_skips_complex_types_by_default(spark):
    df = spark.createDataFrame([(1, [1, 2])], ["k", "arr"])
    cols = [r["column_name"] for r in profile_columns(df).collect()]
    assert cols == ["k"]


def test_triangle_count_known_graph(spark):
    from hybridbackend_spark.operators.graph import triangle_count

    # K4 has 4 triangles; plus a pendant edge and a duplicate/reversed
    # edge that canonicalization must absorb; plus a self loop
    edges = (
        [(a, b) for a in range(4) for b in range(4) if a < b]
        + [(3, 4), (1, 0), (2, 2)]
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    assert triangle_count(df).collect()[0]["n_triangles"] == 4


def test_triangle_count_triangle_free(spark):
    from hybridbackend_spark.operators.graph import triangle_count

    # bipartite graphs have no triangles
    edges = [(a, 100 + b) for a in range(5) for b in range(5)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    assert triangle_count(df).collect()[0]["n_triangles"] == 0


def test_triangle_count_degree_orientation_same_count(spark):
    import random

    from hybridbackend_spark.operators.graph import triangle_count

    rng = random.Random(7)
    # random graph + a hub node touching everything (degree skew)
    edges = {(rng.randrange(30), rng.randrange(30)) for _ in range(120)}
    edges |= {(99, i) for i in range(30)}
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    n_id = triangle_count(df).collect()[0]["n_triangles"]
    n_deg = triangle_count(df, orient_by_degree=True).collect()[0]["n_triangles"]
    assert n_id == n_deg > 0


def test_pagerank_random_graphs_match_reference(spark):
    import random

    for seed in (3, 17):
        rng = random.Random(seed)
        edges = list(
            {(rng.randrange(25), rng.randrange(25)) for _ in range(60)}
        )
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r["node"]: r["rank"]
            for r in pagerank(df, iterations=4, damping_pct=80).collect()
        }
        assert got == _expected_pagerank(
            edges, iterations=4, damping_pct=80
        ), f"seed {seed}"
        # personalized PageRank with every node seeded is pagerank, bit
        # for bit
        nodes = spark.createDataFrame(
            [(n,) for n in {x for ed in edges for x in ed}], ["id"]
        )
        ppr = {
            r["node"]: r["rank"]
            for r in personalized_pagerank(
                df, nodes, iterations=4, damping_pct=80
            ).collect()
        }
        assert ppr == got, f"seed {seed}"


def test_connected_components_pairwise_one_pass(spark):
    """Pure 2-node components: the one-pass min-neighbor labeling passes
    its check and is the answer, with no propagation round."""
    from hybridbackend_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 11), (2, 12), (3, 13), (40, 4)], "id_a long, id_b long"
    )
    # max_iter=0 leaves no propagation round: only the one-pass path
    # can return, so this also checks that the path was taken
    got = {(r.id, r.component)
           for r in connected_components(edges, max_iter=0).collect()}
    assert got == {(1, 1), (11, 1), (2, 2), (12, 2), (3, 3), (13, 3),
                   (4, 4), (40, 4)}


def test_connected_components_chain_falls_back(spark):
    """A 4-node chain breaks the one-pass labeling (label(4)=3 but
    label(3)=2): the consistency check must detect it and fall back to
    propagation, labeling the whole chain 1."""
    from hybridbackend_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (9, 19)], "id_a long, id_b long"
    )
    got = {(r.id, r.component)
           for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (9, 9), (19, 9)}
    # with no propagation round the fallback has nothing to run
    import pytest

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=0)


def test_star_contraction_matches_propagation_labels(spark):
    import random

    from hybridbackend_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(29)
    # mixed shapes: a 60-node chain (deep), a clique, random clusters,
    # and an isolated pair
    edges = [(i, i + 1) for i in range(100, 160)]          # deep path
    edges += [(a, b) for a in range(200, 206) for b in range(a + 1, 206)]
    for base in (300, 400, 500):
        ids = rng.sample(range(base, base + 40), 12)
        edges += [(rng.choice(ids), rng.choice(ids)) for _ in range(20)]
    edges += [(900, 901)]
    # random orientation / duplicates
    edges = [(b, a) if rng.random() < 0.5 else (a, b) for a, b in edges]
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")

    prop = {
        r["id"]: r["component"]
        for r in connected_components(df, max_iter=60).collect()
    }
    star = {
        r["id"]: r["component"]
        for r in connected_components_star(df).collect()
    }
    assert star == prop
    # the deep chain collapses to its minimum in O(log d) rounds
    assert star[159] == 100 and star[160] == 100


def test_star_contraction_deep_chain_beyond_propagation_budget(spark):
    from hybridbackend_spark.operators.graph import connected_components_star

    chain = [(i, i + 1) for i in range(500)]  # diameter 500
    df = spark.createDataFrame(chain, "id_a: long, id_b: long")
    out = connected_components_star(df, max_iter=20).collect()
    assert {r["component"] for r in out} == {0}
    assert len(out) == 501


def test_star_contraction_partition_layout_invariant(spark):
    """Round-12 local union-find pre-contraction: the (id, component)
    result must not depend on how edges are spread across partitions —
    co-located (1 partition), scattered (round-robin 16), and
    adversarially keyed layouts must all produce identical labels, and
    the contraction pass itself must preserve connectivity exactly."""
    import random

    from hybridbackend_spark.operators.graph import (
        _local_contract,
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(100, 190)]  # deep chain
    edges += [(rng.randrange(0, 50), rng.randrange(0, 50)) for _ in range(60)]
    edges += [(7000, 7000), (8000, 8001)]  # self-loop + isolated pair
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    expect = {
        r["id"]: r["component"]
        for r in connected_components(df, max_iter=60).collect()
    }
    # pre-existing star contract (unchanged by the contraction): a node
    # whose only edge is a self-loop is not part of the node set
    star_expect = {k: v for k, v in expect.items() if k != 7000}
    for layout in (
        df.coalesce(1),
        df.repartition(16),
        df.repartition(16, "id_b"),
    ):
        got = {
            r["id"]: r["component"]
            for r in connected_components_star(layout).collect()
        }
        assert got == star_expect
    # the contraction emits every non-self-loop node exactly once, each
    # pointing at a member of its own (local) component
    pairs = _local_contract(df.repartition(16), "id_a", "id_b").collect()
    seen = {r["_ln"] for r in pairs}
    assert {a for a, b in edges} | {b for a, b in edges} <= seen
    for r in pairs:
        assert expect.get(r["_ln"], r["_ln"]) == expect.get(
            r["_lm"], r["_lm"]
        )


def test_star_contraction_flat_input_runs_no_round(spark, checkpointed_plans):
    """A chain co-located in one partition is already a star forest after
    the local contraction: the fixed-point predicate holds before any
    round, so the only cut is the canonical edge set and even
    ``max_iter=0`` returns."""
    from hybridbackend_spark.operators.graph import connected_components_star

    chain = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(chain, "id_a: long, id_b: long").coalesce(1)
    out = {
        r["id"]: r["component"]
        for r in connected_components_star(df, max_iter=0).collect()
    }
    assert out == {i: 0 for i in range(201)}
    assert len(checkpointed_plans) == 1


def test_star_contraction_max_iter_counts_contraction_rounds(spark):
    import pytest

    from hybridbackend_spark.operators.graph import connected_components_star

    chain = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(chain, "id_a: long, id_b: long").repartition(16)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(df, max_iter=0)
    out = connected_components_star(df).collect()
    assert len(out) == 201 and {r["component"] for r in out} == {0}


def test_cc_star_event_chains_job_count(spark, sf001_dir, jobs_of):
    """Build plus one write of the query at the benchmark scale: the
    per-user event chains contract locally to a star forest, so the
    operator runs no contraction round, no verification round and no
    separate node-set checkpoint."""
    from hybridbackend_spark.queries import _t, cc_star_event_chains

    _t(spark, sf001_dir, "events")  # the schema memo's one inference job

    def run():
        df = cc_star_event_chains(spark, sf001_dir)
        df.write.format("noop").mode("overwrite").save()

    _, jobs = jobs_of("cc_star_event_chains", run)
    assert len(jobs) <= 7, jobs


def test_mad_outliers_robust_to_extremes(spark):
    from hybridbackend_spark.operators.profile import mad_outliers

    # group a: tight cluster around 10 plus one wild point; the wild
    # point must flag, the cluster must not — and the threshold must not
    # be dragged by the outlier itself (robustness)
    rows = [("a", float(v)) for v in (9, 10, 10, 10, 11, 1000)] + [
        ("b", float(v)) for v in (0, 100, 200, 300, 400)  # spread-out: none flag
    ]
    df = spark.createDataFrame(
        [(i, g, v) for i, (g, v) in enumerate(rows)], ["id", "g", "v"]
    )
    out = {(r["g"], r["v"]): r["is_outlier"] for r in
           mad_outliers(df, "g", "v", k=3.0).collect()}
    assert out[("a", 1000.0)] is True
    assert all(not flag for (g, v), flag in out.items()
               if g == "a" and v != 1000.0)
    assert all(not flag for (g, v), flag in out.items() if g == "b")


def test_label_propagation_finds_planted_communities(spark):
    from hybridbackend_spark.operators.graph import label_propagation

    # two dense cliques bridged by one weak edge
    c1 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    c2 = [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
    edges = spark.createDataFrame(
        c1 + c2 + [(4, 10)], "id_a: long, id_b: long"
    )
    out = {r["id"]: r["community"] for r in
           label_propagation(edges, iters=3).collect()}
    # each clique converges to one label; the two cliques differ
    labs1 = {out[v] for v in range(5)}
    labs2 = {out[v] for v in range(10, 15)}
    assert len(labs1) == 1 and len(labs2) == 1
    assert labs1 != labs2


def test_label_propagation_deterministic_across_partitionings(spark):
    from hybridbackend_spark.operators.graph import label_propagation

    rows = [(i, (i * 7 + 3) % 40) for i in range(120) if i != (i * 7 + 3) % 40]
    edges = spark.createDataFrame(rows, "id_a: long, id_b: long")
    a = sorted(map(tuple, label_propagation(edges, iters=2).collect()))
    b = sorted(map(tuple, label_propagation(
        edges.repartition(17, "id_b"), iters=2).collect()))
    assert a == b


def test_transitive_closure_chain_and_tree(spark):
    from hybridbackend_spark.operators.graph import transitive_closure

    # chain 0->1->...->20: closure has n*(n+1)/2 pairs, depth = distance
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "parent: long, child: long"
    )
    out = {(r["ancestor"], r["descendant"]): r["depth"]
           for r in transitive_closure(chain).collect()}
    assert len(out) == 20 * 21 // 2
    assert out[(0, 20)] == 20 and out[(5, 6)] == 1

    # small tree: every ancestor sees every descendant exactly once
    tree = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (1, 4), (2, 5)], "parent: long, child: long"
    )
    t = {(r["ancestor"], r["descendant"]): r["depth"]
         for r in transitive_closure(tree).collect()}
    assert t == {(0, 1): 1, (0, 2): 1, (1, 3): 1, (1, 4): 1, (2, 5): 1,
                 (0, 3): 2, (0, 4): 2, (0, 5): 2}


def test_transitive_closure_cycle_min_distances(spark):
    from hybridbackend_spark.operators.graph import transitive_closure

    # 3-cycle: min-depth dedup keeps the closure finite — all 9 pairs
    # at their shortest distances, including the (a, a) loop at 3
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "parent: long, child: long"
    )
    out = {(r["ancestor"], r["descendant"]): r["depth"]
           for r in transitive_closure(cyc).collect()}
    assert out[(1, 2)] == 1 and out[(1, 3)] == 2 and out[(1, 1)] == 3
    assert len(out) == 9


def test_skew_report_top_k_bound_validated(spark):
    import pytest

    from hybridbackend_spark.operators.profile import skew_report

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="top_k"):
        skew_report(df, "k", top_k=1_000_000)


def test_skew_report_shares(spark):
    from hybridbackend_spark.operators.profile import skew_report
    from pyspark.sql import functions as F

    # key 'hot' has 80 of 100 rows; 20 other singleton keys
    rows = [("hot",)] * 80 + [(f"k{i}",) for i in range(20)]
    df = spark.createDataFrame(rows, "k string")
    out = skew_report(df, "k", top_k=3).collect()
    assert [r.rank for r in out] == [1, 2, 3]
    top = out[0]
    assert top.key == "hot" and top.cnt == 80
    assert top.share_pct == 80.0
    assert top.cum_share_pct == 80.0
    # mean count = 100/21 keys; skew_ratio = 80 / (100/21) = 16.8
    assert abs(top.skew_ratio - 16.8) < 0.01
    assert out[1].cum_share_pct == 81.0


def test_shortest_paths_weighted_hand_computed(spark):
    """Weighted Bellman-Ford on a graph where hop count and weight
    disagree: the 2-hop path 1-2-4 (w=2) must beat the 1-hop edge 1-4
    (w=9); unreachable nodes are absent."""
    from hybridbackend_spark.operators.graph import shortest_paths

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 4, 1), (1, 4, 9), (4, 5, 2), (7, 8, 1)],
        "id_a long, id_b long, w long",
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    got = {r.id: r.dist for r in shortest_paths(edges, seeds).collect()}
    assert got == {1: 0, 2: 1, 4: 2, 5: 4}


def test_shortest_paths_matches_bfs_on_unit_weights(spark):
    """With all weights 1 the result must equal bfs_distances."""
    from hybridbackend_spark.operators.graph import (
        bfs_distances,
        shortest_paths,
    )

    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(8)] + [(0, 5, 1)],
        "id_a long, id_b long, w long",
    )
    seeds = spark.createDataFrame([(0,)], "id long")
    sp_df = shortest_paths(edges, seeds)
    bf_df = bfs_distances(edges, seeds, max_hops=10)
    # the shared relaxation keeps each declared dist type
    assert sp_df.schema["dist"].dataType.simpleString() == "bigint"
    assert bf_df.schema["dist"].dataType.simpleString() == "int"
    sp = {r.id: r.dist for r in sp_df.collect()}
    bf = {r.id: r.dist for r in bf_df.collect()}
    assert sp == bf


def test_kcore_triangle_plus_tail(spark):
    from hybridbackend_spark.operators.graph import kcore

    # triangle 1-2-3 (2-core) with a pendant chain 3-4-5
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    out = {r.id: r.degree for r in kcore(edges, k=2, rounds=3).collect()}
    assert out == {1: 2, 2: 2, 3: 2}  # chain peeled, triangle survives


def test_kcore_rounds_monotone(spark):
    from hybridbackend_spark.operators.graph import kcore

    # long chain: each peeling round removes both endpoints (k=2)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a long, id_b long"
    )
    one = kcore(edges, k=2, rounds=1).count()
    two = kcore(edges, k=2, rounds=2).count()
    assert one > two  # more rounds peel strictly deeper on a chain
    assert kcore(edges, k=2, rounds=4).count() == 0  # chain has no 2-core


def test_shortest_paths_max_dist_exact_on_deep_chain(spark):
    """A chain deeper than the old default round budget: with
    max_dist=D the result is exactly {node: true dist <= D}, no stale
    distances (the truncation the sssp oracle CTE applies)."""
    from hybridbackend_spark.operators.graph import shortest_paths

    n = 15
    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(n)], "id_a long, id_b long, w long"
    )
    seeds = spark.createDataFrame([(0,)], "id long")
    got = {
        r.id: r.dist
        for r in shortest_paths(
            edges, seeds, max_rounds=10, max_dist=10
        ).collect()
    }
    assert got == {i: i for i in range(11)}


def test_shortest_paths_raises_on_exhausted_rounds(spark):
    """Without max_dist, running out of rounds before the fixed point
    raises instead of returning silently-truncated distances."""
    import pytest

    from hybridbackend_spark.operators.graph import shortest_paths

    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(8)], "id_a long, id_b long, w long"
    )
    seeds = spark.createDataFrame([(0,)], "id long")
    with pytest.raises(ValueError, match="no fixed point"):
        shortest_paths(edges, seeds, max_rounds=3)
    # enough rounds: exact and no raise
    got = {
        r.id: r.dist
        for r in shortest_paths(edges, seeds, max_rounds=20).collect()
    }
    assert got == {i: i for i in range(9)}


def test_shortest_paths_max_dist_insufficient_rounds_raises(spark):
    """max_dist with too few rounds must RAISE, not silently return the
    hop-truncated prefix (round-6 advisor item: max_dist=100 with
    max_rounds=10 previously returned stale/missing distances). With a
    certifying budget (max_rounds * min_weight >= max_dist) the
    exhausted loop still returns, and returns exact distances."""
    import pytest

    from hybridbackend_spark.operators.graph import shortest_paths

    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(40)], "id_a long, id_b long, w long"
    )
    seeds = spark.createDataFrame([(0,)], "id long")
    with pytest.raises(ValueError, match="no fixed point"):
        shortest_paths(edges, seeds, max_rounds=10, max_dist=100)
    # budget certifies exactness: 30 rounds x weight-1 covers dist 30
    # even though the loop exhausts without a fixed point (the chain
    # continues past the bound)
    got = {
        r.id: r.dist
        for r in shortest_paths(
            edges, seeds, max_rounds=30, max_dist=30
        ).collect()
    }
    assert got == {i: i for i in range(31)}
    # zero-weight edges void the certificate -> raise on exhaustion
    zedges = spark.createDataFrame(
        [(i, i + 1, 0) for i in range(40)], "id_a long, id_b long, w long"
    )
    with pytest.raises(ValueError, match="no fixed point"):
        shortest_paths(zedges, seeds, max_rounds=5, max_dist=3)


def test_personalized_pagerank_proximity_and_zero_mass(spark):
    """PPR on a path graph a-b-c-d-e with seed {a}: rank decays with
    distance from the seed; a disconnected component gets exactly 0."""
    from hybridbackend_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
        "src long, dst long",
    )
    sym = edges.union(
        edges.select(
            edges.dst.alias("src"), edges.src.alias("dst")
        )
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    got = {
        r.node: r["rank"]
        for r in personalized_pagerank(
            sym, seeds, iterations=4
        ).collect()
    }
    # exact reference replay of the integer iteration
    adj = {}
    for s, d in [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)]:
        adj.setdefault(s, []).append(d)
        adj.setdefault(d, []).append(s)
    scale, base = 1_000_000_000, 150_000_000
    r = {n: (scale if n == 1 else 0) for n in adj}
    for _ in range(4):
        sums = {n: 0 for n in adj}
        for s, outs in adj.items():
            c = r[s] // len(outs)
            for d in outs:
                sums[d] += c
        r = {
            n: (base if n == 1 else 0) + (85 * sums[n]) // 100
            for n in adj
        }
    assert got == r
    assert got[10] == 0 and got[11] == 0  # no seed mass reaches them


def test_hyperball_reach_registers_match_pure_python(spark):
    """hyperball_reach on a path graph 1-2-3-4-5 (+isolated pair 8-9):
    registers must equal a pure-Python replay of md5 register math over
    the EXACT 2-hop balls, and raw_est must be the same single division
    (the hash-oracle guarantee, checked here without DuckDB)."""
    import hashlib

    from hybridbackend_spark.operators.graph import hyperball_reach

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], "id_a long, id_b long"
    )
    nbrs = {1: {2}, 2: {1, 3}, 3: {2, 4}, 4: {3, 5}, 5: {4}, 8: {9}, 9: {8}}

    def ball(v, k):
        cur = {v}
        for _ in range(k):
            cur = cur | {m for u in cur for m in nbrs[u]}
        return cur

    def reg_rho(u):
        h = hashlib.md5(str(u).encode()).hexdigest()
        reg = int(h[:2], 16)
        v16 = int(h[2:6], 16)
        rho = 17 if v16 == 0 else 17 - v16.bit_length()
        return reg, rho

    got = {r.id: r for r in hyperball_reach(edges, k=2).collect()}
    assert set(got) == set(nbrs)
    alpha = 0.7213 / (1.0 + 1.079 / 256.0)
    for v in nbrs:
        regs = {}
        for u in ball(v, 2):
            reg, rho = reg_rho(u)
            regs[reg] = max(regs.get(reg, 0), rho)
        hit = sum(1 << (17 - rho) for rho in regs.values())
        harm = hit + (256 - len(regs)) * (1 << 17)
        assert got[v].n_regs == len(regs), v
        assert got[v].harmonic_num == harm, v
        assert got[v].raw_est == round(
            alpha * 256.0 * 256.0 * 131072.0 / float(harm), 4
        ), v
    # path-middle node 3 sees all 5 chain nodes at k=2; the isolated
    # pair sees only itself+partner
    assert len({u for u in ball(3, 2)}) == 5
    assert len({u for u in ball(8, 2)}) == 2


def test_hyperball_reach_k0_is_self_only(spark):
    from hybridbackend_spark.operators.graph import hyperball_reach

    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = {r.id: r.n_regs for r in hyperball_reach(edges, k=0).collect()}
    assert out == {1: 1, 2: 1}


def test_clustering_coefficient_triangle_plus_pendant(spark):
    from hybridbackend_spark.operators.graph import clustering_coefficient

    # triangle 1-2-3, pendant 4 on node 1, square 10-11-12-13 (no tris)
    edges = [
        (1, 2), (2, 3), (3, 1), (1, 4),
        (10, 11), (11, 12), (12, 13), (13, 10),
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r for r in clustering_coefficient(df, "id_a", "id_b").collect()}
    assert (got[1].degree, got[1].triangles) == (3, 1)
    assert got[1].lcc == round(2 * 1 / (3 * 2), 6)
    assert got[2].lcc == 1.0 and got[3].lcc == 1.0
    assert got[4].degree == 1 and got[4].lcc is None  # undefined
    for n in (10, 11, 12, 13):
        assert (got[n].degree, got[n].triangles, got[n].lcc) == (2, 0, 0.0)


def test_clustering_coefficient_dedupes_and_ignores_self_loops(spark):
    from hybridbackend_spark.operators.graph import clustering_coefficient

    edges = [(1, 2), (2, 1), (1, 2), (1, 1), (2, 3), (3, 1)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r for r in clustering_coefficient(df, "id_a", "id_b").collect()}
    assert all(got[n].lcc == 1.0 and got[n].degree == 2 for n in (1, 2, 3))


def test_link_prediction_hand_graph(spark):
    from hybridbackend_spark.operators.graph import link_prediction

    # path 1-2-3 plus 1-4, 3-4: non-edges at distance 2:
    #   (1,3): common {2,4}; (2,4): common {1,3}
    edges = [(1, 2), (2, 3), (1, 4), (3, 4)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        (r.id_a, r.id_b): r
        for r in link_prediction(df, "id_a", "id_b").collect()
    }
    assert set(got) == {(1, 3), (2, 4)}
    r13 = got[(1, 3)]
    # deg(1)=deg(3)=2, common=2 -> jaccard 2/(2+2-2)=1.0
    assert (r13.common, r13.jaccard, r13.pref_attach) == (2, 1.0, 4)
    # adjacency pairs are excluded even when they share neighbors
    assert (1, 2) not in got and (3, 4) not in got


def test_link_prediction_max_degree_drops_hub_evidence(spark):
    from hybridbackend_spark.operators.graph import link_prediction

    # star: hub 100 connects 1..5; every leaf pair shares only the hub
    edges = [(100, i) for i in range(1, 6)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    assert link_prediction(df, "id_a", "id_b").count() == 10
    # capping below the hub degree removes all wedge evidence
    assert (
        link_prediction(df, "id_a", "id_b", max_degree=4).count() == 0
    )
