"""Distributed graph operators over an edge list: connected components
(the transitive-closure step of near-duplicate deduplication), PageRank,
BFS / weighted shortest paths, reachability closure, k-core, HyperBall,
triangles and the link/clustering statistics built on them.

The reference's dedup guarantees transitivity only within a block
(per-block ``np.unique``, ``docs/tutorial/ranking/taobao/data/
deduplicate.py:42-80``); corpus-level LSH dedup needs true components:
min-id "absorption" (drop every id that appears as the larger member of
a pair) is wrong whenever a non-minimal node is only ever the SMALLER
member of its edges — e.g. edges (1,3),(2,3): node 2 survives absorption
but is in component {1,2,3}.

Every iterative operator is the same skeleton:

- **Edge prologue.** The caller's edge plan is projected and cut ONCE
  before anything references it twice, so an expensive edge frame (a
  verified near-dup pair join, a fuzzy-match verify) is never computed
  twice. :func:`_sym_edges` gives the directed-or-symmetrized adjacency
  ``(_n, _m[, _w])`` — cut, union with its reversal, ``distinct``, cut
  again — used by components, BFS, shortest paths, k-core and HyperBall.
  :func:`_canonical_edges` gives the undirected simple-graph form
  ``(a, b)`` with ``a < b`` (self-loops and reversals gone), cut once —
  used by the triangle, clustering and link-prediction statistics and by
  star contraction.
- **Loop.** One state-to-state step per round, each step ending in an
  eager ``materialize`` cut so the plan does not grow with the round
  count. :func:`_fixed_point` runs the steps until a cheap scalar
  measure (one aggregate job) stops changing and reports whether it
  did; each caller decides what exhaustion means (BFS returns, shortest
  paths checks its ``max_dist`` certificate, the rest raise). Labels and
  distances only ever decrease, so an exact ``(count, sum)`` pair is a
  strictly monotone measure (:func:`_count_sum`). Star contraction
  instead tests its exact fixed point (a depth-1 star forest) before
  each round, so a converged input costs no round. Fixed-round operators
  (PageRank, label propagation, k-core, HyperBall) run a plain ``for``.
- **Where lineage is cut, and why.** Each cut is a job boundary, and
  the round-12 A/B notes beside them show that moving one moves wall
  time: PageRank cuts only every 4th iteration (each rank state has one
  consumer, so the uncut plan grows linearly and a 3-5 iteration call
  runs as one job); BFS and shortest paths cut after every single
  relaxation (two per cut recomputes the shared state); label
  propagation's cuts are lazy; HyperBall's last round feeds the readout
  uncut.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .._fixed import RANK
from .._materialize import materialize

__all__ = [
    "connected_components",
    "connected_components_star",
    "pagerank",
    "personalized_pagerank",
    "triangle_count",
    "label_propagation",
    "transitive_closure",
    "bfs_distances",
    "shortest_paths",
    "kcore",
    "hyperball_reach",
    "clustering_coefficient",
    "link_prediction",
]


def _sym_edges(
    edges: DataFrame,
    src: str,
    dst: str,
    weight: str | None = None,
    directed: bool = False,
) -> DataFrame:
    """Distinct adjacency ``(_n, _m)`` (plus ``_w`` as BIGINT when
    ``weight`` is given), each input pair in both directions unless
    ``directed``. The projected edge frame is materialized ONCE before
    the union references it twice (round-12, guide §1.2; 16 bytes/row,
    and the eager cut folds into the jobs the caller's loop runs
    anyway), and the deduped result is materialized again."""
    cols = [F.col(src).alias("_n"), F.col(dst).alias("_m")]
    if weight is not None:
        cols.append(F.col(weight).cast("long").alias("_w"))
    e = materialize(edges.select(*cols))
    if not directed:
        rev = [F.col("_m").alias("_n"), F.col("_n").alias("_m"), *e.columns[2:]]
        e = e.union(e.select(*rev))
    return materialize(e.distinct())


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected simple-graph edges ``(a, b)`` with ``a < b``:
    reversals and duplicates collapse, self-loops drop. Materialized."""
    a, b = F.col(src), F.col(dst)
    return materialize(
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )


def _fixed_point(state: DataFrame, step, measure, max_iter: int):
    """Apply ``step`` up to ``max_iter`` times, stopping as soon as
    ``measure`` (a driver-side scalar) repeats. Returns ``(state,
    converged)``."""
    prev = measure(state)
    for _ in range(max_iter):
        state = step(state)
        cur = measure(state)
        if cur == prev:
            return state, True
        prev = cur
    return state, False


def _count_sum(df: DataFrame, col: str) -> tuple:
    """Exact, overflow-free ``(count, sum(col))`` in one aggregate — a
    strictly monotone convergence measure for a state whose values only
    decrease and whose rows only appear (newly reached nodes move the
    count)."""
    return tuple(
        df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(col).cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Return (id, component) for every node in ``edges``, where
    ``component`` is the smallest id reachable from the node. Undirected:
    each input pair is used in both directions.

    Each of the ``max_iter`` rounds runs TWO propagation steps before the
    materialization/convergence check, so labels fully converge once
    ``2 * max_iter`` reaches the diameter of the largest component;
    raises if not converged by then. For deep chains where even that is
    too many rounds, use :func:`connected_components_star` (O(log d)
    rounds).

    Round-12 optimization (guide §1.2 step 1 — remove passes): the loop
    warm-starts from the ONE-PASS tentative labeling
    ``min(node, neighbors(node))`` and first CHECKS it — if every edge
    has equal endpoint labels the labeling is uniform per component and
    therefore already the answer (the component minimum labels itself),
    so star-shaped inputs — the near-dup dedup norm, where clusters are
    (original, duplicate...) stars — finish after one join+agg and one
    O(|E|) check instead of >= 1 full two-step propagation round plus
    its checkpoint and convergence pass. Chain-shaped inputs pay one
    extra O(|E|) check and then iterate FROM the tentative labels,
    which is always at least as converged as the identity labeling the
    loop previously started from (labels are monotone decreasing and
    every tentative label is a member of the node's own component, so
    the fixpoint is unchanged). Output is identical in all cases.
    """
    sym = _sym_edges(edges, src, dst)

    # one-pass tentative labeling: min(node, neighbors(node))
    labels = materialize(
        sym.groupBy(F.col("_n").alias("id"))
        .agg(F.min("_m").alias("_nbr"))
        .select("id", F.least(F.col("id"), F.col("_nbr")).alias("component"))
    )
    la = labels.select(F.col("id").alias("_n"), F.col("component").alias("_ca"))
    lb = labels.select(F.col("id").alias("_m"), F.col("component").alias("_cb"))
    violations = (
        sym.join(la, "_n")
        .join(lb, "_m")
        .filter(F.col("_ca") != F.col("_cb"))
        .limit(1)
        .count()
    )
    if violations == 0:
        return labels

    def _propagate(lbl: DataFrame) -> DataFrame:
        nbr_min = (
            sym.join(
                lbl.select(
                    F.col("id").alias("_m"), F.col("component").alias("_mc")
                ),
                "_m",
            )
            .groupBy(F.col("_n").alias("id"))
            .agg(F.min("_mc").alias("_nbr"))
        )
        return lbl.join(nbr_min, "id", "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("_nbr"), F.col("component"))
            ).alias("component"),
        )

    # two propagation steps per materialization/convergence check: the
    # checkpoint + measure collect are the fixed per-round cost (each is
    # a full job), and labels are monotone decreasing, so checking every
    # other step can at most do one redundant round
    labels, done = _fixed_point(
        labels,
        lambda lbl: materialize(_propagate(_propagate(lbl))),
        lambda lbl: _count_sum(lbl, "component"),
        max_iter,
    )
    if done:
        return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds of "
        f"two propagations each (effective diameter bound {2 * max_iter})"
    )


def _local_contract(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Partition-local union-find contraction (round-12, guide §8.4 "fix
    the algorithm" / §1.2 remove passes): within each input partition,
    collapse every locally-connected set to (member, local_min_id) star
    edges. Connectivity — and therefore the final (id, component)
    labeling — is exactly preserved: each local component's members
    re-attach to a member of that same component, every input node still
    appears (both endpoints of an edge are seen by its partition), and
    no edge ever crosses components. What changes is DEPTH: a chain
    whose edges are co-located (the norm when edges come from a window
    or groupBy — e.g. per-user event chains) contracts to depth 1 in one
    zero-shuffle pass, so the large-star/small-star loop that follows
    converges in O(log of the REMAINING cross-partition depth) rounds
    instead of O(log graph-diameter). Arrow-batched mapInPandas (the
    sanctioned Python boundary, guide §4.1); only the two id columns are
    shipped (guide §2.3 project-before-opaque-op). Per-task memory is
    O(nodes in partition) — bounded by the scan/shuffle partition
    sizing, same contract as a map-side hash aggregate."""
    import pandas as pd

    def part(batches):
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for b in batches:
            for a, c in zip(
                b.iloc[:, 0].to_numpy().tolist(),
                b.iloc[:, 1].to_numpy().tolist(),
            ):
                if a not in parent:
                    parent[a] = a
                if c not in parent:
                    parent[c] = c
                ra, rc = find(a), find(c)
                if ra != rc:
                    parent[ra] = rc
        if not parent:
            return
        gmin: dict = {}
        roots = {}
        for n in parent:
            r = find(n)
            roots[n] = r
            m = gmin.get(r)
            if m is None or n < m:
                gmin[r] = n
        nodes = list(parent)
        yield pd.DataFrame(
            {
                "_ln": pd.Series(nodes, dtype="int64"),
                "_lm": pd.Series(
                    [gmin[roots[n]] for n in nodes], dtype="int64"
                ),
            }
        )

    pairs = edges.select(
        F.col(src).cast("long").alias("_ln"),
        F.col(dst).cast("long").alias("_lm"),
    )
    return pairs.mapInPandas(part, "_ln long, _lm long")


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SOCC'14): same (id, component) contract as
    :func:`connected_components`, converging in O(log d) contraction
    rounds instead of O(d) propagation steps — the right variant when
    components can be DEEP chains (web graphs, long reply threads), not
    the shallow clusters near-dup dedup produces.

    large-star: every node's higher-id neighbors re-attach to the
    minimum of its neighborhood (including itself). small-star: every
    node and its lower-id neighbors re-attach to that minimum. Each is
    one groupBy(min) + one join on the node id; both preserve
    connectivity and the node set and strictly shrink star depth. Before
    each round one aggregate tests the exact fixed point — the canonical
    ``(hi, lo)`` edge set is a depth-1 star forest, so ``hi -> lo`` is
    the labeling — and ``max_iter`` bounds the contraction rounds run
    while it fails (an input already in star form needs none). Lineage
    is cut per round with an eager ``materialize``, as in the
    propagation variant.
    """
    # round-12: partition-local union-find contraction FIRST (see
    # _local_contract) — connectivity-preserving, zero-shuffle, and it
    # flattens any depth that is co-located within a partition, which is
    # most of it when edges come off a window/groupBy. The star loop
    # then only has to close the cross-partition remainder: on the
    # per-user event-chain graph the contracted edge set is already a
    # star forest, so the predicate holds before the first round and
    # none runs. Then canonical (hi, lo) representation, self-loops
    # dropped.
    e = _canonical_edges(_local_contract(edges, src, dst), "_ln", "_lm").select(
        F.col("b").alias("_hi"), F.col("a").alias("_lo")
    )

    def _is_star_forest(ed: DataFrame) -> bool:
        # every _hi on exactly one edge and no _lo also a _hi: per node,
        # (#edges as _hi) + (1 if ever a _lo) must stay <= 1
        deg = (
            ed.select(
                F.col("_hi").alias("_v"), F.lit(1).alias("_h"), F.lit(0).alias("_l")
            )
            .union(ed.select("_lo", F.lit(0), F.lit(1)))
            .groupBy("_v")
            .agg((F.sum("_h") + F.max("_l")).alias("_k"))
        )
        return deg.filter(F.col("_k") > 1).isEmpty()

    def _large_star(ed: DataFrame) -> DataFrame:
        sym = ed.select(
            F.col("_hi").alias("_a"), F.col("_lo").alias("_b")
        ).union(ed.select(F.col("_lo").alias("_a"), F.col("_hi").alias("_b")))
        mins = sym.groupBy("_a").agg(F.min("_b").alias("_mn"))
        mins = mins.select("_a", F.least("_a", "_mn").alias("_m"))
        # (v, m(u)) for v in N(u), v > u; v > u >= m so hi=v, lo=m.
        # distinct kept (round-12 A/B): dropping it is result-identical
        # (small-star's min-agg is duplicate-insensitive) but measured
        # SLOWER on chain graphs (cc_star_event_chains 10.8 -> 13.3 s)
        # — multi-path duplicates inflate the very next round's
        # large-star input more than the dedup exchange costs.
        return (
            sym.join(mins, "_a")
            .filter(F.col("_b") > F.col("_a"))
            .select(F.col("_b").alias("_hi"), F.col("_m").alias("_lo"))
            .filter(F.col("_hi") != F.col("_lo"))
            .distinct()
        )

    def _small_star(ed: DataFrame) -> DataFrame:
        # edges already orient high -> low: group the lower neighborhood
        mins = ed.groupBy("_hi").agg(F.min("_lo").alias("_m"))
        re_lo = ed.join(mins, "_hi").select(
            F.col("_lo").alias("_x"), F.col("_m").alias("_y")
        )
        re_self = mins.select(
            F.col("_hi").alias("_x"), F.col("_m").alias("_y")
        )
        return (
            re_lo.union(re_self)
            .filter(F.col("_x") != F.col("_y"))
            .select(
                F.greatest("_x", "_y").alias("_hi"),
                F.least("_x", "_y").alias("_lo"),
            )
            .distinct()
        )

    rounds = 0
    while not _is_star_forest(e):
        if rounds >= max_iter:
            raise RuntimeError(
                f"connected_components_star did not converge in {max_iter} "
                "large-star/small-star rounds"
            )
        e = materialize(_small_star(_large_star(e)))
        rounds += 1
    # star forest: each non-root points at its component min, which
    # labels itself
    roots = e.select(F.col("_lo").alias("id"), F.col("_lo").alias("component"))
    return e.select(
        F.col("_hi").alias("id"), F.col("_lo").alias("component")
    ).union(roots.distinct())


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list, computed in
    EXACT integer arithmetic so the result is bit-identical on any engine
    (no float summation-order drift): ranks are BIGINTs on the integer
    grid (:data:`~hybridbackend_spark._fixed.RANK` = 1.0), each node's
    contribution is ``rank div out_degree`` (truncating integer
    division), and the damped update is
    ``((100-d)*RANK) div 100 + (d * sum_contrib) div 100``.

    Per iteration: one equi-join of edges against ranks on the source id
    and one partial-agg groupBy on the destination id — both shuffles on
    the node key, combined map-side, so shuffled bytes scale with
    |edges| not iterations x corpus. Lineage is cut with an eager
    ``materialize`` every 4th iteration (round-12: each rank state is
    consumed exactly once by the next iteration, so the un-checkpointed
    plan grows LINEARLY — 3 operators per iteration — and the typical
    3-5 iteration call runs as ONE job instead of paying a
    materialize-and-rescan barrier per iteration; the every-4th cut
    keeps plan depth bounded for large iteration counts).

    Dangling nodes (no out-edges) leak their mass, the usual simplified
    formulation; symmetrize the edge list for the strongly-connected
    variant. Distributed analog of the reference's iterative collective
    loops (``distribute/tests/allreduce_test.py``).
    """
    return _pagerank(edges, src, dst, None, iterations, damping_pct)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "id",
    iterations: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Personalized PageRank: identical exact-integer iteration scheme
    to :func:`pagerank`, but restart mass teleports ONLY to the seed
    set — ranks measure proximity to the seeds, the recommendation /
    related-entity primitive (seeds = a user's items -> ranks =
    candidates). Seeds start at ``RANK``; non-seeds at 0; each update
    adds the ``(100-d)%`` restart only on seed nodes. Same per-round
    shuffle shape (and round-12 every-4th-iteration lineage-cut policy)
    as pagerank; nodes never reached by seed mass keep rank 0 (and are
    still emitted, making the output spine the full node set). With
    every node seeded it is bit-identical to :func:`pagerank`."""
    seed_nodes = seeds.select(F.col(seed_col).alias("node")).distinct()
    return _pagerank(edges, src, dst, seed_nodes, iterations, damping_pct)


def _pagerank(
    edges: DataFrame,
    src: str,
    dst: str,
    seed_nodes: DataFrame | None,
    iterations: int,
    damping_pct: int,
) -> DataFrame:
    """The exact-integer iteration shared by :func:`pagerank` and
    :func:`personalized_pagerank`. ``seed_nodes`` (one ``node`` column)
    selects where restart mass lands; ``None`` seeds every node with a
    literal 1 and no join, which folds ``seed * base`` to pagerank's
    plain ``base``.

    The projected edge frame is materialized ONCE at entry: the degree
    aggregate, the degree join and the node-set union otherwise each
    re-evaluate the caller's edge plan (up to 4 evaluations — and the
    usual symmetrize-by-union caller doubles that), which for the
    registered consumers is an orders-lineitem join + distinct, or the
    frequent-bigram graph. 16 bytes/row, and the cut folds into the
    jobs the prologue runs anyway — same rationale as :func:`_sym_edges`.
    """
    e = materialize(edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d")
    ))
    deg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))
    ed = materialize(e.join(deg, "_s"))
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    if seed_nodes is None:
        seed = F.lit(1)
    else:
        nodes = nodes.join(
            seed_nodes.select("node", F.lit(1).alias("_seed")), "node", "left"
        ).select("node", F.coalesce("_seed", F.lit(0)).alias("_seed"))
        seed = F.col("_seed")
    nodes = materialize(nodes)
    base = (100 - damping_pct) * RANK // 100
    ranks = nodes.select("node", (seed.cast("long") * RANK).alias("rank"))
    for it in range(iterations):
        contrib = ed.join(
            ranks.select(F.col("node").alias("_s"), "rank"), "_s"
        ).select(
            F.col("_d").alias("node"), F.expr("rank div _deg").alias("_c")
        )
        sums = contrib.groupBy("node").agg(F.sum("_c").alias("_sum"))
        ranks = nodes.join(sums, "node", "left").select(
            "node",
            (
                seed.cast("long") * base
                + F.expr(f"({damping_pct} * coalesce(_sum, 0)) div 100")
            )
            .cast("long")
            .alias("rank"),
        )
        if (it + 1) % 4 == 0 and it + 1 < iterations:
            ranks = materialize(ranks)
    return ranks


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    orient_by_degree: bool = False,
) -> DataFrame:
    """Exact triangle count of an undirected simple graph, as a 1-row
    DataFrame ``(n_triangles)``. Edges are canonicalized (self-loops
    dropped, duplicates/reversals deduped) and ORIENTED by a total order
    on nodes; each triangle is counted exactly once by the ordered wedge
    join over the oriented adjacency: ``(x,y) ⋈ (y,z)`` builds wedges,
    ``⋈ (x,z)`` closes them.

    Scale shape: two equi-joins on single node keys + one count — all
    partial-agg/AQE-friendly, no cross join. The wedge fan-out is
    Σ outdeg(y)² under the chosen orientation. ``orient_by_degree=True``
    orients each edge from the lower-(degree, id) endpoint to the higher
    — the classic compact-forward algorithm whose out-degrees are
    bounded by O(sqrt(|E|)) (graph arboricity), taming the hub blow-up
    of power-law graphs at the cost of one extra degree pass + join.
    The default id order skips that pass (fine for near-uniform degree).
    """
    e = _canonical_edges(edges, src, dst)
    if orient_by_degree:
        deg = (
            e.select(F.col("a").alias("n"))
            .union(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        ed = (
            e.join(deg.select(F.col("n").alias("a"), F.col("d").alias("_da")), "a")
            .join(deg.select(F.col("n").alias("b"), F.col("d").alias("_db")), "b")
        )
        fwd = (F.col("_da") < F.col("_db")) | (
            (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
        )
        e = materialize(ed.select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("a"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("b"),
        ))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    wedges = e1.join(e2, F.col("e2.a") == F.col("e1.b")).select(
        F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
    )
    closed = wedges.join(
        e3, (F.col("e3.a") == F.col("x")) & (F.col("e3.b") == F.col("z"))
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def label_propagation(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iters: int = 2,
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA): every
    node starts in its own community; each round, every node adopts the
    most frequent label among its neighbors (ties break to the SMALLEST
    label, making every round — and therefore the result — fully
    deterministic, unlike textbook randomized LPA). Fixed ``iters``
    rounds: communities stabilize quickly on clustered graphs, and a
    fixed count keeps the result engine-reproducible (the oracle unrolls
    the same rounds).

    Per round: one partial-agg groupBy((node, label)) + one per-node
    top-1 — shuffle volume is edge-count rows of 3 small columns, the
    same shape per round regardless of community sizes. The top-1 is a
    ``min(struct(-count, label))`` aggregate, not a ranking window
    (round-12 session 4, guide §2.3 "aggregate before you shuffle"):
    identical winner — row_number ordered by (c DESC, lab ASC) picks
    exactly the struct minimum — but the aggregate partial-combines
    map-side and skips the window's per-partition sort. Lineage is cut
    per round (``materialize``) so ``iters`` stays a cost, not a
    plan-depth explosion.

    Returns (id, community).
    """
    # not _sym_edges: votes count every parallel edge, so the adjacency
    # stays a multiset (unionAll, no distinct), and both cuts are lazy.
    # The edge plan is still cut once before the two-direction union.
    e0 = materialize(edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ), eager=False)
    sym = e0.unionAll(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = materialize(sym, eager=False)
    labels = sym.select(F.col("a").alias("v")).distinct().select(
        "v", F.col("v").alias("lab")
    )
    for _ in range(iters):
        votes = (
            sym.join(labels, sym.a == labels.v)
            .select(F.col("b").alias("v"), "lab")
            .groupBy("v", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = materialize(
            votes.groupBy("v")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("lab").alias("l"))
                ).alias("_w")
            )
            .select("v", F.col("_w.l").alias("lab")),
            eager=False,
        )
    return labels.select(F.col("v").alias("id"), F.col("lab").alias("community"))


def transitive_closure(
    edges: DataFrame,
    src: str = "parent",
    dst: str = "child",
    max_rounds: int = 10,
) -> DataFrame:
    """Reachability closure of a DAG — (ancestor, descendant, depth) for
    every ancestor chain — by ITERATIVE DOUBLING: each round joins the
    known path set with itself, so path length doubles per round and a
    depth-d hierarchy closes in ceil(log2 d) rounds, not d. This is the
    engine's substitute for SQL recursive CTEs (Spark has none):
    bill-of-materials explosion, org charts, category trees.

    Per round: one self-join of the path set on the meeting node + a
    min-depth dedup groupBy — both shuffle on path endpoints. Path-set
    size is the FINAL closure size (|V| x avg depth for trees), never
    more; lineage is cut per round. Rounds stop at the fixed point
    (count stops growing — counts are cheap on the checkpointed set).

    Cycles are handled: the min-depth dedup makes the path set finite
    (every (a, b) keeps its shortest distance, including (a, a) loops),
    so the fixed point exists for any graph. Raises only if the closure
    hasn't converged in ``max_rounds`` — i.e. diameter > 2^max_rounds.
    """
    paths = materialize(
        edges.select(
            F.col(src).alias("a"), F.col(dst).alias("b"), F.lit(1).alias("d")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )

    def _double(p: DataFrame) -> DataFrame:
        l = p.select(F.col("a"), F.col("b").alias("_m"), F.col("d").alias("_dl"))
        r = p.select(F.col("a").alias("_m"), F.col("b"), F.col("d").alias("_dr"))
        doubled = l.join(r, "_m").select(
            "a", "b", (F.col("_dl") + F.col("_dr")).alias("d")
        )
        return materialize(
            p.unionAll(doubled)
            .groupBy("a", "b")
            .agg(F.min("d").alias("d"))
        )

    paths, done = _fixed_point(paths, _double, lambda p: p.count(), max_rounds)
    if done:
        return paths.select(
            F.col("a").alias("ancestor"),
            F.col("b").alias("descendant"),
            F.col("d").alias("depth"),
        )
    raise RuntimeError(
        f"transitive_closure did not converge in {max_rounds} doubling "
        "rounds — cyclic input or pathological depth"
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    seed_col: str = "id",
    max_hops: int = 10,
    directed: bool = False,
) -> DataFrame:
    """Multi-source BFS: (id, dist) = minimum hop count from any seed
    node, for every node within ``max_hops``. Unreached nodes are
    absent from the result (no sentinel rows).

    Min-plus label propagation: each round joins the frontier's
    distances to the adjacency list and keeps the per-node minimum —
    the same join + partial-agg shape as :func:`connected_components`,
    with lineage cut per round via ``materialize``. Distances are
    monotone non-increasing and bounded below, so the exact (count,
    sum) pair is a convergence measure; the loop stops early once a
    round changes nothing. Rounds needed = eccentricity of the seed set,
    each round one co-partitioned join + agg — never an all-pairs
    product. Shares its relaxation with :func:`shortest_paths`.

    Round-12 note: batching TWO relaxations per checkpoint was tried
    and measured SLOWER (bfs_hops_suppliers 2.7 -> 3.9 s): the relaxed
    state feeds both the next join and the min-fold union, and without
    the per-round materialization that shared subtree runs twice per
    relaxation. One relaxation per checkpoint stands.
    """
    dist, _ = _min_plus_paths(
        _sym_edges(edges, src, dst, directed=directed),
        seeds.select(F.col(seed_col).alias("id")),
        F.lit(0),
        F.lit(1),
        max_hops,
    )
    return dist


def _min_plus_paths(
    sym: DataFrame,
    seeds: DataFrame,
    zero: Column,
    cost: Column,
    max_rounds: int,
    max_dist: int | None = None,
):
    """The relaxation loop shared by :func:`bfs_distances` and
    :func:`shortest_paths`: seeds start at ``zero``; each round adds the
    edge ``cost`` to every frontier distance, keeps the per-node minimum
    (dropping relaxations beyond ``max_dist``) and cuts lineage. The
    literal types of ``zero`` and ``cost`` fix the ``dist`` type (INT
    for BFS, BIGINT for weighted paths). Returns ``(dist, converged)``."""
    dist = materialize(
        seeds.distinct()
        .select("id", zero.alias("dist"))
    )

    def _relax(d: DataFrame) -> DataFrame:
        relaxed = (
            sym.join(
                d.select(F.col("id").alias("_n"), F.col("dist").alias("_d")), "_n"
            )
            .groupBy(F.col("_m").alias("id"))
            .agg(F.min(F.col("_d") + cost).alias("dist"))
        )
        if max_dist is not None:
            relaxed = relaxed.filter(F.col("dist") <= max_dist)
        return materialize(
            d.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )

    return _fixed_point(dist, _relax, lambda d: _count_sum(d, "dist"), max_rounds)


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    weight: str = "w",
    seed_col: str = "id",
    max_rounds: int = 10,
    directed: bool = False,
    max_dist: int | None = None,
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths (distributed Bellman-Ford):
    (id, dist) = minimum total edge weight from any seed, for every node
    reachable within ``max_rounds`` relaxation rounds. Weights must be
    non-negative integers; unreached nodes are absent.

    ``max_dist`` makes the truncation EXACT instead of hop-bounded:
    relaxations beyond ``max_dist`` are pruned each round (safe — with
    non-negative weights no shortest path within the bound has an
    over-bound prefix), and the result is exactly {node: true shortest
    distance <= max_dist} PROVIDED ``max_rounds >= max_dist / min
    positive weight`` (a distance-``max_dist`` path has at most that
    many edges). With integer weights >= 1, ``max_rounds = max_dist``
    suffices; the fixed-point early stop keeps actual rounds at the
    graph's effective hop diameter. Without ``max_dist``, exhausting
    ``max_rounds`` before the fixed point raises rather than returning
    silently-stale distances.

    The weighted generalization of :func:`bfs_distances`: each round
    relaxes every edge once (frontier join + per-node min), so after r
    rounds every shortest path of at most r EDGES is final — exact once
    ``max_rounds`` reaches the hop-diameter of the relevant paths, and
    the loop stops early at the fixed point (distances are monotone
    non-increasing integers, so the exact (count, sum) pair is a
    convergence measure). Per round: one co-partitioned join + one
    partial-agg min — never an all-pairs product, the 1000-executor
    Bellman-Ford shape.

    Round-12 note: batching TWO relaxations per checkpoint was tried
    and measured SLOWER (sssp_suppliers 3.8 -> 6.3 s): the relaxed
    state feeds both the next join and the min-fold union, and without
    the materialization between rounds that shared subtree is computed
    twice per relaxation (exchange reuse does not fire across the
    union/join pair under AQE). One relaxation per checkpoint stands.
    """
    sym = _sym_edges(edges, src, dst, weight, directed)
    dist, done = _min_plus_paths(
        sym,
        seeds.select(F.col(seed_col).alias("id")),
        F.lit(0).cast("long"),
        F.col("_w"),
        max_rounds,
        max_dist,
    )
    if done:
        return dist
    if max_dist is not None:
        # Exhausted max_rounds without a fixed point. The result is
        # still EXACT iff every distance-<=max_dist path fits in the
        # round budget: a path of total weight <= max_dist has at most
        # max_dist / w_min edges, so max_rounds * w_min >= max_dist
        # certifies exactness. Otherwise raising is the only honest
        # outcome — returning would silently drop in-bound nodes
        # (round-6 advisor item: this branch previously returned
        # unconditionally, making the guarantee asymmetric).
        wmin = sym.agg(F.min("_w")).collect()[0][0]
        if wmin is not None and wmin >= 1 and max_rounds * wmin >= max_dist:
            return dist
    raise ValueError(
        f"shortest_paths: no fixed point after max_rounds={max_rounds} "
        "relaxation rounds — distances would be stale for paths longer "
        "than the round budget. Raise max_rounds"
        + (
            f" (need max_rounds * min_weight >= max_dist={max_dist})."
            if max_dist is not None
            else ", or pass max_dist for an exact distance-bounded "
            "truncation."
        )
    )


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """k-core peeling for a FIXED number of rounds: each round removes
    every node whose current degree is below ``k`` (and all its edges);
    after ``rounds`` rounds, returns the surviving (id, degree). With
    enough rounds this converges to the true k-core; a fixed round count
    keeps the computation deterministic and SQL-replayable (the oracle
    unrolls identical rounds), the same contract as :func:`pagerank`.

    Each round is one degree agg + two semi joins on the edge endpoints
    (all shuffles keyed on node ids), lineage cut per round. Never
    materializes anything bigger than the (shrinking) edge list.
    """
    sym = _sym_edges(edges, src, dst)
    for _ in range(rounds):
        keep = (
            sym.groupBy("_n")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") >= k)
            .select("_n")
        )
        sym = materialize(
            sym.join(keep, "_n", "left_semi")
            .join(keep.select(F.col("_n").alias("_m")), "_m", "left_semi")
        )
    return sym.groupBy(F.col("_n").alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def hyperball_reach(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    k: int = 2,
    directed: bool = False,
) -> DataFrame:
    """HyperBall (Boldi-Vigna '11): per-node k-hop neighborhood-size
    estimation with ENGINE-REPLAYABLE md5 HLL registers — the
    neighborhood-function / effective-diameter primitive at graph
    scale, where materializing balls is |V| x ball-size and infeasible.

    Each node's state is the HLL register set of its ball-so-far, rho
    derived from md5(id) exactly like functions/windows.py::
    rolling_distinct_count_hll_md5 (register = first md5 byte, rho =
    17 - bit_length(next 16 bits), 17 for the all-zero pattern).

    State layout (round-12 rewrite, guide §2.3 — fewer/narrower rows
    through every exchange): registers are packed ONE-HOT — register i
    occupies an 18-bit lane (bit b set iff some ball member maps to
    (i, rho=b)) at offset ``(i % 3) * 18`` of long column ``_b{i//3}``,
    86 longs ~ 700 B per node, ONE row per node. The register-max merge
    becomes ``bit_or`` (max rho = highest set bit of the OR — OR is
    associative/commutative and bit_or partial-aggregates in codegen),
    so a round is one co-partitioned join + an 86-column bit_or groupBy.
    The previous (id, reg, rho) row-sparse layout materialized up to
    |V| x 256 rows per round (~437 MB per checkpoint on the registered
    query, the slowest stage of the whole extra set); this layout is
    |V| rows flat, and the final round feeds the readout directly with
    no checkpoint (single consumer). Readout unpacks each lane once in
    a single parsed projection; outputs are bit-identical to the row
    layout (oracle re-verified).

    Output per node: ``n_regs``, ``zeros``, ``harmonic_num`` (exact
    integer, sum of 2^(17-rho) over all 256 registers), and ``raw_est``
    (alpha_m * m^2 * 2^17 / harmonic_num — a single division of exact
    integers, bit-identical across engines), estimating |ball(v, k)|
    INCLUDING v itself. An oracle can replay every register from md5
    over the exact recursive-CTE ball, so correctness is
    hash-verifiable despite the estimator being approximate.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    sym = _sym_edges(edges, src, dst, directed=directed)
    nodes = (
        sym.select(F.col("_n").alias("id"))
        .union(sym.select(F.col("_m").alias("id")))
        .distinct()
    )
    # one-hot init: node's own (reg, rho) as a single set bit. (reg,
    # rho) are materialized in their own projection FIRST — inlining
    # them into all 86 lane expressions re-derives the md5 per lane
    # (no common-subexpression elimination across select items;
    # measured 8.4 s vs under 1 s). The lane list is rendered as SQL
    # and parsed once (the 93db520 lesson: per-literal Column building
    # is a py4j round-trip storm).
    n_longs = (256 + 2) // 3  # 3 x 18-bit lanes per long
    hexd = "md5(cast(id as string))"
    v16 = f"cast(conv(substring({hexd}, 3, 4), 16, 10) as int)"
    init = [
        f"cast(case when _reg div 3 = {j} then "
        f"shiftleft(cast(1 as bigint), (_reg % 3) * 18 + _rho) "
        f"else 0 end as bigint) as _b{j}"
        for j in range(n_longs)
    ]
    # round-12 A/B note: spreading the state/sym checkpoints to the
    # session parallelism was tried (all hyperball values are
    # exact-integer, so it is output-safe) and reverted — wall stayed
    # 5.7-6.1 s in every arm because the cost is the serial job chain
    # (~13 jobs/run), while per-task overhead (~0.17 s on this box)
    # made the extra partitions a net loss in task-seconds.
    state = materialize(
        nodes
        .selectExpr(
            "id",
            f"cast(conv(substring({hexd}, 1, 2), 16, 10) as int) as _reg",
            f"(case when {v16} = 0 then 17 "
            f"else 17 - length(bin({v16})) end) as _rho",
        )
        .selectExpr("id", *init)
    )

    bcols = [f"_b{j}" for j in range(n_longs)]
    for r in range(k):
        prop = sym.join(state.withColumnRenamed("id", "_n"), "_n").select(
            F.col("_m").alias("id"), *bcols
        )
        state = (
            state.unionByName(prop)
            .groupBy("id")
            .agg(*[F.expr(f"bit_or({c})").alias(c) for c in bcols])
        )
        if r + 1 < k:
            # the final round's state has a single consumer (the
            # readout) — no checkpoint needed there
            state = materialize(state)

    # readout: fold the 256 lanes per NODE ROW — no Generate, no
    # |V| x 256 intermediate rows, no per-lane groupBy. (History: a
    # flat 256-term projection fell out of codegen and evaluated
    # interpreted at ~450 us/row; the next form — explode + filter +
    # length(bin(.)) + hash-agg — stayed compiled but allocated a
    # binary STRING per non-zero lane and hash-aggregated |V| x 256
    # rows, 8.6 s of task time on the registered query. This form
    # replaces both: one aggregate() fold over the lane array whose
    # per-element contribution 2^(17 - rho) comes from an 18-branch
    # integer CASE ladder (rho = highest set bit — no string ever
    # built), plus a second small fold for the non-zero count. Pure
    # exact-integer arithmetic, so outputs stay bit-identical; measured
    # 5.8 -> ~3 s isolated on hyperball_reach_suppliers.)
    def lane(i: int) -> str:
        return f"(shiftright(_b{i // 3}, {(i % 3) * 18}) & 262143)"

    lanes_arr = "array(" + ",".join(lane(i) for i in range(256)) + ")"
    # contribution of one lane: 0 if empty, else 2^(17 - highest_bit)
    contrib = "case " + " ".join(
        f"when x >= {1 << b} then {1 << (17 - b)}L"
        for b in range(17, -1, -1)
    ) + " else 0L end"
    per_node = state.selectExpr(
        "id",
        f"aggregate({lanes_arr}, 0L, (acc, x) -> acc + {contrib})"
        " as _hit_num",
        f"aggregate({lanes_arr}, 0, (acc, x) ->"
        " acc + (case when x != 0 then 1 else 0 end)) as n_regs",
    )
    alpha = 0.7213 / (1.0 + 1.079 / 256.0)
    return (
        per_node
        .select(
            "id",
            "n_regs",
            (256 - F.col("n_regs")).alias("zeros"),
            (F.col("_hit_num")
             + (256 - F.col("n_regs")).cast("long") * (1 << 17))
            .alias("harmonic_num"),
            F.round(
                F.lit(alpha * 256.0 * 256.0 * (1 << 17))
                / (F.col("_hit_num")
                   + (256 - F.col("n_regs")).cast("long") * (1 << 17))
                .cast("double"),
                4,
            ).alias("raw_est"),
        )
    )


def clustering_coefficient(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    dp: int = 6,
) -> DataFrame:
    """Per-node local clustering coefficient of an undirected simple
    graph: ``lcc(v) = 2*tri(v) / (deg(v)*(deg(v)-1))`` — the standard
    "how clique-like is this node's neighborhood" readout (Watts &
    Strogatz '98), the per-node refinement of :func:`triangle_count`'s
    global numerator.

    Edges canonicalize to the oriented ``a < b`` form, the ordered
    wedge join enumerates each triangle exactly once as ``x < y < z``,
    and each triangle credits all three corners (one explode of 3 rows
    per triangle + a node-keyed partial agg). Degrees come from the
    deduped edge list. Both statistics are exact integers; the
    coefficient is one fixed-shape division, NULL for degree < 2
    (undefined, and guarded so ANSI mode cannot abort).

    Scale shape: two equi-joins on single node keys (the same
    compact-forward wedge plan as ``triangle_count``) plus two
    node-keyed aggs — no cross join, no per-node neighbor lists
    materialized. Returns (id, degree, triangles, lcc).
    """
    e = _canonical_edges(edges, src, dst)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
        .join(e3, (F.col("e3.a") == F.col("x")) & (F.col("e3.b") == F.col("z")))
        .select("x", "y", "z")
    )
    contrib = tri.select(
        F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("id")
    )
    tcount = contrib.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
    deg = (
        e.select(F.col("a").alias("id"))
        .unionAll(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    out = deg.join(tcount, "id", "left")
    degd = F.col("degree").cast("double")
    trid = F.coalesce(F.col("triangles"), F.lit(0)).cast("double")
    return out.select(
        "id",
        F.col("degree").cast("long").alias("degree"),
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias(
            "triangles"
        ),
        F.when(
            F.col("degree") >= 2,
            F.round(F.lit(2.0) * trid / (degd * (degd - F.lit(1.0))), dp),
        ).alias("lcc"),
    )


def link_prediction(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    min_common: int = 1,
    max_degree: int | None = None,
    dp: int = 6,
) -> DataFrame:
    """Link prediction scores for NON-adjacent node pairs at distance 2
    (Liben-Nowell & Kleinberg '03): common-neighbor count, Jaccard
    overlap of neighborhoods, and preferential attachment — the three
    classic integer-exact predictors (Adamic-Adar is deliberately
    omitted: its 1/ln(deg) sum accumulates floats in engine-dependent
    order; these three are exact BIGINT/single-division statistics).

    Scale shape: candidate pairs come from the wedge self-join on the
    shared-neighbor key (fan-out deg(z)^2 per hub z — ``max_degree``
    drops hubs above the cap BEFORE the join, the same guard as
    ``item_similarity``'s ``max_user_degree``; a node everyone touches
    predicts nothing and costs quadratic work). Existing edges leave
    via an anti-join; two tiny degree joins finish. No neighbor LISTS
    are ever materialized — everything is (pair, count) rows.

    Returns (id_a, id_b, common, jaccard, pref_attach) for non-edges
    with ``common >= min_common``.
    """
    e = _canonical_edges(edges, src, dst)
    adj = e.select(F.col("a").alias("z"), F.col("b").alias("n")).unionAll(
        e.select(F.col("b").alias("z"), F.col("a").alias("n"))
    )
    deg = adj.groupBy(F.col("n").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    if max_degree is not None:
        keep = deg.filter(F.col("deg") <= max_degree).select(
            F.col("id").alias("z")
        )
        adj = adj.join(keep, "z")
    l, r = adj.alias("l"), adj.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.z") == F.col("r.z")) & (F.col("l.n") < F.col("r.n")),
        )
        .groupBy(F.col("l.n").alias("a"), F.col("r.n").alias("b"))
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
        .join(e, ["a", "b"], "left_anti")
    )
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("_db"))
    out = cand.join(da, "a").join(db, "b")
    union_sz = F.col("_da") + F.col("_db") - F.col("common")
    return out.select(
        F.col("a").alias(src),
        F.col("b").alias(dst),
        F.col("common").cast("long").alias("common"),
        F.round(
            F.col("common").cast("double") / union_sz.cast("double"), dp
        ).alias("jaccard"),
        (F.col("_da") * F.col("_db")).cast("long").alias("pref_attach"),
    )
