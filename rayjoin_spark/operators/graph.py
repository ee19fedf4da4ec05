"""Link-graph operators: integer-exact PageRank + degree statistics.

A crawl pipeline ranks hosts to prioritize fetch frequency and to weight
corpus sampling (the host-graph analog of the reference's per-cell
workload metrics, src/grid/uniform_grid.h:444-494 — both are "how much
does each key matter" tables that later stages consume). PageRank is the
canonical iterative distributed computation: per round one equi-join of
the rank table against the edge list plus one combinable groupBy.

Everything is INTEGER so the result is bit-reproducible on any engine,
partitioning, or cluster size (the module-wide exactness contract, same
as operators/simsearch.py k-means): ranks are bigint in units of
1/scale, per-edge contribution is ``rank DIV out_degree`` (truncating
division — Spark `DIV` and DuckDB `//` agree on non-negative values),
and damping is the integer ``base + (damp_num * inflow) DIV damp_den``.
No float crosses a shuffle, so there is no summation-order ambiguity.

Semantics (documented variant): dangling nodes (out-degree 0) keep
receiving ``base`` plus damped inflow but redistribute nothing — their
mass decays rather than teleporting. Multi-edges must be deduplicated by
the caller if simple-graph semantics are wanted (`pagerank` ranks the
edge list it is given; each (src, dst) row carries one contribution).

Scale shape per iteration: the rank join shuffles on src (hub out-degree
skew splits naturally — the edge side is already fanned out one row per
edge); the inflow groupBy is map-side combinable, so a node with 10^9
in-links costs one combiner per partition, not a hot reducer. The
iteration loop is driver-side with O(iters) jobs and each round's result
is eagerly localCheckpoint-ed (house pattern for iterative frontiers:
knn.py / plans/labels.min_label / kmeans) so plan depth stays O(1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rayjoin_spark.plans.labels import min_label

#: fixed-point scale: rank 1.0 == SCALE units
SCALE = 1_000_000


def degree_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node out/in degree — one union + one combinable groupBy."""
    out_d = edges.select(F.col(src).alias("node"), F.lit(1).alias("o"), F.lit(0).alias("i"))
    in_d = edges.select(F.col(dst).alias("node"), F.lit(0).alias("o"), F.lit(1).alias("i"))
    return (
        out_d.unionByName(in_d)
        .groupBy("node")
        .agg(
            F.sum("o").cast("bigint").alias("out_degree"),
            F.sum("i").cast("bigint").alias("in_degree"),
        )
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damp_num: int = 85,
    damp_den: int = 100,
    scale: int = SCALE,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Integer-exact PageRank over (src, dst) edges.

    Returns (node, rank) with rank in units of 1/scale. Every node that
    appears as src or dst is ranked; rank starts at `scale` and updates
    as ``base + (damp_num * sum(rank_u DIV deg_u)) DIV damp_den`` over
    in-neighbors u, with ``base = (scale * (damp_den - damp_num)) DIV
    damp_den`` — the standard damped update, carried out entirely in
    truncating integer arithmetic (see module docstring for why).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # out-degree rides the edge list once, up front — iterations then
    # join only the (src, dst, deg) frame against the current ranks
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    out_edges = e.join(deg, "src").localCheckpoint(eager=True)
    base = (scale * (damp_den - damp_num)) // damp_den
    ranks = nodes.select("node", F.lit(scale).cast("bigint").alias("rank"))
    for _ in range(iters):
        inflow = (
            out_edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("rank DIV deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(inflow.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"({damp_num} * coalesce(s, CAST(0 AS BIGINT))) DIV {damp_den}")
                ).cast("bigint").alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def hits(
    edges: DataFrame,
    iters: int = 3,
    scale: int = SCALE,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Integer-exact HITS (Kleinberg 1999, "Authoritative Sources in a
    Hyperlinked Environment"): hub and authority scores over (src, dst)
    edges — the crawl-side complement to PageRank (a good HUB is a page
    worth re-crawling for link discovery; a good AUTHORITY is a page
    worth keeping in the corpus).

    Update per round, all truncating-integer (module contract):
      ``auth_i = sum over edges u->i of hub_u``  then max-normalized to
      ``(auth * scale) DIV max(auth)``;
      ``hub_u  = sum over edges u->i of auth_i`` then max-normalized the
      same way. Max-normalization (vs the textbook L2) keeps every step
      in bigint with a provable bound: after normalization scores are
      <= scale, a sum over degree d is <= d*scale, and the ``* scale``
      in the next normalization needs d * scale^2 < 2^63 — i.e. max
      degree < 9.2e6 at the default scale; raise/lower `scale` to trade
      precision against the degree bound. Ranking order equals the
      float algorithm's in the large-scale limit; ties broken by the
      truncation are deterministic on every engine.

    Scale shape per round: two equi-joins of the score table against the
    edge list + two map-side-combinable groupBys; the scalar max rides a
    broadcast 1-row cross join (no driver collect). Each round's frame
    is eagerly localCheckpoint-ed (house iterative-frontier pattern).
    Returns (node, hub, auth) for every node appearing as src or dst.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = nodes.select("node", F.lit(scale).cast("bigint").alias("hub"))
    # iters=0 is the identity table (hub=scale, auth=0) rather than a crash
    auth = nodes.select("node", F.lit(0).cast("bigint").alias("auth"))
    for _ in range(iters):
        raw_auth = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("hub").alias("_s"))
        )
        auth = _max_normalized(nodes, raw_auth, "dst", "auth", scale)
        raw_hub = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("auth").alias("_s"))
        )
        hub = _max_normalized(nodes, raw_hub, "src", "hub", scale)
    return nodes.join(hub, "node").join(auth, "node").select("node", "hub", "auth")


def _max_normalized(
    nodes: DataFrame, raw: DataFrame, key: str, out: str, scale: int
) -> DataFrame:
    """(node, out) = (raw._s * scale) DIV max(raw._s), absent nodes -> 0,
    empty/zero max guarded to 1. The scalar max is a broadcast 1-row
    cross join, not a collect."""
    mx = raw.agg(F.greatest(F.max("_s"), F.lit(1)).alias("_mx"))
    scored = (
        nodes.join(raw.withColumnRenamed(key, "node"), "node", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            "node",
            F.expr(f"(coalesce(_s, CAST(0 AS BIGINT)) * {scale}) DIV _mx")
            .cast("bigint")
            .alias(out),
        )
    )
    return scored.localCheckpoint(eager=True)


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 8,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Single-source(s) BFS: minimum hop count from any seed to every
    node reachable within ``max_hops`` — the crawl-depth / link-distance
    analytic (how many clicks from the seed list is each host?).

    seeds: one column ``node``. Returns (node, hops:bigint), hops = 0
    for seeds (a seed stays 0 even if re-reached later: the visited
    anti-join keeps the FIRST round's hop count, which is the minimum).

    Scale shape: per round ONE equi-join of the frontier against the
    hash-partitioned edge list on src + distinct + one anti-join against
    the visited set; the frontier is eagerly localCheckpoint-ed (house
    iterative-frontier pattern, see module docstring) so plan depth and
    lineage stay O(1); early exit on an empty frontier. A high-degree
    hub fans out through the edge-side join (already one row per edge),
    never a hot reducer.
    """
    visited = (
        seeds.select(F.col(node).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    out = [visited]
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["_s"], "inner")
            .select(F.col("_d").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("hops", F.lit(h))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        out.append(nxt)
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    res = out[0]
    for d in out[1:]:
        res = res.unionByName(d)
    return res.select("node", F.col("hops").cast("bigint").alias("hops"))


def sssp(
    edges: DataFrame,
    seeds: DataFrame,
    max_rounds: int = 12,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    node: str = "node",
) -> DataFrame:
    """Single-source shortest path with integer edge weights —
    Bellman-Ford as synchronous rounds: (node, cost) = minimum total
    weight over paths of <= max_rounds edges from any seed. With
    max_rounds >= the graph's hop diameter this IS the shortest path;
    the round cap is part of the deterministic contract (mirrored by the
    oracle's hop-bounded recursion), not an approximation knob.

    Per round: relax = dist JOIN edges on src (one shuffle) -> candidate
    (dst, cost + w) -> min groupBy (map-side combinable) -> min-merge
    with the standing table. The frame is eagerly localCheckpoint-ed per
    round (house iterative pattern) and the loop exits early when a
    round improves nothing (one tiny agg on the merged frame).

    Weights are assumed >= 0: the early exit is only equivalent to the
    bounded-rounds contract under nonnegative weights (no validation
    pass is spent on it — at scale an extra full edge scan per call is
    real money; callers own the invariant).
    """
    dist = (
        seeds.select(F.col(node).alias("node"))
        .distinct()
        .withColumn("cost", F.lit(0).cast("bigint"))
        .localCheckpoint(eager=True)
    )
    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d"),
        F.col(weight).cast("bigint").alias("_w"),
    )
    for _ in range(max_rounds):
        relax = (
            dist.join(e, dist["node"] == e["_s"], "inner")
            .select(F.col("_d").alias("node"), (F.col("cost") + F.col("_w")).alias("cost"))
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
        )
        merged = (
            dist.withColumnRenamed("cost", "c0")
            .join(relax.withColumnRenamed("cost", "c1"), "node", "full_outer")
            .select(
                "node",
                F.least("c0", "c1").alias("cost"),
                (F.col("c1").isNotNull() & (F.col("c0").isNull() | (F.col("c1") < F.col("c0")))).alias("_imp"),
            )
            .localCheckpoint(eager=True)
        )
        improved = not merged.filter("_imp").isEmpty()
        dist = merged.drop("_imp")
        if not improved:
            break
    return dist.select("node", F.col("cost").cast("bigint").alias("cost"))


def _undirected_simple(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """The shared edge normalization of triangle_count /
    degree_assortativity / kcore: drop self-loops, collapse direction
    and multiplicity — one (lo, hi) row per undirected simple edge.
    Any change to the dedup rule (e.g. NULL-endpoint policy) lands in
    every undirected operator through here."""
    return (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi"))
        .distinct()
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED simple graph induced
    by the edge list (direction and multiplicity dropped; self-loops
    ignored) — the local clustering signal used to separate organic link
    neighborhoods from link-farm cliques (a spam feature over the host
    graph, analogous to the reference's per-cell workload metrics in
    src/grid/uniform_grid.h:444-494 as a "where is structure dense"
    table).

    Returns (node, triangles:bigint) for every node incident to an edge,
    zero-filled — each triangle increments all three corners by 1.

    Scale shape (degree-ordered wedge counting, the published
    MapReduce-triangle pattern of Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer"): each undirected edge
    is oriented from its lexicographically smaller (degree, id) endpoint
    to the larger, so every triangle is counted exactly once as a wedge
    at its minimum-key corner, and wedge fan-out per node is bounded by
    the oriented out-degree — O(sqrt(m)) for any node regardless of raw
    degree, which is precisely what defuses the hub-reducer curse. Three
    shuffles total (degree agg, wedge self-join on the wedge apex,
    closing-edge equi-join), all on uniform keys after orientation.
    """
    und = _undirected_simple(edges, src, dst)
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionByName(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    dl = deg.select(F.col("node").alias("lo"), F.col("deg").alias("dlo"))
    dh = deg.select(F.col("node").alias("hi"), F.col("deg").alias("dhi"))
    ed = und.join(dl, "lo").join(dh, "hi")
    # orient u -> v when (deg(u), u) < (deg(v), v)
    o = ed.select(
        F.when(
            (F.col("dlo") < F.col("dhi"))
            | ((F.col("dlo") == F.col("dhi")) & (F.col("lo") < F.col("hi"))),
            F.struct(
                F.col("lo").alias("u"), F.col("hi").alias("v"),
                F.col("dhi").alias("dv"),
            ),
        )
        .otherwise(
            F.struct(
                F.col("hi").alias("u"), F.col("lo").alias("v"),
                F.col("dlo").alias("dv"),
            )
        )
        .alias("e")
    ).select("e.u", "e.v", "e.dv")
    l = o.select(F.col("u"), F.col("v").alias("x"), F.col("dv").alias("dx"))
    r = o.select(F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy"))
    wedges = l.join(r, "u").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = o.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"], "inner").select("u", "x", "y")
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("x").alias("node")))
        .unionByName(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("triangles"))
    )
    return (
        deg.select("node")
        .join(corners, "node", "left")
        .select(
            "node", F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles")
        )
    )


def link_jaccard(
    edges: DataFrame,
    sim_num: int = 1,
    sim_den: int = 3,
    max_fanout: int | None = None,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Out-link set-similarity join between source nodes: pairs of
    sources whose distinct out-neighbor sets have Jaccard similarity
    >= sim_num/sim_den — co-citation mirror detection over the host
    graph (two hosts that link to largely the same places are mirror /
    template suspects, the link-structure sibling of textops'
    minhash-LSH content dedup).

    The decision is exact-integer (cross-multiplied ``sim_den * shared
    >= sim_num * (deg_a + deg_b - shared)``), never a float ratio.
    Returns (node_a, node_b, shared, union_cnt) with node_a < node_b.

    Scale shape: candidate pairs come from an equi-join of the edge list
    with itself on the shared NEIGHBOR key — bucketed, never all-pairs —
    followed by one combinable pair-count groupBy. The quadratic hazard
    is a neighbor with huge in-degree (every pair of its citers becomes
    a candidate row). `max_fanout` is the standard prefix-filter answer
    (set-similarity joins drop stop-terms; idf does the same thing):
    neighbors cited by more than `max_fanout` sources are excluded from
    the similarity universe entirely — candidates AND degrees, so the
    contract stays a true Jaccard over the filtered universe
    ("discriminative out-links only"). None = exact over everything
    (small graphs / offline audits).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    if max_fanout is not None:
        fan = e.groupBy("d").agg(F.count("*").alias("_fan"))
        e = (
            e.join(fan.filter(F.col("_fan") <= max_fanout), "d", "left_semi")
        )
    deg = e.groupBy("s").agg(F.count("*").cast("bigint").alias("deg"))
    l = e.select(F.col("s").alias("node_a"), "d")
    r = e.select(F.col("s").alias("node_b"), "d")
    shared = (
        l.join(r, "d")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count("*").cast("bigint").alias("shared"))
    )
    da = deg.select(F.col("s").alias("node_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("s").alias("node_b"), F.col("deg").alias("deg_b"))
    return (
        shared.join(da, "node_a")
        .join(db, "node_b")
        .withColumn(
            "union_cnt",
            (F.col("deg_a") + F.col("deg_b") - F.col("shared")).cast("bigint"),
        )
        .filter(
            F.lit(int(sim_den)) * F.col("shared")
            >= F.lit(int(sim_num)) * F.col("union_cnt")
        )
        .select("node_a", "node_b", "shared", "union_cnt")
    )


def _directed_simple(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Directed sibling of `_undirected_simple` (reciprocity / scc):
    drop self-loops, collapse multiplicity, checkpoint (both callers
    scan the result repeatedly). One copy of the normalization rule."""
    return (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def reciprocity(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Directed-edge reciprocity: of the distinct non-loop edges (u, v),
    how many have the reverse edge (v, u)? The link-graph symmetry
    diagnostic (blogroll/webring mutuality vs one-way citation). One row
    (n_edges, n_reciprocal), exact integers.

    Scale shape: one distinct + one left_semi equi-join of the edge list
    against its own swap + two tiny aggs — no window, no collect.
    """
    e = _directed_simple(edges, src, dst)
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    n = e.agg(F.count("*").cast("bigint").alias("n_edges"))
    r = e.join(rev, ["src", "dst"], "left_semi").agg(
        F.count("*").cast("bigint").alias("n_reciprocal")
    )
    return n.crossJoin(F.broadcast(r))


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree-assortativity sums over the UNDIRECTED simple graph
    (direction/multiplicity/self-loops dropped, cf. triangle_count):
    one row (m, s_j, s_jk, s_j2) of exact integers over DIRECTED edge
    endpoint pairs (each undirected edge counted both ways, so the
    j-marginal equals the k-marginal by construction), from which the
    degree Pearson correlation is

        r = (m * s_jk - s_j^2) / (m * s_j2 - s_j^2)

    — positive: hubs link hubs (assortative, social-graph-like);
    negative: hubs link leaves (disassortative, web-like). Plain
    degrees, not Newman's excess degrees (j = deg(u), documented
    contract; subtract m from s_j etc. to convert). Sums ride
    decimal(38,0) — Σ deg_u*deg_v over 1e12 edges with 1e6-degree hubs
    overflows int64; ANSI fails loud past 38 digits.

    Scale shape: degree agg + two hash joins on the endpoint key
    (1-row build side per key) + one combinable agg.
    """
    und = _undirected_simple(edges, src, dst)
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionByName(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    sym = und.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
        und.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("j"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("k"))
    dec = "decimal(38,0)"
    return (
        sym.join(du, "u")
        .join(dv, "v")
        .agg(
            F.count("*").cast("bigint").alias("m"),
            F.sum(F.col("j").cast(dec)).cast(dec).alias("s_j"),
            F.sum(F.col("j").cast(dec) * F.col("k").cast(dec)).cast(dec).alias("s_jk"),
            F.sum(F.col("j").cast(dec) * F.col("j").cast(dec)).cast(dec).alias("s_j2"),
        )
    )


def kcore(
    edges: DataFrame, k: int = 2, max_rounds: int = 100,
    src: str = "src", dst: str = "dst",
) -> DataFrame:
    """k-core membership over the undirected simple graph: the maximal
    subgraph in which every node keeps degree >= k — the spam-farm /
    dense-community peel (link rings survive high-k cores; organically
    linked long-tail hosts do not).

    Computed as the classic synchronous peel: drop every node whose
    CURRENT degree (edges among surviving nodes) is < k, repeat to
    fixpoint. The peel is non-monotone under recursive-CTE bag
    semantics, so this operator has NO SQL oracle by contract (the
    driver-gate exception class of simplify_dp); exactness is pinned by
    tests/test_graph_stats.py against an independent sequential peel.

    Returns (node, in_core:boolean) for every node incident to an edge
    in the RAW input — including self-loop-only nodes, which can never
    be in a k>=1 core (loops are dropped by the simple-graph
    normalization) and so report in_core=false; this matches scc's raw
    node-universe contract. k <= 0 is the trivial full core (every
    edge-incident node, in_core=true) and short-circuits the peel.

    Scale shape: per round TWO left_semi joins of the symmetric edge
    list against the alive set + one combinable degree groupBy; the
    alive set is localCheckpointed per round (house iterative pattern);
    rounds <= peel depth (the graph's degeneracy ordering depth), with
    an exact no-change early exit. Raises if max_rounds is hit without
    convergence — a silent partial peel would be a wrong answer.
    """
    und = _undirected_simple(edges, src, dst)
    sym = (
        und.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        .unionByName(und.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
        .localCheckpoint(eager=True)
    )
    # node universe from the RAW edge list (matches scc): a node whose
    # only incident edge is a self-loop reports in_core=false rather
    # than silently vanishing
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if k <= 0:
        # the 0-core is the whole graph, self-loop-only nodes included
        return nodes.select("node", F.lit(True).alias("in_core"))
    alive = sym.select(F.col("u").alias("node")).distinct().localCheckpoint(eager=True)
    n_alive = alive.count()
    for _ in range(max_rounds):
        e = sym.join(
            alive.select(F.col("node").alias("u")), "u", "left_semi"
        ).join(alive.select(F.col("node").alias("v")), "v", "left_semi")
        nxt = (
            e.groupBy("u")
            .agg(F.count("*").alias("_deg"))
            .filter(F.col("_deg") >= k)
            .select(F.col("u").alias("node"))
            .localCheckpoint(eager=True)
        )
        n_next = nxt.count()
        if n_next == n_alive:
            alive = nxt
            break
        alive, n_alive = nxt, n_next
        if n_alive == 0:
            break
    else:
        raise RuntimeError(f"kcore: no fixpoint within {max_rounds} rounds")
    return nodes.join(
        alive.withColumn("_in", F.lit(True)), "node", "left"
    ).select("node", F.coalesce("_in", F.lit(False)).alias("in_core"))


def scc(
    edges: DataFrame,
    max_peels: int = 50,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Strongly connected components of the DIRECTED simple graph
    (self-loops dropped; multiplicity collapsed): every node labeled
    with the MIN node id of its SCC — the link-graph structure pass
    that separates mutually-reinforcing cores (rings, link exchanges)
    from one-way citation DAG structure (cf. the web's bow-tie).

    Algorithm: randomized-priority coloring FW-BW (Orzan's coloring with
    fresh random priorities per round — the parallel-pivot member of the
    distributed FW-BW family). Per round, on the unassigned subgraph:
    give every node the priority struct (xxhash64(node, round), node)
    and propagate the forward minimum (`plans/labels.min_label`):
    col(v) = the min-priority node reaching v — partitioning live nodes
    into color classes, each rooted at its unique min-priority node.
    Then a second `min_label` over the REVERSED same-color-restricted
    edges computes b(v) = the min priority v reaches within its class;
    b(v) == col(v) holds exactly for the nodes that reach their root
    through the class, i.e. the root's SCC (the root is the strict
    in-class priority minimum, so the backward min equals it only via
    mutual reachability). EVERY color root's SCC is assigned in parallel
    each round — expected O(log n) rounds for any DAG shape (a k-component
    chain that cost the old sequential min-peel k rounds now peels a
    constant expected fraction per round, whichever way its ids run);
    raises past max_peels rather than returning a partial labeling.

    Returns (node, scc_id, scc_size) with scc_id = MIN node id of the
    SCC (contract unchanged; priorities only steer the schedule).
    Oracle note: the driver twin states MUTUAL REACHABILITY directly
    (recursive-CTE pair closure + min over the intersection) — an
    independent definition, not this algorithm.

    Scale shape: each round is two pointer-jumping min-label fixpoints
    (join + combinable min + one jump join per label round; never more
    label rounds than the class diameter + 1, far fewer on long chains
    and cycles) plus color-restriction joins and two semi-joins to
    shrink the frontier; all frames checkpointed.
    Priorities are deterministic per (node, round) — bit-reproducible.
    """
    e = _directed_simple(edges, src, dst)
    # node universe from the RAW edge list: a node whose only incident
    # edge is a self-loop is still edge-incident and is its own
    # singleton SCC (the loop is dropped from propagation only)
    raw = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        raw.select(F.col("src").alias("node"))
        .unionByName(raw.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    assigned = None
    cur_nodes, cur_e = nodes, e
    if cur_nodes.isEmpty():
        return cur_nodes.select(
            "node",
            F.col("node").alias("scc_id"),
            F.lit(1).cast("bigint").alias("scc_size"),
        )
    for peel in range(max_peels):
        # fresh deterministic random priorities this round; the node id
        # inside the struct makes every priority unique (hash collisions
        # only cost a little parallelism, never correctness)
        pri = cur_nodes.select(
            "node",
            F.struct(
                F.xxhash64(F.col("node"), F.lit(peel)).alias("p"),
                F.col("node").alias("n"),
            ).alias("lbl"),
        )
        f = min_label(pri, cur_e).withColumnRenamed("lbl", "col")
        # same-color subgraph: an SCC is always monochromatic (mutual
        # reachability forces equal forward minima), so cross-color edges
        # cannot contribute to any SCC and are dropped for the back pass
        fsrc = f.select(F.col("node").alias("src"), F.col("col").alias("_csrc"))
        fdst = f.select(F.col("node").alias("dst"), F.col("col").alias("_cdst"))
        crev = (
            cur_e.join(fsrc, "src")
            .join(fdst, "dst")
            .filter(F.col("_csrc") == F.col("_cdst"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # b(v) = min in-class priority v reaches (init: own priority)
        b = min_label(pri, crev)
        lab = (
            f.join(b, "node")
            .filter(F.col("lbl") == F.col("col"))
            .select("node", F.col("col.n").alias("root"))
            .localCheckpoint(eager=True)
        )
        # contract: scc_id = min node id of the SCC, not the root's id
        ids = lab.groupBy("root").agg(F.min("node").alias("scc_id"))
        lab = lab.join(ids, "root").select("node", "scc_id").localCheckpoint(
            eager=True
        )
        assigned = lab if assigned is None else assigned.unionByName(lab)
        cur_nodes = cur_nodes.join(lab, "node", "left_anti").localCheckpoint(
            eager=True
        )
        alive = cur_nodes.select(F.col("node"))
        cur_e = (
            cur_e.join(alive.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(alive.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        # convergence checked AFTER the peel so a graph needing exactly
        # max_peels peels completes (the kcore boundary convention)
        if cur_nodes.isEmpty():
            break
    else:
        raise RuntimeError(f"scc: unassigned nodes after {max_peels} peels")
    sizes = assigned.groupBy("scc_id").agg(
        F.count("*").cast("bigint").alias("scc_size")
    )
    return assigned.join(sizes, "scc_id").select("node", "scc_id", "scc_size")
