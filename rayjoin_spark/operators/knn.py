"""kNN over 2-D points via grid cell-ring expansion.

Generalizes the PIP upward walk (reference src/app/pip_grid.h:37-70) from
"first cell up" to "expanding Chebyshev rings": each round, unresolved
query points join the corpus cells at ring radius r; a query resolves when
it holds k candidates whose k-th smallest exact integer squared distance
is within the ring's guaranteed-covered radius. Distances are snapped-int
arithmetic — exact, portable, total-ordered (ties by corpus id).

Scale shape: the rounds are the shared annulus loop
(plans/cells.annulus_rounds, also behind nearest_edge). The projected
corpus is checkpointed once; one agg over the checkpoint gives its count
and bbox, from which plans/cells.probe_grid picks the grid the rounds
probe: the caller's grid rescaled by a power of two until the radius-1
circle of cells is expected to hold k + 3*sqrt(k) + 2 corpus points, so
the typical query resolves in ONE round, which starts at radius 1. Every
round is an equi-join on the cell against the same corpus-cell table
(broadcast when small, else persisted and sort-merge pinned); only
unresolved queries survive to the next round; lineage is cut per round.
Rounds batch a geometrically growing annulus of Chebyshev rings
[lo..hi], so the driver-synchronized round count is O(log gsize) worst
case instead of O(resolution radius). The carried top-k array rides
through the per-round groupBy as exploded candidate rows (annulus cell
sets are disjoint across rounds, so a corpus id can never duplicate
between the carry and the new candidates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rayjoin_spark.plans.cells import annulus_rounds, index_side, probe_grid
from rayjoin_spark.plans.scaling import GridSpec, Scaling


def knn_points(
    queries: DataFrame,
    corpus: DataFrame,
    scaling: Scaling,
    grid: GridSpec | None = None,
    k: int = 5,
    query_id: str = "point_id",
    corpus_id: str = "corpus_id",
) -> DataFrame:
    """Exact k nearest corpus points per query point.

    queries: (query_id, x, y); corpus: (corpus_id, x, y) doubles.
    Returns (point_id, corpus_id, dist2, rank), rank 1..k by (dist2, id).
    """
    # the projected corpus is materialized once: its count and bbox agg
    # and the rounds' index read the checkpoint, not the source
    cp = corpus.select(
        F.col(corpus_id).alias("cid"),
        scaling.scale_x(F.col("x")).alias("cx_i"),
        scaling.scale_y(F.col("y")).alias("cy_i"),
    ).localCheckpoint(eager=True)
    n_cp, *box = cp.selectExpr(
        "count(*)", "coalesce(min(cx_i), 0)", "coalesce(max(cx_i), 0)",
        "coalesce(min(cy_i), 0)", "coalesce(max(cy_i), 0)",
    ).first()
    grid = probe_grid(grid or GridSpec(64), n_cp, box, k)
    index = cp.selectExpr(
        "*", f"{grid.cell_of_sql('cx_i')} AS icx", f"{grid.cell_of_sql('cy_i')} AS icy"
    )
    qp = queries.select(
        F.col(query_id).alias("qid"),
        scaling.scale_x(F.col("x")).alias("qx"),
        scaling.scale_y(F.col("y")).alias("qy"),
        F.array().cast("array<struct<d:bigint,cid:bigint>>").alias("best"),
    )

    def score(j: DataFrame) -> DataFrame:
        d2 = (F.col("cx_i") - F.col("qx")) * (F.col("cx_i") - F.col("qx")) + (
            F.col("cy_i") - F.col("qy")
        ) * (F.col("cy_i") - F.col("qy"))
        return j.select(
            "qid", "qx", "qy", "qcx", "qcy",
            F.struct(d2.alias("d"), F.col("cid").alias("cid")).alias("cand"),
        )

    def resolved(safe2):
        # k candidates found and the k-th strictly inside the covered
        # radius: an unseen point exactly at that radius could still win
        # the id tiebreak
        return (F.size("best") >= k) & (F.element_at("best", k)["d"] < safe2)

    out = annulus_rounds(
        qp, index, n_cp, box, grid, score,
        # the carried top-k rides as exploded candidate rows; explode_outer
        # keeps a query with an empty top-k alive as one null cand, which
        # collect_list skips
        carry=F.explode_outer("best"),
        merge=F.slice(F.array_sort(F.collect_list("cand")), 1, k),
        resolved=resolved,
    )
    ex = out.select("qid", F.posexplode("best").alias("pos", "b"))
    return ex.select(
        F.col("qid").alias(query_id),
        F.col("b.cid").alias(corpus_id),
        F.col("b.d").alias("dist2"),
        (F.col("pos") + 1).alias("rank"),
    )


def dist_join(
    queries: DataFrame,
    corpus: DataFrame,
    scaling: Scaling,
    grid: GridSpec | None = None,
    d_int: int = 1 << 22,
    query_id: str = "point_id",
    corpus_id: str = "corpus_id",
) -> DataFrame:
    """Within-distance spatial join: all (query, corpus) pairs whose exact
    snapped-integer Euclidean distance is <= d_int. The classic spatial
    range join — kNN's sibling where the radius is known up front, so no
    ring iteration is needed: ONE bounded cell-neighborhood explode + ONE
    equi-join.

    ``d_int`` is in snapped-integer units (the engine's exactness domain,
    same as knn's dist2); the comparison is d2 <= d_int^2 in int64 (max
    2*2^58 + threshold 2^44 — no overflow, no float compares).

    Scale shape: each query probes the (2R+1)^2 cells that can contain a
    point within d_int (R = d_int // cell_w + 1, cell_w the guaranteed
    minimum cell int-width) — a *bounded* fan-out explode; candidates come
    from an equi-join on (cx, cy) against the corpus cell table, which is
    localCheckpointed once (its count and the join read the checkpoint,
    so the source is scanned once; nothing cached) and joined through
    plans/cells.index_side: broadcast when small, else sort-merge pinned.
    A corpus point lives in exactly one cell and probe cells are distinct
    per query, so no pair dedup is needed. Pick grid so R stays small
    (fan-out ~ (d/cell)^2): the knob trades explode width against
    per-cell candidate count, exactly like the reference's LSI grid
    (src/grid/uniform_grid.h:44-86).
    """
    grid = grid or GridSpec(64)
    cell_w = int(1.0 / grid.cell_scale)
    r = d_int // cell_w + 1
    d2 = d_int * d_int

    # materialized once, so the count and the join read the checkpoint
    cp = (
        corpus.select(
            F.col(corpus_id).alias("cid"),
            scaling.scale_x(F.col("x")).alias("cx_i"),
            scaling.scale_y(F.col("y")).alias("cy_i"),
        )
        .withColumn("ccx", grid.cell_of(F.col("cx_i")))
        .withColumn("ccy", grid.cell_of(F.col("cy_i")))
        .localCheckpoint(eager=True)
    )
    cp = index_side(cp, cp.count())
    probes = (
        queries.select(
            F.col(query_id).alias("qid"),
            scaling.scale_x(F.col("x")).alias("qx"),
            scaling.scale_y(F.col("y")).alias("qy"),
        )
        .withColumn("qcx", grid.cell_of(F.col("qx")))
        .withColumn("qcy", grid.cell_of(F.col("qy")))
        .withColumn("cx", F.explode(F.sequence(F.col("qcx") - r, F.col("qcx") + r)))
        .withColumn("cy", F.explode(F.sequence(F.col("qcy") - r, F.col("qcy") + r)))
    )
    d2c = (
        (F.col("cx_i") - F.col("qx")) * (F.col("cx_i") - F.col("qx"))
        + (F.col("cy_i") - F.col("qy")) * (F.col("cy_i") - F.col("qy"))
    )
    return (
        probes.join(
            cp, (F.col("cx") == F.col("ccx")) & (F.col("cy") == F.col("ccy")), "inner"
        )
        .withColumn("dist2", d2c)
        .filter(F.col("dist2") <= d2)
        .select(
            F.col("qid").alias(query_id),
            F.col("cid").alias(corpus_id),
            F.col("dist2").cast("bigint").alias("dist2"),
        )
    )


#: spherical earth radius (meters) — the haversine model's single constant
EARTH_R_M = 6_371_000.0


def _haversine_m(lon1, lat1, lon2, lat2):
    """Meter-rounded haversine distance between two microdegree integer
    (lon, lat) column pairs — bigint output. ONE copy of the formula:
    its exact IEEE op order IS the cross-engine determinism contract
    (the DuckDB oracles state the same expression term-for-term), so
    every consumer (geo_dist_join, route_length) must go through here.
    """
    import math as _math

    rad = _math.pi / 180.0 / 1e6
    la1 = lat1.cast("double") * F.lit(rad)
    la2 = lat2.cast("double") * F.lit(rad)
    dla = (lat2 - lat1).cast("double") * F.lit(rad) / F.lit(2.0)
    dlo = (lon2 - lon1).cast("double") * F.lit(rad) / F.lit(2.0)
    h = F.sin(dla) * F.sin(dla) + F.cos(la1) * F.cos(la2) * F.sin(dlo) * F.sin(dlo)
    return F.round(F.lit(2.0 * EARTH_R_M) * F.asin(F.sqrt(h))).cast("bigint")


def geo_dist_join(
    queries: DataFrame,
    corpus: DataFrame,
    max_meters: float,
    cell_udeg: int = 250_000,
    query_id: str = "point_id",
    corpus_id: str = "corpus_id",
) -> DataFrame:
    """Geodesic within-distance join over WGS84 points (integer
    microdegree lon/lat columns ``lon_udeg``/``lat_udeg``): all
    (query, corpus) pairs whose spherical haversine distance is
    <= max_meters — `dist_join`'s sibling for geocoded web pages, where
    the metric is meters on the sphere rather than snapped planar units.

    Candidates: equirectangular lon/lat cells of ``cell_udeg``
    microdegrees (``cell_udeg`` must divide 360e6 so longitude cells are
    uniform through the wrap — validated). The corpus keys each point to
    ONE cell; each query explodes a bounded neighborhood ring — constant
    in latitude (meters-per-degree-lat is constant on the sphere) and
    per-query in longitude via the EXACT spherical reach
    2*asin(min(1, sin(d/2R) / cos(lat_worst))), where lat_worst is the
    query's |lat| plus the full latitude reach (the widest parallel the
    pair can touch; the planar 1/cos estimate undersizes the ring at
    high latitude) — each with a +1 margin cell, so the ring
    CONSERVATIVELY covers the max_meters cap everywhere up to the poles
    (near them the ratio saturates at 1 and the ring degrades to the
    full circle of longitude): a 1-ulp divergence in the double ring
    arithmetic can only add or drop margin cells, never a true pair,
    making the verified output engine-exact even though candidate sets
    may differ. Longitude wraps (pmod by the cell count); when the
    requested ring meets or exceeds the full circle the x-range is
    truncated to exactly nx consecutive cells, so wrapped probes never
    revisit a cell (no pair dedup needed, antipodal cell included).

    Verify: the haversine evaluated in double by the IDENTICAL formula
    on both engines, quantized to integer METERS (round) before the
    threshold compare — the quantize-to-absorb-ULP contract
    (cf. cellcodes.tile_bounds; meter granularity leaves a ~1e-10
    boundary window per pair for libm/JVM divergence). Returns
    (query_id, corpus_id, dist_m).

    Scale shape: one bounded explode + one equi-join on the cell (the
    checkpointed and counted corpus side through plans/cells.index_side,
    as in dist_join; nothing cached) + codegen math.
    ``cell_udeg`` is the fan-out knob, exactly like dist_join's grid.
    """
    import math

    if 360_000_000 % cell_udeg:
        raise ValueError(
            f"cell_udeg must divide 360000000 (uniform wrap cells), got {cell_udeg}"
        )
    m_per_udeg = EARTH_R_M * math.pi / 180.0 / 1e6  # meters per udeg of lat
    nx = 360_000_000 // cell_udeg
    ry = int(math.ceil(max_meters / (m_per_udeg * cell_udeg))) + 1

    def cx_of(lon_col):
        return F.pmod(
            F.expr(f"(CAST({lon_col} AS BIGINT) + 180000000) DIV {cell_udeg}"),
            F.lit(nx),
        )

    def cy_of(lat_col):
        return F.expr(f"(CAST({lat_col} AS BIGINT) + 90000000) DIV {cell_udeg}")

    cp = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col("lon_udeg").alias("clon"),
        F.col("lat_udeg").alias("clat"),
        cx_of("lon_udeg").alias("ccx"),
        cy_of("lat_udeg").alias("ccy"),
    ).localCheckpoint(eager=True)
    cp = index_side(cp, cp.count())

    # x-ring: EXACT spherical longitude reach at the worst parallel the
    # pair can touch — |query lat| plus the full latitude reach. From the
    # haversine: a pair at distance d on parallels bounded by lat_w has
    # |dlon| <= 2*asin(sin(d/2R) / cos(lat_w)) (saturating at pi when the
    # ratio reaches 1 — near-polar queries scan the whole circle). The
    # planar 1/cos estimate undersizes this (by >1 cell at high lat).
    reach_udeg = int(math.ceil(max_meters / m_per_udeg))
    lat_worst = F.least(
        F.lit(90_000_000).cast("bigint"),
        F.abs(F.col("lat_udeg").cast("bigint")) + F.lit(reach_udeg).cast("bigint"),
    )
    coslat = F.cos(lat_worst.cast("double") / F.lit(1e6) * F.lit(math.pi / 180.0))
    ratio = F.lit(math.sin(min(float(max_meters) / (2.0 * EARTH_R_M), math.pi / 2))) / coslat
    dlon_udeg = (
        F.lit(2.0)
        * F.asin(F.least(F.lit(1.0), ratio))
        * F.lit(180.0 / math.pi * 1e6)
    )
    rx = F.least(
        F.lit(nx).cast("bigint"),
        (F.ceil(dlon_udeg / F.lit(float(cell_udeg))) + 1).cast("bigint"),
    )
    # truncate the x-range to at most nx consecutive cells: covers the
    # full circle (antipodal cell included) without revisiting any cell
    probes = (
        queries.select(
            F.col(query_id).alias("qid"),
            F.col("lon_udeg").alias("qlon"),
            F.col("lat_udeg").alias("qlat"),
            cx_of("lon_udeg").alias("qcx"),
            cy_of("lat_udeg").alias("qcy"),
            rx.alias("_rx"),
        )
        .withColumn("cy", F.explode(F.sequence(F.col("qcy") - ry, F.col("qcy") + ry)))
        .withColumn(
            "ccx_p",
            F.explode(
                F.sequence(
                    F.col("qcx") - F.col("_rx"),
                    F.least(
                        F.col("qcx") + F.col("_rx"),
                        F.col("qcx") - F.col("_rx") + F.lit(nx - 1),
                    ),
                )
            ),
        )
        .withColumn("cx", F.pmod(F.col("ccx_p"), F.lit(nx)))
    )
    j = probes.join(
        cp, (F.col("cx") == F.col("ccx")) & (F.col("cy") == F.col("ccy")), "inner"
    )
    dist_m_i = _haversine_m(
        F.col("qlon"), F.col("qlat"), F.col("clon"), F.col("clat")
    )
    # self-joins pass the same id name for both sides: suffix the corpus
    # column so the output schema stays unambiguous
    out_cid = corpus_id if corpus_id != query_id else f"{corpus_id}_r"
    return (
        j.withColumn("dist_m", dist_m_i)
        .filter(F.col("dist_m") <= F.lit(int(round(max_meters))))
        .select(
            F.col("qid").alias(query_id),
            F.col("cid").alias(out_cid),
            "dist_m",
        )
    )


def _route_legs(points: DataFrame, route_id: str, seq: str, lon: str, lat: str):
    """The leg prelude of route_length and dwell_segments: each point with
    _leg, the meter-rounded haversine from the previous point of its route
    by ``seq`` (null at a route's first), and the (route, seq) window."""
    from pyspark.sql import Window

    w = Window.partitionBy("_rid").orderBy("_seq")
    p = points.select(
        F.col(route_id).alias("_rid"),
        F.col(seq).alias("_seq"),
        F.col(lon).alias("_lon"),
        F.col(lat).alias("_lat"),
    )
    p = p.withColumn("_plon", F.lag("_lon").over(w)).withColumn(
        "_plat", F.lag("_lat").over(w)
    )
    leg = F.when(
        F.col("_plon").isNotNull(),
        _haversine_m(F.col("_plon"), F.col("_plat"), F.col("_lon"), F.col("_lat")),
    )
    return p.withColumn("_leg", leg), w


def route_length(
    points: DataFrame,
    route_id: str = "route_id",
    seq: str = "seq",
    lon: str = "lon_udeg",
    lat: str = "lat_udeg",
) -> DataFrame:
    """Per-route geodesic length: the haversine sum over consecutive
    points ordered by ``seq`` — the trajectory/route analytic on the
    same microdegree fixture as `geo_dist_join`.

    Determinism discipline (same as geo_dist_join's verify): each LEG is
    meter-rounded to bigint BEFORE the sum, so the per-route total is an
    exact integer sum — order-independent under any partitioning, and
    bit-identical across engines evaluating the same double formula on
    the same quantized inputs. Returns (route_id, n_points, length_m).

    Scale shape: one window (lag) partitioned by route + one map-side
    combinable groupBy; a monster route is a single window partition —
    for billion-point routes, pre-split by (route, coarse seq range) and
    sum the per-range outputs (the lag seam legs are the ranges' border
    pairs).
    """
    p, _ = _route_legs(points, route_id, seq, lon, lat)
    return p.groupBy("_rid").agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.coalesce(F.sum("_leg"), F.lit(0)).cast("bigint").alias("length_m"),
    ).select(F.col("_rid").alias(route_id), "n_points", "length_m")


def dwell_segments(
    points: DataFrame,
    jump_m: int = 50_000,
    min_pts: int = 3,
    route_id: str = "route_id",
    seq: str = "seq",
    lon: str = "lon_udeg",
    lat: str = "lat_udeg",
) -> DataFrame:
    """Trajectory segmentation + stay-point (dwell) detection: split
    each route wherever the leg to the previous point exceeds ``jump_m``
    meters, then flag segments with at least ``min_pts`` points as
    dwells — the movement-analytics pass that turns a raw geocoded
    trace into visits ("where did this entity linger") feeding the
    od_matrix / route_length family.

    Deterministic contract: legs are the ONE shared meter-rounded
    haversine (`_haversine_m` — its IEEE op order is the cross-engine
    agreement), the break decision is an integer compare (leg > jump_m),
    and segment ids number breaks cumulatively per route, so output is
    bit-stable under any partitioning. Returns one row per segment:
    (route_id, seg_id, n_points, start_seq, end_seq, intra_m, is_dwell)
    with intra_m = integer sum of WITHIN-segment legs (the leg that
    crossed the break belongs to no segment).

    Scale shape: two windows over the same (route, seq) ordering —
    Catalyst evaluates them in one sort — plus one combinable groupBy.
    A monster route is one window partition; the route_length pre-split
    note applies verbatim (split by coarse seq range, stitch border
    legs).
    """
    from pyspark.sql import Window

    p, w = _route_legs(points, route_id, seq, lon, lat)
    p = p.withColumn(
        "_brk",
        F.when(
            F.col("_leg").isNull() | (F.col("_leg") > jump_m), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    p = p.withColumn(
        "seg_id",
        F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    return p.groupBy(F.col("_rid").alias(route_id), "seg_id").agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.min("_seq").cast("bigint").alias("start_seq"),
        F.max("_seq").cast("bigint").alias("end_seq"),
        F.coalesce(
            F.sum(F.when(F.col("_brk") == 0, F.col("_leg"))), F.lit(0)
        ).cast("bigint").alias("intra_m"),
        (F.count("*") >= min_pts).alias("is_dwell"),
    )


def closest_pair(
    points: DataFrame,
    scaling: Scaling,
    grid: GridSpec | None = None,
    point_id: str = "point_id",
) -> DataFrame:
    """Global closest pair of points — exact, as the minimum over each
    point's nearest other point: knn_points of the points against
    themselves with k=2, keeping the pairs (a, b) with a < b.

    Exactness argument: let (a*, b*) be the answer, the least pair by
    (dist2, id_a, id_b) with a* < b*. Every point at distance 0 from a*
    has a larger id (a smaller one would pair with a* at distance 0), so
    a*'s top-2 by (dist2, id) starts with a* itself; every other point
    nearer to a* than b*, or as near with a smaller id, would form a
    smaller pair, so b* comes second, and a* < b* keeps it. Ties break on
    (dist2, id_a, id_b) via a lexicographic struct-min, so the answer is
    bit-stable on any engine/partitioning.

    Returns one row (point_a, point_b, dist2) with point_a < point_b, or
    zero rows for fewer than 2 input points.

    Scale shape: the kNN annulus rounds (ends by construction, grid
    picked by plans/cells.probe_grid) + a map-side-combinable struct-min.
    """
    corpus = points.select(F.col(point_id).alias("corpus_id"), F.col("x"), F.col("y"))
    pairs = knn_points(points, corpus, scaling, grid, k=2, query_id=point_id).filter(
        F.col(point_id) < F.col("corpus_id")
    )
    best = pairs.agg(
        F.min(
            F.struct(F.col("dist2"), F.col(point_id), F.col("corpus_id"))
        ).alias("b")
    )
    return best.filter(F.col("b").isNotNull()).select(
        F.col(f"b.{point_id}").alias("point_a"),
        F.col("b.corpus_id").alias("point_b"),
        F.col("b.dist2").cast("bigint").alias("dist2"),
    )
