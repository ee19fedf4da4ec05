"""PIP — point-in-polygon location via the upward-ray argmin.

Semantics mirror the reference exactly (reference src/algo/pip.h:12-115 and
the grid walk src/app/pip_grid.h:37-70): for each query point, among base
edges whose x-range straddles the point (with Simulation-of-Simplicity by
query-map id, which also eliminates vertical edges), find the edge whose
intersection with the upward vertical ray has the smallest y; ties (shared
vertices) break by slope; the hit edge's face resolves via p1.x < p2.x
(src/map/map.h:79-87); a miss is the exterior face 0 (src/config.h:8).

Physical plan (all JVM-side): ONE guarded band pass — each point
equi-joins edge-cells on (cx, cy) over the first `BAND0` non-empty cells
of its grid column at or above it, argmin with the reference's
acceptance guard — then the few unresolved points left-join their
ENTIRE remaining column (where the global argmin needs no guard), one
row each, hit or miss. Points with no non-empty cell at or above them
are misses without a join. The result is the disjoint union accepted ∪
completion ∪ misses. No round loop and no eager checkpoint: the accepted
set is persisted and read by both the completion's anti-join and the
union. Sound because any edge whose acceptance fails has its ray
crossing registered in a cell above the searched band (the bbox
rectangle explode covers the crossing cell), so the completion pass
re-finds it. This replaces the reference's cell-by-cell walk
(src/app/pip_grid.h:37-70) with two set-at-a-time passes.

* exact comparisons everywhere: sign tests are int64; the argmin key is
  floor(n * 2^62 / b) as a lexicographic pair of int64 limbs — an exact
  total-order key for the rational n/b (distinct candidate rationals
  differ by >= 2^-58 at our snap scale, so keys of distinct values
  differ; equal values give equal keys). The reference compares these in
  double (src/algo/pip.h:53) and hopes ("Roundoff error should not cause
  it, I hope"); we are exact;
* argmin per point is one `min_by(payload, key_struct)` — partial-
  aggregating map-side, no window sort (px and the hit edge's face ride
  in the payload);
* empty cells are skipped: a broadcast map cx -> sorted non-empty cys
  lets each point jump straight to its candidate cells.

Scale note: each pass is an equi-join on (cx, cy). The edge cells and
the column-skip map (gsize^2 ints worst case) each join through the one
index-side rule, plans/cells.index_side: broadcast while they fit
`BROADCAST_ROWS`, else shuffled and sort-merge pinned (the skip map then
SHARDS across executors by cx), so dense layers at gsize >= 8k never
funnel an index through the driver. `PipIndex` makes the exploded
edge-cells and the skip map reusable across pip_locate calls over the
same base layer (the overlay locates both vertex sets against both maps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rayjoin_spark.plans.cells import explode_edges_to_cells, index_side, layer_split
from rayjoin_spark.plans.scaling import GridSpec, Scaling

# Exact total-order key for xsect_y = n_/b (b > 0), where n_ = -a*px - c,
# |n_| <= 2^59: floor(n_ * 2^62 / b) represented as a LEXICOGRAPHIC PAIR of
# int64 limbs (hi = floor(n_/b), possibly negative; lo = the next 62
# fractional bits, non-negative) — struct comparison of plain bigints stays
# in codegen, where a decimal(38,0) key would fall back to interpreted
# compare. `x - pmod(x, b)` is an exact multiple of b, so DIV is an exact
# floor step (a bigint `/` would detour through double and lose bits above
# 2^53). Distinct candidate rationals differ by >= 1/(b1*b2) >= 2^-58, so
# distinct values get distinct keys; equal values get equal keys.
_YK_HI_SQL = "(n_ - pmod(n_, b)) DIV b"
_YK_LO_SQL = """
((pmod(n_, b) * 2147483648 - pmod(pmod(n_, b) * 2147483648, b)) DIV b) * 2147483648
+ ((pmod(pmod(n_, b) * 2147483648, b) * 2147483648
    - pmod(pmod(pmod(n_, b) * 2147483648, b) * 2147483648, b)) DIV b)
"""

# floor(a * 2^62 / b) as the pair (floor(a*2^31/b), next 31 bits) — exact
# key for the slope tie order a/b (reference src/algo/pip.h:77-92).
_SK_HI_SQL = "(a * 2147483648 - pmod(a * 2147483648, b)) DIV b"
_SK_LO_SQL = """
(pmod(a * 2147483648, b) * 2147483648
 - pmod(pmod(a * 2147483648, b) * 2147483648, b)) DIV b
"""


def _argmin_key_sql(query_map_id: int) -> str:
    """Ordering struct (yk_hi, yk_lo, sk_hi, sk_lo, ek) — all bigint.

    Slope tie rule keeps the larger a/b for query_map_id=1, smaller for 0;
    componentwise negation reverses the lexicographic slope order (valid
    because tuple equality is componentwise)."""
    neg = "-" if query_map_id == 1 else ""
    return (
        f"named_struct('yk_hi', {_YK_HI_SQL}, 'yk_lo', {_YK_LO_SQL}, "
        f"'sk_hi', {neg}({_SK_HI_SQL}), 'sk_lo', {neg}({_SK_LO_SQL}), 'ek', eid)"
    )


def prepare_query_points(
    points: DataFrame, scaling: Scaling, grid: GridSpec, x: str = "x", y: str = "y",
    point_id: str = "point_id",
) -> DataFrame:
    """(point_id, px, py, pcx, pcy): the snapped point and its cell, in one
    narrow projection."""
    sx, sy = scaling.scale_x_sql(x), scaling.scale_y_sql(y)
    return points.selectExpr(
        f"`{point_id}` AS point_id",
        f"{sx} AS px",
        f"{sy} AS py",
        f"{grid.cell_of_sql(sx)} AS pcx",
        f"{grid.cell_of_sql(sy)} AS pcy",
    )


def _candidate_filter_sql(query_map_id: int) -> str:
    """x-range + below-edge filters with SoS (reference src/algo/pip.h:39-69)."""
    if query_map_id == 0:
        in_x = "px > least(x1, x2) AND px <= greatest(x1, x2)"
        neg = "-"
    else:
        in_x = "px >= least(x1, x2) AND px < greatest(x1, x2)"
        neg = ""
    s = "px * a + py * b + c"
    return f"{in_x} AND CASE WHEN {s} != 0 THEN {s} WHEN a != 0 THEN {neg}a ELSE {neg}b END < 0"


class PipIndex:
    """Reusable PIP index over one base layer: the exploded non-vertical
    edge-cells (persisted) + the broadcastable column skip-map.

    The Spark analog of the reference's built grid (src/grid/uniform_grid.h)
    held across queries: build once per layer, pass to every pip_locate over
    that layer (overlay does two locates per side).

    Both tables join through plans/cells.index_side. While they fit its
    cap, every PIP pass is a narrow map-side join with zero shuffle of
    the point side; above it the joins shuffle on (cx, cy) sort-merge
    pinned, the 100 TB path. The layer's stats bound decides without a
    job while it is under the cap; only above it does the exact count
    (_sizes, one job) decide."""

    def __init__(self, base_edges: DataFrame, grid: GridSpec):
        self.grid = grid
        self._joinable = None
        self._skipmap = None
        self._n_rows = None
        self._n_cells = None
        # long-edge pre-split (plans/cells.py): fragments may duplicate a
        # (cell, eid) row at seams — harmless for PIP, whose per-point
        # min_by argmin and acceptance guard are duplicate-insensitive.
        # Decided on the UNFILTERED layer, so an lsi_join over the same
        # frame shares the stats agg; est_rows then over-counts the
        # vertical edges dropped below, which keeps it an upper bound on
        # edge-cell rows and skip-map entries alike.
        k, self._est_rows = layer_split(base_edges, grid)
        # vertical edges can never qualify: the SoS x-interval (x_min, x_max]
        # / [x_min, x_max) is empty when x1 == x2 (reference
        # src/algo/pip.h:44-46 "this also eliminates vertical edges").
        # Dropping them up front keeps grid columns sparse.
        self.base_edges = base_edges.filter("x1 != x2")
        self.edge_cells = (
            explode_edges_to_cells(self.base_edges, grid, k)
            .selectExpr(
                "cx", "cy", "eid", "x1", "y1", "x2", "y2", "a", "b", "c",
                "left_polygon_id", "right_polygon_id",
            )
            .persist()
        )
        # column skip map: cx -> sorted non-empty cell ys (broadcast-sized).
        # collect_set dedups with map-side partial aggregation — a prior
        # .distinct() here would just add a second full shuffle of the
        # edge-cells frame to the index build
        self.col_cells = (
            self.edge_cells.groupBy("cx")
            .agg(F.expr("array_sort(collect_set(cy)) AS cys"))
            .persist()
        )

    def _sizes(self) -> tuple[int, int]:
        """(n edge-cell rows, n distinct non-empty cells) in ONE agg job —
        the distinct-cell count equals the skip map's total entry count
        (sum of its array sizes). Also materializes the edge_cells persist;
        runs exactly once per index."""
        if self._n_rows is None:
            row = self.edge_cells.agg(
                F.count("*").alias("n"),
                F.count_distinct("cx", "cy").alias("nc"),
            ).collect()[0]
            self._n_rows, self._n_cells = int(row["n"]), int(row["nc"])
        return self._n_rows, self._n_cells

    def joinable_cells(self):
        """edge_cells, ready for the point-vs-cells join (index_side)."""
        if self._joinable is None:
            self._joinable = index_side(
                self.edge_cells, self._est_rows, lambda: self._sizes()[0]
            )
        return self._joinable

    def skipmap_joinable(self):
        """col_cells, ready for the point-side join (index_side) on its
        total entry count (<= gsize^2); merge-pinned, the join shards the
        map across executors by cx."""
        if self._skipmap is None:
            self._skipmap = index_side(
                self.col_cells, self._est_rows, lambda: self._sizes()[1]
            )
        return self._skipmap

    def unpersist(self) -> None:
        self.edge_cells.unpersist()
        self.col_cells.unpersist()


def _argmin_in_cells(src: DataFrame, index: PipIndex, query_map_id: int,
                     cells_col: str, with_guard: bool) -> DataFrame:
    """Explode each point over its candidate cells, join the edge-cells on
    (cx, cy) with the candidate filter in the join condition, argmin.
    Returns (point_id, eid, x/y payload[, band_top]).

    The guarded band pass is an inner join: one row per point that has
    any candidate in its band. The completion (no guard) is a left join,
    so every point gets one row: a cell row with no candidate has a NULL
    argmin key, which min_by skips, and a point with no candidate in any
    cell comes out with a NULL payload."""
    key = _argmin_key_sql(query_map_id)
    if not with_guard:
        key = f"IF(eid IS NULL, NULL, {key})"
    cand = (
        src.selectExpr("*", f"explode({cells_col}) AS band_cy")
        .join(
            index.joinable_cells(),
            F.expr(f"pcx = cx AND band_cy = cy AND {_candidate_filter_sql(query_map_id)}"),
            "inner" if with_guard else "left",
        )
        .selectExpr("*", "-a * px - c AS n_")
    )
    payload = (
        "eid, x1, y1, x2, y2, a, b, c, px, left_polygon_id, right_polygon_id"
        + (", band_top" if with_guard else "")
    )
    best = cand.groupBy("point_id").agg(F.expr(f"min_by(struct({payload}), {key}) AS e"))
    return best.selectExpr("point_id", "e.*")


#: hit edge's face (reference src/map/map.h:79-87): right_polygon_id if
#: p1.x < p2.x in chain order, else left_polygon_id
_FACE_SQL = "CASE WHEN x1 < x2 THEN right_polygon_id ELSE left_polygon_id END"

#: (point_id, closest_eid, face_id) of an argmin row
_HIT_COLS = ("point_id", "eid AS closest_eid", f"{_FACE_SQL} AS face_id")


#: non-empty cells of a point's column searched by the guarded band pass
BAND0 = 8


def _accept_sql(grid: GridSpec) -> str:
    """Acceptance guard (reference src/algo/pip.h:98-114, band
    generalization): the band argmin is final iff the edge's high end or
    its ray crossing lies within the searched band; both cell calcs in
    double, as the reference does."""
    cell_of_ymax = grid.cell_of_sql("greatest(y1, y2)")
    cell_of_xsect = grid.cell_of_sql("CAST(-a * px - c AS DOUBLE) / b")
    return f"{cell_of_ymax} <= band_top OR {cell_of_xsect} <= band_top"


def pip_locate(
    points: DataFrame,
    base_edges: DataFrame,
    scaling: Scaling,
    grid: GridSpec | None = None,
    query_map_id: int = 1,
    point_id: str = "point_id",
    index: PipIndex | None = None,
    caches: list | None = None,
) -> DataFrame:
    """Locate each query point in the base layer.

    Returns (point_id, closest_eid, face_id): closest_eid is NULL and
    face_id = 0 (exterior) for misses. See module docstring for the
    physical plan (guarded band pass + whole-column completion).

    ``caches``: optional list — every frame this call persists (stepped,
    accepted) and any implicitly-built PipIndex are appended, so
    long-running sessions can ``.unpersist()`` them after materializing
    the result; repeated un-released locates otherwise accumulate storage
    memory until eviction churn degrades the caches that are still live
    (a reusable `index=` skips the implicit build entirely — the
    preferred repeated-locate pattern).
    """
    grid = grid or (index.grid if index is not None else GridSpec())
    if index is None:
        index = PipIndex(base_edges, grid)
        if caches is not None:
            caches.append(index)

    pts = prepare_query_points(points, scaling, grid, point_id=point_id)
    # attach the remaining column (non-empty cells at/above the point).
    # Both the banded pass and the completion pass consume stepped;
    # uncached, the completion recomputes the skip-map join + the
    # per-point array filter over the whole point set (same-session A/B at
    # gsize 15000 / 1M points: ~15-20% of the locate). persist (not
    # checkpoint): deterministic, partition-parallel, and
    # plan-canonicalized so repeat locates reuse it.
    stepped = pts.join(index.skipmap_joinable(), F.expr("pcx = cx"), "left").selectExpr(
        "point_id", "px", "py", "pcx", "pcy", "filter(cys, c -> c >= pcy) AS cands"
    ).persist()
    if caches is not None:
        caches.append(stepped)
    band = f"slice(cands, 1, {BAND0})"
    banded = stepped.filter("size(cands) > 0").selectExpr(
        "*", f"{band} AS band", f"element_at({band}, -1) AS band_top"
    )
    bestA = _argmin_in_cells(banded, index, query_map_id, "band", True)
    # persist (not an eager checkpoint): both consumers below — the
    # anti-join and the final union — reuse the one cached computation
    # with NO intermediate job and no serial disk write; at cluster scale
    # the band pass stays a fully parallel stage
    accepted = bestA.filter(_accept_sql(grid)).selectExpr(*_HIT_COLS).persist()
    if caches is not None:
        caches.append(accepted)
    # completion: unresolved points join their whole remaining column —
    # the global argmin there needs no guard (a rejected band argmin
    # re-registers at its crossing cell above the band) — one row each
    rest = banded.join(accepted.selectExpr("point_id"), "point_id", "left_anti")
    completed = _argmin_in_cells(rest, index, query_map_id, "cands", False)
    # points with no non-empty cell above them miss without a join
    misses = stepped.filter("cands IS NULL OR size(cands) = 0").selectExpr(
        "point_id", "NULL AS closest_eid", "0 AS face_id"
    )
    out = accepted.unionByName(completed.selectExpr(*_HIT_COLS)).unionByName(misses)
    return out.selectExpr("point_id", "closest_eid", "coalesce(face_id, 0) AS face_id")
