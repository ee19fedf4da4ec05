"""Nearest-edge join (map matching): each query point -> the nearest
polyline segment, by EXACT point-to-segment squared distance.

The reference's grid answers "which edges intersect" (LSI, src/algo/
lsi.h:27-103) and "which face contains" (PIP upward ray, src/algo/
pip.h:12-115); the natural third query over the same uniform grid is
"which edge is closest" — the map-matching primitive (GPS point -> road
segment). We reuse the PIP/kNN machinery: edges exploded to their covered
cells (plans/cells.py, reference src/grid/uniform_grid.h:63-83) and the
Chebyshev ring expansion kNN runs too, resolving a query as
soon as its current-best distance is strictly inside the ring-covered
radius.

Exactness: for snapped-int coordinates in [-2^28, 2^28] (plans/
scaling.py), the point-to-segment squared distance is

    d2 = |q - a|^2                 if dot <= 0 or len2 = 0  (int64)
       = |q - b|^2                 if dot >= len2           (int64)
       = cross^2 / len2            otherwise                (rational)

with dot = (b-a).(q-a) and cross = (b-a)x(q-a), |cross| <= 2^59,
len2 <= 2^59, so cross^2 <= 2^118 fits decimal(38,0). The total-order
key is floor(d2) plus two 59-bit fractional limbs (exact long division
via decimal pmod/DIV — the operators/pip.py limb technique): distinct
rationals n1/l1 != n2/l2 differ by >= 1/(l1*l2) >= 2^-118, so 118
fractional bits separate all distinct distances; ties break by eid.
floor(d2) itself fits int64 (d2 <= 2*2^58).

Scale shape: the rounds are the shared annulus loop
(plans/cells.annulus_rounds, also behind knn_points), at the grid
plans/cells.probe_grid picks from the layer's edge count and bbox (read
from its cached edge_cell_stats): the caller's grid rescaled by a power
of two until the radius-1 circle of cells is expected to hold 6 edges
(k + 3*sqrt(k) + 2 at k = 1), so typical points meet enough edges to
resolve in the first round, which starts at radius 1. Each round is one
equi-join of the active queries' candidate cells against the edge-cell
table (broadcast when its stats bound is small, else persisted and
sort-merge pinned); only unresolved queries survive; lineage is cut per
round with localCheckpoint. Rounds batch a geometrically GROWING annulus
of rings [lo..hi] (hi doubles each round): driver-synchronized rounds
are O(log gsize) worst case and 1-2 in the common case, instead of
O(resolution radius).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rayjoin_spark.plans import cells
from rayjoin_spark.plans.cells import (
    annulus_rounds,
    edge_cell_stats,
    explode_edges_to_cells,
    layer_split,
    probe_grid,
)
from rayjoin_spark.plans.scaling import GridSpec, Scaling

#: 2^59 as a decimal literal for the fractional limb shifts
_SHIFT = "CAST(576460752303423488 AS decimal(38,0))"

#: exact limb key exprs over columns (c2 decimal(38,0), len2d decimal(38,0));
#: each step's numerator is <= 2^59 * 2^59 = 2^118 < 10^38 — no overflow.
_D2F_SQL = f"c2 DIV len2d"
_LO1_SQL = f"(pmod(c2, len2d) * {_SHIFT}) DIV len2d"
_LO2_SQL = f"(pmod(pmod(c2, len2d) * {_SHIFT}, len2d) * {_SHIFT}) DIV len2d"


# named sub-expressions for the perpendicular case, expanded textually into
# the limb exprs (kept as SQL so the whole key stays one codegen'd project)
_C2_SQL = (
    "(CAST((x2 - x1) * (qy - y1) - (y2 - y1) * (qx - x1) AS decimal(38,0))"
    " * CAST((x2 - x1) * (qy - y1) - (y2 - y1) * (qx - x1) AS decimal(38,0)))"
)
_LEN2D_SQL = "CAST((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1) AS decimal(38,0))"


def _distance_keys():
    """(d2d, key) of a (query, segment) row over qx, qy, x1, y1, x2, y2.

    key is the exact distance key as one struct (see module doc). d2d is
    a cheap approximate squared distance in DOUBLE, used only to shrink
    the candidate set before the exact key: dot/len2/cross are exact
    int64 (|cross| <= 2^59, no overflow); the only rounding is the final
    double convert/multiply/divide, so its relative error is < 5*2^-53 <
    2^-50. The band filter in nearest_edge keeps any candidate whose true
    d2 could still be the minimum (margin 2^-40 rel + 1.0 abs, orders of
    magnitude wider than the bound), so the exact key still decides every
    argmin; the double pass can only discard provable non-winners."""
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    wx = F.col("qx") - F.col("x1")
    wy = F.col("qy") - F.col("y1")
    vx = F.col("qx") - F.col("x2")
    vy = F.col("qy") - F.col("y2")
    dot = dx * wx + dy * wy
    len2 = dx * dx + dy * dy
    endpoint = (len2 == 0) | (dot <= 0) | (dot >= len2)
    d2_end = F.when((len2 == 0) | (dot <= 0), wx * wx + wy * wy).otherwise(vx * vx + vy * vy)
    crossd = (dx * wy - dy * wx).cast("double")
    d2d = F.when(endpoint, d2_end.cast("double")).otherwise(
        crossd * crossd / len2.cast("double")
    )

    def limb(sql: str):
        return F.expr(sql.replace("len2d", _LEN2D_SQL).replace("c2", _C2_SQL)).cast(
            "bigint"
        )

    zero = F.lit(0).cast("bigint")
    key = F.struct(
        F.when(endpoint, d2_end).otherwise(limb(_D2F_SQL)).alias("d2f"),
        F.when(endpoint, zero).otherwise(limb(_LO1_SQL)).alias("lo1"),
        F.when(endpoint, zero).otherwise(limb(_LO2_SQL)).alias("lo2"),
        F.col("eid").alias("eid"),
    )
    return d2d, key


def nearest_edge(
    points: DataFrame,
    edges: DataFrame,
    scaling: Scaling,
    grid: GridSpec | None = None,
    query_id: str = "point_id",
) -> DataFrame:
    """Nearest segment per query point.

    points: (query_id, x, y) doubles; edges: build_edges shape (eid,
    x1..y2 snapped ints, ...). Returns (query_id, eid, dist2) where dist2
    = floor of the exact squared snapped-int distance; the argmin itself
    is decided on the full 118-fractional-bit key, ties by smallest eid.
    """
    grid = grid or GridSpec(64)
    n_edges = edge_cell_stats(edges, grid)[0]
    box = cells._STATS[edges]["box"]
    grid = probe_grid(grid, n_edges, box, 1)
    # long-edge pre-split, the same layer_split decision as lsi_join /
    # PipIndex: a long diagonal segment at a fine grid would otherwise
    # explode its bbox QUADRATICALLY (plans/cells.py module doc). The
    # fragment-seam duplicate (cell, eid) rows stay: each carries the same
    # geometry, so score's min band and the min merge ignore them, and
    # est_rows (which counts them) bounds the index rows for
    # annulus_rounds' broadcast rule without a count job.
    k, est_rows = layer_split(edges, grid)
    ec = explode_edges_to_cells(edges, grid, k).selectExpr(
        "cx AS icx", "cy AS icy", "eid", "x1", "y1", "x2", "y2"
    )

    qp = points.select(
        F.col(query_id).alias("qid"),
        scaling.scale_x(F.col("x")).alias("qx"),
        scaling.scale_y(F.col("y")).alias("qy"),
        F.lit(None).cast("struct<d2f:bigint,lo1:bigint,lo2:bigint,eid:bigint>").alias("best"),
    )
    d2d, key = _distance_keys()

    def score(j: DataFrame) -> DataFrame:
        # two-phase argmin: the exact limb key costs decimal(38,0) math
        # (Java BigDecimal, ~10x slower than the join itself), so first
        # find each point's approximate minimum in double and keep only
        # the tie band around it — the exact key then runs on ~1-2 rows
        # per point instead of every candidate. Both agg and join-back
        # hash on qid, so the slim frame's exchange is reused
        # (ReuseExchange), not recomputed; AQE broadcast-converts the
        # per-point-min side when small.
        slim = j.select(
            "qid", "qx", "qy", "qcx", "qcy", "eid", "x1", "y1", "x2", "y2",
            d2d.alias("_d2d"),
        )
        approx_min = slim.groupBy("qid").agg(F.min("_d2d").alias("_m"))
        band = slim.join(approx_min, "qid").filter(
            F.col("_d2d") <= F.col("_m") * F.lit(1.0 + 2.0**-40) + F.lit(1.0)
        )
        return band.select("qid", "qx", "qy", "qcx", "qcy", key.alias("cand"))

    def resolved(safe2):
        # floor(d2) < safe2 gives d2 < floor + 1 <= safe2: any unseen edge
        # lies entirely beyond the covered radius
        return F.col("best").isNotNull() & (F.col("best.d2f") < safe2)

    out = annulus_rounds(
        qp, ec, est_rows, box, grid, score,
        carry=F.col("best"),
        merge=F.min("cand"),  # min skips the null best of a fresh query
        resolved=resolved,
    )
    return out.filter(F.col("best").isNotNull()).select(
        F.col("qid").alias(query_id),
        F.col("best.eid").alias("eid"),
        F.col("best.d2f").alias("dist2"),
    )
