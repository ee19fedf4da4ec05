"""Layer loading: chain tables -> snapped-integer edge tables.

Re-expresses the reference's device map build (reference src/map/map.h:108-233:
scale points, walk each chain's CSR range, emit one edge per consecutive
point pair, precompute the integer line equation, sign-normalize b >= 0)
as pure DataFrame column arithmetic:

* the CSR walk becomes a `lead()` window over (chain_id, seq) — a narrow
  per-chain operation, shuffled once by chain_id;
* the line equation (reference src/map/map.h:26-38) is three int64 columns;
* left/right polygon ids ride along from the chains table via a broadcast
  equi-join (uncapped: a row count to size it would add a job to every
  layer build).

Edge ids are `chain_id * eid_stride + seq` — deterministic and
collision-free without a global row_number (which would serialize on a
single partition at 100 TB scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rayjoin_spark.plans.scaling import Scaling

EID_STRIDE_DEFAULT = 1 << 20


def scale_points(points: DataFrame, scaling: Scaling, x: str = "x", y: str = "y") -> DataFrame:
    """Add snapped-integer coords `xi`, `yi` (reference src/map/scaling.h:79-93)."""
    return points.selectExpr(
        "*", f"{scaling.scale_x_sql(x)} AS xi", f"{scaling.scale_y_sql(y)} AS yi"
    )


def build_edges(
    chains: DataFrame,
    points: DataFrame,
    scaling: Scaling,
    eid_stride: int = EID_STRIDE_DEFAULT,
) -> DataFrame:
    """chains(chain_id,left_polygon_id,right_polygon_id) + points(chain_id,seq,x,y)
    -> edges(eid, x1,y1,x2,y2, a,b,c, left_polygon_id, right_polygon_id).

    x1..y2 are snapped ints in *chain order* (p1 = seq k, p2 = seq k+1) —
    the stored point order feeds face resolution (reference
    src/map/map.h:79-87 keys on p1.x < p2.x in chain order). The equation
    (a,b,c) is sign-normalized to b >= 0 independently of point order
    (reference src/map/map.h:26-38).

    Zero-length edges after snapping (a==0 and b==0) are dropped: the
    reference's predicates return false for them anyway
    (src/algo/lsi.h:48-49).
    """
    w = "OVER (PARTITION BY chain_id ORDER BY seq)"
    # integer line equation ax + by + c = 0, sign-normalized to b >= 0
    flip = "x2 - x1 < 0"
    e = (
        points.selectExpr(
            "chain_id",
            "seq",
            f"{scaling.scale_x_sql('x')} AS x1",
            f"{scaling.scale_y_sql('y')} AS y1",
        )
        .selectExpr("chain_id", "seq", "x1", "y1", f"lead(x1) {w} AS x2", f"lead(y1) {w} AS y2")
        .filter("x2 IS NOT NULL")
        .selectExpr(
            f"chain_id * {eid_stride} + seq AS eid",
            "chain_id",
            "seq",
            "x1",
            "y1",
            "x2",
            "y2",
            f"CASE WHEN {flip} THEN -(y1 - y2) ELSE y1 - y2 END AS a",
            f"CASE WHEN {flip} THEN -(x2 - x1) ELSE x2 - x1 END AS b",
        )
        .selectExpr("*", "-x1 * a - y1 * b AS c")
        .filter("a != 0 OR b != 0")
    )
    ch = F.broadcast(chains.selectExpr("chain_id", "left_polygon_id", "right_polygon_id"))
    return e.join(ch, "chain_id").selectExpr(
        "eid",
        "chain_id",
        "seq",
        "x1",
        "y1",
        "x2",
        "y2",
        "a",
        "b",
        "c",
        "left_polygon_id",
        "right_polygon_id",
    )
