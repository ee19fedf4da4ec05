"""Spatial range reporting: all edges intersecting each query rectangle.

The classic range-query companion to the reference's LSI/PIP surface
(same uniform-grid candidate generation, reference
src/grid/uniform_grid.h:63-83; same exact-integer predicate discipline as
src/algo/lsi.h:27-103): given axis-aligned query rectangles, report every
(rect, edge) pair whose SEGMENT — not just bbox — meets the rectangle.

Exactness: a segment and an axis-aligned rectangle intersect iff their
projections overlap on the two box axes (bbox overlap) and on the
segment's normal (separating-axis theorem; for a segment only its normal
adds an axis). The normal test is `min_corners(a·X + b·Y + c) <= 0 <=
max_corners(...)` over the four rectangle corners — pure int64 (|a|,|b| <=
2^29, |X|,|Y| <= 2^28, so each term <= 2^57 and the 3-term sum <= 2^59),
whole-stage codegen, no doubles anywhere.

Scale shape: range_report runs the engine's one cell-join core
(plans.cells._owned_pairs, shared with the LSI) with the rectangles as a
box side: a rect enters as the degenerate edge (rx1, ry1) -> (rx2, ry2),
whose bbox is exactly the rect, and never splits; the edge side gets the
LSI's long-edge split and sort-merge guard. The join runs at the caller's
grid (a box side turns off join_grid's rescale, see _owned_pairs). The
candidate join is a cell equi-join, and duplicates from multi-cell
overlap are dropped by min-shared-cell ownership (a column filter, no
shuffle); only when the edge side was split does a (rect_id, eid) dedup
follow the predicate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rayjoin_spark.plans.cells import _owned_pairs
from rayjoin_spark.plans.scaling import GridSpec, Scaling


def snap_rects(
    rects: DataFrame,
    scaling: Scaling,
    rect_id: str = "rect_id",
    x1: str = "x1",
    y1: str = "y1",
    x2: str = "x2",
    y2: str = "y2",
) -> DataFrame:
    """Snap raw double rectangle corners into the internal integer domain
    (same affine snap as plans/layers.build_edges) and normalize corner
    order so rx1 <= rx2, ry1 <= ry2."""
    sx1, sx2 = scaling.scale_x(F.col(x1)), scaling.scale_x(F.col(x2))
    sy1, sy2 = scaling.scale_y(F.col(y1)), scaling.scale_y(F.col(y2))
    return rects.select(
        F.col(rect_id),
        F.least(sx1, sx2).alias("rx1"),
        F.least(sy1, sy2).alias("ry1"),
        F.greatest(sx1, sx2).alias("rx2"),
        F.greatest(sy1, sy2).alias("ry2"),
    )


def _as_box(rects: DataFrame) -> DataFrame:
    """A snap_rects frame as a box side of the cell-join core: the
    degenerate edge (rx1, ry1) -> (rx2, ry2), keyed by its rect_id."""
    return rects.selectExpr("rect_id AS eid", "rx1 AS x1", "ry1 AS y1", "rx2 AS x2", "ry2 AS y2")


def _corner_sides(a: Column, b: Column, c: Column) -> tuple[Column, Column]:
    """(min, max) of a·X + b·Y + c over the 4 corners of the box side."""
    vals = [a * F.col(x) + b * F.col(y) + c for x in ("x1_b", "x2_b") for y in ("y1_b", "y2_b")]
    return F.least(*vals), F.greatest(*vals)


def segment_in_rect_predicate() -> Column:
    """Exact SAT intersection test for a candidate (edge, rect) row of the
    cell-join core.

    Expects the edge side's columns x1_a y1_a x2_a y2_a a_a b_a c_a and
    the box side's corners x1_b y1_b x2_b y2_b (all internal int64).
    Degenerate point edges (a=b=c=0) reduce to the bbox containment test.
    """
    bbox = (
        (F.greatest("x1_a", "x2_a") >= F.col("x1_b"))
        & (F.least("x1_a", "x2_a") <= F.col("x2_b"))
        & (F.greatest("y1_a", "y2_a") >= F.col("y1_b"))
        & (F.least("y1_a", "y2_a") <= F.col("y2_b"))
    )
    lo, hi = _corner_sides(F.col("a_a"), F.col("b_a"), F.col("c_a"))
    return bbox & (lo <= 0) & (hi >= 0)


def range_report(
    edges: DataFrame, rects: DataFrame, grid: GridSpec | None = None
) -> DataFrame:
    """All (rect_id, eid) pairs whose segment meets the rectangle.

    `edges`: plans/layers.build_edges output. `rects`: snap_rects output.
    One cell equi-join (the cell-join core, rects as its box side);
    each surviving pair is owned by the lexicographically smallest cell
    both cover, so no distinct is needed unless the edge side was split.
    """
    pairs, split = _owned_pairs(edges, _as_box(rects), grid or GridSpec(), boxes=(False, True))
    out = pairs.filter(segment_in_rect_predicate()).selectExpr("eid_b AS rect_id", "eid_a AS eid")
    return out.dropDuplicates(["rect_id", "eid"]) if split else out


#: exact closed-interval overlap of the two box sides (int64 compares)
_OVERLAP_SQL = "x1_a <= x2_b AND x1_b <= x2_a AND y1_a <= y2_b AND y1_b <= y2_a"


def rect_join(
    rects_a: DataFrame,
    rects_b: DataFrame,
    grid: GridSpec | None = None,
) -> DataFrame:
    """Rectangle-rectangle intersection join: all (rect_a, rect_b) pairs
    of CLOSED snapped-integer boxes that share at least one point — the
    AABB overlay primitive (bbox prefilter joins, R-tree-style
    intersection queries) beside range_report's segment x box test.

    The engine's cell-join core with boxes on BOTH sides: each box
    explodes to the cells of the caller's grid it covers, candidates
    come from the hash equi-join on the cell key, each pair survives
    only in the lexicographically smallest cell both cover
    (min-shared-cell ownership, a column predicate; boxes never split,
    so no dropDuplicates), and the exact closed-interval overlap test
    (pure int64 compares) filters them.

    Returns (rect_a, rect_b). Inputs are snap_rects outputs (rect_id,
    rx1, ry1, rx2, ry2).
    """
    pairs, _ = _owned_pairs(
        _as_box(rects_a), _as_box(rects_b), grid or GridSpec(), boxes=(True, True)
    )
    return pairs.filter(_OVERLAP_SQL).selectExpr("eid_a AS rect_a", "eid_b AS rect_b")
