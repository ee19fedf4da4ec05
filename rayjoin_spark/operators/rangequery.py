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

Scale shape: rectangles explode to their covered cells, edges explode to
their bbox cells (shared with LSI), the candidate join is a cell equi-join
(bucketed by construction), and duplicates from multi-cell overlap are
dropped by min-shared-cell ownership — the same zero-shuffle dedup as
operators/lsi.py:78-81, so the whole operator is one shuffle (the cell
join) regardless of rectangle size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rayjoin_spark.plans.cells import explode_edges_to_cells
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


def _corner_sides(a: Column, b: Column, c: Column) -> tuple[Column, Column]:
    """(min, max) of a·X + b·Y + c over the 4 snapped rect corners."""
    vals = [
        a * F.col("rx1") + b * F.col("ry1") + c,
        a * F.col("rx1") + b * F.col("ry2") + c,
        a * F.col("rx2") + b * F.col("ry1") + c,
        a * F.col("rx2") + b * F.col("ry2") + c,
    ]
    return F.least(*vals), F.greatest(*vals)


def segment_in_rect_predicate() -> Column:
    """Exact SAT intersection test for a candidate (edge, rect) row.

    Expects edge columns x1 y1 x2 y2 a b c and rect columns rx1 ry1 rx2
    ry2 (all internal int64). Degenerate point edges (a=b=c=0) reduce to
    the bbox containment test.
    """
    bbox = (
        (F.greatest("x1", "x2") >= F.col("rx1"))
        & (F.least("x1", "x2") <= F.col("rx2"))
        & (F.greatest("y1", "y2") >= F.col("ry1"))
        & (F.least("y1", "y2") <= F.col("ry2"))
    )
    lo, hi = _corner_sides(F.col("a"), F.col("b"), F.col("c"))
    return bbox & (lo <= 0) & (hi >= 0)


def _rect_cells(rects: DataFrame, grid: GridSpec) -> DataFrame:
    r = rects.withColumn("rix1", grid.cell_of(F.col("rx1"))).withColumn(
        "rix2", grid.cell_of(F.col("rx2"))
    )
    r = r.withColumn("riy1", grid.cell_of(F.col("ry1"))).withColumn(
        "riy2", grid.cell_of(F.col("ry2"))
    )
    return r.withColumn("cx", F.explode(F.sequence("rix1", "rix2"))).withColumn(
        "cy", F.explode(F.sequence("riy1", "riy2"))
    )


def range_report(
    edges: DataFrame, rects: DataFrame, grid: GridSpec | None = None
) -> DataFrame:
    """All (rect_id, eid) pairs whose segment meets the rectangle.

    `edges`: plans/layers.build_edges output. `rects`: snap_rects output.
    One cell equi-join; dedup is the min-shared-cell ownership filter
    (each surviving pair is owned by the lexicographically smallest cell
    both cover, so no distinct/shuffle is needed).
    """
    grid = grid or GridSpec()
    owned = owned_candidates(edges, rects, grid)
    return owned.filter(segment_in_rect_predicate()).select("rect_id", "eid")


def owned_candidates(edges: DataFrame, rects: DataFrame, grid: GridSpec) -> DataFrame:
    """The shared candidate generator of `range_report` and
    operators/clip.clip_segments: edges and rects each explode to their
    covered cells, equi-join on the cell, and each (edge, rect) pair
    survives only in the lexicographically smallest cell both cover
    (min-shared-cell ownership — zero-shuffle dedup, no distinct)."""
    ec = explode_edges_to_cells(edges, grid)
    rc = _rect_cells(rects, grid)
    return ec.join(rc, ["cx", "cy"], "inner").filter(
        (F.col("cx") == F.greatest("ix1", "rix1"))
        & (F.col("cy") == F.greatest("iy1", "riy1"))
    )


def rect_join(
    rects_a: DataFrame,
    rects_b: DataFrame,
    grid: GridSpec | None = None,
) -> DataFrame:
    """Rectangle-rectangle intersection join: all (rect_a, rect_b) pairs
    of CLOSED snapped-integer boxes that share at least one point — the
    AABB overlay primitive (bbox prefilter joins, R-tree-style
    intersection queries) beside range_report's segment x box test.

    Same physical shape as the engine's LSI join with rects on BOTH
    sides: each box explodes to the grid cells it covers (bounded 2-D
    explode), candidates come from the hash equi-join on the cell key,
    the exact closed-interval overlap test (pure int64 compares) filters
    them, and each surviving pair is emitted exactly once by the
    min-shared-cell OWNERSHIP filter (operators/lsi.py's dedup trick:
    keep the pair only in the lexicographically smallest cell of the
    intersection region — a column predicate, never a dropDuplicates
    shuffle).

    Returns (rect_a, rect_b). Inputs are snap_rects outputs (rect_id,
    rx1, ry1, rx2, ry2).
    """
    grid = grid or GridSpec()
    ca = _rect_cells(rects_a, grid).select(
        F.col("rect_id").alias("rect_a"),
        F.col("rx1").alias("ax1"), F.col("ry1").alias("ay1"),
        F.col("rx2").alias("ax2"), F.col("ry2").alias("ay2"),
        F.col("rix1").alias("acx1"), F.col("riy1").alias("acy1"),
        "cx", "cy",
    )
    cb = _rect_cells(rects_b, grid).select(
        F.col("rect_id").alias("rect_b"),
        F.col("rx1").alias("bx1"), F.col("ry1").alias("by1"),
        F.col("rx2").alias("bx2"), F.col("ry2").alias("by2"),
        F.col("rix1").alias("bcx1"), F.col("riy1").alias("bcy1"),
        "cx", "cy",
    )
    j = ca.join(cb, ["cx", "cy"], "inner")
    overlap = (
        (F.col("ax1") <= F.col("bx2"))
        & (F.col("bx1") <= F.col("ax2"))
        & (F.col("ay1") <= F.col("by2"))
        & (F.col("by1") <= F.col("ay2"))
    )
    owner = (F.col("cx") == F.greatest("acx1", "bcx1")) & (
        F.col("cy") == F.greatest("acy1", "bcy1")
    )
    return j.filter(overlap & owner).select("rect_a", "rect_b")
