"""Exact segment clipping to axis-aligned boxes (vector-tile cutting).

`range_report` (operators/rangequery.py) answers WHICH edges meet a box;
this module cuts each edge to the boxed portion — the operation a
vector-tile server runs per tile before encoding. The reference leaves
tiling to downstream tools but mandates the exactness discipline
(src/algo/lsi.h:105-143 computes intersection points as exact rationals);
clipping follows the same rule: no doubles in the geometry math.

Liang–Barsky with integer rationals: for segment p1→p2 (snapped int64),
dx = x2-x1, dy = y2-y1, box [rx1,rx2]×[ry1,ry2], the entry/exit
parameters are rationals t = q/p with |q|,|p| ≤ 2^29. All max/min/≤
steps are cross-multiplied int64 compares (≤ 2^58), and the clipped
endpoints are exact rationals

    x(t) = (x1·den + dx·num) / den        (|numerator| ≤ 2^58)

with per-endpoint denominators ≤ 2^29. Degenerate point-segments
(dx = dy = 0) reduce to a containment test. Everything is codegen
CASE/when column math — no UDFs, no shuffle beyond the candidate join.

Scale shape: candidates come from the same cell-join core as range_report
(plans.cells._owned_pairs with the rects as its box side: one shuffle,
min-shared-cell dedup); the clip itself is a scan-shaped projection,
followed by a (rect_id, eid) dedup only when the edge side was split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rayjoin_spark.operators.rangequery import _as_box
from rayjoin_spark.plans.cells import _owned_pairs
from rayjoin_spark.plans.scaling import GridSpec


def _rat_max(n1: Column, d1: Column, n2: Column, d2: Column) -> tuple[Column, Column]:
    """max(n1/d1, n2/d2) with d1,d2 > 0 — one cross-multiplied compare."""
    take2 = n1 * d2 < n2 * d1
    return F.when(take2, n2).otherwise(n1), F.when(take2, d2).otherwise(d1)


def _rat_min(n1: Column, d1: Column, n2: Column, d2: Column) -> tuple[Column, Column]:
    take2 = n1 * d2 > n2 * d1
    return F.when(take2, n2).otherwise(n1), F.when(take2, d2).otherwise(d1)


def _axis_window(
    x1: Column, dx: Column, lo: Column, hi: Column
) -> tuple[Column, Column, Column]:
    """Per-axis parameter window [qin/p, qout/p]. Returns (p, q_in, q_out)
    with q_in/p ≤ q_out/p and p > 0 when dx != 0; the dx = 0 static-axis
    containment check is the CALLER's job (clip_segments' x/y_static_ok)."""
    p = F.abs(dx)
    q_in = F.when(dx > 0, lo - x1).otherwise(x1 - hi)
    q_out = F.when(dx > 0, hi - x1).otherwise(x1 - lo)
    return p, q_in, q_out


def clip_segments(
    edges: DataFrame, rects: DataFrame, grid: GridSpec | None = None
) -> DataFrame:
    """Clip every edge to every rectangle it meets (closed semantics).

    `edges`: plans/layers.build_edges output; `rects`: snap_rects output.
    Returns one row per surviving (rect_id, eid) with the clipped
    endpoints as exact rationals (cx1_num, cy1_num, den1, cx2_num,
    cy2_num, den2): endpoint k is (cx_num/den, cy_num/den). A segment
    fully inside keeps its original endpoints (den = 1). Touching
    counts (t-window compared with ≤).
    """
    j, split = _owned_pairs(edges, _as_box(rects), grid or GridSpec(), boxes=(False, True))

    x1, y1 = F.col("x1_a"), F.col("y1_a")
    dx, dy = F.col("x2_a") - x1, F.col("y2_a") - y1
    rx1, rx2 = F.col("x1_b"), F.col("x2_b")
    ry1, ry2 = F.col("y1_b"), F.col("y2_b")

    # per-axis windows; a zero-delta axis contributes the full [0,1]
    # window but must pass the containment test for that axis instead
    px, qx_in, qx_out = _axis_window(x1, dx, rx1, rx2)
    py, qy_in, qy_out = _axis_window(y1, dy, ry1, ry2)
    x_static_ok = (dx != 0) | ((x1 >= rx1) & (x1 <= rx2))
    y_static_ok = (dy != 0) | ((y1 >= ry1) & (y1 <= ry2))

    one = F.lit(1).cast("bigint")
    zero = F.lit(0).cast("bigint")

    # t0 = max(0, axis entries), t1 = min(1, axis exits), skipping static axes
    n0, d0 = zero, one
    n0, d0 = _rat_max(n0, d0, F.when(dx != 0, qx_in).otherwise(zero),
                      F.when(dx != 0, px).otherwise(one))
    n0, d0 = _rat_max(n0, d0, F.when(dy != 0, qy_in).otherwise(zero),
                      F.when(dy != 0, py).otherwise(one))
    n1, d1 = one, one
    n1, d1 = _rat_min(n1, d1, F.when(dx != 0, qx_out).otherwise(one),
                      F.when(dx != 0, px).otherwise(one))
    n1, d1 = _rat_min(n1, d1, F.when(dy != 0, qy_out).otherwise(one),
                      F.when(dy != 0, py).otherwise(one))

    survives = x_static_ok & y_static_ok & (n0 * d1 <= n1 * d0)

    out = j.filter(survives).select(
        F.col("eid_b").alias("rect_id"),
        F.col("eid_a").alias("eid"),
        (x1 * d0 + dx * n0).alias("cx1_num"),
        (y1 * d0 + dy * n0).alias("cy1_num"),
        d0.alias("den1"),
        (x1 * d1 + dx * n1).alias("cx2_num"),
        (y1 * d1 + dy * n1).alias("cy2_num"),
        d1.alias("den2"),
    )
    # fragment copies of a pair carry the parent's geometry: same clip
    return out.dropDuplicates(["rect_id", "eid"]) if split else out
