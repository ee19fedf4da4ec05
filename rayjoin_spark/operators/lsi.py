"""LSI — polyline-edge intersection join (line-segment intersection).

Semantics mirror the reference's exact integer predicate with Simulation
of Simplicity (reference src/algo/lsi.h:27-103) and the grid-backed join
(src/app/lsi_grid.h:18-78), re-expressed as one Catalyst plan:

    cells_a JOIN cells_b ON (cx, cy)         -- equi hash join on grid cell
      WHERE min-shared-cell ownership        -- dedup, pure column math
        AND exact SoS sign predicate         -- int64, whole-stage codegen

Key deviations from the reference's physical plan (same results):

* Join grid: the reference joins at the user's --grid_size (src/flags.cc:6)
  and scales it with the input (expr/env.sh:12). Here plans.cells.join_grid
  rescales the caller's grid by a power of two (at most 64x either way) to
  the finest grid whose cells are still as wide as the layers' mean edge:
  cells much wider than the edges multiply candidate pairs quadratically
  in the per-cell fan-out, and cells much narrower multiply explode rows.

* Candidate dedup: the reference tests every shared cell and keeps the
  pair only in the cell containing the exact intersection point
  (src/app/lsi_grid.h:64-67, needs int128 rationals per candidate). Since
  each edge is exploded over its full bbox cell-rectangle, the shared-cell
  set of a pair is also a rectangle, so "first shared cell"
  (cx == max(ix1_a, ix1_b) AND cy == max(iy1_a, iy1_b)) keeps exactly one
  copy — and it runs *before* the sign tests, so each candidate pair is
  sign-tested once instead of once per shared cell.

* Exact intersection points, when requested, are decimal(38,0) column
  arithmetic (numerators <= 2^88 at our 2^29 snap grid — see
  plans/scaling.py), still JVM-side; the reference needs int128 + a
  rational type (src/util/rational.h) only because it snaps to 2^46.

SoS direction is keyed to the map id exactly as the reference: map-0
endpoints tested against a map-1 edge fall back to (-a, -b) of the map-1
edge; map-1 endpoints against a map-0 edge fall back to (+a, +b)
(src/algo/lsi.h:42-87 with e1=map0, e2=map1 per src/app/lsi_grid.h:32-49).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from rayjoin_spark.plans.cells import _owned_pairs
from rayjoin_spark.plans.scaling import GridSpec


def _sos_sign_sql(p: str, e: str, flip: bool) -> str:
    """sign of SUBEDGE(point p, edge e) with SoS zero-replacement, over
    the suffixed columns x{1,2}_p / a_e, b_e, c_e (p names the endpoint,
    e.g. "1_a"; e names the edge side).

    flip=True  -> zeros replaced by (-e.a, -e.b)  (map0 point vs map1 edge)
    flip=False -> zeros replaced by (+e.a, +e.b)  (map1 point vs map0 edge)
    Mirrors reference src/algo/lsi.h:42-87. Returned value is only used for
    its sign; it is never zero for non-degenerate edges.
    """
    ea, eb, ec = f"a_{e}", f"b_{e}", f"c_{e}"
    s = f"x{p} * {ea} + y{p} * {eb} + {ec}"
    neg = "-" if flip else ""
    return f"CASE WHEN {s} != 0 THEN {s} WHEN {ea} != 0 THEN {neg}{ea} ELSE {neg}{eb} END"


def _lsi_predicate_sql() -> str:
    # endpoints of map0 edge vs map1 edge line: zeros -> (-a_b, -b_b);
    # endpoints of map1 edge vs map0 edge line: zeros -> (+a_a, +b_a)
    s_a1, s_a2 = _sos_sign_sql("1_a", "b", True), _sos_sign_sql("2_a", "b", True)
    s_b1, s_b2 = _sos_sign_sql("1_b", "a", False), _sos_sign_sql("2_b", "a", False)
    same_fwd = "x1_a = x1_b AND y1_a = y1_b AND x2_a = x2_b AND y2_a = y2_b"
    same_rev = "x1_a = x2_b AND y1_a = y2_b AND x2_a = x1_b AND y2_a = y1_b"
    return (
        f"(({s_a1}) > 0) != (({s_a2}) > 0) AND (({s_b1}) > 0) != (({s_b2}) > 0)"
        f" AND NOT ({same_fwd}) AND NOT ({same_rev})"
    )


#: the exact SoS intersection predicate (built once; pure SQL text)
_LSI_PREDICATE_SQL = _lsi_predicate_sql()


def lsi_candidates(edges_a: DataFrame, edges_b: DataFrame, grid: GridSpec) -> DataFrame:
    """Candidate pairs sharing >=1 grid cell (before the exact test),
    deduped by min-shared-cell ownership — the cell-join core's output.
    Their cx, cy (and ix1, iy1) are cells of the JOIN grid
    (plans.cells.join_grid), which may be finer or coarser than ``grid``.

    The long-edge split keeps this generator LINEAR in an edge's cell
    span at fine grids. When a side is split a pair may survive ownership
    in several fragment cells; consumers needing unique pairs dedup by
    (eid_a, eid_b)."""
    return _owned_pairs(edges_a, edges_b, grid)[0]


def lsi_intersect_filter(j: DataFrame) -> DataFrame:
    """Apply the exact SoS sign predicate to candidate pairs (int64, codegen)."""
    return j.filter(_LSI_PREDICATE_SQL)


def _xsect_sql() -> list[str]:
    dec = "DECIMAL(38,0)"
    a_a, b_a, c_a = (f"CAST({c}_a AS {dec})" for c in "abc")
    a_b, b_b, c_b = (f"CAST({c}_b AS {dec})" for c in "abc")
    den0 = f"{a_a} * {b_b} - {a_b} * {b_a}"  # <= 2^59, never 0 for intersecting pairs
    numx0 = f"{c_b} * {b_a} - {c_a} * {b_b}"  # <= 2^88
    numy0 = f"{a_b} * {c_a} - {a_a} * {c_b}"
    neg = f"{den0} < 0"
    return [
        f"CAST(CASE WHEN {neg} THEN -({e}) ELSE {e} END AS {dec}) AS {name}"
        for e, name in ((den0, "den"), (numx0, "num_x"), (numy0, "num_y"))
    ]


#: (den, num_x, num_y) projections of the exact intersection point
_XSECT_SQL = _xsect_sql()


def with_xsect_point(pairs: DataFrame) -> DataFrame:
    """Exact rational intersection point as decimal(38,0) (num_x, num_y, den),
    normalized den > 0 (reference src/algo/lsi.h:116-141). Adds
    unscaled-domain-free doubles xsect_xd, xsect_yd (snapped-grid
    coordinates; callers unscale).

    No bbox clamp. The reference clamps the point to the bbox of the 4
    endpoints; for a pair that passed the SoS predicate the clamp never
    fires. The two lines meet in exactly one point X: parallel lines leave
    both endpoints of a strictly on one side of line b, and collinear ones
    put both on it, where SoS replaces both zero signs by the same
    tie-break; either way the predicate is false. The side of line a is
    affine along segment b, so were X outside segment b it would be
    nonzero with one sign at both of b's endpoints, and the predicate
    false. So X lies on segment b, likewise on segment a, and inside the
    bbox. tests/oracle.py keeps the clamp, so every parity test re-checks
    this.
    """
    return pairs.selectExpr("*", *_XSECT_SQL).selectExpr(
        "*",
        "CAST(num_x AS DOUBLE) / CAST(den AS DOUBLE) AS xsect_xd",
        "CAST(num_y AS DOUBLE) / CAST(den AS DOUBLE) AS xsect_yd",
    )


def _matched_pairs(pairs: DataFrame, split: bool) -> DataFrame:
    """Unique exactly-intersecting pairs of the core's (pairs, split): the
    owned candidates through the SoS predicate, deduped by (eid_a, eid_b)
    only when a side was split — an output-sized shuffle that exists only
    then. Fragment copies of a pair carry identical geometry columns, so
    any survivor is exact."""
    out = lsi_intersect_filter(pairs)
    return out.dropDuplicates(["eid_a", "eid_b"]) if split else out


def lsi_join(
    edges_a: DataFrame,
    edges_b: DataFrame,
    grid: GridSpec | None = None,
    with_points: bool = False,
) -> DataFrame:
    """The LSI spatial theta join: equi-join on grid cell + exact predicate.

    Parameters
    ----------
    edges_a, edges_b : outputs of plans.layers.build_edges (map0, map1)
    grid : the caller's grid (reference default 2048, experiments 15000
        — src/flags.cc:6); plans.cells.join_grid rescales it to the
        layers' mean edge. The rows do not depend on it.
    with_points : also emit the exact intersection point columns

    The long-edge split, hot-cell salting and the sort-merge pin are
    decided in the cell-join core (plans.cells._owned_pairs) from stats
    cached per DataFrame object and grid.
    """
    out = _matched_pairs(*_owned_pairs(edges_a, edges_b, grid or GridSpec()))
    if with_points:
        return with_xsect_point(out).selectExpr(
            "eid_a", "eid_b", "num_x", "num_y", "den", "xsect_xd", "xsect_yd"
        )
    return out.selectExpr("eid_a", "eid_b")
