"""LSI — polyline-edge intersection join (line-segment intersection).

Semantics mirror the reference's exact integer predicate with Simulation
of Simplicity (reference src/algo/lsi.h:27-103) and the grid-backed join
(src/app/lsi_grid.h:18-78), re-expressed as one Catalyst plan:

    cells_a JOIN cells_b ON (cx, cy)         -- equi hash join on grid cell
      WHERE min-shared-cell ownership        -- dedup, pure column math
        AND exact SoS sign predicate         -- int64, whole-stage codegen

Key deviations from the reference's physical plan (same results):

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
from pyspark.sql import functions as F

from rayjoin_spark.plans.cells import (
    SPLIT_CELLS_DEFAULT,
    edge_cell_stats,
    explode_edges_to_cells,
)
from rayjoin_spark.plans.scaling import GridSpec

_EDGE_COLS = ["eid", "x1", "y1", "x2", "y2", "a", "b", "c", "ix1", "iy1"]

#: above this estimated exploded-cell row count the cell join is pinned to
#: sort-merge — AQE must not broadcast-convert an exploded side from its
#: (deceptively small) compressed shuffle stats and then die at the 8 GiB
#: deserialized cap (observed at gsize 15000 over long-edge inputs)
BROADCAST_GUARD_ROWS = 4_000_000


def _side(edge_cells: DataFrame, suffix: str) -> DataFrame:
    return edge_cells.selectExpr("cx", "cy", *[f"{c} AS {c}_{suffix}" for c in _EDGE_COLS])


#: min-shared-cell ownership: keep a candidate pair only in the first cell
#: both bbox rectangles cover
_OWNER_SQL = "cx = greatest(ix1_a, ix1_b) AND cy = greatest(iy1_a, iy1_b)"


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


def lsi_candidates(
    edges_a: DataFrame,
    edges_b: DataFrame,
    grid: GridSpec,
    split_long_edges: int | str | None = "auto",
) -> DataFrame:
    """Candidate pairs sharing >=1 grid cell (before the exact test),
    deduped by min-shared-cell ownership.

    ``split_long_edges`` mirrors lsi_join's long-edge pre-split decision
    ('auto' runs the same cheap span agg) so this generator — and the
    lsi_stats diagnostic built on it — stays LINEAR in an edge's cell
    span; without it the diagnostic would hit the quadratic bbox explode
    on exactly the fine-grid inputs it exists to diagnose. When splitting
    is active a pair may survive ownership in several fragment cells;
    consumers needing unique pairs dedup by (eid_a, eid_b) (lsi_stats
    counts distinct pairs explicitly)."""
    k = None
    if split_long_edges == "auto":
        (_, span_a, _, _) = edge_cell_stats(edges_a, grid)
        (_, span_b, _, _) = edge_cell_stats(edges_b, grid)
        if max(span_a, span_b) > SPLIT_CELLS_DEFAULT:
            k = SPLIT_CELLS_DEFAULT
    elif split_long_edges:
        k = int(split_long_edges)
    ca = _side(explode_edges_to_cells(edges_a, grid, k), "a")
    cb = _side(explode_edges_to_cells(edges_b, grid, k), "b")
    return ca.join(cb, ["cx", "cy"], "inner").filter(_OWNER_SQL)


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


def lsi_stats(edges_a: DataFrame, edges_b: DataFrame, grid: GridSpec | None = None) -> DataFrame:
    """Profiling counters analogous to the reference's debug atomics
    (n_tests / hit counts, src/app/lsi_grid.h:122-156): candidate pairs
    after dedup, surviving pairs, and populated joint cells — one row."""
    grid = grid or GridSpec()
    cand = lsi_candidates(edges_a, edges_b, grid)
    pairs = lsi_intersect_filter(cand)
    # distinct-pair counts: identical to count(*) when unsplit (ownership
    # picks one cell per pair) and correct at fragment seams when the
    # long-edge split armed itself inside lsi_candidates
    return cand.agg(
        F.count_distinct("eid_a", "eid_b").alias("n_candidates"),
        F.count_distinct("cx", "cy").alias("n_joint_cells"),
    ).crossJoin(
        pairs.agg(F.count_distinct("eid_a", "eid_b").alias("n_pairs"))
    )


def lsi_join(
    edges_a: DataFrame,
    edges_b: DataFrame,
    grid: GridSpec | None = None,
    with_points: bool = False,
    broadcast: str | None = None,
    split_long_edges: int | str | None = "auto",
    stats: tuple | None = None,
) -> DataFrame:
    """The LSI spatial theta join: equi-join on grid cell + exact predicate.

    Parameters
    ----------
    edges_a, edges_b : outputs of plans.layers.build_edges (map0, map1)
    grid : grid spec (cell size tunes candidate count vs join fan-out;
        reference default 2048, experiments 15000 — src/flags.cc:6)
    with_points : also emit the exact intersection point columns
    broadcast : 'a' | 'b' | None — broadcast one side's exploded cells
        (use when one layer is small; otherwise AQE decides)
    split_long_edges : 'auto' (default) | int k | None. 'auto' runs one
        cheap agg per side; when the longest edge spans more than
        SPLIT_CELLS_DEFAULT cells the bbox explode switches to parametric
        fragments (plans/cells.py) and matched pairs are deduped by
        (eid_a, eid_b) — an output-sized shuffle that only exists when
        splitting is active. 'auto' also arms the explode-aware broadcast
        guard: above BROADCAST_GUARD_ROWS estimated exploded rows the join
        is hinted to sort-merge so AQE cannot broadcast-convert an
        exploded side. An int forces that fragment length; None disables
        both (round-3 behavior, quadratic for long edges at fine grids).
    stats : optional precomputed (edge_cell_stats(edges_a, grid),
        edge_cell_stats(edges_b, grid)) so callers that already ran the
        aggs (overlay shares them with its PipIndexes) skip the two jobs.
    """
    grid = grid or GridSpec()
    k = None
    guard = False
    if split_long_edges == "auto":
        if stats is None:
            stats = (edge_cell_stats(edges_a, grid), edge_cell_stats(edges_b, grid))
        (_, span_a, eu_a, es_a), (_, span_b, eu_b, es_b) = stats
        if max(span_a, span_b) > SPLIT_CELLS_DEFAULT:
            k = SPLIT_CELLS_DEFAULT
            guard = (es_a + es_b) > BROADCAST_GUARD_ROWS
        else:
            guard = (eu_a + eu_b) > BROADCAST_GUARD_ROWS
    elif split_long_edges:
        k = int(split_long_edges)
    ca = _side(explode_edges_to_cells(edges_a, grid, k), "a")
    cb = _side(explode_edges_to_cells(edges_b, grid, k), "b")
    if broadcast == "a":
        ca = F.broadcast(ca)
    elif broadcast == "b":
        cb = F.broadcast(cb)
    elif guard:
        ca, cb = ca.hint("merge"), cb.hint("merge")
    out = lsi_intersect_filter(ca.join(cb, ["cx", "cy"], "inner").filter(_OWNER_SQL))
    if k:
        # fragment pairs can re-meet in several sub-bboxes; all copies of a
        # pair carry identical geometry columns, so any survivor is exact
        out = out.dropDuplicates(["eid_a", "eid_b"])
    if with_points:
        return with_xsect_point(out).selectExpr(
            "eid_a", "eid_b", "num_x", "num_y", "den", "xsect_xd", "xsect_yd"
        )
    return out.selectExpr("eid_a", "eid_b")
