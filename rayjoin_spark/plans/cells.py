"""Uniform-grid cell indexing as a key column (no materialized index).

The reference builds a CSR bucket array over a gsize x gsize grid by
rasterizing each edge's bbox to the cells it covers (reference
src/grid/uniform_grid.h:44-86, 3-phase count/scan/fill :131-245). In Spark
the same spatial partitioning is just a key column: explode each edge over
its covered cell rectangle and let the shuffle hash-partition on the cell.
The count/prefix-sum/fill machinery is exactly what a shuffle write does
internally — we never materialize it.

Also provides the per-cell workload metrics the reference exposes as
histograms (src/grid/uniform_grid.h:360-494), the cell join's
stats-driven decisions (layer_split, join_grid, index_side, the
HOT_WORKLOAD salting gate), the one ownership cell join (_owned_pairs,
behind the LSI, the overlay, faces and the box joins), and the point
queries' grid (probe_grid) and their one Chebyshev-annulus round loop
(annulus_rounds), which starts at radius 1 on that grid.

Long edges at fine grids: the bbox rectangle explode is QUADRATIC in the
edge's cell span for diagonal edges (a unit lattice diagonal at gsize 15000
spans ~234x234 cells = 54k rows; the reference's continental inputs never
hit this because their edges are tiny relative to its 15000 grid,
expr/env.sh:12). `explode_edges_to_cells(..., max_cells_per_edge=k)`
pre-splits each edge into ceil(span/k) parametric fragments and explodes
each fragment's own (conservative, +-1-widened) sub-bbox — linear in the
span. Geometry columns are untouched (fragments carry the PARENT edge's
coordinates/equation/eid), so every downstream exact predicate is
unchanged; candidate completeness holds because any point ON the edge lies
in some fragment's widened sub-bbox. Consumers that relied on "one row per
(cell, edge)" must dedup pairs by eid after their predicate when a side
was split (_owned_pairs reports it; PIP's min_by argmin and nearest_edge's
min are duplicate-insensitive).
"""

from __future__ import annotations

import functools
import math
import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rayjoin_spark.plans.scaling import GridSpec

#: fragment length (in cells) for long-edge pre-splitting (layer_split)
SPLIT_CELLS_DEFAULT = 8


def _cell_rect_sql(grid: GridSpec, lo_x: str, hi_x: str, lo_y: str, hi_y: str) -> list[str]:
    """ix1, ix2, iy1, iy2 projections: the cells of a box's corners, given
    as SQL text (cell_of is monotone, so the cell of the low corner is the
    least covered cell)."""
    return [
        f"{grid.cell_of_sql(v)} AS {name}"
        for v, name in ((lo_x, "ix1"), (hi_x, "ix2"), (lo_y, "iy1"), (hi_y, "iy2"))
    ]


def with_cell_bbox(edges: DataFrame, grid: GridSpec) -> DataFrame:
    """Add the covered-cell rectangle [ix1,ix2] x [iy1,iy2] of each edge's bbox
    (conservative over-approximation, mirroring reference
    src/grid/uniform_grid.h:63-83: candidate generation may over-approximate,
    never under-approximate)."""
    return edges.selectExpr("*", *_cell_rect_sql(
        grid, "least(x1, x2)", "greatest(x1, x2)", "least(y1, y2)", "greatest(y1, y2)"
    ))


def explode_edges_to_cells(
    edges: DataFrame, grid: GridSpec, max_cells_per_edge: int | None = None
) -> DataFrame:
    """One row per (cell, edge) the edge's bbox covers.

    Equivalent of the reference's `iterate_cell` double loop
    (src/grid/uniform_grid.h:79-83) — `explode(sequence(...))` twice.
    The output keeps ix1/iy1 so downstream joins can dedup candidate pairs
    without ever computing the exact intersection point (see
    _owned_pairs).

    With ``max_cells_per_edge=k`` set, edges spanning more than k cells are
    pre-split into parametric fragments (see module docstring): ix1..iy2
    become the FRAGMENT's conservative sub-bbox, a pair of edges may emit
    the same (cell, eid_a, eid_b) candidate more than once, and the output
    may contain duplicate (cell, eid) rows at fragment seams.
    """
    if max_cells_per_edge:
        e = _fragment_cell_bboxes(edges, grid, max_cells_per_edge)
    else:
        e = with_cell_bbox(edges, grid)
    return e.selectExpr("*", "explode(sequence(ix1, ix2)) AS cx").selectExpr(
        "*", "explode(sequence(iy1, iy2)) AS cy"
    )


def _fragment_cell_bboxes(edges: DataFrame, grid: GridSpec, k: int) -> DataFrame:
    """Replace each edge's bbox with ceil(span/k) fragment sub-bboxes.

    Fragment f of n covers the parameter range [f/n, (f+1)/n] of the
    segment; its endpoints are computed in exact int64 (x1 + (x2-x1)*f DIV n
    is within 1 of the true value — DIV truncates toward zero, floor is
    within 1) and widened by +-1 snapped unit, then clamped to the parent
    bbox, so the union of fragment bboxes covers every point of the segment
    while never exceeding the parent bbox. A span<=k edge has n=1 and its
    fragment bbox IS the exact parent bbox (f=0 endpoints are x1 and x2;
    the +-1 widen is clamped away) — the unsplit plan, bit-identical.
    """
    cols = edges.columns
    span = "greatest(ix2 - ix1, iy2 - iy1) + 1"
    e = with_cell_bbox(edges, grid).selectExpr(
        *cols,
        f"CAST(CASE WHEN {span} <= {k} THEN 1 ELSE ceil(({span}) / {k}) END AS BIGINT) AS _nf",
    ).selectExpr("*", "explode(sequence(CAST(0 AS BIGINT), _nf - 1)) AS _f")
    fx0 = "x1 + ((x2 - x1) * _f) DIV _nf"
    fx1 = "x1 + ((x2 - x1) * (_f + 1)) DIV _nf"
    fy0 = "y1 + ((y2 - y1) * _f) DIV _nf"
    fy1 = "y1 + ((y2 - y1) * (_f + 1)) DIV _nf"
    lox = f"greatest(least({fx0}, {fx1}) - 1, least(x1, x2))"
    hix = f"least(greatest({fx0}, {fx1}) + 1, greatest(x1, x2))"
    loy = f"greatest(least({fy0}, {fy1}) - 1, least(y1, y2))"
    hiy = f"least(greatest({fy0}, {fy1}) + 1, greatest(y1, y2))"
    return e.selectExpr(*cols, *_cell_rect_sql(grid, lox, hix, loy, hiy))


#: per-DataFrame stats, keyed by the frame object itself, then by gsize
#: (edge_cell_stats), ("max", gsize) (max_cell_rows), "extent" (the
#: grid-free mean edge extent) or "box" (the grid-free snapped bbox of the
#: layer). A DataFrame fixes its file listing when it is analyzed, so an
#: entry is never staler than the frame it belongs to; a fresh read gets
#: fresh stats, and a dropped frame drops its entry.
_STATS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def edge_cell_stats(edges: DataFrame, grid: GridSpec) -> tuple[int, int, int, int]:
    """One cheap narrow agg over the (pre-explode) edge table:
    (n_edges, max_span_cells, est_rows_unsplit, est_rows_split).

    est_rows_unsplit = exact total bbox-explode rows; est_rows_split = an
    upper-bound estimate under SPLIT_CELLS_DEFAULT fragmentation (each
    fragment bbox <= (k+3)^2 cells incl. the +-1 widen and DIV slack).
    Computed once per DataFrame object and grid (see _STATS); read
    through layer_split. Each call that runs the agg also records the
    layer's mean edge extent, which join_grid reads, and its snapped
    bbox (xmin, xmax, ymin, ymax; zeros for an empty layer), which
    nearest_edge hands to probe_grid.
    """
    per_frame = _STATS.setdefault(edges, {})
    if grid.grid_size in per_frame:
        return per_frame[grid.grid_size]
    k = SPLIT_CELLS_DEFAULT
    frag_est = (
        f"CASE WHEN greatest(sx, sy) <= {k} THEN sx * sy "
        f"ELSE ceil(greatest(sx, sy) / {k}) * least(sx, {k + 3}) * least(sy, {k + 3}) END"
    )
    row = (
        with_cell_bbox(edges, grid)
        .selectExpr(
            "ix2 - ix1 + 1 AS sx", "iy2 - iy1 + 1 AS sy",
            "greatest(abs(x2 - x1), abs(y2 - y1)) AS ext",
            "least(x1, x2) AS lx", "greatest(x1, x2) AS hx",
            "least(y1, y2) AS ly", "greatest(y1, y2) AS hy",
        )
        .selectExpr(
            "count(*) AS n",
            "coalesce(max(greatest(sx, sy)), 0) AS mx",
            "coalesce(sum(sx * sy), 0) AS eu",
            f"coalesce(sum({frag_est}), 0) AS es",
            "coalesce(avg(ext), 0D) AS ext",
            "coalesce(min(lx), 0)", "coalesce(max(hx), 0)",
            "coalesce(min(ly), 0)", "coalesce(max(hy), 0)",
        )
        .collect()[0]
    )
    out = (int(row["n"]), int(row["mx"]), int(row["eu"]), int(row["es"]))
    per_frame[grid.grid_size] = out
    per_frame["extent"] = float(row["ext"])
    per_frame["box"] = tuple(int(v) for v in row[-4:])
    return out


def layer_split(edges: DataFrame, grid: GridSpec) -> tuple[int | None, int]:
    """The long-edge decision for one edge layer at one grid: (k, est_rows).

    k = SPLIT_CELLS_DEFAULT when the fragmented explode's upper bound is
    below the exact unsplit rows (a split costs its consumers a dedup
    shuffle; without an edge longer than k the two are equal), else None
    (the plain bbox explode). est_rows is the upper bound on the exploded
    rows under that choice — what the broadcast guards and the salting
    gate compare.
    Every cell-join consumer (the ownership cell join's edge sides, PIP,
    nearest edge) decides here.
    """
    _, _, est_unsplit, est_split = edge_cell_stats(edges, grid)
    if est_split < est_unsplit:
        return SPLIT_CELLS_DEFAULT, est_split
    return None, est_unsplit


def max_cell_rows(edges: DataFrame, grid: GridSpec) -> int:
    """The most rows one cell gets in the layer's explode at ``grid``
    (under its layer_split decision), _owned_pairs' salting bound: one
    cell_counts max agg, cached per frame (_STATS), so a repeat is free."""
    per_frame = _STATS.setdefault(edges, {})
    key = ("max", grid.grid_size)
    if key not in per_frame:
        cells = explode_edges_to_cells(edges, grid, layer_split(edges, grid)[0])
        per_frame[key] = int(cell_counts(cells).selectExpr("coalesce(max(ne), 0)").first()[0])
    return per_frame[key]


#: cap on join_grid's rescale of the caller's grid, either way
JOIN_GRID_MAX_FACTOR = 64


def join_grid(edges_a: DataFrame, edges_b: DataFrame, grid: GridSpec) -> GridSpec:
    """The grid _owned_pairs joins at: the caller's grid rescaled by a
    power of two (at most JOIN_GRID_MAX_FACTOR either way) to the finest
    grid whose cells are still at least as wide as the wider layer's mean
    edge extent max(|x2-x1|, |y2-y1|). It halves the grid (floor
    division, as probe_grid does) while the cells are narrower than that
    extent, then doubles it while the finer cells are still as wide.

    A cell much wider than the edges costs candidate pairs, which grow
    with the square of the per-cell fan-out; a cell much narrower costs
    explode rows, which grow with the edge's span in cells. At one mean
    edge per cell width an edge explodes to ~2 cells, the knee of both
    (the fan-out table in BENCH.md: lsi_coarse at gsize 32 tests 27.6M
    candidates for 97,870 pairs, at 256 1.02M; fine_grid's edges explode
    to 7.9 cells at 5000 and its join is ~2x faster at 512-2048). Grid
    size is physical, so the rows do not change. The extents come with
    the frames' edge_cell_stats at the caller's grid (cached), so a
    repeat decision starts no job.
    """
    for edges in (edges_a, edges_b):
        edge_cell_stats(edges, grid)
    extent = max(_STATS[edges_a]["extent"], _STATS[edges_b]["extent"])

    def wide(g: int) -> bool:
        return 1.0 / GridSpec(g).cell_scale >= extent

    g, n, cap = grid.grid_size, 0, JOIN_GRID_MAX_FACTOR.bit_length() - 1
    while g > 1 and n > -cap and not wide(g):
        g, n = g // 2, n - 1
    while 0 <= n < cap and wide(2 * g):
        g, n = g * 2, n + 1
    return grid if n == 0 else GridSpec(g)


#: the build-side cap of every index-side join: an index of at most this
#: many rows is broadcast, a bigger one is shuffled and sort-merge pinned
BROADCAST_ROWS = 2_000_000


def index_side(frame: DataFrame, rows: int, exact=None) -> DataFrame:
    """The index side of a point/probe-vs-index join, ready to join:
    ``F.broadcast(frame)`` when ``rows`` is at most BROADCAST_ROWS, else
    ``frame.hint("merge")``. Every index-side join decides here: the PIP
    edge cells and skip map, the annulus rounds' index, the distance
    joins' corpus and the overlay writer's chain topology and face dict.

    ``rows`` is the side's row count, exact or an upper bound. When a
    bound is over the cap, ``exact()`` (if given) supplies the exact
    count, so a caller pays its count job only then.

    Why the pin: a big side left to the planner can be broadcast-converted
    by AQE from its compressed shuffle statistics, and an exploded cell
    table deserializes far bigger than those (past the 8 GiB broadcast
    limit at fine grids). AQE re-plans within the join hint, so the merge
    hint keeps such a side shuffled.
    """
    if rows > BROADCAST_ROWS and exact is not None:
        rows = exact()
    if rows <= BROADCAST_ROWS:
        return F.broadcast(frame)
    return frame.hint("merge")


#: the columns a side carries through the cell join, suffixed _a / _b: an
#: edge its geometry and line equation, a box (a rect passed as the
#: degenerate edge x1=rx1, y1=ry1, x2=rx2, y2=ry2) its corners; both keep
#: the low corner of their covered cells for the ownership filter
_EDGE_COLS = ("eid", "x1", "y1", "x2", "y2", "a", "b", "c", "ix1", "iy1")
_BOX_COLS = ("eid", "x1", "y1", "x2", "y2", "ix1", "iy1")

#: min-shared-cell ownership: keep a candidate pair only in the first cell
#: both bbox rectangles cover
_OWNER_SQL = "cx = greatest(ix1_a, ix1_b) AND cy = greatest(iy1_a, iy1_b)"


def _side(
    edges: DataFrame, grid: GridSpec, box: bool, suffix: str
) -> tuple[DataFrame, int | None, int | None]:
    """One side of the cell join: (cells, est_rows, k). An edge side
    explodes under its layer_split decision; a box side never splits,
    because fragments of its diagonal would not cover its interior, and
    has no estimate (est_rows None): a rect frame is built per call, so
    its stats agg would be a fresh job every time."""
    if box:
        k, est, cols = None, None, _BOX_COLS
    else:
        (k, est), cols = layer_split(edges, grid), _EDGE_COLS
    out = explode_edges_to_cells(edges, grid, k).selectExpr(
        "cx", "cy", *[f"{c} AS {c}_{suffix}" for c in cols]
    )
    return out, est, k


#: the per-cell workload ne_a * ne_b above which the edge-edge cell join
#: salts a cell (plans/skew.py)
HOT_WORKLOAD = 1_000_000


def _owned_pairs(
    edges_a: DataFrame,
    edges_b: DataFrame,
    grid: GridSpec,
    boxes: tuple[bool, bool] = (False, False),
    salt_all: bool = False,
) -> tuple[DataFrame, bool]:
    """The one cell-join core: explode each side at the join grid (edge
    sides under their layer_split decision), suffix its columns, salt hot
    cells, pin the join, equi-join on the cell and keep each pair in its
    min shared cell. lsi_join, lsi_candidates, the overlay and faces run
    it with two edge sides (operators/lsi.py); range_report and
    clip_segments with an edge and a box side, rect_join with two box
    sides (operators/rangequery.py, operators/clip.py), as ``boxes`` says.

    Two edge sides join at join_grid's rescale: fat cells refined, thin
    cells coarsened, each side's layer_split decided at that grid. A box
    never splits, so a refined grid could explode a box much larger than
    the mean extent to JOIN_GRID_MAX_FACTOR^2 times its cells: with a box
    side the caller's grid stays.

    Salting (two edge sides): a cell's workload ne_a * ne_b is at most
    est_a * est_b and at most the product of the sides' max_cell_rows, so
    the join stays plain when either is within HOT_WORKLOAD (the first
    check starts no job, the second is one cached agg per side); else
    plans/skew.salt_sides salts the cells over it, or every shared cell
    with ``salt_all`` (lsi_join_salted). Box sides have no estimate (see
    _side) and stay unsalted.

    The pin is index_side's rule (see there): the join that runs, salted
    or not, is sort-merge when even the smaller edge side's estimated rows
    pass BROADCAST_ROWS; two box sides leave it to the planner.

    Returns (pairs, split): when a side is split a pair may survive
    ownership in several fragment cells, so consumers needing unique
    pairs dedup by (eid_a, eid_b)."""
    if not any(boxes):
        grid = join_grid(edges_a, edges_b, grid)
    ca, est_a, k_a = _side(edges_a, grid, boxes[0], "a")
    cb, est_b, k_b = _side(edges_b, grid, boxes[1], "b")
    keys = ["cx", "cy"]
    if not any(boxes) and (salt_all or (
        est_a * est_b > HOT_WORKLOAD
        and max_cell_rows(edges_a, grid) * max_cell_rows(edges_b, grid) > HOT_WORKLOAD
    )):
        from rayjoin_spark.plans.skew import salt_sides

        ca, cb = salt_sides(ca, cb, 0 if salt_all else HOT_WORKLOAD)
        keys += ["_si", "_sj"]
    ests = [est for est in (est_a, est_b) if est is not None]
    if ests and min(ests) > BROADCAST_ROWS:
        ca, cb = ca.hint("merge"), cb.hint("merge")
    j = ca.join(cb, keys, "inner").drop("_si", "_sj")
    return j.filter(_OWNER_SQL), bool(k_a or k_b)


def cell_counts(edge_cells: DataFrame) -> DataFrame:
    """Edges per cell — the reference's grid histogram input
    (src/grid/uniform_grid.h:169-199)."""
    return edge_cells.groupBy("cx", "cy").agg(F.count("*").alias("ne"))


def cell_workload(edge_cells_a: DataFrame, edge_cells_b: DataFrame) -> DataFrame:
    """Per-cell join workload ne_a * ne_b — the skew diagnostic the reference
    prints (src/grid/uniform_grid.h:444-494). Drives hot-cell salting."""
    ca = cell_counts(edge_cells_a).withColumnRenamed("ne", "ne_a")
    cb = cell_counts(edge_cells_b).withColumnRenamed("ne", "ne_b")
    return (
        ca.join(cb, ["cx", "cy"], "inner")
        .withColumn("workload", F.col("ne_a") * F.col("ne_b"))
    )


def workload_histogram(workload: DataFrame, n_buckets: int = 16) -> DataFrame:
    """log2-bucketed histogram of per-cell workload (PrintHistogram analog)."""
    b = F.least(
        F.lit(n_buckets - 1),
        F.floor(F.log2(F.col("workload").cast("double") + F.lit(1.0))).cast("int"),
    )
    return (
        workload.withColumn("bucket", b)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_cells"), F.sum("workload").alias("total_workload"))
        .orderBy("bucket")
    )


def probe_grid(grid: GridSpec, rows: int, box: tuple[int, int, int, int], k: int) -> GridSpec:
    """The grid a point query's annulus rounds probe at: the finest
    power-of-two rescale of the caller's grid (finer or coarser, from one
    cell up to cells one snapped unit wide) at which the index's ``rows``
    over the cells of its snapped bbox ``box`` (xmin, xmax, ymin, ymax)
    still average target = (k + 3*sqrt(k) + 2) / pi per cell, so the
    radius-1 circle of the first round expects a ~3-sigma Poisson margin
    over k hits and a typical query resolves there. Refining by two at
    most quadruples the box's cells, so the density lies in
    [target, 4 * target). Grid size is physical: the rows do not change.
    """
    target = (k + 3.0 * math.sqrt(k) + 2.0) / math.pi

    def dense(g: int) -> bool:
        s = GridSpec(g)
        nx = s.cell_of_py(box[1]) - s.cell_of_py(box[0]) + 1
        ny = s.cell_of_py(box[3]) - s.cell_of_py(box[2]) + 1
        return rows >= target * nx * ny

    g = grid.grid_size
    while g > 1 and not dense(g):
        g //= 2
    while GridSpec(2 * g).cell_scale <= 1.0 and dense(2 * g):
        g *= 2
    return grid if g == grid.grid_size else GridSpec(g)


_QUERY_COLS = ("qid", "qx", "qy", "qcx", "qcy")


def annulus_rounds(
    queries: DataFrame,
    index: DataFrame,
    index_rows: int,
    box: tuple[int, int, int, int],
    grid: GridSpec,
    score,
    carry,
    merge,
    resolved,
) -> DataFrame:
    """The batched Chebyshev-annulus round loop of the point queries
    (operators/knn.py, operators/nearest.py), at probe_grid's grid.

    ``queries`` is (qid, qx, qy, best): snapped ints and each query's
    empty best. ``index`` is the cell-keyed side with its cell in
    (icx, icy), at most ``index_rows`` rows, all inside the cells of the
    snapped bbox ``box``; index_side decides its join, and a merge-side
    index is persisted for the rounds and released on return. Round i
    probes the rings [lo..hi] beyond each unresolved query's gap (its
    cell's Chebyshev distance to the box's cells), clipped to the box's
    cells, starting at [0..1]; it equi-joins them to the index on the
    cell, and ``score`` maps the joined rows to (qid, qx, qy, qcx, qcy,
    cand). The ``carry`` column re-emits each query's current best as
    cand rows, and the ``merge`` aggregate folds carry and new
    candidates into the next best in ONE groupBy; the always-present
    carry row keeps a query with no candidates alive. Annulus cell sets
    are disjoint across rounds, so a candidate never meets its own
    carry. A query is done once ``resolved(safe2)`` holds, safe2 =
    ((gap + hi) * cell width)^2 being the squared radius its probed
    rings fully cover, once they cover every box cell, or once hi
    reaches the grid size. Each round is checkpointed, so the returned
    union of done (qid, best) rows no longer reads the index.
    """
    gsize = grid.grid_size
    # guaranteed minimum int-width of a cell (floor of 1/cell_scale)
    cell_w = int(1.0 / grid.cell_scale)
    bx0, bx1, by0, by1 = (grid.cell_of_py(v) for v in box)
    gap = f"greatest({bx0} - qcx, qcx - {bx1}, {by0} - qcy, qcy - {by1}, 0)"
    # Chebyshev distance from the query's cell to the farthest box cell
    reach = f"greatest(qcx - {bx0}, {bx1} - qcx, qcy - {by0}, {by1} - qcy)"
    active = queries.selectExpr(
        "qid", "qx", "qy",
        f"{grid.cell_of_sql('qx')} AS qcx", f"{grid.cell_of_sql('qy')} AS qcy", "best",
    ).localCheckpoint(eager=True)
    persisted = index.persist() if index_rows > BROADCAST_ROWS else None
    index = index_side(index if persisted is None else persisted, index_rows)
    done = []
    lo, hi = 0, 1
    try:
        # hi at least doubles each round and a round with hi >= gsize
        # resolves every query, so the loop ends within
        # ceil(log2(gsize)) + 1 rounds
        while True:
            # the rings [gap + lo .. gap + hi], clipped to the box's cells
            # (never empty: gap is the distance to them): two sequence
            # explodes, a constant-size plan for any hi
            r = f"({hi} + {gap})"
            x0, x1 = f"greatest(qcx - {r}, {bx0})", f"least(qcx + {r}, {bx1})"
            y0, y1 = f"greatest(qcy - {r}, {by0})", f"least(qcy + {r}, {by1})"
            probes = (
                active.selectExpr(*_QUERY_COLS, f"explode(sequence({x0}, {x1})) AS cx")
                .selectExpr("*", f"explode(sequence({y0}, {y1})) AS cy")
                .filter(f"greatest(abs(cx - qcx), abs(cy - qcy)) >= {lo} + {gap}")
            )
            cand = score(probes.join(
                index, (F.col("cx") == F.col("icx")) & (F.col("cy") == F.col("icy")), "inner"
            ))
            merged = (
                cand.unionByName(active.select(*_QUERY_COLS, carry.alias("cand")))
                .groupBy("qid")
                .agg(merge.alias("best"), *(F.first(c).alias(c) for c in _QUERY_COLS[1:]))
                .localCheckpoint(eager=True)
            )
            radius = F.expr(f"CAST({r} AS BIGINT) * {cell_w}")
            is_done = (
                resolved(radius * radius)
                | F.expr(f"{reach} <= {r}")
                | F.lit(hi >= gsize)
            )
            done.append(merged.filter(is_done).select("qid", "best"))
            active = merged.filter(~is_done)
            if hi >= gsize or active.isEmpty():
                break
            lo, hi = hi + 1, min(2 * hi + 1, gsize)
    finally:
        if persisted is not None:
            persisted.unpersist()
    return functools.reduce(DataFrame.unionByName, done)
