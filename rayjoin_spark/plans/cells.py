"""Uniform-grid cell indexing as a key column (no materialized index).

The reference builds a CSR bucket array over a gsize x gsize grid by
rasterizing each edge's bbox to the cells it covers (reference
src/grid/uniform_grid.h:44-86, 3-phase count/scan/fill :131-245). In Spark
the same spatial partitioning is just a key column: explode each edge over
its covered cell rectangle and let the shuffle hash-partition on the cell.
The count/prefix-sum/fill machinery is exactly what a shuffle write does
internally — we never materialize it.

Also provides the per-cell workload metrics the reference exposes as
histograms (src/grid/uniform_grid.h:360-494), which drive explicit salting
of hot cells at scale (see plans/skew.py), the cell join's stats-driven
decisions (layer_split: long-edge split; join_grid: the LSI join's
refinement of fat cells; index_side: broadcast or sort-merge for every
index-side join), and the one Chebyshev-annulus round loop of the point
queries (annulus_rounds, behind knn_points and nearest_edge).

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
(cell, edge)" must dedup pairs by eid after their predicate (operators/
lsi.py does; PIP's min_by argmin is duplicate-insensitive).
"""

from __future__ import annotations

import functools
import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rayjoin_spark.plans.scaling import GridSpec

#: fragment length (in cells) for long-edge pre-splitting; also the split
#: trigger in layer_split: spans <= this explode exactly as before
SPLIT_CELLS_DEFAULT = 8


def cell_of(grid: GridSpec, col):
    return grid.cell_of(col)


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
    operators/lsi.py).

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


#: per-DataFrame stats, keyed by the frame object itself, then by gsize.
#: A DataFrame fixes its file listing when it is analyzed, so an entry is
#: never staler than the frame it belongs to; a fresh read gets fresh
#: stats, and a dropped frame drops its entry.
_STATS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
#: per-DataFrame mean edge extent avg(greatest(|x2-x1|, |y2-y1|)) in
#: snapped units: grid-free, so it rides along the frame's first
#: edge_cell_stats agg
_EXTENT: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def edge_cell_stats(edges: DataFrame, grid: GridSpec) -> tuple[int, int, int, int]:
    """One cheap narrow agg over the (pre-explode) edge table:
    (n_edges, max_span_cells, est_rows_unsplit, est_rows_split).

    est_rows_unsplit = exact total bbox-explode rows; est_rows_split = an
    upper-bound estimate under SPLIT_CELLS_DEFAULT fragmentation (each
    fragment bbox <= (k+3)^2 cells incl. the +-1 widen and DIV slack).
    Computed once per DataFrame object and grid (see _STATS); read
    through layer_split. The first call on a frame also records its mean
    edge extent (_EXTENT), which join_grid reads.
    """
    per_grid = _STATS.setdefault(edges, {})
    if grid.grid_size in per_grid:
        return per_grid[grid.grid_size]
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
        )
        .selectExpr(
            "count(*) AS n",
            "coalesce(max(greatest(sx, sy)), 0) AS mx",
            "coalesce(sum(sx * sy), 0) AS eu",
            f"coalesce(sum({frag_est}), 0) AS es",
            "coalesce(avg(ext), 0D) AS ext",
        )
        .collect()[0]
    )
    out = (int(row["n"]), int(row["mx"]), int(row["eu"]), int(row["es"]))
    per_grid[grid.grid_size] = out
    _EXTENT[edges] = float(row["ext"])
    return out


def layer_split(edges: DataFrame, grid: GridSpec) -> tuple[int | None, int]:
    """The long-edge decision for one edge layer at one grid: (k, est_rows).

    k = SPLIT_CELLS_DEFAULT when the layer's longest edge spans more cells
    than that (the explode then fragments, see module docstring), else
    None (the plain bbox explode). est_rows is the upper bound on the
    exploded rows under that choice — what the broadcast guards compare.
    Every cell-join consumer (LSI, PIP, nearest edge) decides here.
    """
    _, span, est_unsplit, est_split = edge_cell_stats(edges, grid)
    if span > SPLIT_CELLS_DEFAULT:
        return SPLIT_CELLS_DEFAULT, est_split
    return None, est_unsplit


#: cap on join_grid's refinement of the caller's grid
JOIN_GRID_MAX_FACTOR = 64


def join_grid(edges_a: DataFrame, edges_b: DataFrame, grid: GridSpec) -> GridSpec:
    """The grid an LSI cell join runs at: the caller's grid refined by the
    largest power of two (at most JOIN_GRID_MAX_FACTOR) whose cells are
    still at least as wide as the wider layer's mean edge extent
    max(|x2-x1|, |y2-y1|).

    A cell much wider than the edges costs candidate pairs, which grow
    with the square of the per-cell fan-out; at one mean edge per cell
    width an edge explodes to ~2 cells, and refining further only adds
    explode rows (the fan-out table in BENCH.md: lsi_coarse at gsize 32
    tests 27.6M candidates for 97,870 pairs, at 256 1.02M, while rows per
    edge grow 1.09 -> 1.77 and the warm join stops getting faster).
    Never coarser: thin cells keep the caller's grid and its long-edge
    split. Grid size is physical, so the rows do not change. The extents
    come with the frames' edge_cell_stats at the caller's grid (cached),
    so a repeat decision starts no job.
    """
    for edges in (edges_a, edges_b):
        edge_cell_stats(edges, grid)
    extent = max(_EXTENT[edges_a], _EXTENT[edges_b])
    f = 1
    while f < JOIN_GRID_MAX_FACTOR and 1.0 / GridSpec(grid.grid_size * f * 2).cell_scale >= extent:
        f *= 2
    return grid if f == 1 else GridSpec(grid.grid_size * f)


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


def round0_radius(
    density: float,
    k: int,
    n_queries: int,
    r_max: int = 6,
    cand_cap: int = 40_000_000,
) -> int:
    """Shared round-0 annulus radius for the point-query loops
    (operators/knn.py, operators/nearest.py): a query RESOLVES only when
    its k-th hit lies inside the radius-r inscribed circle of the covered
    window, so pick the smallest r whose circle's expected Poisson mass
    pi*r^2*density reaches k + 3*sqrt(k) + 2 (~3-sigma margin, <~0.2%
    expected survivors — typical queries finish in ONE round), then
    shrink while the round-0 candidate volume
    n_queries*(2r+1)^2*density exceeds cand_cap: at many queries the
    variable join cost dominates the per-round fixed cost a big r
    amortizes (and nearest's two-phase argmin evaluates its slim join
    twice). density = expected index rows per grid cell."""
    import math

    need = k + 3.0 * math.sqrt(k) + 2.0
    r = 1
    while r < r_max and math.pi * r * r * density < need:
        r += 1
    while r > 1 and n_queries * ((2 * r + 1) ** 2) * density > cand_cap:
        r -= 1
    return r


_QUERY_COLS = ("qid", "qx", "qy", "qcx", "qcy")


def annulus_rounds(
    queries: DataFrame,
    index: DataFrame,
    index_rows: int,
    grid: GridSpec,
    radius0,
    score,
    carry,
    merge,
    resolved,
) -> DataFrame:
    """The batched Chebyshev-annulus round loop of the point queries
    (operators/knn.py, operators/nearest.py).

    ``queries`` is (qid, qx, qy, best): snapped ints and each query's
    empty best. ``index`` is the cell-keyed side with its cell in
    (icx, icy) and at most ``index_rows`` rows; index_side decides its
    join, and a merge-side index is persisted for the rounds and released
    on return. ``radius0(n_queries)``
    gives the round-0 radius (round0_radius with the caller's k). Round i
    probes the rings [lo..hi] around each unresolved query's cell
    (clipped to the grid), equi-joins them to the index on the cell, and
    ``score`` maps the joined rows to (qid, qx, qy, qcx, qcy, cand). The
    ``carry`` column re-emits each query's current best as cand rows, and
    the ``merge`` aggregate folds carry and new candidates into the next
    best in ONE groupBy; the always-present carry row keeps a query with
    no candidates alive. Annulus cell sets are disjoint across rounds, so
    a candidate never meets its own carry. A query is done once
    ``resolved(safe2)`` holds, safe2 = (hi * cell width)^2 being the
    squared radius that rings 0..hi fully cover, or once hi reaches the
    grid size. Each round is checkpointed, so the returned union of done
    (qid, best) rows no longer reads the index.
    """
    gsize = grid.grid_size
    # guaranteed minimum int-width of a cell (floor of 1/cell_scale)
    cell_w = int(1.0 / grid.cell_scale)
    active = queries.selectExpr(
        "qid", "qx", "qy",
        f"{grid.cell_of_sql('qx')} AS qcx", f"{grid.cell_of_sql('qy')} AS qcy", "best",
    ).localCheckpoint(eager=True)
    # the count is a cheap scan of the checkpoint just materialized
    r0 = radius0(active.count())
    persisted = index.persist() if index_rows > BROADCAST_ROWS else None
    index = index_side(index if persisted is None else persisted, index_rows)
    done = []
    lo, hi = 0, r0
    try:
        # hi at least doubles each round and a round with hi >= gsize
        # resolves every query, so the loop ends within
        # ceil(log2(gsize)) + 1 rounds
        while True:
            # annulus of rings [lo..hi]: two tiny sequence explodes
            # (constant-size plan for any hi, unlike a literal offset array)
            probes = (
                active.withColumn("_dx", F.explode(F.sequence(F.lit(-hi), F.lit(hi))))
                .withColumn("_dy", F.explode(F.sequence(F.lit(-hi), F.lit(hi))))
                .filter(F.greatest(F.abs("_dx"), F.abs("_dy")) >= F.lit(lo))
                .select(
                    *_QUERY_COLS,
                    (F.col("qcx") + F.col("_dx")).alias("cx"),
                    (F.col("qcy") + F.col("_dy")).alias("cy"),
                )
                .filter(
                    (F.col("cx") >= 0)
                    & (F.col("cx") < gsize)
                    & (F.col("cy") >= 0)
                    & (F.col("cy") < gsize)
                )
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
            is_done = resolved(F.lit((hi * cell_w) * (hi * cell_w))) | F.lit(hi >= gsize)
            done.append(merged.filter(is_done).select("qid", "best"))
            active = merged.filter(~is_done)
            if hi >= gsize or active.isEmpty():
                break
            lo, hi = hi + 1, min(2 * hi + 1, gsize)
    finally:
        if persisted is not None:
            persisted.unpersist()
    return functools.reduce(DataFrame.unionByName, done)
