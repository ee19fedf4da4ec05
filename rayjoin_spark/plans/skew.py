"""Explicit skew handling: hot-cell detection + salted cell join.

The reference diagnoses skew with per-cell workload histograms
(src/grid/uniform_grid.h:444-494) and lives with it (a GPU block chews a
fat cell). At 1000-executor scale a hot cell becomes a straggler task,
so the cell join must split hot keys explicitly (AQE skew-join also
fires, but BASELINE mandates explicit salting driven by the metrics
table).

Salting scheme for an inner equi-join A ⋈ B on (cx, cy) — TWO-DIMENSIONAL
(grid) salting, sized by one rule:
  * a cell is hot when its workload ne_a*ne_b exceeds ``hot_threshold``;
    it gets ns = min(SALT_MAX, ceil(workload / max(hot_threshold // 4, 1)))
    buckets: each holds about a quarter of the threshold's work (a cell
    just over it splits 5 ways) until a monster cell hits SALT_MAX;
  * ns is factored p x q with p = ceil(sqrt(ns)), q = ceil(ns / p);
  * A-side rows scatter into p groups (i = pmod(xxhash64(eid_a), p)) and
    are replicated across the q B-groups; B-side rows scatter into q
    groups (j = pmod(xxhash64(eid_b), q)) and are replicated across the p
    A-groups;
  * join key becomes (cx, cy, i, j). Row multiset of the join output is
    unchanged — pair (a, b) meets in exactly one bucket, (i_a, j_b).

Why 2-D and not the classic scatter-A/replicate-B: replicating one side
to every bucket costs ns-fold row replication for ns-fold granularity.
The 2-D split costs only ~2*sqrt(ns)-fold (q copies of A + p copies of
B) for the same ns-fold granularity — and measurement (BENCH.md
diagnosis) shows granularity is what buys scaling efficiency (fine
buckets hash-pack evenly into task waves) while replication is what
costs wall time at low parallelism. 1-D flat-16 measured 1.6x naive
wall at N=2; 2-D proportional salting keeps the same bucket granularity
at a fraction of the replicated rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rayjoin_spark.plans.cells import cell_workload

#: most salt buckets one hot cell splits into
SALT_MAX = 32


def hot_cells(
    edge_cells_a: DataFrame, edge_cells_b: DataFrame, threshold: int = 1_000_000
) -> DataFrame:
    """Cells whose candidate-pair workload ne_a*ne_b exceeds threshold —
    the metrics table that drives salting (and lands in the lineage/
    metrics output for observability)."""
    return cell_workload(edge_cells_a, edge_cells_b).filter(
        F.col("workload") > threshold
    )


def salt_buckets(cells_a: DataFrame, cells_b: DataFrame, hot_threshold: int) -> DataFrame:
    """(cx, cy, _p, _q) of each hot cell: its ns salt buckets factored
    p x q (module docstring)."""
    per_bucket = max(hot_threshold // 4, 1)
    return hot_cells(cells_a, cells_b, hot_threshold).selectExpr(
        "cx", "cy", f"CAST(least({SALT_MAX}, ceil(workload / {per_bucket})) AS INT) AS _ns"
    ).selectExpr(
        "cx", "cy",
        "CAST(ceil(sqrt(_ns)) AS INT) AS _p",
        "CAST(ceil(_ns / ceil(sqrt(_ns))) AS INT) AS _q",
    )


def _salt_side(cells: DataFrame, buckets: DataFrame, key: str, own: str, other: str) -> DataFrame:
    """One side of the 2-D salted join. A row of a hot cell hashes ``key``
    into one of the cell's ``own`` groups and is copied once per
    ``other`` group; a row of a cold cell stays in group (0, 0). ``own``
    and ``other`` are the salt columns "_si" (p groups) and "_sj" (q
    groups)."""
    n = {"_si": "_p", "_sj": "_q"}
    return cells.join(buckets, ["cx", "cy"], "left").selectExpr(
        *cells.columns,
        f"CASE WHEN {n[own]} IS NULL THEN 0 ELSE pmod(xxhash64({key}), {n[own]}) END AS {own}",
        f"explode(CASE WHEN {n[other]} IS NULL THEN array(0)"
        f" ELSE sequence(0, {n[other]} - 1) END) AS {other}",
    )


def salted_cell_join(cells_a: DataFrame, cells_b: DataFrame, hot_threshold: int) -> DataFrame:
    """Inner join on (cx, cy) with the hot cells split over 2-D salt
    buckets (module docstring): same row multiset as a plain join.

    cells_a/cells_b must already carry side-suffixed columns (as produced
    by plans.cells._side): A rows hash by eid_a, B rows by eid_b."""
    buckets = F.broadcast(salt_buckets(cells_a, cells_b, hot_threshold))
    a = _salt_side(cells_a, buckets, "eid_a", "_si", "_sj")
    b = _salt_side(cells_b, buckets, "eid_b", "_sj", "_si")
    return a.join(b, ["cx", "cy", "_si", "_sj"], "inner").drop("_si", "_sj")


def lsi_join_salted(edges_a, edges_b, grid, hot_threshold: int = 1_000_000):
    """LSI join with explicit hot-cell salting (same output as lsi_join).

    Runs lsi_join's cell-join core (join grid, long-edge split, broadcast
    guard, ownership, exact predicate, split dedup) with the plain cell
    join swapped for salted_cell_join over the hot cells of the exploded
    sides, which are cells of the join grid. ``hot_threshold`` is the one
    option: it picks the hot cells and sizes their buckets.
    """
    from rayjoin_spark.operators.lsi import _matched_pairs

    def join(cells_a, cells_b):
        return salted_cell_join(cells_a, cells_b, hot_threshold)

    return _matched_pairs(edges_a, edges_b, grid, join).selectExpr("eid_a", "eid_b")
