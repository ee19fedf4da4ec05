"""Explicit skew handling: hot-cell detection + salted cell join.

The reference diagnoses skew with per-cell workload histograms
(src/grid/uniform_grid.h:444-494) and lives with it (a GPU block chews a
fat cell). At 1000-executor scale a hot cell becomes a straggler task,
so the cell join must split hot keys explicitly (AQE skew-join also
fires, but BASELINE mandates explicit salting driven by the metrics
table). Whether to salt is decided in the cell-join core
(plans/cells._owned_pairs), for every edge-edge join, against
plans/cells.HOT_WORKLOAD; this module holds how.

Salting scheme for an inner equi-join A ⋈ B on (cx, cy) — TWO-DIMENSIONAL
(grid) salting, sized by one rule:
  * a cell is hot when its workload ne_a*ne_b exceeds ``threshold``;
    it gets ns = min(SALT_MAX, ceil(workload / max(threshold // 4, 1)))
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
to every bucket costs ns-fold row replication for ns-fold granularity;
the 2-D split gets the same granularity (what lets fine buckets
hash-pack evenly into task waves) for ~2*sqrt(ns)-fold replication (q
copies of A + p copies of B). A 1-D flat-16 split measured 1.6x the
plain join's wall time at N=2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rayjoin_spark.plans.cells import _owned_pairs, cell_workload
from rayjoin_spark.plans.scaling import GridSpec

#: most salt buckets one hot cell splits into
SALT_MAX = 32


def hot_cells(cells_a: DataFrame, cells_b: DataFrame, threshold: int) -> DataFrame:
    """(cx, cy, workload, _p, _q) of every cell whose workload ne_a*ne_b
    exceeds threshold, its ns salt buckets factored p x q (module
    docstring): the metrics table that drives salting."""
    per_bucket = max(threshold // 4, 1)
    return cell_workload(cells_a, cells_b).filter(f"workload > {threshold}").selectExpr(
        "cx", "cy", "workload",
        f"CAST(least({SALT_MAX}, ceil(workload / {per_bucket})) AS INT) AS _ns",
    ).selectExpr(
        "cx", "cy", "workload",
        "CAST(ceil(sqrt(_ns)) AS INT) AS _p",
        "CAST(ceil(_ns / ceil(sqrt(_ns))) AS INT) AS _q",
    )


def _salt_side(cells: DataFrame, buckets: DataFrame, key: str, own: str, other: str) -> DataFrame:
    """One side of the 2-D salted join. A row of a hot cell hashes ``key``
    into one of the cell's ``own`` groups and is copied once per
    ``other`` group; a row of a cold cell stays in group (0, 0). ``own``
    and ``other`` are the salt columns "_si" (p groups) and "_sj" (q
    groups), both INT, so the join keys need no cast."""
    n = {"_si": "_p", "_sj": "_q"}
    return cells.join(buckets, ["cx", "cy"], "left").selectExpr(
        *cells.columns,
        f"CASE WHEN {n[own]} IS NULL THEN 0"
        f" ELSE CAST(pmod(xxhash64({key}), {n[own]}) AS INT) END AS {own}",
        f"explode(CASE WHEN {n[other]} IS NULL THEN array(0)"
        f" ELSE sequence(0, {n[other]} - 1) END) AS {other}",
    )


def salt_sides(
    cells_a: DataFrame, cells_b: DataFrame, threshold: int
) -> tuple[DataFrame, DataFrame]:
    """The two sides of the salted cell join: joined on (cx, cy, _si, _sj)
    they give a plain (cx, cy) join's row multiset, with the cells over
    ``threshold`` split over 2-D salt buckets (module docstring). The
    sides carry plans.cells._side's suffixed columns: A rows hash by
    eid_a, B rows by eid_b."""
    buckets = F.broadcast(hot_cells(cells_a, cells_b, threshold))
    return (
        _salt_side(cells_a, buckets, "eid_a", "_si", "_sj"),
        _salt_side(cells_b, buckets, "eid_b", "_sj", "_si"),
    )


def lsi_join_salted(edges_a: DataFrame, edges_b: DataFrame, grid: GridSpec) -> DataFrame:
    """lsi_join with every shared cell salted (threshold 0): the same rows
    through the salted plan even where no cell passes HOT_WORKLOAD, below
    which lsi_join (plans/cells._owned_pairs) joins plainly."""
    from rayjoin_spark.operators.lsi import _matched_pairs

    pairs = _matched_pairs(*_owned_pairs(edges_a, edges_b, grid, salt_all=True))
    return pairs.selectExpr("eid_a", "eid_b")
