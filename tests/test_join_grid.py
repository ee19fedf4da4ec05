"""The LSI join grid (plans/cells.join_grid).

A caller's grid whose cells are much wider than the edges multiplies
candidate pairs quadratically in the per-cell fan-out; the cell join
refines it by a power of two while the cells stay at least as wide as
the layers' mean edge. These tests pin the rule's contract:

* fat cells get a finer join grid, and the rows still equal the exact
  oracle's (grid size is physical, not semantic);
* thin cells keep the caller's grid, so the long-edge split still arms;
* the grid is never coarsened and never refined past the cap;
* the decision reads the frames' cached stats: a repeat starts no job.
"""

from fractions import Fraction

import pytest

from rayjoin_spark.operators.lsi import lsi_join
from rayjoin_spark.plans.cells import (
    JOIN_GRID_MAX_FACTOR,
    SPLIT_CELLS_DEFAULT,
    join_grid,
    layer_split,
)
from rayjoin_spark.plans.layers import build_edges
from rayjoin_spark.plans.scaling import GridSpec, compute_scaling
from rayjoin_spark.sources.datagen import lattice_chains, transformed_lattice

from tests.oracle import build_edges_py, lsi_oracle, xsect_point_py


def _layers(spark, m):
    ca, pa = lattice_chains(spark, m)
    cb, pb = transformed_lattice(spark, m)
    scaling = compute_scaling(pa, pb)
    ea = build_edges(ca, pa, scaling).localCheckpoint(eager=True)
    eb = build_edges(cb, pb, scaling).localCheckpoint(eager=True)
    return scaling, (ca, pa, ea), (cb, pb, eb)


def _py_edges(chains, points, scaling):
    sides = {r["chain_id"]: (r["left_polygon_id"], r["right_polygon_id"]) for r in chains.collect()}
    pts = [(r["chain_id"], r["seq"], r["x"], r["y"]) for r in points.collect()]
    return build_edges_py(sides, pts, scaling)


@pytest.fixture(scope="module")
def fat(spark):
    """m=8 lattice pair at gsize 2: ~5 lattice units per cell, unit edges."""
    scaling, (ca, pa, ea), (cb, pb, eb) = _layers(spark, 8)
    return ea, eb, _py_edges(ca, pa, scaling), _py_edges(cb, pb, scaling), GridSpec(2)


@pytest.fixture(scope="module")
def thin(spark):
    """m=4 lattice pair at gsize 2048: rotated unit edges span hundreds of
    cells (the long-edge split regime of test_longedge)."""
    _, (_, _, ea), (_, _, eb) = _layers(spark, 4)
    return ea, eb, GridSpec(2048)


def test_fat_cells_get_a_finer_grid_same_rows(fat):
    ea, eb, ea_py, eb_py, grid = fat
    jg = join_grid(ea, eb, grid)
    assert jg.grid_size > grid.grid_size
    pairs = {(r["eid_a"], r["eid_b"]) for r in lsi_join(ea, eb, grid).collect()}
    want = lsi_oracle(ea_py, eb_py)
    assert pairs == want and len(want) > 0

    a_by, b_by = {e["eid"]: e for e in ea_py}, {e["eid"]: e for e in eb_py}
    got = sorted(
        (r["eid_a"], r["eid_b"], Fraction(int(r["num_x"]), int(r["den"])),
         Fraction(int(r["num_y"]), int(r["den"])))
        for r in lsi_join(ea, eb, grid, with_points=True).collect()
    )
    assert got == sorted((a, b, *xsect_point_py(a_by[a], b_by[b])) for a, b in want)


def test_thin_cells_keep_the_caller_grid(thin):
    ea, eb, grid = thin
    assert join_grid(ea, eb, grid) == grid
    # the split path stays reachable through the join
    assert layer_split(eb, grid)[0] == SPLIT_CELLS_DEFAULT


@pytest.mark.parametrize("gsize", [1, 2, 7, 16, 64, 256, 2048, 15000])
def test_grid_is_never_coarsened(fat, gsize):
    ea, eb, _, _, _ = fat
    grid = GridSpec(gsize)
    factor, rest = divmod(join_grid(ea, eb, grid).grid_size, gsize)
    assert rest == 0 and 1 <= factor <= JOIN_GRID_MAX_FACTOR
    assert factor & (factor - 1) == 0  # a power of two


def test_repeat_decision_starts_no_job(spark):
    _, (_, _, ea), (_, _, eb) = _layers(spark, 8)
    grid = GridSpec(2)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    first = join_grid(ea, eb, grid)
    lsi_join(ea, eb, grid)  # builds the plan: stats at the join grid
    assert set(tracker.getJobIdsForGroup()) != before  # the first decision ran the aggs
    before = set(tracker.getJobIdsForGroup())
    assert join_grid(ea, eb, grid) == first
    lsi_join(ea, eb, grid, with_points=True)
    assert set(tracker.getJobIdsForGroup()) == before
