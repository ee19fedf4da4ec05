"""The LSI join grid (plans/cells.join_grid).

A caller's grid whose cells are much wider than the edges multiplies
candidate pairs quadratically in the per-cell fan-out; one whose cells
are much narrower multiplies explode rows. The cell join rescales it by
a power of two to the finest grid whose cells are still as wide as the
layers' mean edge. These tests pin the rule's contract:

* fat cells get a finer join grid, thin cells a coarser one, and the
  rows still equal the exact oracle's (grid size is physical, not
  semantic);
* with the rule patched to the caller's grid, a thin grid still arms
  the long-edge split and its dedup through lsi_join;
* the join grid is a power-of-two rescale within the cap either way;
* the benchmark layers join where the rule says they should;
* the decision reads the frames' cached stats: a repeat starts no job.
"""

from fractions import Fraction

import pytest

from rayjoin_spark.operators.lsi import lsi_join
from rayjoin_spark.plans import cells
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
    scaling, (ca, pa, ea), (cb, pb, eb) = _layers(spark, 4)
    return ea, eb, _py_edges(ca, pa, scaling), _py_edges(cb, pb, scaling), GridSpec(2048)


def _pairs(df) -> list:
    return [(r["eid_a"], r["eid_b"]) for r in df.collect()]


def test_fat_cells_get_a_finer_grid_same_rows(fat):
    ea, eb, ea_py, eb_py, grid = fat
    jg = join_grid(ea, eb, grid)
    assert jg.grid_size > grid.grid_size
    pairs = set(_pairs(lsi_join(ea, eb, grid)))
    want = lsi_oracle(ea_py, eb_py)
    assert pairs == want and len(want) > 0

    a_by, b_by = {e["eid"]: e for e in ea_py}, {e["eid"]: e for e in eb_py}
    got = sorted(
        (r["eid_a"], r["eid_b"], Fraction(int(r["num_x"]), int(r["den"])),
         Fraction(int(r["num_y"]), int(r["den"])))
        for r in lsi_join(ea, eb, grid, with_points=True).collect()
    )
    assert got == sorted((a, b, *xsect_point_py(a_by[a], b_by[b])) for a, b in want)


def test_thin_cells_get_a_coarser_grid_same_rows(thin):
    ea, eb, ea_py, eb_py, grid = thin
    jg = join_grid(ea, eb, grid)
    assert jg.grid_size < grid.grid_size
    # coarse enough that no edge needs the long-edge split any more
    assert layer_split(eb, jg)[0] is None
    got = _pairs(lsi_join(ea, eb, grid))
    want = lsi_oracle(ea_py, eb_py)
    assert len(got) == len(set(got)) and set(got) == want and want


def test_split_reachable_at_the_callers_grid(thin, monkeypatch):
    ea, eb, ea_py, eb_py, grid = thin
    monkeypatch.setattr(cells, "join_grid", lambda a, b, g: g)
    assert layer_split(eb, grid)[0] == SPLIT_CELLS_DEFAULT
    df = lsi_join(ea, eb, grid)
    assert "Deduplicate" in df._jdf.queryExecution().analyzed().toString()
    got = _pairs(df)
    assert len(got) == len(set(got)) and set(got) == lsi_oracle(ea_py, eb_py)


@pytest.mark.parametrize("gsize", [1, 2, 7, 16, 64, 256, 2048, 15000])
def test_join_grid_is_a_power_of_two_rescale(fat, gsize):
    ea, eb, _, _, _ = fat
    g = join_grid(ea, eb, GridSpec(gsize)).grid_size
    shifts = range(JOIN_GRID_MAX_FACTOR.bit_length())  # 2^0 .. the cap
    assert g in {gsize << n for n in shifts} | {max(gsize >> n, 1) for n in shifts}


@pytest.mark.parametrize("name, grids", [
    ("lsi_coarse", {32: 256, 48: 192}),
    ("fine_grid", {5000: 625, 512: 512}),
])
def test_benchmark_layers_join_grid(spark, name, grids):
    """The seed-1 benchmark layers (workload and gate grids): lsi_coarse's
    fat cells refine as before, fine_grid's thin 5000 coarsens to 625."""
    from spatialbench.workloads import WORKLOADS, Params

    ca, pa, cb, pb = WORKLOADS[name](spark, Params.from_seed(1)).raw_layers()
    scaling = compute_scaling(pa, pb)
    ea, eb = build_edges(ca, pa, scaling), build_edges(cb, pb, scaling)
    got = {g: join_grid(ea, eb, GridSpec(g)).grid_size for g in grids}
    assert got == grids


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
