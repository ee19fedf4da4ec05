"""Long-edge pre-splitting at fine grids (plans/cells.py fragments).

Round-3 finding (ROADMAP): at the reference's fine-grid operating point
(gsize 15000, reference expr/env.sh:12) an edge spanning hundreds of cells
makes the bbox rectangle explode QUADRATIC for diagonal edges, and AQE
then broadcast-converts the exploded side from compressed shuffle stats
and dies at the 8 GiB deserialized cap. These tests pin the fix:

* fragment explode is linear in the span and results are IDENTICAL to the
  coarse-grid / unsplit plan (grid choice is physical, not logical);
* matched pairs are deduped (fragment pairs can re-meet in several cells);
* the explode-aware broadcast guard pins the cell join to sort-merge when
  even the smaller side's estimate passes plans.cells.BROADCAST_ROWS.
"""

import pytest
from pyspark.sql import functions as F

from rayjoin_spark.operators.lsi import lsi_candidates, lsi_join
from rayjoin_spark.operators.pip import pip_locate
from rayjoin_spark.plans import cells
from rayjoin_spark.plans.cells import (
    SPLIT_CELLS_DEFAULT,
    edge_cell_stats,
    explode_edges_to_cells,
    join_grid,
    layer_split,
)
from rayjoin_spark.plans.layers import build_edges
from rayjoin_spark.plans.scaling import GridSpec, compute_scaling
from rayjoin_spark.sources.datagen import (
    lattice_chains,
    transformed_lattice,
    uniform_points,
)


@pytest.fixture(scope="module")
def layers(spark):
    ca, pa = lattice_chains(spark, 4)
    cb, pb = transformed_lattice(spark, 4)
    scaling = compute_scaling(pa, pb)
    ea = build_edges(ca, pa, scaling).localCheckpoint(eager=True)
    eb = build_edges(cb, pb, scaling).localCheckpoint(eager=True)
    return scaling, ea, eb


def test_fragment_explode_is_linear(spark, layers):
    _, _, eb = layers
    fine = GridSpec(2048)
    n, span, est_unsplit, est_split = edge_cell_stats(eb, fine)
    # rotated unit edges span hundreds of cells at gsize 2048 over a
    # ~6-unit world — the quadratic regime
    assert span > 100
    assert est_split * 3 < est_unsplit  # upper-bound estimate already wins
    # estimator is exact for the unsplit explode, an upper bound for the
    # fragmented one
    assert explode_edges_to_cells(eb, fine).count() == est_unsplit
    got_split = explode_edges_to_cells(eb, fine, SPLIT_CELLS_DEFAULT).count()
    assert got_split <= est_split
    assert got_split * 5 < est_unsplit  # the real explode is ~linear in span


def test_split_only_when_its_bound_is_smaller(spark, layers, monkeypatch):
    # the rotated lattice at gsize 64 spans more than the fragment length,
    # but its split bound is above the exact unsplit rows: no split, and
    # the rows of a coarse grid
    _, ea, eb = layers
    grid = GridSpec(64)
    _, span, est_unsplit, est_split = edge_cell_stats(eb, grid)
    assert span > SPLIT_CELLS_DEFAULT and est_split >= est_unsplit
    assert layer_split(eb, grid) == (None, est_unsplit)
    monkeypatch.setattr(cells, "join_grid", lambda a, b, g: g)  # join at 64
    coarse = {(r["eid_a"], r["eid_b"]) for r in lsi_join(ea, eb, GridSpec(16)).collect()}
    got = [(r["eid_a"], r["eid_b"]) for r in lsi_join(ea, eb, grid).collect()]
    assert len(got) == len(set(got)) and set(got) == coarse and coarse


def test_edge_cell_stats_bound_to_the_frame(spark, tmp_path):
    # stats belong to one DataFrame object: a fresh read of an overwritten
    # path gets fresh stats (they steer the OOM-protective broadcast
    # guard), while a repeat call on the same object runs no job
    path = str(tmp_path / "edges")
    grid = GridSpec(16)
    for m in (4, 8):
        ca, pa = lattice_chains(spark, m)
        build_edges(ca, pa, compute_scaling(pa)).write.mode("overwrite").parquet(path)
        edges = spark.read.parquet(path)
        assert edge_cell_stats(edges, grid)[0] == edges.count()
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    edge_cell_stats(edges, grid)
    assert set(tracker.getJobIdsForGroup()) == before


def test_fragment_explode_covers_edge_cells(spark, layers):
    # every (cell, eid) of the exact bbox explode that the edge actually
    # passes through must appear in the fragmented explode; here we check
    # the weaker but sufficient candidate-completeness property on the
    # full LSI result below — this test checks fragments never leave the
    # parent bbox (conservative, never under- OR over-the-parent)
    _, _, eb = layers
    fine = GridSpec(1024)
    frag = explode_edges_to_cells(eb, fine, SPLIT_CELLS_DEFAULT)
    full = explode_edges_to_cells(eb, fine).select("eid", "cx", "cy").distinct()
    extra = frag.select("eid", "cx", "cy").distinct().exceptAll(full)
    assert extra.isEmpty()


def _at_the_callers_grid(monkeypatch, ea, eb, grid):
    """Pin the cell join to ``grid`` (join_grid would coarsen these thin
    cells), where eb's long edges split and the pair dedup runs."""
    monkeypatch.setattr(cells, "join_grid", lambda a, b, g: g)
    assert layer_split(eb, grid)[0] == SPLIT_CELLS_DEFAULT
    analyzed = lsi_join(ea, eb, grid)._jdf.queryExecution().analyzed().toString()
    assert "Deduplicate" in analyzed


def test_lsi_fine_grid_matches_coarse(spark, layers, monkeypatch):
    _, ea, eb = layers
    coarse = {
        (r["eid_a"], r["eid_b"])
        for r in lsi_join(ea, eb, GridSpec(16)).collect()
    }
    _at_the_callers_grid(monkeypatch, ea, eb, GridSpec(2048))
    rows = lsi_join(ea, eb, GridSpec(2048)).collect()  # auto-split fires
    fine = [(r["eid_a"], r["eid_b"]) for r in rows]
    assert len(fine) == len(set(fine))  # deduped despite fragment re-meets
    assert set(fine) == coarse
    assert len(coarse) > 0


def test_lsi_fine_grid_points_match_coarse(spark, layers, monkeypatch):
    _, ea, eb = layers
    key = lambda r: (r["eid_a"], r["eid_b"], str(r["num_x"]), str(r["num_y"]), str(r["den"]))  # noqa: E731
    coarse = {key(r) for r in lsi_join(ea, eb, GridSpec(16), with_points=True).collect()}
    _at_the_callers_grid(monkeypatch, ea, eb, GridSpec(2048))
    fine = {key(r) for r in lsi_join(ea, eb, GridSpec(2048), with_points=True).collect()}
    assert fine == coarse


def test_pip_fine_grid_matches_coarse(spark, layers):
    scaling, _, eb = layers
    pts = uniform_points(spark, 400, 0.0, 4.0, 0.0, 4.0)
    want = {
        (r["point_id"], r["closest_eid"], r["face_id"])
        for r in pip_locate(pts, eb, scaling, GridSpec(16), query_map_id=0).collect()
    }
    got = {
        (r["point_id"], r["closest_eid"], r["face_id"])
        for r in pip_locate(pts, eb, scaling, GridSpec(2048), query_map_id=0).collect()
    }
    assert got == want
    assert len(want) == 400


@pytest.mark.parametrize("op", [lsi_join, lsi_candidates])
def test_broadcast_guard_pins_sort_merge(spark, layers, monkeypatch, op):
    _, ea, eb = layers
    monkeypatch.setattr(cells, "BROADCAST_ROWS", 0)
    df = op(ea, eb, GridSpec(64))
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in analyzed and "merge" in analyzed.lower()
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in executed
    assert "SortMergeJoin" in executed


def test_broadcast_guard_reads_the_smaller_side(spark, layers, monkeypatch):
    """A cap between the two sides' estimates leaves the join unpinned:
    the smaller side is safe to broadcast, whatever the bigger one is."""
    _, ea, eb = layers
    grid = join_grid(ea, eb, GridSpec(64))
    lo, hi = sorted((layer_split(ea, grid)[1], layer_split(eb, grid)[1]))
    assert lo < hi
    monkeypatch.setattr(cells, "BROADCAST_ROWS", lo)
    analyzed = lsi_join(ea, eb, GridSpec(64))._jdf.queryExecution().analyzed().toString()
    assert "merge" not in analyzed.lower()
