"""PIP locate vs the exact Python oracle."""

import re

import pytest
from pyspark.sql import functions as F

from rayjoin_spark.plans.layers import build_edges
from rayjoin_spark.plans.scaling import GridSpec, compute_scaling
from rayjoin_spark.operators.pip import pip_locate, prepare_query_points
from rayjoin_spark.sources.datagen import lattice_chains, transformed_lattice, uniform_points

from tests.oracle import build_edges_py, pip_oracle_one, face_of, scale_points_py


def _setup(spark, m, n_points, pad=0.5):
    ca, pa = lattice_chains(spark, m)
    pts = uniform_points(spark, n_points, -pad, m + pad, -pad, m + pad)
    scaling = compute_scaling(pa, pts)
    ea = build_edges(ca, pa, scaling)
    ca_py = {r["chain_id"]: (r["left_polygon_id"], r["right_polygon_id"]) for r in ca.collect()}
    pa_py = [(r["chain_id"], r["seq"], r["x"], r["y"]) for r in pa.collect()]
    ea_py = build_edges_py(ca_py, pa_py, scaling)
    return scaling, ea, ea_py, pts


def _check(spark, scaling, ea, ea_py, pts, gsize, **kw):
    got = {
        r["point_id"]: (r["closest_eid"], r["face_id"])
        for r in pip_locate(pts, ea, scaling, GridSpec(gsize), **kw).collect()
    }
    pts_rows = pts.collect()
    xi, yi = scale_points_py([r["x"] for r in pts_rows], [r["y"] for r in pts_rows], scaling)
    assert len(got) == len(pts_rows)
    n_hits = 0
    for r, px, py in zip(pts_rows, xi, yi):
        best = pip_oracle_one(int(px), int(py), ea_py)
        eid = None if best is None else best["eid"]
        face = face_of(best)
        if best is not None:
            n_hits += 1
        assert got[r["point_id"]] == (eid, face), (
            f"point {r['point_id']} at ({r['x']},{r['y']}) snapped ({px},{py}): "
            f"got {got[r['point_id']]}, want ({eid},{face})"
        )
    return n_hits


@pytest.mark.parametrize("gsize", [4, 32, 256])
def test_pip_matches_oracle(spark, gsize):
    scaling, ea, ea_py, pts = _setup(spark, 4, 200)
    n_hits = _check(spark, scaling, ea, ea_py, pts, gsize)
    assert 0 < n_hits < 200  # both hits and misses exercised


def test_pip_sharded_skipmap_parity(spark, monkeypatch):
    """Big-grid path: when the column skip-map exceeds the broadcast cap
    it is sharded by cx in a sort-merge join instead — results must be
    identical, and the executed plan must not broadcast the map."""
    from rayjoin_spark.operators.pip import PipIndex
    from rayjoin_spark.plans import cells

    scaling, ea, ea_py, pts = _setup(spark, 4, 150)
    grid = GridSpec(64)
    got_bcast = {
        r["point_id"]: (r["closest_eid"], r["face_id"])
        for r in pip_locate(pts, ea, scaling, grid).collect()
    }
    monkeypatch.setattr(cells, "BROADCAST_ROWS", 0)  # force shard
    # a cached frame matches its plan regardless of join hints: drop the
    # broadcast run's caches so the sharded run plans its own joins
    spark.catalog.clearCache()
    sharded_idx = PipIndex(ea, grid)
    located = pip_locate(pts, ea, scaling, grid, index=sharded_idx)
    got_sharded = {r["point_id"]: (r["closest_eid"], r["face_id"]) for r in located.collect()}
    assert got_sharded == got_bcast and len(got_sharded) == 150
    # the skip-map join (keys pcx = cx alone) is not a broadcast join
    plan = located._jdf.queryExecution().executedPlan().toString()
    skip_joins = re.findall(r"(\w+Join) \[pcx#\d+L?\], \[cx#\d+L?\]", plan)
    assert skip_joins and "BroadcastHashJoin" not in skip_joins, skip_joins
    # the oracle agrees too
    _check(spark, scaling, ea, ea_py, pts, 64, index=sharded_idx)


def test_pip_query_map_id_zero(spark):
    scaling, ea, ea_py, pts = _setup(spark, 3, 60)
    got = {
        r["point_id"]: (r["closest_eid"], r["face_id"])
        for r in pip_locate(pts, ea, scaling, GridSpec(32), query_map_id=0).collect()
    }
    pts_rows = pts.collect()
    xi, yi = scale_points_py([r["x"] for r in pts_rows], [r["y"] for r in pts_rows], scaling)
    for r, px, py in zip(pts_rows, xi, yi):
        best = pip_oracle_one(int(px), int(py), ea_py, query_map_id=0)
        assert got[r["point_id"]] == (
            None if best is None else best["eid"],
            face_of(best),
        )


def test_pip_points_on_lattice_vertices(spark):
    """Degenerate queries: points exactly on edges/vertices — SoS must
    resolve them deterministically, never 'on boundary'."""
    ca, pa = lattice_chains(spark, 3)
    rows = [(i * 4 + j, float(i), float(j)) for i in range(4) for j in range(4)]
    pts = pa.sparkSession.createDataFrame(rows, "point_id long, x double, y double")
    scaling = compute_scaling(pa, pts)
    ea = build_edges(ca, pa, scaling)
    ca_py = {r["chain_id"]: (r["left_polygon_id"], r["right_polygon_id"]) for r in ca.collect()}
    pa_py = [(r["chain_id"], r["seq"], r["x"], r["y"]) for r in pa.collect()]
    ea_py = build_edges_py(ca_py, pa_py, scaling)
    got = {
        r["point_id"]: (r["closest_eid"], r["face_id"])
        for r in pip_locate(pts, ea, scaling, GridSpec(16)).collect()
    }
    xi, yi = scale_points_py([r[1] for r in rows], [r[2] for r in rows], scaling)
    for (pid, x, y), px, py in zip(rows, xi, yi):
        best = pip_oracle_one(int(px), int(py), ea_py)
        assert got[pid] == (None if best is None else best["eid"], face_of(best))


@pytest.fixture(scope="module")
def edge_cases(spark):
    """m=4 lattice plus one steep chain right of it, (4.5, -3) -> (5, 7),
    and a flat one above it, (4, 7.5) -> (4.9, 7.5), with uniform points
    over [-4, 8]^2 and three placed ones: (-3.5, 0) in a column no edge
    reaches (NULL cys), (0.5, 7.5) above every edge of its column (empty
    cands), and (4.9, -3.9) under the steep edge, whose crossing lies far
    above the band at fine grids (a rejected band argmin). The flat edge
    ends at that point's x, which its SoS x-range excludes, so the
    completion meets a candidate cell with no match there."""
    ca, pa = lattice_chains(spark, 4)
    ca = ca.unionByName(spark.createDataFrame(
        [(1000, 100, 101), (1001, 101, 102)],
        "chain_id long, left_polygon_id long, right_polygon_id long"))
    pa = pa.unionByName(spark.createDataFrame(
        [(1000, 0, 4.5, -3.0), (1000, 1, 5.0, 7.0), (1001, 0, 4.0, 7.5), (1001, 1, 4.9, 7.5)],
        "chain_id long, seq int, x double, y double"),
        allowMissingColumns=True)
    placed = [(-3.5, 0.0), (0.5, 7.5), (4.9, -3.9)]
    pts = uniform_points(spark, 300, -4.0, 8.0, -4.0, 8.0).unionByName(spark.createDataFrame(
        [(300 + i, x, y) for i, (x, y) in enumerate(placed)], "point_id long, x double, y double"))
    pts = pts.localCheckpoint(eager=True)
    scaling = compute_scaling(pa, pts)
    ea = build_edges(ca, pa, scaling).localCheckpoint(eager=True)
    ca_py = {r["chain_id"]: (r["left_polygon_id"], r["right_polygon_id"]) for r in ca.collect()}
    pa_py = [(r["chain_id"], r["seq"], r["x"], r["y"]) for r in pa.collect()]
    return scaling, ea, build_edges_py(ca_py, pa_py, scaling), pts


@pytest.mark.parametrize("broadcast", [True, False], ids=["broadcast", "merge"])
@pytest.mark.parametrize("gsize", [4, 32, 256])
def test_pip_edge_cases_match_oracle(spark, monkeypatch, edge_cases, gsize, broadcast):
    """Every point gets one row equal to the oracle's, whether it misses
    without a join (NULL or empty cands), is accepted by the band pass,
    or goes to the completion after its band argmin was rejected; with
    the index broadcast and with it shuffled and merge-pinned."""
    from rayjoin_spark.operators import pip
    from rayjoin_spark.plans import cells

    scaling, ea, ea_py, pts = edge_cases
    if not broadcast:
        monkeypatch.setattr(cells, "BROADCAST_ROWS", 0)
    spark.catalog.clearCache()  # cached frames would keep the other run's joins
    grid = GridSpec(gsize)
    index, caches = pip.PipIndex(ea, grid), []
    n_hits = _check(spark, scaling, ea, ea_py, pts, gsize, index=index, caches=caches)
    assert 0 < n_hits < 303

    stepped = next(c for c in caches if "cands" in c.columns)
    placed = {r["point_id"]: r["cands"] for r in stepped.filter("point_id >= 300").collect()}
    assert placed[300] is None and placed[301] == []
    _, (flat_y,) = scale_points_py([4.9], [7.5], scaling)
    assert grid.cell_of_py(int(flat_y)) in placed[302]
    # the band pass over the steep edge's point, as pip_locate runs it
    band = f"slice(cands, 1, {pip.BAND0})"
    banded = stepped.filter("point_id = 302").selectExpr(
        "*", f"{band} AS band", f"element_at({band}, -1) AS band_top")
    best = pip._argmin_in_cells(banded, index, 1, "band", True)
    rejected = best.filter(f"NOT ({pip._accept_sql(grid)})").count()
    # a column of at most BAND0 non-empty cells leaves nothing above the band
    assert rejected == (gsize >= 32)
    for c in caches:
        c.unpersist()
    index.unpersist()
