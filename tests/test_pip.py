"""PIP locate vs the exact Python oracle."""

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


def test_pip_sharded_skipmap_parity(spark):
    """Big-grid path: when the column skip-map exceeds the broadcast cap
    it is hash-join sharded by cx instead — results must be identical,
    and the executed plan must not broadcast the map."""
    from rayjoin_spark.operators.pip import PipIndex

    scaling, ea, ea_py, pts = _setup(spark, 4, 150)
    grid = GridSpec(64)
    sharded_idx = PipIndex(ea, grid, skipmap_max_entries=1)  # force shard
    got_sharded = {
        r["point_id"]: (r["closest_eid"], r["face_id"])
        for r in pip_locate(pts, ea, scaling, grid, index=sharded_idx).collect()
    }
    got_bcast = {
        r["point_id"]: (r["closest_eid"], r["face_id"])
        for r in pip_locate(pts, ea, scaling, grid).collect()
    }
    assert got_sharded == got_bcast and len(got_sharded) == 150
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
