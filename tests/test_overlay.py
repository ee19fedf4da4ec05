"""Overlay pipeline vs the sequential Python oracle (reference writer
semantics), plus a committed golden file."""

import os

import pytest

from rayjoin_spark.operators.overlay import overlay, write_cdb
from rayjoin_spark.plans.scaling import GridSpec, Scaling, compute_scaling
from rayjoin_spark.sources.datagen import lattice_chains, transformed_lattice

from tests.oracle import build_edges_py
from tests.oracle_overlay import overlay_oracle

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "overlay_m4.cdb")


def _setup(spark, m):
    ca, pa = lattice_chains(spark, m)
    cb, pb = transformed_lattice(spark, m)
    scaling = compute_scaling(pa, pb)
    layers = []
    for c, p in [(ca, pa), (cb, pb)]:
        c_py = {r["chain_id"]: (r["left_polygon_id"], r["right_polygon_id"]) for r in c.collect()}
        p_py = sorted((r["chain_id"], r["seq"], r["x"], r["y"]) for r in p.collect())
        layers.append((c_py, p_py))
    e0 = build_edges_py(layers[0][0], layers[0][1], scaling)
    e1 = build_edges_py(layers[1][0], layers[1][1], scaling)
    return ca, pa, cb, pb, scaling, layers, e0, e1


@pytest.mark.parametrize("m,gsize", [(3, 32), (4, 16)])
def test_overlay_matches_oracle(spark, m, gsize):
    ca, pa, cb, pb, scaling, layers, e0, e1 = _setup(spark, m)
    oc, op = overlay(ca, pa, cb, pb, scaling, GridSpec(gsize))
    got_chains = sorted(
        (r["chain_id"], r["n_points"], r["first_point_id"], r["last_point_id"],
         r["left_face"], r["right_face"])
        for r in oc.collect()
    )
    got_points = sorted(
        (r["chain_id"], r["seq"], round(r["x"], 9), round(r["y"], 9))
        for r in op.collect()
    )
    chains_rows, points_rows = overlay_oracle(
        [e0, e1], [layers[0][0], layers[1][0]], [layers[0][1], layers[1][1]], scaling
    )
    want_chains = sorted(
        (r["chain_id"], r["n_points"], r["first_point_id"], r["last_point_id"],
         r["left_face"], r["right_face"])
        for r in chains_rows
    )
    want_points = sorted(
        (r["chain_id"], r["seq"], round(r["x"], 9), round(r["y"], 9))
        for r in points_rows
    )
    assert len(got_chains) == len(want_chains)
    assert got_chains == want_chains
    assert got_points == want_points
    assert len(got_chains) > 0


def _adversarial_maps(spark):
    """Fixture where the legacy double-midpoint path provably fails.

    Map A: one edge e from (0,0) to (2000,1000) (the line y = x/2).
    Map B: two verticals o1 (x=100), o2 (x=303) crossing e at (100,50) and
    (303,151.5); a long shallow edge o3 from (1,0) to (2001,1001) (slope
    1001/2000, just BELOW e for x<1001, crossing e at (1001,500.5)); and a
    roof o4 at y=400.

    The fragment of e between o1 and o2 has exact rational midpoint
    (201.5, 100.75), which lies ABOVE o3 (o3(201.5) = 100.350) — its face
    is the region between o3 and o4 (labelled 9). The double path
    re-snaps the midpoint to (201, 100), which falls BELOW o3
    (o3(201) = 100.1) — the upward-ray PIP hits o3 and returns the
    below-o3 face (7). Exact topological propagation (and the oracle's
    Fraction midpoint PIP) return 9."""
    chains_a = spark.createDataFrame(
        [(0, 11, 12)], "chain_id long, left_polygon_id long, right_polygon_id long"
    )
    points_a = spark.createDataFrame(
        [(0, 0, 0.0, 0.0), (0, 1, 2000.0, 1000.0)],
        "chain_id long, seq int, x double, y double",
    )
    chains_b = spark.createDataFrame(
        [(1, 2, 9), (2, 9, 9), (3, 9, 7), (4, 0, 9)],
        "chain_id long, left_polygon_id long, right_polygon_id long",
    )
    points_b = spark.createDataFrame(
        [
            (1, 0, 100.0, -50.0), (1, 1, 100.0, 500.0),
            (2, 0, 303.0, -50.0), (2, 1, 303.0, 500.0),
            (3, 0, 1.0, 0.0), (3, 1, 2001.0, 1001.0),
            (4, 0, -500.0, 400.0), (4, 1, 2500.0, 400.0),
        ],
        "chain_id long, seq int, x double, y double",
    )
    # identity scaling: raw integer-valued doubles ARE the snapped grid
    scaling = Scaling(-500.0, 2500.0, -50.0, 1001.0, 1.0, 1.0, 0.0, 0.0)
    return chains_a, points_a, chains_b, points_b, scaling


def test_overlay_exact_midface_adversarial(spark):
    """The exact side test matches the Fraction-midpoint oracle on a pair
    where a double-rounded midpoint would land in the wrong face."""
    ca, pa, cb, pb, scaling = _adversarial_maps(spark)
    grid = GridSpec(1024)

    oc_exact, op_exact = overlay(ca, pa, cb, pb, scaling, grid)

    c_py = [
        {r["chain_id"]: (r["left_polygon_id"], r["right_polygon_id"]) for r in c.collect()}
        for c in (ca, cb)
    ]
    p_py = [
        sorted((r["chain_id"], r["seq"], r["x"], r["y"]) for r in p.collect())
        for p in (pa, pb)
    ]
    e0 = build_edges_py(c_py[0], p_py[0], scaling)
    e1 = build_edges_py(c_py[1], p_py[1], scaling)
    want_chains, want_points = overlay_oracle(
        [e0, e1], c_py, p_py, scaling
    )

    got = sorted(
        (r["chain_id"], r["n_points"], r["first_point_id"], r["last_point_id"],
         r["left_face"], r["right_face"])
        for r in oc_exact.collect()
    )
    want = sorted(
        (r["chain_id"], r["n_points"], r["first_point_id"], r["last_point_id"],
         r["left_face"], r["right_face"])
        for r in want_chains
    )
    assert got == want


def test_overlay_multipoint_matches_duckdb_oracle(spark):
    """Multi-point chains through the WHOLE pipeline: subdivide every 2nd
    chain of both layers into 3-segment polylines and compare the full
    overlay (chains + points) against the DuckDB one-query oracle."""
    import duckdb

    from pyspark.sql import functions as F

    from rayjoin_spark.sources.datagen import subdivide_fraction
    from rayjoin_spark.sources.overlay_oracle import overlay_oracle_sql

    m, s, every = 4, 3, 2
    ca, pa = lattice_chains(spark, m)
    cb, pb = transformed_lattice(spark, m)
    pa = subdivide_fraction(pa, s, every)
    pb = subdivide_fraction(pb, s, every)
    scaling = compute_scaling(pa, pb)
    oc, op = overlay(ca, pa, cb, pb, scaling, GridSpec(16))
    # multi-point chains actually present in the result walk
    assert oc.agg(F.max("n_points")).collect()[0][0] > 2

    con = duckdb.connect()
    want_c = sorted(map(tuple, con.sql(
        overlay_oracle_sql(m, "chains", subdivide=(s, every))
    ).fetchall()))
    got_c = sorted(
        (r["chain_id"], r["n_points"], r["first_point_id"], r["last_point_id"],
         r["left_face"], r["right_face"])
        for r in oc.collect()
    )
    assert got_c == want_c
    want_p = sorted(map(tuple, con.sql(
        overlay_oracle_sql(m, "points", subdivide=(s, every))
    ).fetchall()))
    got_p = sorted((r["chain_id"], r["seq"], r["x"], r["y"]) for r in op.collect())
    assert got_p == want_p


def test_overlay_fine_grid_matches_duckdb_oracle(spark):
    """The WHOLE overlay at a FINE grid (gsize 2048 on an m=4 lattice:
    unit edges span ~340 cells, so the fragment pre-split fires inside
    both the LSI join and both PipIndexes) must still match the DuckDB
    one-query oracle — grid size is physical, never semantic. This is the
    test-scale correctness half of the bench's overlay_biggrid row."""
    import duckdb

    from rayjoin_spark.sources.overlay_oracle import overlay_oracle_sql

    m = 4
    ca, pa = lattice_chains(spark, m)
    cb, pb = transformed_lattice(spark, m)
    scaling = compute_scaling(pa, pb)
    oc, op = overlay(ca, pa, cb, pb, scaling, GridSpec(2048))
    con = duckdb.connect()
    want_c = sorted(map(tuple, con.sql(overlay_oracle_sql(m, "chains")).fetchall()))
    got_c = sorted(
        (r["chain_id"], r["n_points"], r["first_point_id"], r["last_point_id"],
         r["left_face"], r["right_face"])
        for r in oc.collect()
    )
    assert got_c == want_c
    want_p = sorted(map(tuple, con.sql(overlay_oracle_sql(m, "points")).fetchall()))
    got_p = sorted((r["chain_id"], r["seq"], r["x"], r["y"]) for r in op.collect())
    assert got_p == want_p


def test_overlay_golden_file(spark, tmp_path):
    """End-to-end golden diff, mirroring reference test/test_overlay.sh."""
    ca, pa, cb, pb, scaling, *_ = _setup(spark, 4)
    oc, op = overlay(ca, pa, cb, pb, scaling, GridSpec(16))
    out = tmp_path / "overlay_m4.cdb"
    write_cdb(oc, op, str(out))
    text = out.read_text()
    if not os.path.exists(GOLDEN):
        os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
        with open(GOLDEN, "w") as f:
            f.write(text)
        pytest.skip("golden file created; re-run to compare")
    assert text == open(GOLDEN).read()
