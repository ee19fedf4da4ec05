"""LSI join vs the exact Python oracle on the synthetic lattice pair."""

from fractions import Fraction

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rayjoin_spark.plans.layers import build_edges
from rayjoin_spark.plans.scaling import GridSpec, compute_scaling
from rayjoin_spark.operators.lsi import lsi_join, with_xsect_point, lsi_candidates, lsi_intersect_filter
from rayjoin_spark.sources.datagen import lattice_chains, transformed_lattice

from tests.oracle import build_edges_py, intersect_test_py, lsi_oracle, xsect_point_py


def _collect_layers(spark, m):
    ca, pa = lattice_chains(spark, m)
    cb, pb = transformed_lattice(spark, m)
    scaling = compute_scaling(pa, pb)
    ea = build_edges(ca, pa, scaling)
    eb = build_edges(cb, pb, scaling)
    # python-side mirrors
    ca_py = {r["chain_id"]: (r["left_polygon_id"], r["right_polygon_id"]) for r in ca.collect()}
    cb_py = {r["chain_id"]: (r["left_polygon_id"], r["right_polygon_id"]) for r in cb.collect()}
    pa_py = [(r["chain_id"], r["seq"], r["x"], r["y"]) for r in pa.collect()]
    pb_py = [(r["chain_id"], r["seq"], r["x"], r["y"]) for r in pb.collect()]
    ea_py = build_edges_py(ca_py, pa_py, scaling)
    eb_py = build_edges_py(cb_py, pb_py, scaling)
    return scaling, ea, eb, ea_py, eb_py


def test_edge_build_matches_oracle(spark):
    scaling, ea, eb, ea_py, eb_py = _collect_layers(spark, 4)
    got = {r["eid"]: (r["x1"], r["y1"], r["x2"], r["y2"], r["a"], r["b"], r["c"]) for r in ea.collect()}
    want = {e["eid"]: (e["x1"], e["y1"], e["x2"], e["y2"], e["a"], e["b"], e["c"]) for e in ea_py}
    assert got == want
    got_b = {r["eid"]: (r["a"], r["b"], r["c"]) for r in eb.collect()}
    want_b = {e["eid"]: (e["a"], e["b"], e["c"]) for e in eb_py}
    assert got_b == want_b


@pytest.mark.parametrize("m,gsize", [(4, 64), (8, 64), (8, 7)])
def test_lsi_pairs_match_oracle(spark, m, gsize):
    scaling, ea, eb, ea_py, eb_py = _collect_layers(spark, m)
    got = {(r["eid_a"], r["eid_b"]) for r in lsi_join(ea, eb, GridSpec(gsize)).collect()}
    want = lsi_oracle(ea_py, eb_py)
    assert got == want
    assert len(want) > 0


def test_lsi_no_duplicate_pairs(spark):
    scaling, ea, eb, ea_py, eb_py = _collect_layers(spark, 6)
    rows = lsi_join(ea, eb, GridSpec(32)).collect()
    pairs = [(r["eid_a"], r["eid_b"]) for r in rows]
    assert len(pairs) == len(set(pairs))


def test_lsi_self_join_excludes_identical_edges(spark):
    # joining a layer with itself: identical edges must not intersect
    # (reference src/algo/lsi.h:93-100)
    ca, pa = lattice_chains(spark, 3)
    scaling = compute_scaling(pa)
    ea = build_edges(ca, pa, scaling)
    got = lsi_join(ea, ea, GridSpec(16)).collect()
    for r in got:
        assert r["eid_a"] != r["eid_b"]


def test_lsi_multipoint_chains(spark):
    """Chains with n_points > 2 (subdivided polylines) through the full
    path, vs the oracle on the same subdivided points."""
    from rayjoin_spark.sources.datagen import subdivide_points

    ca, pa = lattice_chains(spark, 4)
    cb, pb = transformed_lattice(spark, 4)
    pa3, pb3 = subdivide_points(pa, 3), subdivide_points(pb, 2)
    scaling = compute_scaling(pa3, pb3)
    ea, eb = build_edges(ca, pa3, scaling), build_edges(cb, pb3, scaling)
    got = {(r["eid_a"], r["eid_b"]) for r in lsi_join(ea, eb, GridSpec(32)).collect()}
    ca_py = {r["chain_id"]: (r["left_polygon_id"], r["right_polygon_id"]) for r in ca.collect()}
    cb_py = {r["chain_id"]: (r["left_polygon_id"], r["right_polygon_id"]) for r in cb.collect()}
    ea_py = build_edges_py(ca_py, sorted((r["chain_id"], r["seq"], r["x"], r["y"]) for r in pa3.collect()), scaling)
    eb_py = build_edges_py(cb_py, sorted((r["chain_id"], r["seq"], r["x"], r["y"]) for r in pb3.collect()), scaling)
    want = lsi_oracle(ea_py, eb_py)
    assert got == want and len(want) > 0
    # each original chain now contributes multiple edges
    assert ea.count() == 3 * 40  # 40 chains x 3 segments


def test_xsect_points_match_oracle(spark):
    scaling, ea, eb, ea_py, eb_py = _collect_layers(spark, 4)
    got = lsi_join(ea, eb, GridSpec(64), with_points=True).collect()
    a_by, b_by = {e["eid"]: e for e in ea_py}, {e["eid"]: e for e in eb_py}
    for r in got:
        x, y = xsect_point_py(a_by[r["eid_a"]], b_by[r["eid_b"]])
        den = int(r["den"])
        assert den > 0
        assert int(r["num_x"]) * x.denominator == x.numerator * den
        assert int(r["num_y"]) * y.denominator == y.numerator * den
        assert abs(r["xsect_xd"] - float(x)) < 1e-6
        assert abs(r["xsect_yd"] - float(y)) < 1e-6


#: segment endpoints on a tiny integer lattice, so shared vertices,
#: T-junctions, collinear overlaps and axis-parallel edges are common
_coord = st.integers(-3, 3)
_segment = st.tuples(_coord, _coord, _coord, _coord).filter(lambda s: s[:2] != s[2:])
_layer = st.lists(_segment, min_size=1, max_size=10)


def _snapped_edges(segments, eid0, unit):
    """Edge rows as plans/layers.build_edges makes them (b >= 0)."""
    out = []
    for i, (x1, y1, x2, y2) in enumerate(segments):
        x1, y1, x2, y2 = x1 * unit, y1 * unit, x2 * unit, y2 * unit
        a, b = y1 - y2, x2 - x1
        if b < 0:
            a, b = -a, -b
        out.append(dict(eid=eid0 + i, x1=x1, y1=y1, x2=x2, y2=y2, a=a, b=b, c=-x1 * a - y1 * b))
    return out


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(a=_layer, b=_layer, unit=st.sampled_from([1, 1 << 22]))
# shared vertex; T-junction; collinear overlap; vertical x horizontal cross
@example(a=[(0, 0, 2, 2)], b=[(2, 2, 3, 0)], unit=1)
@example(a=[(0, 0, 2, 0)], b=[(1, 0, 1, 2)], unit=1)
@example(a=[(0, 0, 3, 0)], b=[(1, 0, 2, 0), (2, 0, 3, 0)], unit=1)
@example(a=[(1, -2, 1, 2)], b=[(-2, 1, 3, 1), (1, 2, 1, 3)], unit=1 << 22)
def test_exact_points_equal_clamped_oracle(spark, a, b, unit):
    """with_xsect_point has no bbox clamp: for every pair the SoS predicate
    keeps, the exact point already lies in the endpoints' bbox, so the
    engine's unclamped point equals the oracle's clamped one row for row."""
    ea_py, eb_py = _snapped_edges(a, 0, unit), _snapped_edges(b, 100, unit)
    schema = "eid long, x1 long, y1 long, x2 long, y2 long, a long, b long, c long"
    cols = ["eid", "x1", "y1", "x2", "y2", "a", "b", "c"]
    ea = spark.createDataFrame([[e[c] for c in cols] for e in ea_py], schema)
    eb = spark.createDataFrame([[e[c] for c in cols] for e in eb_py], schema)
    got = sorted(
        (r["eid_a"], r["eid_b"], Fraction(int(r["num_x"]), int(r["den"])),
         Fraction(int(r["num_y"]), int(r["den"])))
        for r in lsi_join(ea, eb, GridSpec(16), with_points=True).collect()
    )
    want = sorted(
        (e1["eid"], e2["eid"], *xsect_point_py(e1, e2))
        for e1 in ea_py for e2 in eb_py if intersect_test_py(e1, e2)
    )
    assert got == want
