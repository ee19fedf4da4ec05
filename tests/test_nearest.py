"""nearest_edge: exact point-to-segment argmin via cell-ring expansion.

Covers: brute-force Fraction parity (incl. degenerate zero-length edges
and endpoint cases), grid invariance over caller grids from one cell to
15000, with the probe grid (plans/cells.probe_grid) and with the caller's
grid forced, the exact-key adversarial case
(two candidate distances whose doubles are bit-identical but whose exact
rationals differ — only the 118-fractional-bit limb key can order them),
and the eid tiebreak on exactly equal distances.
"""

from fractions import Fraction

from pyspark.sql import functions as F

from rayjoin_spark.operators import nearest
from rayjoin_spark.operators.nearest import nearest_edge
from rayjoin_spark.plans.cells import SPLIT_CELLS_DEFAULT, layer_split
from rayjoin_spark.plans.layers import build_edges
from rayjoin_spark.plans.scaling import GridSpec, Scaling, compute_scaling
from rayjoin_spark.sources.datagen import lattice_chains, transformed_lattice

#: identity snap: integer-valued double inputs pass through unchanged
IDENT = Scaling.identity()


def _d2_exact(qx, qy, x1, y1, x2, y2):
    dx, dy = x2 - x1, y2 - y1
    wx, wy = qx - x1, qy - y1
    dot = dx * wx + dy * wy
    len2 = dx * dx + dy * dy
    if len2 == 0 or dot <= 0:
        return Fraction(wx * wx + wy * wy)
    if dot >= len2:
        return Fraction((qx - x2) ** 2 + (qy - y2) ** 2)
    cr = dx * wy - dy * wx
    return Fraction(cr * cr, len2)


def _run(spark, pts, edges, grid):
    pdf = spark.createDataFrame(pts, "point_id long, x double, y double")
    edf = spark.createDataFrame(edges, "eid long, x1 long, y1 long, x2 long, y2 long")
    out = nearest_edge(pdf, edf, IDENT, grid)
    return {r.point_id: (r.eid, r.dist2) for r in out.collect()}


def _brute(pts, edges):
    want = {}
    for pid, qx, qy in pts:
        best = min((_d2_exact(int(qx), int(qy), *e[1:]), e[0]) for e in edges)
        want[pid] = (best[1], int(best[0]))
    return want


def _keep_caller_grid(monkeypatch):
    monkeypatch.setattr(nearest, "probe_grid", lambda grid, rows, box, k: grid)


def test_nearest_edge_bruteforce_and_grid_invariant(spark, monkeypatch):
    import random

    rnd = random.Random(11)
    edges = []
    for eid in range(70):
        x1 = rnd.randrange(-(1 << 20), 1 << 20)
        y1 = rnd.randrange(-(1 << 20), 1 << 20)
        if eid % 11 == 0:
            x2, y2 = x1, y1  # degenerate point-edge
        else:
            x2 = x1 + rnd.randrange(-(1 << 18), 1 << 18)
            y2 = y1 + rnd.randrange(-(1 << 18), 1 << 18)
        edges.append((eid, x1, y1, x2, y2))
    pts = [
        (i, float(rnd.randrange(-(1 << 20), 1 << 20)),
         float(rnd.randrange(-(1 << 20), 1 << 20)))
        for i in range(50)
    ]
    want = _brute(pts, edges)
    # grid invariance: the grid changes candidate generation order and
    # rounds but not the exact argmin, with the probe grid and then with
    # the caller's grid
    for gsize in (1, 16, 256, 15000):
        assert _run(spark, pts, edges, GridSpec(gsize)) == want, gsize
    _keep_caller_grid(monkeypatch)
    for gsize in (1, 16, 256, 15000):
        assert _run(spark, pts, edges, GridSpec(gsize)) == want, ("caller", gsize)


def test_nearest_edge_sub_double_resolution(spark):
    """Two near-parallel long edges whose exact distances to the query
    differ by ~2^-43 at magnitude ~2^20 — float64 rounds both to the SAME
    double, so any double-keyed argmin is a coin flip; the limb key must
    pick the exact winner (proven by Fraction) regardless of eid order."""
    D = 1 << 27
    q = (0, 1.0, 1024.0)  # snapped (1, 1024)
    e1 = (5, 0, 0, D, 1)
    e2 = (6, 0, 0, D + 1, 1)
    d1, d2 = _d2_exact(1, 1024, *e1[1:]), _d2_exact(1, 1024, *e2[1:])
    assert d1 != d2
    assert float(d1) == float(d2)  # the case IS double-degenerate
    want_eid = e1[0] if d1 < d2 else e2[0]
    got = _run(spark, [q], [e1, e2], GridSpec(64))
    assert got[0][0] == want_eid
    # and with the ids swapped, still the exact winner (not an id artifact)
    e1s, e2s = (6, *e1[1:]), (5, *e2[1:])
    want_eid_s = e1s[0] if d1 < d2 else e2s[0]
    got_s = _run(spark, [q], [e1s, e2s], GridSpec(64))
    assert got_s[0][0] == want_eid_s


def test_nearest_edge_tiebreak_and_endpoint(spark):
    # two horizontal edges exactly +/-h from the query: equal distance,
    # lower eid wins
    h = 1000
    edges = [(9, -500, h, 500, h), (4, -500, -h, 500, -h)]
    got = _run(spark, [(0, 0.0, 0.0)], edges, GridSpec(32))
    assert got[0] == (4, h * h)
    # endpoint case: query beyond the segment end
    edges = [(1, 0, 0, 100, 0)]
    got = _run(spark, [(0, 130.0, 40.0)], edges, GridSpec(32))
    assert got[0] == (1, 30 * 30 + 40 * 40)


def test_nearest_edge_split_index_matches_bruteforce(spark, monkeypatch):
    """At gsize 2048 the rotated m=4 lattice's edges span ~234 cells, so
    the edge-cell index is fragmented and holds duplicate (cell, eid)
    rows at fragment seams; the argmin must not see them. The probe grid
    is held at the caller's 2048 (its own pick for this layer is far
    coarser and unsplit)."""
    import random

    _keep_caller_grid(monkeypatch)

    ca, pa = lattice_chains(spark, 4)
    cb, pb = transformed_lattice(spark, 4)
    scaling = compute_scaling(pa, pb)
    edges = [
        tuple(r)
        for r in build_edges(cb, pb, scaling).select("eid", "x1", "y1", "x2", "y2").collect()
    ]
    xs = [v for e in edges for v in (e[1], e[3])]
    ys = [v for e in edges for v in (e[2], e[4])]
    rnd = random.Random(5)
    pts = [
        (i, float(rnd.randint(min(xs), max(xs))), float(rnd.randint(min(ys), max(ys))))
        for i in range(40)
    ]
    grid = GridSpec(2048)
    edf = spark.createDataFrame(edges, "eid long, x1 long, y1 long, x2 long, y2 long")
    assert layer_split(edf, grid)[0] == SPLIT_CELLS_DEFAULT
    assert _run(spark, pts, edges, grid) == _brute(pts, edges)
