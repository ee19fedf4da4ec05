"""knn_points vs a brute-force oracle (exact integer distances), incl.
the annulus-batching edge cases: sparse corpora that survive many empty
windows, ties exactly at the covered radius, k > |corpus|, and caller
grids from one cell to far finer than the corpus, with the probe grid
(plans/cells.probe_grid) and with the caller's grid forced."""

import math

import pytest

from rayjoin_spark.operators import knn
from rayjoin_spark.operators.knn import knn_points
from rayjoin_spark.plans.cells import probe_grid
from rayjoin_spark.plans.scaling import GridSpec, Scaling

#: caller grids of the grid-invariance tests: one cell, coarse, fine and
#: the benchmark's finest
CALLER_GRIDS = (1, 16, 256, 15000)


def _keep_caller_grid(monkeypatch):
    monkeypatch.setattr(knn, "probe_grid", lambda grid, rows, box, k: grid)


def _brute(qs, cs, k, sc):
    out = {}
    for qid, qx, qy in qs:
        qxi, qyi = sc.scale_xy(qx, qy)
        cand = []
        for cid, x, y in cs:
            xi, yi = sc.scale_xy(x, y)
            cand.append(((xi - qxi) ** 2 + (yi - qyi) ** 2, cid))
        out[qid] = sorted(cand)[:k]
    return out


def _run(spark, qs, cs, k, gsize):
    qdf = spark.createDataFrame(qs, "point_id long, x double, y double")
    cdf = spark.createDataFrame(cs, "corpus_id long, x double, y double")
    sc = Scaling.identity()
    got = {}
    rows = knn_points(qdf, cdf, sc, GridSpec(gsize), k=k).collect()
    for r in rows:
        got.setdefault(r["point_id"], []).append(
            (r["rank"], r["dist2"], r["corpus_id"])
        )
    return {
        q: [(d, c) for _, d, c in sorted(v)] for q, v in got.items()
    }, sc


def _scatter(seed, n_c, n_q, lo, hi, margin):
    import random

    rng = random.Random(seed)
    cs = [(i, rng.uniform(lo, hi), rng.uniform(lo, hi)) for i in range(n_c)]
    qs = [(i, rng.uniform(lo - margin, hi + margin), rng.uniform(lo - margin, hi + margin))
          for i in range(n_q)]
    return qs, cs


def test_knn_matches_bruteforce_dense_and_grid_invariant(spark, monkeypatch):
    """A corpus spread over [0, 100]^2 and one clustered in a 50x50 box
    far from the origin (the probe grid refines it to cells a few units
    wide), queries a little outside each corpus, and one query at the
    origin, millions of probe cells from the clustered corpus: its rings
    start at the corpus cells and are clipped to them. Each at every
    caller grid, with the probe grid and with the caller's grid."""
    sc = Scaling.identity()
    qs, cs = _scatter(8, 300, 40, 1e8, 1e8 + 50, 20)
    cases = [_scatter(7, 400, 60, 0, 100, 5), (qs + [(40, 0.0, 0.0)], cs)]
    wants = [_brute(qs, cs, 5, sc) for qs, cs in cases]
    for mode in ("probe", "caller"):
        if mode == "caller":
            _keep_caller_grid(monkeypatch)
        for (qs, cs), want in zip(cases, wants):
            for gsize in CALLER_GRIDS:
                got, _ = _run(spark, qs, cs, 5, gsize)
                assert got == want, (mode, gsize)


@pytest.mark.parametrize("gsize", CALLER_GRIDS)
def test_probe_grid_density_on_a_clustered_corpus(gsize):
    """400 identity-scaled points in a 50x50 box: from any caller grid,
    the probe grid's expected rows per box cell lie in [target, 4 target),
    target = (k + 3 sqrt(k) + 2) / pi."""
    _, cs = _scatter(9, 400, 0, 1000, 1050, 0)
    box = (
        int(min(x for _, x, _ in cs)), int(max(x for _, x, _ in cs)),
        int(min(y for _, _, y in cs)), int(max(y for _, _, y in cs)),
    )
    k = 5
    g = probe_grid(GridSpec(gsize), len(cs), box, k)
    cells = (g.cell_of_py(box[1]) - g.cell_of_py(box[0]) + 1) * (
        g.cell_of_py(box[3]) - g.cell_of_py(box[2]) + 1
    )
    target = (k + 3 * math.sqrt(k) + 2) / math.pi
    assert target <= len(cs) / cells < 4 * target, (g, cells)
    assert g.cell_scale <= 1.0


def test_knn_sparse_corpus_and_k_exceeds_corpus(spark):
    # 3 corpus points, at caller grids up to 15000: queries must expand
    # far and still return ALL points (k=5 > |corpus|=3) in exact order
    cs = [(1, 10.0, 10.0), (2, 90.0, 90.0), (3, 90.0, 10.0)]
    qs = [(0, 0.0, 0.0), (1, 50.0, 50.0), (2, 100.0, 100.0)]
    sc = Scaling.identity()
    want = _brute(qs, cs, 5, sc)
    for gsize in CALLER_GRIDS:
        got, _ = _run(spark, qs, cs, 5, gsize)
        assert got == want, gsize


def test_knn_tie_at_covered_radius_and_id_tiebreak(spark):
    # two corpus points exactly equidistant: ranks decided by id; a third
    # point farther out must not displace them
    cs = [(7, 0.0, 5.0), (3, 5.0, 0.0), (9, 12.0, 0.0)]
    qs = [(0, 0.0, 0.0)]
    sc = Scaling.identity()
    want = _brute(qs, cs, 2, sc)
    got, _ = _run(spark, qs, cs, 2, 32)
    assert got == want
