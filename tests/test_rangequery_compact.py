"""Unit invariants for operators/rangequery.py and cellcodes.compact_cells
(independent of the DuckDB oracle gate in test_entry_oracle.py)."""

from __future__ import annotations

import random

from rayjoin_spark.functions.cellcodes import compact_cells
from rayjoin_spark.operators.rangequery import range_report, snap_rects
from rayjoin_spark.plans.cells import SPLIT_CELLS_DEFAULT, edge_cell_stats, layer_split
from rayjoin_spark.plans.layers import build_edges
from rayjoin_spark.plans.scaling import GridSpec, Scaling, compute_scaling
from rayjoin_spark.sources.datagen import lattice_chains, transformed_lattice


# ------------------------------------------------------------- compact_cells


def _descendants(cell: int, level: int, target: int) -> set[int]:
    """All level-`target` descendants of a cell at `level` (python oracle)."""
    k = target - level
    base = cell << (2 * k)
    return {base + i for i in range(1 << (2 * k))}


def test_compact_cells_roundtrip_and_minimality(spark):
    rnd = random.Random(42)
    level = 5
    cells = sorted({rnd.randrange(1 << (2 * level)) for _ in range(600)})
    df = spark.createDataFrame([(c,) for c in cells], "cell_id bigint")
    out = compact_cells(df, level=level).collect()

    # 1. the covering is exact: descendants of the output == the input set
    covered: set[int] = set()
    for r in out:
        d = _descendants(r.cell_id, r.level, level)
        assert not (covered & d), "output cells overlap"
        covered |= d
    assert covered == set(cells)

    # 2. minimality: no complete sibling quartet at any level
    by_level: dict[int, set[int]] = {}
    for r in out:
        by_level.setdefault(r.level, set()).add(r.cell_id)
    for lvl, ids in by_level.items():
        if lvl == 0:
            continue
        from collections import Counter

        sibs = Counter(c >> 2 for c in ids)
        assert max(sibs.values()) < 4, f"complete quartet left at level {lvl}"


def test_compact_cells_full_region_collapses_to_root(spark):
    level = 3
    df = spark.createDataFrame(
        [(c,) for c in range(1 << (2 * level))], "cell_id bigint"
    )
    out = compact_cells(df, level=level).collect()
    assert [(r.cell_id, r.level) for r in out] == [(0, 0)]


def test_compact_cells_dedups_input(spark):
    df = spark.createDataFrame([(5,), (5,), (6,)], "cell_id bigint")
    out = {(r.cell_id, r.level) for r in compact_cells(df, level=4).collect()}
    assert out == {(5, 4), (6, 4)}


# -------------------------------------------------------------- range_report


def _brute_pairs(edges, rects):
    """Python oracle: exact SAT segment-vs-AABB over all pairs."""
    out = set()
    for e in edges:
        for r in rects:
            if max(e.x1, e.x2) < r.rx1 or min(e.x1, e.x2) > r.rx2:
                continue
            if max(e.y1, e.y2) < r.ry1 or min(e.y1, e.y2) > r.ry2:
                continue
            s = [
                e.a * x + e.b * y + e.c
                for x in (r.rx1, r.rx2)
                for y in (r.ry1, r.ry2)
            ]
            if min(s) <= 0 <= max(s):
                out.add((r.rect_id, e.eid))
    return out


def _fixture(spark, seed=7, n_edges=200, n_rects=40):
    rnd = random.Random(seed)
    chain_rows, point_rows = [], []
    for cid in range(n_edges):
        x1, y1 = rnd.uniform(0, 1000), rnd.uniform(0, 1000)
        x2 = x1 + rnd.uniform(-80, 80)
        y2 = y1 + rnd.uniform(-80, 80)
        chain_rows.append((cid, 1, 2))
        point_rows.append((cid, 0, x1, y1))
        point_rows.append((cid, 1, x2, y2))
    cdf = spark.createDataFrame(
        chain_rows, "chain_id bigint, left_polygon_id int, right_polygon_id int"
    )
    pdf = spark.createDataFrame(
        point_rows, "chain_id bigint, seq int, x double, y double"
    )
    scaling = Scaling.from_bbox(-100.0, 1100.0, -100.0, 1100.0)
    edges = build_edges(cdf, pdf, scaling)
    rrows = []
    for rid in range(n_rects):
        cx, cy = rnd.uniform(0, 1000), rnd.uniform(0, 1000)
        w, h = rnd.uniform(1, 120), rnd.uniform(1, 120)
        rrows.append((rid, cx - w, cy - h, cx + w, cy + h))
    rdf = spark.createDataFrame(
        rrows, "rect_id bigint, x1 double, y1 double, x2 double, y2 double"
    )
    return edges, snap_rects(rdf, scaling)


def test_range_report_matches_bruteforce(spark):
    edges, rects = _fixture(spark)
    got = {
        (r.rect_id, r.eid)
        for r in range_report(edges, rects, GridSpec(64)).collect()
    }
    want = _brute_pairs(edges.collect(), rects.collect())
    assert got == want
    assert len(want) > 50  # fixture is non-trivial


def test_range_report_grid_invariance(spark):
    edges, rects = _fixture(spark, seed=11)
    a = {
        (r.rect_id, r.eid)
        for r in range_report(edges, rects, GridSpec(16)).collect()
    }
    b = {
        (r.rect_id, r.eid)
        for r in range_report(edges, rects, GridSpec(512)).collect()
    }
    assert a == b


def test_range_report_degenerate_and_touching(spark):
    """A rect whose corner only touches the segment's line, and a segment
    fully inside a rect, both count as intersecting (closed semantics)."""
    scaling = Scaling.from_bbox(0.0, 100.0, 0.0, 100.0)
    cdf = spark.createDataFrame(
        [(0, 1, 2), (1, 1, 2)],
        "chain_id bigint, left_polygon_id int, right_polygon_id int",
    )
    pdf = spark.createDataFrame(
        [
            (0, 0, 10.0, 10.0), (0, 1, 20.0, 20.0),  # diagonal
            (1, 0, 50.0, 50.0), (1, 1, 52.0, 52.0),  # inside rect 1
        ],
        "chain_id bigint, seq int, x double, y double",
    )
    edges = build_edges(cdf, pdf, scaling)
    rects = snap_rects(
        spark.createDataFrame(
            [
                (0, 15.0, 15.0, 18.0, 18.0),  # straddles the diagonal
                (1, 40.0, 40.0, 60.0, 60.0),  # contains edge 1 entirely
                (2, 30.0, 0.0, 40.0, 5.0),  # far away
            ],
            "rect_id bigint, x1 double, y1 double, x2 double, y2 double",
        ),
        scaling,
    )
    got = {
        (r.rect_id, r.eid)
        for r in range_report(edges, rects, GridSpec(8)).collect()
    }
    eids = {r.chain_id: r.eid for r in edges.select("chain_id", "eid").collect()}
    assert (0, eids[0]) in got
    assert (1, eids[1]) in got
    assert all(rid != 2 for rid, _ in got)


# ------------------------------------------------------------------ lm_score


def test_lm_score_hand_computed(spark):
    from pyspark.sql import functions as F

    from rayjoin_spark.functions.textops import lm_score

    df = spark.createDataFrame(
        [(1, "a b a b", "seed"), (2, "a b c", "crawl"), (3, "x", "crawl")],
        "doc_id bigint, text string, source string",
    )
    out = {
        r.doc_id: (r.lm_score, r.n_bigrams)
        for r in lm_score(df, train=F.col("source") == "seed").collect()
    }
    # model: c12 = {(a,b):2, (b,a):1}, c1 = {a:2, b:1}, V = 2
    # d1: (750000 + 666666 + 750000) // 3 ; d2: (750000 + 333333) // 2
    assert out == {1: (722222, 3), 2: (541666, 2)}  # d3 has no bigram -> no row


# ------------------------------------------------------------- clip_segments


def _clip_oracle(e, r):
    """Arbitrary-precision Liang-Barsky (fractions.Fraction)."""
    from fractions import Fraction

    dx, dy = e.x2 - e.x1, e.y2 - e.y1
    t0, t1 = Fraction(0), Fraction(1)
    for d, lo, hi, s in ((dx, r.rx1, r.rx2, e.x1), (dy, r.ry1, r.ry2, e.y1)):
        if d == 0:
            if not (lo <= s <= hi):
                return None
        else:
            tin = Fraction(lo - s, d) if d > 0 else Fraction(hi - s, d)
            tout = Fraction(hi - s, d) if d > 0 else Fraction(lo - s, d)
            t0, t1 = max(t0, tin), min(t1, tout)
    if t0 > t1:
        return None
    return (
        Fraction(e.x1) + dx * t0, Fraction(e.y1) + dy * t0,
        Fraction(e.x1) + dx * t1, Fraction(e.y1) + dy * t1,
    )


def test_clip_segments_matches_fraction_oracle(spark):
    from fractions import Fraction

    from rayjoin_spark.operators.clip import clip_segments

    edges, rects = _fixture(spark, seed=23)
    got = {
        (r.rect_id, r.eid): (
            Fraction(r.cx1_num, r.den1), Fraction(r.cy1_num, r.den1),
            Fraction(r.cx2_num, r.den2), Fraction(r.cy2_num, r.den2),
        )
        for r in clip_segments(edges, rects, GridSpec(64)).collect()
    }
    want = {}
    for e in edges.collect():
        for r in rects.collect():
            res = _clip_oracle(e, r)
            if res is not None:
                want[(r.rect_id, e.eid)] = res
    assert got == want
    assert len(want) > 50


def test_clip_agrees_with_range_report(spark):
    """The clipped pair set IS the range-report set (both closed)."""
    from rayjoin_spark.operators.clip import clip_segments

    edges, rects = _fixture(spark, seed=31)
    clipped = {
        (r.rect_id, r.eid)
        for r in clip_segments(edges, rects, GridSpec(32)).collect()
    }
    reported = {
        (r.rect_id, r.eid)
        for r in range_report(edges, rects, GridSpec(32)).collect()
    }
    assert clipped == reported


def test_fine_grid_range_splits_the_edge_side(spark):
    """At gsize 8192 the rotated m=4 lattice's edges span ~900 cells, so
    the cell-join core fragments the edge side (never the box side):
    range_report and clip_segments return the gsize-64 rows, each pair
    once after the split dedup."""
    from rayjoin_spark.operators.clip import clip_segments

    ca, pa = lattice_chains(spark, 4)
    cb, pb = transformed_lattice(spark, 4)
    scaling = compute_scaling(pa, pb)
    edges = build_edges(cb, pb, scaling).localCheckpoint(eager=True)
    rdf = spark.createDataFrame(
        [(i, 0.3 * i - 0.2, 0.35 * i + 0.4, 0.3 * i + 0.3, 0.35 * i + 0.9) for i in range(8)],
        "rect_id bigint, x1 double, y1 double, x2 double, y2 double",
    )
    rects = snap_rects(rdf, scaling)
    fine, coarse = GridSpec(8192), GridSpec(64)
    k, est = layer_split(edges, fine)
    assert k == SPLIT_CELLS_DEFAULT and est * 10 < edge_cell_stats(edges, fine)[2]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    fine_rr = range_report(edges, rects, fine)
    assert "Deduplicate" in fine_rr._jdf.queryExecution().logical().toString()
    want = rows(range_report(edges, rects, coarse))
    assert want == sorted(_brute_pairs(edges.collect(), rects.collect()))
    assert len(want) >= 10
    assert rows(fine_rr) == want
    clipped = rows(clip_segments(edges, rects, fine))
    assert clipped == rows(clip_segments(edges, rects, coarse))
    assert sorted(r[:2] for r in clipped) == want


def test_clip_endpoints_inside_box_and_ordered(spark):
    from fractions import Fraction

    from rayjoin_spark.operators.clip import clip_segments

    edges, rects = _fixture(spark, seed=47)
    rl = {r.rect_id: r for r in rects.collect()}
    for row in clip_segments(edges, rects, GridSpec(64)).collect():
        r = rl[row.rect_id]
        for num, den, lo, hi in (
            (row.cx1_num, row.den1, r.rx1, r.rx2),
            (row.cx2_num, row.den2, r.rx1, r.rx2),
            (row.cy1_num, row.den1, r.ry1, r.ry2),
            (row.cy2_num, row.den2, r.ry1, r.ry2),
        ):
            v = Fraction(num, den)
            assert lo <= v <= hi, (row, v)
        assert row.den1 > 0 and row.den2 > 0


def test_tile_payloads_partitioning_independent(spark):
    from rayjoin_spark.operators.clip import clip_segments
    from rayjoin_spark.operators.tiles import tile_payloads

    edges, rects = _fixture(spark, seed=59)
    clipped = clip_segments(edges, rects, GridSpec(32))
    a = {r.tile_id: (r.n_segments, r.payload_bytes, r.tile_hash)
         for r in tile_payloads(clipped).collect()}
    b = {r.tile_id: (r.n_segments, r.payload_bytes, r.tile_hash)
         for r in tile_payloads(clipped.repartition(13)).collect()}
    assert a == b and len(a) > 10


def test_rect_join_matches_bruteforce_and_grid_invariant(spark):
    from rayjoin_spark.operators.rangequery import rect_join
    from rayjoin_spark.plans.scaling import GridSpec

    def rects(rows):
        return spark.createDataFrame(
            rows, "rect_id long, rx1 long, ry1 long, rx2 long, ry2 long"
        )

    # overlapping, nested, touching-at-edge, touching-at-corner, disjoint
    ra = rects([
        (1, 0, 0, 10, 10),
        (2, 100, 100, 120, 110),
        (3, -20, -20, -5, -5),
    ])
    rb = rects([
        (10, 5, 5, 15, 15),      # overlaps 1
        (11, 2, 2, 4, 4),        # nested in 1
        (12, 10, 10, 20, 20),    # touches 1 at corner (closed: intersects)
        (13, 120, 90, 140, 100),  # touches 2 at corner
        (14, 500, 500, 501, 501),  # disjoint
    ])
    want = set()
    for a in ra.collect():
        for b in rb.collect():
            if (a["rx1"] <= b["rx2"] and b["rx1"] <= a["rx2"]
                    and a["ry1"] <= b["ry2"] and b["ry1"] <= a["ry2"]):
                want.add((a["rect_id"], b["rect_id"]))
    for g in (1, 16, 256):
        got = {(r["rect_a"], r["rect_b"])
               for r in rect_join(ra, rb, GridSpec(g)).collect()}
        assert got == want, g
    # exactly-once: no pair dedup needed, so count == distinct count
    rows = rect_join(ra, rb, GridSpec(256)).collect()
    assert len(rows) == len(want)


def test_box_sides_explode_at_the_callers_grid(spark, monkeypatch):
    """Boxes never split, so the cell join keeps the caller's grid when a
    side is a box: one domain-wide box among 200 near-point rects (mean
    extent ~1/200 of the domain) explodes to its 8 x 8 cells at gsize 8,
    not to the 128 x 128 of a grid refined to the mean extent."""
    from rayjoin_spark.operators.rangequery import rect_join
    from rayjoin_spark.plans import cells
    from rayjoin_spark.plans.scaling import INTERNAL_MAX, INTERNAL_MIN

    rnd = random.Random(3)

    def tiny(rid):
        x, y = rnd.randrange(-(1 << 27), 1 << 27), rnd.randrange(-(1 << 27), 1 << 27)
        return (rid, x, y, x + 1000, y + 1000)

    schema = "rect_id long, rx1 long, ry1 long, rx2 long, ry2 long"
    big = (999, INTERNAL_MIN, INTERNAL_MIN, INTERNAL_MAX - 1, INTERNAL_MAX - 1)
    ra = spark.createDataFrame([tiny(i) for i in range(200)] + [big], schema)
    rb = spark.createDataFrame([tiny(1000 + i) for i in range(100)], schema)

    seen = []
    real = cells.explode_edges_to_cells

    def spy(edges, grid, *args, **kw):
        out = real(edges, grid, *args, **kw)
        seen.append((grid.grid_size, out))
        return out

    monkeypatch.setattr(cells, "explode_edges_to_cells", spy)
    got = {(r.rect_a, r.rect_b) for r in rect_join(ra, rb, GridSpec(8)).collect()}
    assert [g for g, _ in seen] == [8, 8]
    assert seen[0][1].filter("eid = 999").count() == 64
    assert {(999, b[0]) for b in rb.collect()} <= got
    want = {
        (a.rect_id, b.rect_id)
        for a in ra.collect()
        for b in rb.collect()
        if a.rx1 <= b.rx2 and b.rx1 <= a.rx2 and a.ry1 <= b.ry2 and b.ry1 <= a.ry2
    }
    assert got == want
