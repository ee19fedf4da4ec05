"""dist_join semantics: exact within-distance pairs, grid-invariant."""

from pyspark.sql import functions as F

from rayjoin_spark.operators.knn import dist_join
from rayjoin_spark.plans.scaling import GridSpec, Scaling


def _pts(spark, rows, idc):
    return spark.createDataFrame(rows, f"{idc} bigint, x double, y double")


def _brute(spark, qs, cs, scaling, d_int):
    q = qs.select(
        F.col("point_id").alias("qid"),
        scaling.scale_x(F.col("x")).alias("qx"),
        scaling.scale_y(F.col("y")).alias("qy"),
    )
    c = cs.select(
        F.col("corpus_id").alias("cid"),
        scaling.scale_x(F.col("x")).alias("cx"),
        scaling.scale_y(F.col("y")).alias("cy"),
    )
    d2 = (F.col("cx") - F.col("qx")) * (F.col("cx") - F.col("qx")) + (
        F.col("cy") - F.col("qy")
    ) * (F.col("cy") - F.col("qy"))
    return {
        (r["qid"], r["cid"], r["d"])
        for r in q.crossJoin(c)
        .withColumn("d", d2)
        .filter(F.col("d") <= d_int * d_int)
        .collect()
    }


def test_dist_join_matches_bruteforce_and_grid_invariant(spark):
    scaling = Scaling.from_bbox(0.0, 100.0, 0.0, 100.0)
    # deterministic scatter incl. coincident and far points
    qrows = [(i, float((i * 37) % 101), float((i * 53) % 97)) for i in range(40)]
    crows = [(i, float((i * 61) % 103), float((i * 29) % 89)) for i in range(60)]
    qs = _pts(spark, qrows, "point_id")
    cs = _pts(spark, crows, "corpus_id")
    d_int = 1 << 24  # ~3 units in a 100-unit domain
    want = _brute(spark, qs, cs, scaling, d_int)
    for gsize in (1, 16, 64):
        got = {
            (r["point_id"], r["corpus_id"], r["dist2"])
            for r in dist_join(
                qs, cs, scaling, GridSpec(gsize), d_int=d_int
            ).collect()
        }
        assert got == want, f"gsize={gsize}: {len(got)} vs brute {len(want)}"
    assert len(want) > 0  # fixture sanity: the radius actually matches pairs


def test_dist_join_zero_radius_hits_coincident_only(spark):
    scaling = Scaling.from_bbox(0.0, 10.0, 0.0, 10.0)
    qs = _pts(spark, [(1, 2.0, 2.0), (2, 9.0, 9.0)], "point_id")
    cs = _pts(spark, [(10, 2.0, 2.0), (11, 5.0, 5.0)], "corpus_id")
    out = dist_join(qs, cs, scaling, GridSpec(8), d_int=0).collect()
    assert [(r["point_id"], r["corpus_id"], r["dist2"]) for r in out] == [(1, 10, 0)]


def test_dist_join_empty_corpus(spark):
    scaling = Scaling.from_bbox(0.0, 10.0, 0.0, 10.0)
    qs = _pts(spark, [(1, 2.0, 2.0)], "point_id")
    cs = _pts(spark, [], "corpus_id")
    assert dist_join(qs, cs, scaling, GridSpec(8), d_int=1 << 20).count() == 0


def test_geo_dist_join_wrap_and_polar(spark):
    # pair straddling the antimeridian (0.1 deg apart at the equator,
    # ~11 km) must be found via the lon wrap; polar pair at lat 84.9/84.95
    # exercises the worst-latitude ring sizing; far pair excluded
    from rayjoin_spark.operators.knn import geo_dist_join

    pts = spark.createDataFrame(
        [
            (1, 179_950_000, 0),
            (2, -179_950_000, 0),        # ~11.1 km from 1 across the seam
            (3, 0, 84_900_000),
            (4, 500_000, 84_950_000),    # ~7.4 km from 3 (lon shrunk by cos)
            (5, 0, 0),                   # far from everything
        ],
        "doc_id bigint, lon_udeg bigint, lat_udeg bigint",
    )
    out = {
        (r["doc_id"], r["doc_id_r"]): r["dist_m"]
        for r in geo_dist_join(
            pts, pts, max_meters=50_000.0, query_id="doc_id", corpus_id="doc_id"
        ).collect()
    }
    assert out[(1, 1)] == 0 and out[(5, 5)] == 0
    assert (1, 2) in out and 10_000 < out[(1, 2)] < 13_000
    assert (2, 1) in out and out[(2, 1)] == out[(1, 2)]
    assert (3, 4) in out and 5_000 < out[(3, 4)] < 10_000
    assert (1, 5) not in out and (5, 3) not in out


def test_closest_pair_exact_and_widening(spark):
    from rayjoin_spark.operators.knn import closest_pair

    scaling = Scaling.from_bbox(0.0, 100.0, 0.0, 100.0)
    # far-apart scatter: only one pair is close
    rows = [(1, 0.0, 0.0), (2, 90.0, 90.0), (3, 50.0, 10.0), (4, 52.0, 11.0)]
    pts = _pts(spark, rows, "point_id")
    got = closest_pair(pts, scaling, GridSpec(64)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["point_a"], r["point_b"]) == (3, 4)
    # brute check of dist2 in the snapped domain
    s = pts.select(
        "point_id",
        scaling.scale_x(F.col("x")).alias("sx"),
        scaling.scale_y(F.col("y")).alias("sy"),
    ).collect()
    m = {q["point_id"]: (q["sx"], q["sy"]) for q in s}
    d2 = (m[3][0] - m[4][0]) ** 2 + (m[3][1] - m[4][1]) ** 2
    assert r["dist2"] == d2


def test_closest_pair_tie_breaks_on_ids(spark):
    from rayjoin_spark.operators.knn import closest_pair

    scaling = Scaling.from_bbox(0.0, 100.0, 0.0, 100.0)
    # two pairs at identical distance; (1,2) wins on id order
    rows = [(2, 0.0, 0.0), (1, 10.0, 0.0), (9, 0.0, 50.0), (5, 10.0, 50.0)]
    r = closest_pair(_pts(spark, rows, "point_id"), scaling, GridSpec(64)).collect()[0]
    assert (r["point_a"], r["point_b"]) == (1, 2)


def test_closest_pair_single_point_empty(spark):
    from rayjoin_spark.operators.knn import closest_pair

    scaling = Scaling.from_bbox(0.0, 100.0, 0.0, 100.0)
    r = closest_pair(_pts(spark, [(1, 5.0, 5.0)], "point_id"), scaling, GridSpec(64))
    assert r.count() == 0


def test_closest_pair_widens_to_the_cap(spark):
    """Two points ~90 units apart at a fine caller grid: the pair is
    found however far apart the two points are."""
    from rayjoin_spark.operators.knn import closest_pair

    scaling = Scaling.from_bbox(0.0, 100.0, 0.0, 100.0)
    pts = _pts(spark, [(1, 5.0, 5.0), (2, 95.0, 5.0)], "point_id")
    got = closest_pair(pts, scaling, GridSpec(15000)).collect()
    assert [(r["point_a"], r["point_b"]) for r in got] == [(1, 2)]
