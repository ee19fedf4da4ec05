"""The one index-side broadcast rule (plans/cells.index_side): every
index-side join broadcasts while its side fits BROADCAST_ROWS and is
sort-merge pinned above it, with the same rows either way; and the
distance joins leave nothing cached."""

import re

import pytest
from pyspark.sql import functions as F

from rayjoin_spark.operators.dbscan import dbscan
from rayjoin_spark.operators.knn import dist_join, geo_dist_join, knn_points
from rayjoin_spark.operators.nearest import nearest_edge
from rayjoin_spark.operators.overlay import overlay
from rayjoin_spark.operators.pip import pip_locate
from rayjoin_spark.plans import cells
from rayjoin_spark.plans.layers import build_edges
from rayjoin_spark.plans.scaling import GridSpec, Scaling, compute_scaling
from rayjoin_spark.sources.datagen import lattice_chains, transformed_lattice, uniform_points

#: join keys of the point/probe-vs-index joins, per operator
_PIP_KEYS = [{"pcx", "cx"}, {"pcx", "band_cy", "cx", "cy"}]
_ANNULUS_KEYS = [{"cx", "cy", "icx", "icy"}]
_DIST_KEYS = [{"cx", "cy", "ccx", "ccy"}]
_OVERLAY_KEYS = _PIP_KEYS + [{"map_id", "chain_id"}, {"lk", "lv"}, {"rk", "rv"}]


def _points(spark, n, span, idc="point_id", mul=(7, 13)):
    return spark.createDataFrame(
        [(i, float(i * mul[0] % span), float(i * mul[1] % span)) for i in range(n)],
        f"{idc} long, x double, y double",
    )


def _geo(spark, n, idc):
    # microdegree lon/lat on a ~2 x 2 degree patch
    return spark.createDataFrame(
        [(i, (i * 7919) % 2_000_000 - 1_000_000, (i * 104729) % 2_000_000)
         for i in range(n)],
        f"{idc} long, lon_udeg long, lat_udeg long",
    )


def _pip(spark):
    ca, pa = lattice_chains(spark, 4)
    pts = uniform_points(spark, 150, -0.5, 4.5, -0.5, 4.5)
    scaling = compute_scaling(pa, pts)
    return [pip_locate(pts, build_edges(ca, pa, scaling), scaling, GridSpec(16))]


def _knn(spark):
    cs = _points(spark, 60, 50, "corpus_id", (11, 3))
    return [knn_points(_points(spark, 20, 50), cs, Scaling.identity(), GridSpec(16), k=3)]


def _nearest(spark):
    edges = spark.createDataFrame(
        [(i, i * 50, 0, i * 50 + 30, 1000) for i in range(20)],
        "eid long, x1 long, y1 long, x2 long, y2 long",
    )
    return [nearest_edge(_points(spark, 20, 1000), edges, Scaling.identity(), GridSpec(16))]


def _dist(spark):
    scaling = Scaling.from_bbox(0.0, 100.0, 0.0, 100.0)
    cs = _points(spark, 60, 100, "corpus_id", (61, 29))
    return [dist_join(_points(spark, 40, 100), cs, scaling, GridSpec(16), d_int=1 << 24)]


def _geo_dist(spark):
    return [geo_dist_join(_geo(spark, 40, "point_id"), _geo(spark, 60, "corpus_id"),
                          max_meters=50_000.0)]


def _overlay(spark):
    ca, pa = lattice_chains(spark, 2)
    cb, pb = transformed_lattice(spark, 2)
    return list(overlay(ca, pa, cb, pb, compute_scaling(pa, pb), GridSpec(16)))


OPS = [
    pytest.param(_pip, _PIP_KEYS, id="pip_locate"),
    pytest.param(_knn, _ANNULUS_KEYS, id="knn_points"),
    pytest.param(_nearest, _ANNULUS_KEYS, id="nearest_edge"),
    pytest.param(_dist, _DIST_KEYS, id="dist_join"),
    pytest.param(_geo_dist, _DIST_KEYS, id="geo_dist_join"),
    pytest.param(_overlay, _OVERLAY_KEYS, id="overlay"),
]


def _digest(df):
    """(count, decimal sum of xxhash64 over every column)."""
    r = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return r["n"], r["h"]


def _next_execution(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1) + 1


def _joins_since(spark, first_execution: int) -> list[tuple[str, frozenset]]:
    """(node name, key column names of both sides) of every equi-join in
    the SQL executions numbered >= first_execution, read from the status
    store (eager rounds and checkpoints run as executions of their own)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid < first_execution:
            continue
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            n = nodes.apply(j)
            if not n.name().endswith("Join"):
                continue
            keys = re.findall(r"\[([^\]]*)\]", n.desc())[:2]
            names = {re.sub(r"#\d+L?$", "", k.strip()) for part in keys for k in part.split(",")}
            out.append((n.name(), frozenset(names)))
    return out


def _run(spark, op):
    spark.catalog.clearCache()
    first = _next_execution(spark)
    digests = [_digest(df) for df in op(spark)]
    return digests, _joins_since(spark, first)


@pytest.mark.parametrize("op,index_keys", OPS)
def test_index_side_rule_same_rows(spark, monkeypatch, op, index_keys):
    """Broadcast (default cap) and sort-merge (cap 0) give equal digests,
    and at cap 0 every index-keyed join runs as a sort-merge join."""
    index_keys = [frozenset(k) for k in index_keys]
    want, joins = _run(spark, op)
    assert all(d[0] > 0 for d in want), want
    for keys in index_keys:
        assert {name for name, k in joins if k == keys} == {"BroadcastHashJoin"}, (keys, joins)

    monkeypatch.setattr(cells, "BROADCAST_ROWS", 0)
    got, joins = _run(spark, op)
    assert got == want
    for keys in index_keys:
        assert {name for name, k in joins if k == keys} == {"SortMergeJoin"}, (keys, joins)


def _dbscan(spark):
    return dbscan(_points(spark, 40, 100), Scaling.from_bbox(0.0, 100.0, 0.0, 100.0),
                  GridSpec(16), eps_int=1 << 24, min_pts=2)


@pytest.mark.parametrize(
    "op",
    [
        pytest.param(_dbscan, id="dbscan"),
        pytest.param(lambda s: _dist(s)[0], id="dist_join"),
        pytest.param(lambda s: _geo_dist(s)[0], id="geo_dist_join"),
    ],
)
def test_distance_joins_leave_nothing_cached(spark, op):
    """The corpus is counted, not persisted: nothing stays cached."""
    spark.catalog.clearCache()
    assert op(spark).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
