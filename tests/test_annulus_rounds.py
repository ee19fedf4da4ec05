"""The annulus round loop behind knn_points and nearest_edge
(plans/cells.annulus_rounds): its index-side rule and what it leaves
cached."""

import pytest

from rayjoin_spark.operators.knn import knn_points
from rayjoin_spark.operators.nearest import nearest_edge
from rayjoin_spark.plans import cells
from rayjoin_spark.plans.scaling import GridSpec, Scaling


def _knn(spark):
    qs = spark.createDataFrame(
        [(i, float(i * 7 % 50), float(i * 13 % 50)) for i in range(20)],
        "point_id long, x double, y double",
    )
    cs = spark.createDataFrame(
        [(i, float(i * 11 % 50), float(i * 3 % 50)) for i in range(60)],
        "corpus_id long, x double, y double",
    )
    return knn_points(qs, cs, Scaling.identity(), GridSpec(16), k=3)


def _nearest(spark):
    pts = spark.createDataFrame(
        [(i, float(i * 7 % 1000), float(i * 13 % 1000)) for i in range(20)],
        "point_id long, x double, y double",
    )
    edges = spark.createDataFrame(
        [(i, i * 50, 0, i * 50 + 30, 1000) for i in range(20)],
        "eid long, x1 long, y1 long, x2 long, y2 long",
    )
    return nearest_edge(pts, edges, Scaling.identity(), GridSpec(16))


OPS = [pytest.param(_knn, id="knn_points"), pytest.param(_nearest, id="nearest_edge")]


def _cell_joins_since(spark, first_execution: int) -> list[str]:
    """(name, desc) of every join node on the index cell key in the SQL
    executions numbered >= first_execution, read from the status store
    (the rounds are checkpointed, so the result's own plan no longer
    shows them)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
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
            if "Join" in n.name() and "icx" in n.desc():
                out.append(n.name())
    return out


def _next_execution(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1) + 1


@pytest.mark.parametrize("op", OPS)
def test_large_index_pins_sort_merge(spark, monkeypatch, op):
    """Above the row bound the index is persisted and every round's cell
    join runs as a sort-merge join, never a (possibly AQE-converted)
    broadcast."""
    monkeypatch.setattr(cells, "BROADCAST_ROWS", 0)
    first = _next_execution(spark)
    assert op(spark).collect()
    joins = _cell_joins_since(spark, first)
    assert joins and set(joins) == {"SortMergeJoin"}, joins


@pytest.mark.parametrize("bound", [None, 0], ids=["broadcast", "merge"])
@pytest.mark.parametrize("op", OPS)
def test_rounds_leave_nothing_cached(spark, monkeypatch, op, bound):
    """The output reads only checkpointed rounds, so whatever the loop
    persisted is released before it returns."""
    if bound is not None:
        monkeypatch.setattr(cells, "BROADCAST_ROWS", bound)
    spark.catalog.clearCache()
    assert op(spark).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
