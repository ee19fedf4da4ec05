"""Plan regression guard: the physical plans the engine promises.

If a future change drops a filter pushdown or sneaks a Python eval node
into a hot path, this fails before any benchmark notices.
"""

from pyspark.sql import functions as F

from rayjoin_spark.operators.lsi import lsi_join
from rayjoin_spark.operators.pip import prepare_query_points
from rayjoin_spark.plans.layers import build_edges
from rayjoin_spark.plans.scaling import GridSpec, compute_scaling
from rayjoin_spark.sources import derived
from rayjoin_spark.sources.datagen import lattice_chains, transformed_lattice

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lsi_derived_plan(spark):
    j = lsi_join(
        derived.edges_a(spark, SF_DIR), derived.edges_b(spark, SF_DIR), derived.DERIVED_GRID
    )
    plan = _plan(j)
    # predicates reach the parquet scan; no Python on the hot path
    assert "PushedFilters: [IsNotNull" in plan or "DataFilters: [isnotnull" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the scan reads only the needed columns (column pruning)
    assert "l_comment" not in plan and "l_extendedprice" not in plan
    # some hash join on the cell key (broadcast at this size); AQE active
    assert "HashJoin" in plan
    assert "AdaptiveSparkPlan" in plan
    # confirm the hot path compiles into WholeStageCodegen subtrees
    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    codegen = j._jdf.queryExecution().explainString(mode)
    assert "WholeStageCodegen" in codegen


def test_lsi_lattice_plan_no_python(spark):
    ca, pa = lattice_chains(spark, 4)
    cb, pb = transformed_lattice(spark, 4)
    scaling = compute_scaling(pa, pb)
    j = lsi_join(build_edges(ca, pa, scaling), build_edges(cb, pb, scaling), GridSpec(16))
    plan = _plan(j)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ordered_index_matches_global_window(spark):
    """The distributed two-level rank must be byte-identical to the global
    row_number it replaces, across many partitions and range boundaries."""
    from pyspark.sql import Window

    from rayjoin_spark.plans.ranking import ordered_index

    df = spark.range(10_000).select(
        (F.col("id") * 2654435761 % 1000003).alias("k"), F.col("id").alias("v")
    )
    # unique key: (k, v)
    got = ordered_index(df, ["k", "v"], "idx", start=7, num_partitions=16)
    want = df.withColumn(
        "idx", F.row_number().over(Window.orderBy("k", "v")) + 6
    )
    assert got.count() == 10_000
    g = {(r["k"], r["v"]): r["idx"] for r in got.collect()}
    w = {(r["k"], r["v"]): r["idx"] for r in want.collect()}
    assert g == w
    # and the plan has no single-partition exchange
    assert "SinglePartition" not in got._jdf.queryExecution().executedPlan().toString()


def test_overlay_writer_no_single_partition(spark):
    """The overlay writer's dict-encodes must be distributed: no Exchange
    SinglePartition anywhere in the executed chains/points plans
    (round-2 verdict: the global point row_number was a 100x scale-killer)."""
    from rayjoin_spark.operators.overlay import overlay
    from rayjoin_spark.sources.datagen import lattice_chains, transformed_lattice

    ca, pa = lattice_chains(spark, 3)
    cb, pb = transformed_lattice(spark, 3)
    scaling = compute_scaling(pa, pb)
    oc, op = overlay(ca, pa, cb, pb, scaling, GridSpec(16))
    for df in (oc, op):
        df.count()  # finalize AQE so the executed plan is real
        lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            # runtime bloom-filter injection aggregates its (tiny) filter
            # on one partition by design — the data path never does
            ctx = "\n".join(lines[i: i + 4])
            assert "bloom_filter_agg" in ctx, "\n".join(lines[i - 3: i + 6])


def test_point_prep_plan_no_shuffle(spark):
    """Scaling + cell assignment of query points is a narrow map — any
    Exchange here would shuffle the full point table for nothing."""
    ca, pa = lattice_chains(spark, 4)
    scaling = compute_scaling(pa)
    pts = prepare_query_points(
        spark.range(100).selectExpr("id as point_id", "cast(id as double) x", "cast(id as double) y"),
        scaling,
        GridSpec(16),
    )
    assert "Exchange" not in _plan(pts)


def test_pip_locate_joins_no_points_back(spark):
    """pip_locate's output is the disjoint union of the accepted band
    argmins, the completion (one row per unresolved point) and the misses
    without a candidate cell, so the only join keyed on point_id is the
    completion's anti-join against the accepted set: no join brings the
    hits back to the input points."""
    import re

    from rayjoin_spark.operators.pip import pip_locate
    from rayjoin_spark.sources.datagen import uniform_points

    ca, pa = lattice_chains(spark, 4)
    pts = uniform_points(spark, 100, -0.5, 4.5, -0.5, 4.5, seed=1)
    scaling = compute_scaling(pa, pts)
    df = pip_locate(pts, build_edges(ca, pa, scaling), scaling, GridSpec(16))
    assert len(df.collect()) == 100
    joins = re.findall(r"(\w+Join) \[([^\]]*)\], \[[^\]]*\], (\w+)", _plan(df))
    assert joins
    assert {how for _, keys, how in joins if "point_id#" in keys} == {"LeftAnti"}


def test_new_ops_plans_no_python_hot_path(spark):
    """nearest_edge / bm25 / hotspot / route_length stay pure-JVM; the
    tile_top_hosts rank has no single-partition global window exchange."""
    from rayjoin_spark.functions.textops import bm25_rank
    from rayjoin_spark.operators.nearest import nearest_edge
    from rayjoin_spark.operators.tiles import hotspot_tiles, tile_aggregate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(bm25_rank(docs, ["spark", "join"], k=5))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # distributed top-k, not a global row_number over every scored doc
    assert "TakeOrderedAndProject" in plan

    t = tile_aggregate(
        derived.query_points(spark, SF_DIR, residue=3, mod=4),
        derived.DERIVED_SCALING, derived.DERIVED_GRID, shift=3,
    )
    plan = _plan(hotspot_tiles(t))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    # tile_top_hosts' skew-safe rank: genuinely no single-partition
    # window exchange anywhere in the plan
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["tile_top_hosts"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    from rayjoin_spark.operators.knn import route_length

    pts = spark.range(100).select(
        (F.col("id") % 5).alias("route_id"), F.col("id").alias("seq"),
        (F.col("id") * 1000).alias("lon_udeg"), (F.col("id") * 500).alias("lat_udeg"),
    )
    plan = _plan(route_length(pts))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    # nearest_edge: the per-round candidate join is pure JVM (the final
    # assembled frame includes checkpointed rounds, so check one round's
    # candidate pipeline shape via the full run on a tiny fixture)
    edf = spark.createDataFrame(
        [(1, 0, 0, 1000, 0), (2, 0, 500, 1000, 500)],
        "eid long, x1 long, y1 long, x2 long, y2 long",
    )
    pdf = spark.createDataFrame([(0, 10.0, 20.0)], "point_id long, x double, y double")
    from rayjoin_spark.plans.scaling import Scaling

    out = nearest_edge(pdf, edf, Scaling.identity(), GridSpec(8))
    assert "BatchEvalPython" not in _plan(out) and "ArrowEvalPython" not in _plan(out)


def _jvm_calls(spark, build):
    """py4j commands ``build()`` sends from this thread, not counting the
    object-release messages py4j's finalizer thread sends on its own."""
    import threading

    from py4j import protocol

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me, n = threading.get_ident(), [0]

    def counted(command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith(protocol.MEMORY_COMMAND_NAME):
            n[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        build()
    finally:
        client.send_command = send
    return n[0]


#: JVM round trips allowed for BUILDING (not running) one lazy plan on the
#: m=4 lattice: ~1.5x the measured counts (lsi_join 120, pip_locate 177
#: with call-site capture off and one projection per step; the
#: Column-tree builders with capture on took 3,234 and 2,349)
LSI_BUILD_CALLS = 180
PIP_BUILD_CALLS = 265


def test_plan_build_round_trip_budget(spark):
    """Building an operator's plan costs a few JVM calls, not thousands:
    the per-query driver constant must not creep back."""
    from rayjoin_spark.operators.pip import PipIndex, pip_locate
    from rayjoin_spark.plans.cells import edge_cell_stats, join_grid
    from rayjoin_spark.sources.datagen import uniform_points

    ca, pa = lattice_chains(spark, 4)
    cb, pb = transformed_lattice(spark, 4)
    scaling = compute_scaling(pa, pb)
    ea, eb = build_edges(ca, pa, scaling), build_edges(cb, pb, scaling)
    grid = GridSpec(16)
    # the stats aggs (at the caller's and the join grid) and the index's
    # size probe are jobs, not plan building; the stats stay bound to
    # these frame objects for the builds below
    jg = join_grid(ea, eb, grid)
    edge_cell_stats(ea, jg), edge_cell_stats(eb, jg)
    idx = PipIndex(ea, grid)
    idx.joinable_cells(), idx.skipmap_joinable()
    pts = uniform_points(spark, 100, -0.5, 4.5, -0.5, 4.5, seed=1)

    n_lsi = _jvm_calls(spark, lambda: lsi_join(ea, eb, grid, with_points=True))
    n_pip = _jvm_calls(spark, lambda: pip_locate(pts, ea, scaling, grid, index=idx))
    idx.unpersist()
    assert n_lsi <= LSI_BUILD_CALLS, n_lsi
    assert n_pip <= PIP_BUILD_CALLS, n_pip
