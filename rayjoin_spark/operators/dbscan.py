"""DBSCAN density clustering over 2-D snapped-integer points.

Composed entirely from the engine's existing primitives — the point of
a Spark-first design is that the marquee spatial-analytics algorithm is
three joins, not a new engine:

1. eps-neighborhoods: `dist_join` self-join (bounded cell-neighborhood
   explode + one equi-join, exact int64 distances) — the same grid the
   reference builds for LSI/PIP candidates (src/grid/uniform_grid.h).
2. core points: neighbor count (incl. self) >= min_pts — one map-side
   combinable groupBy.
3. clusters: connected components over core-core neighbor pairs via the
   pointer-jumping min-label CC (plans/labels.min_label through
   functions/textops.neardup_components, O(log n) rounds); cluster id = MIN core point id of the component
   (canonical, engine-independent).
4. border points: non-core with >= 1 core neighbor take the MIN
   cluster id among their core neighbors (the deterministic variant of
   DBSCAN's order-dependent border assignment — classic DBSCAN assigns
   borders to whichever cluster scans them first, which is not
   reproducible on any parallel engine; MIN is a fixed point of it).
5. everything else is noise (cluster_id = -1).

Determinism: every comparison is exact integer (eps^2 in snapped
units); the only float was never there. Scale shape: the self-join is
the bounded-fanout grid join (no crossJoin); counts and label rounds
are combinable; CC rounds are O(log n) with per-round localCheckpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rayjoin_spark.operators.knn import dist_join
from rayjoin_spark.plans.scaling import GridSpec, Scaling


def dbscan(
    points: DataFrame,
    scaling: Scaling,
    grid: GridSpec | None = None,
    eps_int: int = 1 << 23,
    min_pts: int = 3,
    point_id: str = "point_id",
) -> DataFrame:
    """points(point_id, x, y doubles) -> (point_id, cluster_id, kind).

    kind in ('core', 'border', 'noise'); cluster_id = -1 for noise,
    else the component's minimum core point id. ``eps_int`` is in
    snapped-integer units (the exactness domain).
    """
    from rayjoin_spark.functions.textops import neardup_components

    grid = grid or GridSpec(64)
    nb = dist_join(
        points, points.select(F.col(point_id).alias("nbr_id"), "x", "y"),
        scaling, grid, d_int=eps_int,
        query_id=point_id, corpus_id="nbr_id",
    ).select(point_id, "nbr_id")
    nb = nb.localCheckpoint(eager=True)  # reused 3x below: cut the grid
    # join's lineage once instead of re-deriving it per consumer

    cnt = nb.groupBy(point_id).agg(F.count("*").alias("n_nbrs"))
    core = cnt.filter(F.col("n_nbrs") >= min_pts).select(point_id)

    core_pairs = (
        nb.join(core, point_id)
        .join(core.select(F.col(point_id).alias("nbr_id")), "nbr_id")
        .filter(F.col(point_id) < F.col("nbr_id"))
        .select(F.col(point_id).alias("id_a"), F.col("nbr_id").alias("id_b"))
    )
    comp = neardup_components(core, core_pairs, id_col=point_id).select(
        point_id, "cluster_id"
    )

    # comp's ids ARE the core set, so joining nb on comp both restricts
    # to core neighbors and attaches their labels in one join
    border = (
        nb.join(comp.select(F.col(point_id).alias("nbr_id"), "cluster_id"), "nbr_id")
        .join(core, point_id, "left_anti")
        .groupBy(point_id)
        .agg(F.min("cluster_id").alias("cluster_id"))
    )

    labeled = comp.withColumn("kind", F.lit("core")).unionByName(
        border.withColumn("kind", F.lit("border"))
    )
    return (
        points.select(point_id)
        .join(labeled, point_id, "left")
        .select(
            point_id,
            F.coalesce("cluster_id", F.lit(-1)).cast("bigint").alias("cluster_id"),
            F.coalesce("kind", F.lit("noise")).alias("kind"),
        )
    )
