"""Explicit skew handling: hot-cell detection + salted cell join.

The reference diagnoses skew with per-cell workload histograms
(src/grid/uniform_grid.h:444-494) and lives with it (a GPU block chews a
fat cell). At 1000-executor scale a hot cell becomes a straggler task,
so the cell join must split hot keys explicitly (AQE skew-join also
fires, but BASELINE mandates explicit salting driven by the metrics
table).

Salting scheme for an inner equi-join A ⋈ B on (cx, cy) — TWO-DIMENSIONAL
(grid) salting:
  * a hot cell (workload above `threshold`) is split into p x q buckets
    (p*q = its salt count);
  * A-side rows scatter into p groups (i = pmod(hash(eid_a), p)) and are
    replicated across the q B-groups; B-side rows scatter into q groups
    (j = pmod(hash(eid_b), q)) and are replicated across the p A-groups;
  * join key becomes (cx, cy, i, j). Row multiset of the join output is
    unchanged — pair (a, b) meets in exactly one bucket, (i_a, j_b).

Why 2-D and not the classic scatter-A/replicate-B: replicating one side
to every bucket costs ns-fold row replication for ns-fold granularity.
The 2-D split costs only ~2*sqrt(ns)-fold (q copies of A + p copies of
B) for the same ns-fold granularity — and measurement (BENCH.md
diagnosis) shows granularity is what buys scaling efficiency (fine
buckets hash-pack evenly into task waves) while replication is what
costs wall time at low parallelism. 1-D flat-16 measured 1.6x naive
wall at N=2; 2-D proportional salting keeps the same bucket granularity
at a fraction of the replicated rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rayjoin_spark.plans.cells import cell_workload


def hot_cells(
    edge_cells_a: DataFrame, edge_cells_b: DataFrame, threshold: int = 1_000_000
) -> DataFrame:
    """Cells whose candidate-pair workload ne_a*ne_b exceeds threshold —
    the metrics table that drives salting (and lands in the lineage/
    metrics output for observability)."""
    return cell_workload(edge_cells_a, edge_cells_b).filter(
        F.col("workload") > threshold
    )


def salted_cell_join(
    cells_a: DataFrame,
    cells_b: DataFrame,
    hot: DataFrame,
    n_salts: int = 8,
    scatter_key: str = "eid_a",
    target_pairs: int | None = None,
    scatter_key_b: str = "eid_b",
) -> DataFrame:
    """Inner join on (cx, cy) with hot cells split over 2-D salt buckets.

    cells_a/cells_b must already carry side-suffixed columns (as produced
    by operators.lsi._side). Returns the joined DataFrame, same row
    multiset as a plain join.

    Salt sizing: each hot cell gets ``ns`` buckets — a flat ``n_salts``
    without ``target_pairs``, else workload-proportional
    ceil(workload / target_pairs) capped at n_salts (a cell just over the
    hot threshold splits a few ways, a monster cell splits n_salts ways).
    ns is then factored as p x q with p = ceil(sqrt(ns)): A-side rows in
    the cell are hashed into p groups and exploded q times, B-side rows
    into q groups exploded p times — bucket workload ~ workload/(p*q)
    <= target_pairs, at ~2*sqrt(ns)-fold replication instead of the 1-D
    scheme's ns-fold (see module docstring for the measured rationale).
    """
    if target_pairs:
        ns = F.least(
            F.lit(n_salts),
            F.ceil(F.col("workload") / F.lit(float(target_pairs))),
        ).cast("int")
    else:
        ns = F.lit(n_salts)
    p = F.ceil(F.sqrt(ns.cast("double"))).cast("int")
    q = F.ceil(ns.cast("double") / p.cast("double")).cast("int")
    h = F.broadcast(hot.select("cx", "cy", p.alias("_p"), q.alias("_q")))
    a = (
        cells_a.join(h, ["cx", "cy"], "left")
        .withColumn(
            "_si",
            F.when(
                F.col("_p").isNotNull(),
                F.pmod(F.xxhash64(scatter_key), F.col("_p").cast("bigint")),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "_sjs",
            F.when(
                F.col("_q").isNotNull(), F.sequence(F.lit(0), F.col("_q") - 1)
            ).otherwise(F.array(F.lit(0))),
        )
        .withColumn("_sj", F.explode("_sjs"))
        .drop("_p", "_q", "_sjs")
    )
    b = (
        cells_b.join(h, ["cx", "cy"], "left")
        .withColumn(
            "_sj",
            F.when(
                F.col("_q").isNotNull(),
                F.pmod(F.xxhash64(scatter_key_b), F.col("_q").cast("bigint")),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "_sis",
            F.when(
                F.col("_p").isNotNull(), F.sequence(F.lit(0), F.col("_p") - 1)
            ).otherwise(F.array(F.lit(0))),
        )
        .withColumn("_si", F.explode("_sis"))
        .drop("_p", "_q", "_sis")
    )
    return a.join(b, ["cx", "cy", "_si", "_sj"], "inner").drop("_si", "_sj")


def lsi_join_salted(
    edges_a,
    edges_b,
    grid,
    hot_threshold: int = 1_000_000,
    n_salts: int = 8,
    target_pairs: int | None = None,
):
    """LSI join with explicit hot-cell salting (same output as lsi_join).

    Runs lsi_join's cell-join core (join grid, long-edge split, broadcast
    guard, ownership, exact predicate, split dedup) with the plain cell
    join swapped for salted_cell_join over the hot cells of the exploded
    sides, which are cells of the join grid.
    ``target_pairs`` switches to workload-proportional salt counts (see
    salted_cell_join).
    """
    from rayjoin_spark.operators.lsi import _matched_pairs

    def join(cells_a, cells_b):
        return salted_cell_join(
            cells_a, cells_b, hot_cells(cells_a, cells_b, hot_threshold),
            n_salts=n_salts, target_pairs=target_pairs,
        )

    return _matched_pairs(edges_a, edges_b, grid, join).selectExpr("eid_a", "eid_b")
