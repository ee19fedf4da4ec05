"""Min-label propagation to a fixpoint: the one label loop in the package.

Connected components (`functions/textops.neardup_components`, and through
it `dbscan` and `semdedup`) and both passes of every SCC peel
(`operators/graph.scc`) are the same computation: every node v ends with

    f(v) = min initial label over {u : u ->* v}    (v included)

along directed edges (an undirected graph is passed as both directions).
This is the MapReduce CC family with pointer jumping (Kiveris et al.,
"Connected Components in MapReduce and Beyond"), run along edge
direction. Each round is:

1. the neighbour minimum: one equi-join of the edges with the labels on
   `src` plus a map-side combinable `min` grouped by `dst`;
2. one pointer jump: a label's *origin* is the node whose initial label
   it is, and v also takes the current label of that node;
3. an eager localCheckpoint (iterative lineage would otherwise make
   round r cost O(r)) and an exact no-change test.

The jump is sound along directed edges: every label v holds is the
initial label of some u that reaches v, and u's current label is built
only from nodes that reach u, hence reach v. A round that changes
nothing leaves f(v) <= f(w) for every edge w -> v, which is exactly the
reach-min fixpoint. Jumped labels are never larger than the unjumped
labels of the same round, so the loop never needs more rounds than plain
propagation (diameter + 1) and collapses chains and cycles in far fewer.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.types import StructType

#: rounds without a fixpoint before the loop raises; half-propagated
#: labels are never returned
MAX_ROUNDS = 100


def _stored(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint whose size estimate starts afresh. A
    checkpoint keeps the estimate of the plan it cut, and Spark sizes a
    join as the product of its sides. The labels meet themselves three
    times per round, so a kept estimate gains ~3x digits per round and
    planning round r multiplies 3^r-digit numbers: seconds per round by
    round ~10. Re-wrapping the stored rows resets the estimate to the
    default size, so every round plans alike; AQE still sizes each join
    from its actual stage output."""
    spark = df.sparkSession
    jdf = df.localCheckpoint(eager=True)._jdf
    return DataFrame(
        spark._jsparkSession.createDataFrame(jdf.javaRDD(), jdf.schema()), spark
    )


def min_label(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """nodes(node, lbl), edges(src, dst) -> (node, lbl) at the reach-min
    fixpoint. `lbl` is either a node id (its origin is the label itself)
    or a struct whose field `n` is the origin node id, e.g. the SCC
    priority (p, n); structs compare field by field. Every origin must
    be a row of `nodes`. Raises RuntimeError after MAX_ROUNDS rounds
    without a fixpoint."""
    origin = "l2.n" if isinstance(nodes.schema["lbl"].dataType, StructType) else "l2"
    lbl = _stored(nodes.select("node", "lbl"))
    # read once per round: materialize so each round joins stored rows
    edges = _stored(edges.select("src", "dst"))
    for _ in range(MAX_ROUNDS):
        nbr = (
            edges.join(lbl.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.min("lbl").alias("nl"))
            .withColumnRenamed("dst", "node")
        )
        step = lbl.join(nbr, "node", "left").select(
            "node", "lbl", F.least("lbl", F.coalesce("nl", "lbl")).alias("l2")
        )
        # pointer jump: chase one more hop through the previous labels
        jump = lbl.select(F.col("node").alias("_o"), F.col("lbl").alias("jl"))
        nxt = _stored(
            step.join(jump, F.col(origin) == F.col("_o"), "left")
            .select("node", "lbl", F.least("l2", F.coalesce("jl", "l2")).alias("l3"))
        )
        done = nxt.filter(F.col("l3") != F.col("lbl")).isEmpty()
        lbl = nxt.select("node", F.col("l3").alias("lbl"))
        if done:
            return lbl
    raise RuntimeError(f"min_label: no fixpoint within {MAX_ROUNDS} rounds")
