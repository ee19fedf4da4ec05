"""plans/labels.min_label against a brute-force reach-min mirror.

Thirty seeded random small directed graphs (self-loops, cycles, isolated
nodes, ids in random order) run as one disjoint union, so one fixpoint
checks all of them: reachability never crosses graphs. Both label kinds
the package uses are checked: plain node ids (connected components) and
(xxhash64, node) priority structs (SCC), whose jump goes through `n`."""

import random

import pytest
from pyspark.sql import functions as F

from rayjoin_spark.plans.labels import min_label


def _graphs(n_graphs=30):
    nodes, edges = [], set()
    for g in range(n_graphs):
        rng = random.Random(g)
        n = rng.randint(1, 12)
        ids = [g * 100 + i for i in rng.sample(range(100), n)]
        nodes += ids
        p = rng.choice([0.0, 0.1, 0.2, 0.4])
        for u in ids:
            for v in ids:
                if rng.random() < p:
                    edges.add((u, v))  # u == v: a self-loop
    return nodes, sorted(edges)


def _reach_min(nodes, edges, init):
    """f(v) = min init[u] over every u with u ->* v (v included)."""
    out = {v: [] for v in nodes}
    for u, v in edges:
        out[u].append(v)
    f = {v: init[v] for v in nodes}
    for u in nodes:
        seen, stack = {u}, [u]
        while stack:
            for w in out[stack.pop()]:
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        for v in seen:
            f[v] = min(f[v], init[u])
    return f


@pytest.mark.parametrize("kind", ["node_id", "priority_struct"])
def test_min_label_matches_brute_force_reach_min(spark, kind):
    nodes, edges = _graphs()
    assert any(u == v for u, v in edges), "fixture lost its self-loops"
    assert len(set(nodes) - {x for e in edges for x in e}) > 0, "no isolated node"
    nd = spark.createDataFrame([(v,) for v in nodes], "node long")
    if kind == "node_id":
        nd = nd.select("node", F.col("node").alias("lbl"))
    else:
        nd = nd.select(
            "node",
            F.struct(
                F.xxhash64("node", F.lit(7)).alias("p"), F.col("node").alias("n")
            ).alias("lbl"),
        )
    init = {r["node"]: r["lbl"] for r in nd.collect()}
    if kind == "priority_struct":
        init = {v: (l["p"], l["n"]) for v, l in init.items()}
    want = _reach_min(nodes, edges, init)
    ed = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["lbl"] for r in min_label(nd, ed).collect()}
    if kind == "priority_struct":
        got = {v: (l["p"], l["n"]) for v, l in got.items()}
    assert got == want

