"""bfs_hops / sssp semantics on crafted graphs (cycles, unreachable
nodes, late-round improvements, seed re-reach)."""

from rayjoin_spark.operators.graph import bfs_hops, sssp


def _edges(spark, rows, with_w=False):
    schema = "src string, dst string" + (", w long" if with_w else "")
    return spark.createDataFrame(rows, schema)


def _seeds(spark, nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node string")


def test_bfs_cycle_unreachable_and_seed_min(spark):
    # a -> b -> c -> a cycle, c -> d chain, e isolated (unreachable)
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("x", "e")])
    got = {r.node: r.hops for r in bfs_hops(e, _seeds(spark, ["a"]), max_hops=8).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}
    # seed re-reached through the cycle stays 0; two seeds take the min
    got2 = {r.node: r.hops for r in bfs_hops(e, _seeds(spark, ["a", "c"])).collect()}
    assert got2 == {"a": 0, "c": 0, "b": 1, "d": 1}


def test_bfs_max_hops_cap(spark):
    chain = [(f"n{i}", f"n{i+1}") for i in range(6)]
    e = _edges(spark, chain)
    got = {r.node: r.hops for r in bfs_hops(e, _seeds(spark, ["n0"]), max_hops=3).collect()}
    assert got == {"n0": 0, "n1": 1, "n2": 2, "n3": 3}


def test_sssp_prefers_cheap_long_path(spark):
    # direct a->d costs 10; a->b->c->d costs 1+1+1=3 (longer but cheaper);
    # early rounds see 10 first, later rounds must improve it
    e = _edges(
        spark,
        [("a", "d", 10), ("a", "b", 1), ("b", "c", 1), ("c", "d", 1), ("d", "z", 2)],
        with_w=True,
    )
    got = {r.node: r.cost for r in sssp(e, _seeds(spark, ["a"]), max_rounds=8).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3, "z": 5}


def test_sssp_round_cap_is_the_contract(spark):
    # with max_rounds=1 only 1-edge paths count: d keeps the direct 10
    e = _edges(
        spark,
        [("a", "d", 10), ("a", "b", 1), ("b", "c", 1), ("c", "d", 1)],
        with_w=True,
    )
    got = {r.node: r.cost for r in sssp(e, _seeds(spark, ["a"]), max_rounds=1).collect()}
    assert got == {"a": 0, "b": 1, "d": 10}
    # zero-weight edges are fine (nonnegative contract)
    e2 = _edges(spark, [("a", "b", 0), ("b", "c", 0)], with_w=True)
    got2 = {r.node: r.cost for r in sssp(e2, _seeds(spark, ["a"])).collect()}
    assert got2 == {"a": 0, "b": 0, "c": 0}


def _py_scc(pairs):
    """Independent Kosaraju for the oracle."""
    from collections import defaultdict

    fwd, bwd = defaultdict(list), defaultdict(list)
    nodes = set()
    for a, b in pairs:
        if a != b:
            fwd[a].append(b)
            bwd[b].append(a)
            nodes |= {a, b}
    order, seen = [], set()

    def dfs1(start):
        stack = [(start, iter(fwd[start]))]
        seen.add(start)
        while stack:
            v, it = stack[-1]
            for w in it:
                if w not in seen:
                    seen.add(w)
                    stack.append((w, iter(fwd[w])))
                    break
            else:
                order.append(v)
                stack.pop()

    for n in sorted(nodes):
        if n not in seen:
            dfs1(n)
    comp = {}
    for n in reversed(order):
        if n in comp:
            continue
        stack, members = [n], []
        comp[n] = None
        while stack:
            v = stack.pop()
            members.append(v)
            for w in bwd[v]:
                if w not in comp:
                    comp[w] = None
                    stack.append(w)
        m = min(members)
        for v in members:
            comp[v] = m
    return comp


def test_scc_matches_kosaraju(spark):
    from rayjoin_spark.operators.graph import scc

    # two 3-cycles bridged by a one-way edge + a DAG tail + a self-loop
    pairs = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("c", "d"),
        ("d", "e"), ("e", "f"), ("f", "d"),
        ("f", "g"), ("g", "h"),
        ("h", "h"),
    ]
    e = spark.createDataFrame(pairs, "src string, dst string")
    got = {r["node"]: (r["scc_id"], r["scc_size"]) for r in scc(e).collect()}
    want = _py_scc(pairs)
    sizes = {}
    for n, m in want.items():
        sizes[m] = sizes.get(m, 0) + 1
    assert got == {n: (m, sizes[m]) for n, m in want.items()}


def test_scc_long_chain_peels(spark):
    from rayjoin_spark.operators.graph import scc

    # pure DAG chain: every node its own SCC; needs one peel per node
    # (the documented FW-BW weakness) — exercises the peel loop deeply
    pairs = [(f"n{i}", f"n{i+1}") for i in range(6)]
    got = {r["node"]: r["scc_size"] for r in scc(
        spark.createDataFrame(pairs, "src string, dst string")
    ).collect()}
    assert len(got) == 7 and all(v == 1 for v in got.values())


def test_scc_self_loop_only_node_and_peel_capacity(spark):
    from rayjoin_spark.operators.graph import scc

    # 'x' is incident only to a self-loop: still a singleton SCC row.
    # The 3-node chain needs exactly 3 peels — max_peels=3 must succeed
    # (convergence is checked AFTER the peel, not before the next one).
    pairs = [("x", "x"), ("a", "b"), ("b", "c")]
    e = spark.createDataFrame(pairs, "src string, dst string")
    got = {r["node"]: (r["scc_id"], r["scc_size"]) for r in scc(
        e, max_peels=3
    ).collect()}
    assert got == {
        "x": ("x", 1), "a": ("a", 1), "b": ("b", 1), "c": ("c", 1)
    }


def test_scc_component_chain_converges_in_log_rounds(spark):
    """50 singleton components in a DAG chain with adversarial (strictly
    increasing) ids: the old sequential min-label peel needed one round
    per component and hit any reasonable cap; randomized-priority
    coloring converges in ~2*log2(n) expected rounds. max_peels=15 would
    have failed before and must succeed now (deterministic: priorities
    are xxhash64(node, round))."""
    from rayjoin_spark.operators.graph import scc

    n = 50
    pairs = [(f"h{i:03d}", f"h{i+1:03d}") for i in range(n - 1)]
    # plus one 3-cycle mid-chain so a real multi-node SCC rides along
    pairs += [("h025", "c1"), ("c1", "c2"), ("c2", "c3"), ("c3", "c1"),
              ("c1", "h026")]
    e = spark.createDataFrame(pairs, "src string, dst string")
    got = {r["node"]: (r["scc_id"], r["scc_size"]) for r in scc(
        e, max_peels=15
    ).collect()}
    assert len(got) == n + 3
    assert got["c2"] == ("c1", 3) and got["c3"] == ("c1", 3)
    assert all(v == (k, 1) for k, v in got.items() if k.startswith("h"))


def test_scc_long_cycle_within_48_label_rounds(spark, monkeypatch):
    """A 200-node directed cycle is one SCC. Without pointer jumping each
    label pass needs ~200 rounds; the jump through the priority's node
    finishes both passes well inside a 48-round cap."""
    from rayjoin_spark.operators.graph import scc
    from rayjoin_spark.plans import labels

    monkeypatch.setattr(labels, "MAX_ROUNDS", 48)
    n = 200
    e = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
    )
    got = {r["node"]: (r["scc_id"], r["scc_size"]) for r in scc(e).collect()}
    assert got == {i: (0, n) for i in range(n)}
