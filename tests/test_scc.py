"""SCC + bowtie decomposition (operators/graphrank.py).

Model checks run against an independent pure-Python Tarjan
implementation (iterative, so deep graphs don't hit the recursion
limit) — a genuinely different algorithm than the engine's FW-BW
min-label coloring, so agreement checks semantics, not code.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cartography_spark.operators.graphrank import (
    bowtie_regions,
    strongly_connected_components,
)


def tarjan_scc(nodes, edges):
    """{node: min-member-id-of-its-SCC} via iterative Tarjan."""
    adj = {n: [] for n in nodes}
    for s, d in edges:
        if s != d:
            adj[s].append(d)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    comps = []
    counter = [0]

    for root in nodes:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            advanced = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    advanced = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                comps.append(comp)
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])
    return {n: min(c) for c in comps for n in c}


def _frames(spark, nodes, edges):
    ndf = spark.createDataFrame([(n,) for n in nodes], "id string")
    if edges:
        edf = spark.createDataFrame(list(edges), "src string, dst string")
    else:
        edf = ndf.select(F.col("id").alias("src"), F.col("id").alias("dst")).where(
            F.lit(False)
        )
    return ndf, edf


def test_scc_hand_graph(spark):
    # Two 3-cycles bridged a->d (one direction), plus a tendril and an
    # isolated node: SCCs = {a,b,c}, {d,e,f}, {t}, {z}.
    nodes = list("abcdeftz")
    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("d", "e"), ("e", "f"), ("f", "d"),
        ("a", "d"),
        ("f", "t"),
    ]
    ndf, edf = _frames(spark, nodes, edges)
    got = {r["id"]: r["scc"] for r in strongly_connected_components(ndf, edf).collect()}
    assert got == tarjan_scc(nodes, edges)
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["d"] == got["e"] == got["f"] == "d"
    assert got["t"] == "t" and got["z"] == "z"


def test_scc_matches_tarjan_on_random_digraph(spark):
    # Deterministic pseudo-random digraph: 40 nodes, ~90 edges.
    nodes = [f"n{i:02d}" for i in range(40)]
    edges = set()
    x = 12345
    for _ in range(90):
        x = (x * 1103515245 + 12345) % (1 << 31)
        s = x % 40
        x = (x * 1103515245 + 12345) % (1 << 31)
        d = x % 40
        edges.add((f"n{s:02d}", f"n{d:02d}"))
    ndf, edf = _frames(spark, nodes, sorted(edges))
    got = {r["id"]: r["scc"] for r in strongly_connected_components(ndf, edf).collect()}
    assert got == tarjan_scc(nodes, sorted(edges))


def test_scc_partition_invariance(spark):
    nodes = [f"n{i:02d}" for i in range(12)]
    edges = [(f"n{i:02d}", f"n{(i + 1) % 6:02d}") for i in range(6)] + [
        ("n06", "n07"), ("n07", "n06"), ("n08", "n00"),
    ]
    ndf, edf = _frames(spark, nodes, edges)
    a = sorted(map(tuple, strongly_connected_components(ndf, edf).collect()))
    b = sorted(
        map(
            tuple,
            strongly_connected_components(
                ndf.repartition(7), edf.repartition(5)
            ).collect(),
        )
    )
    assert a == b


def test_scc_chain_of_cycles(spark):
    # Pathological for the coloring scheme (one SCC retires per round):
    # 5 two-cycles chained head-to-tail — still exact, just more rounds.
    nodes = [f"c{i}{j}" for i in range(5) for j in (0, 1)]
    edges = []
    for i in range(5):
        edges += [(f"c{i}0", f"c{i}1"), (f"c{i}1", f"c{i}0")]
        if i:
            edges.append((f"c{i - 1}0", f"c{i}0"))
    ndf, edf = _frames(spark, nodes, edges)
    got = {r["id"]: r["scc"] for r in strongly_connected_components(ndf, edf).collect()}
    assert got == tarjan_scc(nodes, edges)
    assert len(set(got.values())) == 5


def test_scc_path_converges_at_derived_bound(spark):
    # Ascending ids along a path: only the subgraph minimum passes the
    # f == b test, so exactly one node retires per outer round (n
    # rounds), and the backward labels need n - 1 relaxations — the
    # worst case for the node-count-derived caps.
    nodes = [f"p{i}" for i in range(6)]
    edges = list(zip(nodes, nodes[1:]))
    ndf, edf = _frames(spark, nodes, edges)
    got = {r["id"]: r["scc"] for r in strongly_connected_components(ndf, edf).collect()}
    assert got == {v: v for v in nodes}


def test_bowtie_hand_graph(spark):
    # IN -> CORE -> OUT with a tendril off IN and an island:
    #   i1 -> a; core = {a,b,c} 3-cycle; c -> o1 -> o2; i1 -> t (t is a
    #   tendril: reachable from IN only); z isolated.
    nodes = ["i1", "a", "b", "c", "o1", "o2", "t", "z"]
    edges = [
        ("i1", "a"),
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("c", "o1"), ("o1", "o2"),
        ("i1", "t"),
    ]
    ndf, edf = _frames(spark, nodes, edges)
    got = {r["id"]: r["region"] for r in bowtie_regions(ndf, edf).collect()}
    assert got == {
        "i1": "IN",
        "a": "CORE", "b": "CORE", "c": "CORE",
        "o1": "OUT", "o2": "OUT",
        "t": "OTHER", "z": "OTHER",
    }


def test_bowtie_core_tie_breaks_to_min_scc_id(spark):
    # Two disjoint 2-cycles (equal size): core must be the one with the
    # smaller scc id.
    nodes = ["a", "b", "x", "y"]
    edges = [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x")]
    ndf, edf = _frames(spark, nodes, edges)
    got = {r["id"]: r["region"] for r in bowtie_regions(ndf, edf).collect()}
    assert got["a"] == got["b"] == "CORE"
    assert got["x"] == got["y"] == "OTHER"


def test_bowtie_regions_partition_and_complete(spark):
    nodes = ["i1", "a", "b", "c", "o1", "o2", "t", "z"]
    edges = [
        ("i1", "a"), ("a", "b"), ("b", "c"), ("c", "a"),
        ("c", "o1"), ("o1", "o2"), ("i1", "t"),
    ]
    ndf, edf = _frames(spark, nodes, edges)
    rows = bowtie_regions(ndf, edf).collect()
    assert len(rows) == len(nodes)
    assert {r["id"] for r in rows} == set(nodes)
