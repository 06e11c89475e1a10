"""Connected-components / canonicalization semantics vs a Python
union-find oracle, including chain graphs (worst case for min-label
propagation) and random graphs."""

from __future__ import annotations

import random

import pytest

from cartography_spark.operators.components import (
    canonicalize,
    connected_components,
    group_star_edges,
)


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min id in component
    comp = {}
    for v in range(n_nodes):
        r = find(v)
        comp.setdefault(r, []).append(v)
    out = {}
    for members in comp.values():
        m = min(members)
        for v in members:
            out[v] = m
    return out


def _check(spark, n_nodes, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    oracle = _union_find(n_nodes, edges)
    touched = {v for e in edges for v in e}
    for v in touched:
        assert got[v] == oracle[v], f"node {v}: got {got[v]}, want {oracle[v]}"


def test_two_components(spark):
    _check(spark, 7, [(0, 1), (1, 2), (3, 4), (4, 5), (5, 6)])


def test_chain_graph(spark):
    # long chain: needs multiple propagation rounds
    _check(spark, 40, [(i, i + 1) for i in range(39)])


def test_long_chain_converges_in_log_rounds(spark):
    # 200-node chain: pure neighbor-min would need 199 rounds; the
    # interleaved pointer-jumping must converge within max_iter=25.
    _check(spark, 200, [(i, i + 1) for i in range(199)])


def test_max_iter_is_a_safety_cap(spark):
    # An 8-node path still changes after one round: raise, never return
    # unconverged labels.
    df = spark.createDataFrame([(i, i + 1) for i in range(7)], "src long, dst long")
    with pytest.raises(RuntimeError, match="connected_components.*1 rounds"):
        connected_components(df, max_iter=1)


def test_chain_reversed_ids(spark):
    _check(spark, 40, [(i + 1, i) for i in range(39)])


def test_random_graph_vs_union_find(spark):
    rng = random.Random(13)
    n = 120
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, n, edges)


def test_group_star_edges_linear_in_group_size(spark):
    """A hot group with 10⁴ members must yield O(k) star edges (k-1),
    not the O(k²) clique (~5·10⁷ pairs) a self-join would emit — and
    the components derived from the stars must equal the group itself."""
    from pyspark.sql import functions as F

    k = 10_000
    df = spark.range(k + 7).select(
        F.when(F.col("id") < k, F.lit("hot")).otherwise(F.lit("cold")).alias("g"),
        F.col("id").alias("id"),
    )
    edges = group_star_edges(df, "g", "id")
    assert edges.count() == (k - 1) + (7 - 1)  # exactly k-1 per group
    comp = connected_components(edges)
    sizes = {r["component"]: r["n"] for r in comp.groupBy("component").agg(F.count("*").alias("n")).collect()}
    assert sizes == {0: k, k: 7}  # min-id roots, full group membership


def test_canonicalize_untouched_nodes_self_map(spark):
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame([(4, 5)], "src long, dst long")
    got = {r["id"]: r["canonical_id"] for r in canonicalize(nodes, edges).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 4}
