"""Redirect-chain pointer doubling (operators/redirects.py) and the
SCC condensation / DAG layering (operators/graphrank.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cartography_spark.operators.graphrank import (
    condensation,
    dag_levels,
    strongly_connected_components,
)
from cartography_spark.operators.redirects import resolve_redirects


def _redir(spark, pairs):
    return spark.createDataFrame(list(pairs), "src string, dst string")


def _resolve(spark, pairs, **kw):
    return {
        r["src"]: (r["final"], r["hops"], r["is_cycle"])
        for r in resolve_redirects(_redir(spark, pairs), **kw).collect()
    }


def test_chain_resolves_with_exact_hops(spark):
    got = _resolve(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert got == {
        "a": ("d", 3, False),
        "b": ("d", 2, False),
        "c": ("d", 1, False),
    }


def test_cycle_and_tail_into_cycle_flagged(spark):
    # x<->y is a loop; t's chain feeds into it. Both must come back
    # is_cycle with NULL final/hops; the independent chain still
    # resolves.
    got = _resolve(spark, [("x", "y"), ("y", "x"), ("t", "x"), ("p", "q")])
    assert got["x"] == (None, None, True)
    assert got["y"] == (None, None, True)
    assert got["t"] == (None, None, True)
    assert got["p"] == ("q", 1, False)


def test_self_redirect_is_a_cycle(spark):
    got = _resolve(spark, [("s", "s"), ("a", "b")])
    assert got["s"] == (None, None, True)
    assert got["a"] == ("b", 1, False)


def test_long_chain_within_budget_and_over_budget(spark):
    # 20-hop chain: resolves at max_chain_len=32, is flagged as
    # non-terminating at max_chain_len=4 (2^(2+1)=8 < 20) — the
    # documented over-budget "do not crawl" degradation.
    pairs = [(f"n{i}", f"n{i + 1}") for i in range(20)]
    got = _resolve(spark, pairs, max_chain_len=32)
    assert got["n0"] == ("n20", 20, False)
    assert got["n19"] == ("n20", 1, False)
    got4 = _resolve(spark, pairs, max_chain_len=4)
    assert got4["n0"] == (None, None, True)
    assert got4["n19"] == ("n20", 1, False)


def test_duplicate_src_deduped_not_fanned_out(spark):
    # Functional-graph precondition: a duplicate src observation keeps
    # one pointer instead of fanning out the join, and CONFLICTING
    # observations resolve to the deterministic min dst.
    out = resolve_redirects(_redir(spark, [("a", "b"), ("a", "b"), ("b", "c")]))
    rows = out.collect()
    assert len(rows) == 2
    got = {r["src"]: r["final"] for r in rows}
    assert got == {"a": "c", "b": "c"}
    conflict = _resolve(spark, [("a", "z"), ("a", "b"), ("b", "c")])
    assert conflict["a"] == ("c", 2, False)


def test_resolution_partition_invariant(spark):
    pairs = [(f"n{i}", f"n{i + 1}") for i in range(9)] + [("u", "v"), ("v", "u")]
    df = _redir(spark, pairs)
    a = sorted(map(tuple, resolve_redirects(df).collect()))
    b = sorted(map(tuple, resolve_redirects(df.repartition(7)).collect()))
    assert a == b


def _graph(spark, nodes, edges):
    ndf = spark.createDataFrame([(n,) for n in nodes], "id string")
    edf = spark.createDataFrame(list(edges), "src string, dst string")
    return ndf, edf


def test_condensation_collapses_sccs_and_is_acyclic(spark):
    # Two 3-cycles bridged a->d, tendril f->t: condensation has nodes
    # {a, d, t} and edges a->d, d->t only.
    nodes = list("abcdeft")
    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("d", "e"), ("e", "f"), ("f", "d"),
        ("a", "d"), ("f", "t"),
    ]
    ndf, edf = _graph(spark, nodes, edges)
    scc = strongly_connected_components(ndf, edf)
    cond = sorted(map(tuple, condensation(scc, edf).collect()))
    assert cond == [("a", "d"), ("d", "t")]


def test_dag_levels_longest_path_semantics(spark):
    # Diamond with a long arm: s->a->b->t and s->t directly. Longest
    # path to t is 3 — levels must take the max, not the shortest.
    nodes = list("sabt")
    edges = [("s", "a"), ("a", "b"), ("b", "t"), ("s", "t")]
    ndf, edf = _graph(spark, nodes, edges)
    got = {r["id"]: r["level"] for r in dag_levels(ndf, edf).collect()}
    assert got == {"s": 0, "a": 1, "b": 2, "t": 3}


def test_dag_levels_isolated_nodes_are_sources(spark):
    ndf, edf = _graph(spark, ["x", "y", "z"], [("x", "y")])
    got = {r["id"]: r["level"] for r in dag_levels(ndf, edf).collect()}
    assert got == {"x": 0, "y": 1, "z": 0}


def test_dag_levels_cycle_raises_instead_of_hanging(spark):
    ndf, edf = _graph(spark, list("abc"), [("a", "b"), ("b", "c"), ("c", "a")])
    with pytest.raises(RuntimeError, match="dag_levels.*4 rounds"):
        dag_levels(ndf, edf)


def test_dag_levels_path_converges_at_derived_bound(spark):
    # The longest chain over n nodes needs n rounds (n - 1 that raise a
    # level, one that changes nothing), the most the node-count-derived
    # cap must allow.
    nodes = [f"v{i}" for i in range(8)]
    ndf, edf = _graph(spark, nodes, zip(nodes, nodes[1:]))
    got = {r["id"]: r["level"] for r in dag_levels(ndf, edf).collect()}
    assert got == {v: i for i, v in enumerate(nodes)}
