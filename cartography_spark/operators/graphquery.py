"""Graph-pattern queries over the node/edge tables.

Re-expression of the reference's analysis-Cypher pattern joins (J8):
multi-hop MATCH, bounded variable-length paths (``[:A|B*..2]``), and
unbounded ancestor chains (``[:PARENT*1..]``) — as chained equi-joins
on the edge DataFrame, iterated with union for var-length, to fixpoint
for unbounded reachability.

Reference: ``cartography/data/jobs/analysis/aws_ec2_asset_exposure.json``
(bounded 2-hop exposure pattern), ``cartography/client/aws/ecr.py:23-45``
(recursive image ancestry).

Scale: each hop is one shuffle equi-join on dst=src; frontier
``distinct()`` bounds growth. ``reach_fixpoint`` is the package's one
BFS: it runs on the ``fixpoint`` driver (``operators/fixpoint.py``), so
each round's visited set is ``localCheckpoint``-ed with the frontier
size observed by that same job (no separate emptiness probe), and its
``max_iter`` is a safety cap that raises rather than returning a
truncated set. Hot hub nodes are AQE-skew-split.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from cartography_spark.operators.fixpoint import PENDING, fixpoint


def hop(
    frontier: DataFrame,
    edges: DataFrame,
    rel_labels: Sequence[str] | None = None,
    node_col: str = "node",
) -> DataFrame:
    """One expansion step: frontier(node) -> neighbors via edges(src->dst)."""
    e = edges
    if rel_labels is not None:
        e = e.where(F.col("rel_label").isin(list(rel_labels)))
    return (
        frontier.join(e, frontier[node_col] == e["src"])
        .select(F.col("dst").alias(node_col))
        .distinct()
    )


def expand(
    seeds: DataFrame,
    edges: DataFrame,
    min_hops: int = 1,
    max_hops: int = 2,
    rel_labels: Sequence[str] | None = None,
    node_col: str = "node",
) -> DataFrame:
    """Bounded variable-length expansion ``[*min..max]``: nodes reachable
    from the seeds in min..max hops (seeds themselves only if min=0)."""
    out: DataFrame | None = seeds.select(node_col).distinct() if min_hops == 0 else None
    frontier = seeds.select(node_col).distinct()
    for h in range(1, max_hops + 1):
        frontier = hop(frontier, edges, rel_labels, node_col)
        if h >= min_hops:
            out = frontier if out is None else out.union(frontier).distinct()
    assert out is not None
    return out


def reach_fixpoint(
    seeds: DataFrame,
    edges: DataFrame,
    rel_labels: Sequence[str] | None = None,
    node_col: str = "node",
    max_iter: int = 30,
) -> DataFrame:
    """Unbounded reachability ``[*1..]`` to fixpoint (ancestor chains).
    A seed node IS returned when it is reachable from a seed in >=1 hop
    (cycles, ``a->b->a``) — matching Cypher ``[*1..]``: the BFS starts
    from the seeds' one-hop successors, so a seed is visited only when
    a path leads back to it. Each round expands the last round's newly
    visited nodes and merges the unseen ones into the visited set.
    Raises ``RuntimeError`` when nodes are still being discovered after
    ``max_iter`` rounds."""

    def step(visited: DataFrame) -> DataFrame:
        nxt = hop(visited.where(F.col(PENDING)), edges, rel_labels, node_col)
        # New nodes come only from nxt, so their PENDING is NULL.
        return visited.join(nxt, node_col, "full_outer").select(
            node_col, F.col(PENDING).isNull().alias(PENDING)
        )

    start = hop(seeds.select(node_col).distinct(), edges, rel_labels, node_col)
    return fixpoint(
        start.withColumn(PENDING, F.lit(True)), step, "reach_fixpoint", cap=max_iter
    )


def match_path_2hop(
    nodes: DataFrame,
    edges: DataFrame,
    rel1: str,
    rel2: str,
    start_label: str | None = None,
    end_label: str | None = None,
) -> DataFrame:
    """Two-hop pattern MATCH (a)-[:rel1]->(b)-[:rel2]->(c): returns
    (a, b, c) id triples. The building block the sample analysis queries
    compose (each additional hop is one more equi-join)."""
    e1 = edges.where(F.col("rel_label") == rel1).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    e2 = edges.where(F.col("rel_label") == rel2).select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    out = e1.join(e2, "b").select("a", "b", "c")
    # Label guards are SEMI joins with no forced broadcast: a label's
    # id set in a web-scale KG is the size of the table (10^9+ Page
    # ids), so F.broadcast here would be a forced driver OOM at scale.
    # Left to AQE, a genuinely small label still broadcasts from
    # runtime stats; a huge one falls back to a shuffle semi-join.
    if start_label is not None:
        ok = nodes.where(F.col("label") == start_label).select(F.col("id").alias("a"))
        out = out.join(ok, "a", "left_semi")
    if end_label is not None:
        ok = nodes.where(F.col("label") == end_label).select(F.col("id").alias("c"))
        out = out.join(ok, "c", "left_semi")
    return out
