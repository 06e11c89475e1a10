"""Connected components over an edge DataFrame — the canonicalization
primitive for entity linking.

Alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — public algorithm): each
node repeatedly points to the minimum id in its neighborhood; converges
in O(log n) rounds on real graphs and is expressible entirely as
groupBy/join DataFrame ops.

Reference analog: variable-length-path reachability (J8,
``cartography/client/aws/ecr.py:23-45``) and the cross-source identity
link job (N2, ``cartography/data/jobs/analysis/gsuite_human_link.json``)
— canonical ids generalize the reference's email-equality identity
linking to transitive closure.

Scale notes:
- the rounds run on the ``fixpoint`` driver (``operators/fixpoint.py``):
  ``localCheckpoint`` every round truncates the logical plan (an
  iterative join otherwise compounds lineage exponentially), and the
  convergence probe — the count of rows whose label changed this round —
  is an Observation on that same checkpoint job, so it costs no job of
  its own;
- ``max_iter`` is a safety cap: a graph still changing after it raises
  ``RuntimeError`` instead of returning unconverged labels;
- giant-component skew: the min-id label becomes a hot key; the
  groupBy(min) is a partial aggregation (map-side combine) so the hot
  key reduces to one row per partition before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cartography_spark.operators.fixpoint import PENDING, fixpoint


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Return (id, component) with component = min node id reachable.

    ``edges`` is undirected input (each edge counted both ways
    internally). Isolated nodes need no rows here — every node present
    in edges gets a label. Raises ``RuntimeError`` when labels still
    change after ``max_iter`` rounds (O(log n) rounds suffice on real
    graphs).
    """
    # sym is referenced by EVERY iteration's neighbor-min join — without
    # a checkpoint each round re-executes the full upstream plan that
    # produced the edges (e.g. the LSH blocking pipeline: measured 5x
    # the total runtime on the entity-linking loop).
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    # label(v) = current component candidate, init = min(v, min neighbor)
    labels = (
        sym.groupBy("a")
        .agg(F.least(F.min("b"), F.first("a")).alias("comp"))
        .select(
            F.col("a").alias("id"),
            F.least(F.col("comp"), F.col("a")).alias("comp"),
            F.lit(True).alias(PENDING),
        )
    )

    def step(state: DataFrame) -> DataFrame:
        # (1) neighbor-min: comp(v) <- min(comp(v), min over neighbors)
        nbr = (
            sym.join(state.select(F.col("id").alias("b"), "comp"), "b")
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = state.join(nbr.withColumnRenamed("a", "id"), "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias("comp"),
            F.col("comp").alias("__prev"),
        )
        # (2) pointer-jump (doubling): comp(v) <- comp(comp(v)); combined
        # with (1) this converges in O(log n) rounds on long chains,
        # where neighbor-min alone needs O(diameter). Labels only ever
        # decrease, so a row changed iff its label dropped.
        jumped = F.least(F.col("comp"), F.coalesce(F.col("root"), F.col("comp")))
        return stepped.join(
            stepped.select(F.col("id").alias("comp"), F.col("comp").alias("root")),
            "comp",
            "left",
        ).select("id", jumped.alias("comp"), (jumped < F.col("__prev")).alias(PENDING))

    out = fixpoint(labels, step, "connected_components", cap=max_iter)
    return out.select("id", F.col("comp").alias("component"))


def group_star_edges(
    df: DataFrame,
    group_col: str,
    id_col: str,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Equivalence edges for "same group ⇒ same component" WITHOUT the
    O(k²) clique: star edges from each group's min id to every other
    member — O(k) edges per group, identical components. A clique
    self-join on a hot group (say 10⁵ members) emits 10¹⁰ pairs and is
    a shuffle bomb at 100 TB; the star is one partial-agg groupBy plus
    one equi-join."""
    root = df.groupBy(group_col).agg(F.min(id_col).alias("__root"))
    return (
        df.join(root, group_col)
        .where(F.col(id_col) != F.col("__root"))
        .select(F.col("__root").alias(src), F.col(id_col).alias(dst))
    )


def canonicalize(
    nodes: DataFrame,
    equiv_edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Attach ``canonical_id`` to every node: the component min-id from
    the equivalence edge set; nodes absent from any edge map to
    themselves. This is the entity-linking canonicalization step —
    candidate pairs (from LSH blocking / exact matchers) in,
    stable canonical ids out."""
    comp = connected_components(equiv_edges, src, dst)
    return nodes.join(
        comp.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn(
        "canonical_id", F.coalesce(F.col("component"), F.col(id_col))
    ).drop("component")
