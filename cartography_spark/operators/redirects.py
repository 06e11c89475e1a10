"""Redirect-chain resolution by pointer doubling.

A crawl's redirect map (HTTP 301/302, ``<meta refresh>``, canonical
rel-links) is a FUNCTIONAL graph — each source url has at most one
target — and the crawl pipeline needs every url's terminal
destination: dedup keys, link-graph edges, and canonical page ids all
collapse onto the redirect terminal. The naive resolution walks
chains one hop per join round (O(longest chain) shuffles); pointer
doubling composes the map with itself each round, so a round-k
pointer spans 2^k hops and a chain of length L resolves in
ceil(log2(L)) equi-joins — the classic parallel list-ranking
contraction, and the shape that survives a 10^12-url crawl where
redirect chains of length 30+ exist but log2(30) < 5.

Reference analog: the reference normalizes aliased identifiers before
MERGE (e.g. resolving account aliases to canonical ids in its intel
transforms); the redirect terminal is the web-crawl instance of the
same canonicalization step.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from cartography_spark.operators.fixpoint import PENDING, fixpoint


def resolve_redirects(redirects: DataFrame, max_chain_len: int = 64) -> DataFrame:
    """Resolve every redirect source to its terminal destination.

    ``redirects(src, dst)`` must be functional: at most one ``dst``
    per ``src`` (HTTP gives exactly one Location per url). Conflicting
    observations of the same src are resolved to the MINIMUM dst —
    an arbitrary-but-deterministic winner, so re-runs and partition
    counts can't flip the resolution (a first-row-seen dedup would).
    Returns one row per distinct src:

    - ``final``: the terminal url (a node with no outgoing redirect),
      or NULL when the chain never terminates;
    - ``hops``: exact chain length to the terminal (NULL when cyclic);
    - ``is_cycle``: true when the chain enters a redirect loop (either
      the src sits on a cycle or its tail feeds into one) OR exceeds
      ``max_chain_len`` — both are "do not crawl" verdicts.

    Each round is ONE equi-join of the redirect table with itself
    (shuffle bounded by the redirect-map size, never the corpus) plus
    a lineage-truncating localCheckpoint, run on the ``fixpoint``
    driver: a pointer is pending when the composing join moved it, and
    that count is observed by the checkpoint job itself. Rounds are
    capped at ceil(log2(max_chain_len)) + 1 — a result-defining cap
    (chains still moving at the cap are reported as cycles, not
    raised) — and stop early once no pointer moves, so an acyclic map
    of longest chain L costs ~log2(L) + 1 shuffles. Hops accumulate
    exactly through the doubling (composed pointer adds the two
    segment lengths), so the output is bit-deterministic at any
    parallelism.
    """
    base = redirects.groupBy("src").agg(F.min("dst").alias("dst"))
    # Non-terminal test set: every url that itself redirects.
    srcs = base.select(F.col("src").alias("dst")).distinct().localCheckpoint()

    def compose(f: DataFrame) -> DataFrame:
        g = f.select(
            F.col("src").alias("g_src"),
            F.col("dst").alias("g_dst"),
            F.col("hops").alias("g_hops"),
        )
        return f.join(g, f["dst"] == g["g_src"], "left").select(
            "src",
            F.coalesce("g_dst", "dst").alias("dst"),
            (F.col("hops") + F.coalesce("g_hops", F.lit(0))).alias("hops"),
            F.col("g_src").isNotNull().alias(PENDING),
        )

    rounds = max(1, math.ceil(math.log2(max(2, max_chain_len)))) + 1
    start = base.select("src", "dst", F.lit(1).alias("hops"), F.lit(True).alias(PENDING))
    f = fixpoint(start, compose, "resolve_redirects", cap=rounds, quiet=True)
    return (
        f.join(srcs.withColumn("__nonterm", F.lit(1)), "dst", "left")
        .select(
            "src",
            F.when(F.col("__nonterm").isNull(), F.col("dst")).alias("final"),
            F.when(F.col("__nonterm").isNull(), F.col("hops")).alias("hops"),
            F.col("__nonterm").isNotNull().alias("is_cycle"),
        )
    )
