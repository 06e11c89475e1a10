"""Fact fusion: resolve conflicting (subj, pred, obj) observations from
many sources into one canonical object per (subj, pred) with a
confidence score — the truth-discovery step that turns a pile of
per-page triple observations into a knowledge graph of FACTS.

Two deterministic voting rounds (a fixed-point-free TruthFinder /
Latent-Credibility-lite):

1. Round 0 — unweighted majority: every source gets one vote per
   distinct claim; the (subj, pred) winner is the obj with the most
   distinct supporting sources (obj-asc tie-break).
2. Source accuracy — each source's Laplace-smoothed agreement rate
   with the round-0 majorities: (matches + 1) / (claims + 2). A source
   that keeps asserting minority objects is down-weighted exactly the
   way the reference trusts fresher `lastupdated` writes over stale
   ones (cartography/graph/querybuilder.py MERGE set-clauses pick the
   latest sync's value); here trust is earned per source instead of
   per sync run.
3. Round 1 — accuracy-weighted re-vote: winner = obj with the largest
   summed source accuracy; confidence = winner weight / total weight
   for the (subj, pred).

Determinism across engines: weighted votes are ROUND(x, 6)ed BEFORE
the argmax in both Spark and the DuckDB twin, with an obj-asc
tie-break after the rounded weight — float summation order can then
never flip a winner.

Scale shape (10^12 pages -> ~10^9 claims):
- claims:   one hash shuffle on (source, subj, pred, obj), partial-agg
            count (map-side combine does the per-page dedup).
- round 0:  one shuffle on (subj, pred, obj), then a partial-agg
            ``min(struct(-votes, obj))`` per (subj, pred) — never a
            row_number window over the corpus.
- accuracy: claims equi-join winners on (subj, pred) — both sides are
            already (subj, pred)-keyed aggregates; then one
            source-keyed partial agg (output is source-cardinality).
- round 1:  accuracy joined back on source (one row per source;
            claims-per-source bounded by the source's own pages, AQE
            skew-join splits hot hosts), then the same two partial
            aggs as round 0.
No step materializes anything bigger than the claim set, and every
argmax is a map-side-combinable struct-min, so the whole fusion is 5
bounded hash shuffles end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def source_claims(
    triples: DataFrame,
    source_col: str = "source",
) -> DataFrame:
    """Distinct per-source claims with observation counts:
    (source, subj, pred, obj, n_obs). A source asserting the same
    triple on many pages still casts ONE vote (n_obs is kept for
    diagnostics/confidence audits, not for voting weight — vote
    stuffing by page duplication is the web's default failure mode).
    """
    return (
        triples.groupBy(
            F.col(source_col).alias("source"), "subj", "pred", "obj"
        ).agg(F.count("*").alias("n_obs"))
    )


def _argmax_obj(votes: DataFrame, weight_col: str) -> DataFrame:
    """Per (subj, pred): the obj with the max ``weight_col``, obj-asc
    tie-break, via a partial-aggregated struct-min (no global window).
    Returns (subj, pred, obj, <weight_col>).
    """
    picked = votes.groupBy("subj", "pred").agg(
        F.min(
            F.struct((-F.col(weight_col)).alias("neg"), F.col("obj").alias("obj"))
        ).alias("__w")
    )
    return picked.select(
        "subj",
        "pred",
        F.col("__w.obj").alias("obj"),
        (-F.col("__w.neg")).alias(weight_col),
    )


def fuse_facts(
    triples: DataFrame,
    source_col: str = "source",
) -> DataFrame:
    """Two-round weighted truth discovery over triple observations.

    ``triples`` carries (subj, pred, obj, ``source_col``) — one row per
    observation (page). Returns one row per (subj, pred):

    (subj, pred, obj, n_sources, src_votes, weight, confidence)

    - ``obj``        — the round-1 accuracy-weighted winner.
    - ``n_sources``  — distinct sources asserting ANY obj for the key.
    - ``src_votes``  — distinct sources asserting the winning obj.
    - ``weight``     — the winner's summed source accuracy, ROUND 6.
    - ``confidence`` — weight / total weight over all candidate objs
      for the (subj, pred), ROUND 6.
    """
    claims = source_claims(triples, source_col)

    # Round 0: unweighted distinct-source majority.
    votes0 = claims.groupBy("subj", "pred", "obj").agg(
        F.count("*").alias("votes")
    )
    winner0 = _argmax_obj(votes0, "votes")

    # Source accuracy vs the round-0 majorities (Laplace smoothed).
    matched = claims.join(
        winner0.select("subj", "pred", F.col("obj").alias("__w_obj")),
        ["subj", "pred"],
        "inner",
    )
    accuracy = matched.groupBy("source").agg(
        (
            (F.sum(F.when(F.col("obj") == F.col("__w_obj"), 1).otherwise(0)) + 1)
            / (F.count("*") + 2)
        ).alias("acc")
    )

    # Round 1: accuracy-weighted re-vote. Round BEFORE the argmax so
    # cross-engine float summation order can never flip a winner.
    weighted = claims.join(accuracy, "source", "inner")
    votes1 = weighted.groupBy("subj", "pred", "obj").agg(
        F.round(F.sum("acc"), 6).alias("wvote"),
        F.count("*").alias("src_votes"),
    )
    winner1 = _argmax_obj(votes1, "wvote")

    totals = votes1.groupBy("subj", "pred").agg(F.sum("wvote").alias("__total"))
    n_src = claims.groupBy("subj", "pred").agg(
        F.countDistinct("source").alias("n_sources")
    )

    out = (
        winner1.join(
            votes1.select("subj", "pred", "obj", "src_votes"),
            ["subj", "pred", "obj"],
            "inner",
        )
        .join(totals, ["subj", "pred"], "inner")
        .join(n_src, ["subj", "pred"], "inner")
    )
    return out.select(
        "subj",
        "pred",
        "obj",
        "n_sources",
        "src_votes",
        F.round("wvote", 6).alias("weight"),
        F.round(F.col("wvote") / F.col("__total"), 6).alias("confidence"),
    )
