"""End-to-end entity linking: blocking -> verify -> canonicalize -> merge.

The north-star loop that generalizes the reference's identity-link
analysis job (N2, ``data/jobs/analysis/gsuite_human_link.json``: exact
equality on email) and its fuzzy matchers (J3/J4) to web scale:

1. **Block** — MinHash-LSH over the entity's name/text property
   (``operators/dedup.py::minhash_lsh_pairs``; the incremental form
   joins a new batch to the corpus with ``minhash_lsh_join``): a
   shuffle equi-join on band keys, never a cross product.
2. **Verify** — exact Jaccard on the blocked candidates (plus an
   optional extra predicate), dropping LSH false positives.
3. **Canonicalize** — connected components over the surviving
   equivalence edges (``operators/components.py``); canonical id =
   component minimum, so re-runs are stable.
4. **Materialize** — write ``canonical_id`` as a node property and
   ``SAME_AS`` edges into the store with full MERGE semantics (a new
   run's update_tag stamps them; the staleness sweep retires pairs
   that stop matching).

Scale: stages 1-2 are shuffle equi-joins (AQE-splittable); stage 3 is
O(log n) rounds with checkpointing; stage 4 is the standard MERGE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cartography_spark.operators.components import connected_components
from cartography_spark.store.graphstore import GraphStore


def candidate_pairs(
    entities: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    family: str = "arrow",
) -> DataFrame:
    """LSH-blocked, Jaccard-verified equivalence pairs (src < dst).

    Delegates to the bounded self-join form (``minhash_lsh_pairs``):
    staged signatures, band-bucket size cap (a hot band key with B rows
    yields B² candidates — buckets beyond ``max_bucket`` are dropped;
    true pairs still surface via their other bands w.h.p.).
    ``family``: ``arrow`` (production: Arrow-vectorized signature fold
    and Jaccard verify) or ``md5`` (hex strings a single-node SQL oracle
    replicates byte-identically)."""
    from cartography_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        entities, id_col, text_col,
        shingle_n=shingle_n, num_hashes=num_hashes, bands=bands,
        threshold=threshold, family=family, max_bucket=max_bucket,
    ).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "jaccard"
    )


def link_entities_incremental(
    store: GraphStore,
    label: str,
    text_prop: str,
    update_tag: int,
    scope_id: str | None = None,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    family: str = "arrow",
) -> dict[str, int]:
    """Per-sync incremental linking: ONLY the nodes this run touched
    (``lastupdated == update_tag``, i.e. the just-merged batch) are
    LSH-blocked against the corpus — cost ~ O(|new batch| x bucket),
    never a corpus self-join. Existing SAME_AS edges persist in the
    store; connected components re-run over (existing ∪ new) edges, so
    transitive merges through new docs are found, and canonical ids
    stay the component minimum (stable under re-runs).

    Assumes node text is immutable once written (old-old pairs cannot
    appear after the fact) — the standard contract for content-hashed
    web corpora. For mutated text, fall back to :func:`link_entities`.

    Equivalence: running this after each batch produces the same
    canonical ids as one :func:`link_entities` over the final corpus
    (pinned by test). ``family`` is as in :func:`candidate_pairs`."""
    from cartography_spark.operators.dedup import minhash_lsh_join

    nodes = store.read_nodes().where(F.col("label") == label)
    ents = nodes.select(
        F.col("id"), F.element_at("props", text_prop).alias("__text")
    ).where(F.col("__text").isNotNull())
    new = (
        nodes.where(F.col("lastupdated") == int(update_tag))
        .select(F.col("id"), F.element_at("props", text_prop).alias("__text"))
        .where(F.col("__text").isNotNull())
    )
    raw = minhash_lsh_join(
        new, ents, "id", "__text",
        num_hashes=num_hashes, bands=bands, threshold=threshold, family=family,
    )
    # orient src < dst and dedupe (a new-new pair is found in both
    # directions of the cross-frame join)
    new_pairs = (
        raw.select(
            F.least("id_l", "id_r").alias("src"),
            F.greatest("id_l", "id_r").alias("dst"),
            "jaccard",
        )
        .dropDuplicates(["src", "dst"])
    )
    existing = (
        store.read_edges()
        .where((F.col("rel_label") == "SAME_AS") & (F.col("src_label") == label))
        .select("src", "dst")
    )
    all_edges = existing.unionByName(new_pairs.select("src", "dst")).dropDuplicates(
        ["src", "dst"]
    )
    comp = connected_components(all_edges, "src", "dst")
    # Write canonical ids ONLY for components a new pair touches: an
    # untouched component has identical membership and min id as when
    # its canonical was last written (text immutable, edges only grow
    # through new-batch pairs), so re-merging it would be a no-op write
    # proportional to ALL linked nodes instead of the batch's blast
    # radius. Two semi-joins bound the merge to affected components.
    new_ids = (
        new_pairs.select(F.col("src").alias("id"))
        .unionByName(new_pairs.select(F.col("dst").alias("id")))
        .distinct()
    )
    affected = comp.join(new_ids, "id", "left_semi").select("component").distinct()
    members = comp.join(affected, "component", "left_semi")
    canon_updates = members.select(
        F.lit(label).alias("label"),
        F.col("id"),
        F.lit(None).cast("array<string>").alias("extra_labels"),
        F.lit(scope_id).cast("string").alias("scope_id"),
        F.create_map(F.lit("canonical_id"), F.col("component").cast("string")).alias("props"),
    )
    n = store.merge_nodes(canon_updates, update_tag)
    same_as = new_pairs.select(
        F.lit("SAME_AS").alias("rel_label"),
        F.col("src"),
        F.col("dst"),
        F.lit(label).alias("src_label"),
        F.lit(label).alias("dst_label"),
        F.lit(scope_id).cast("string").alias("scope_id"),
        F.create_map(F.lit("jaccard"), F.col("jaccard").cast("string")).alias("props"),
    )
    e = store.merge_edges(same_as, update_tag)
    return {
        "linked_nodes": n["updated"] + n["created"],
        "new_same_as_edges": e["created"],
    }


def link_entities(
    store: GraphStore,
    label: str,
    text_prop: str,
    update_tag: int,
    scope_id: str | None = None,
    threshold: float = 0.8,
    family: str = "arrow",
) -> dict[str, int]:
    """Link all ``label`` nodes in the store by near-duplicate
    ``text_prop``; write canonical_id props + SAME_AS edges.

    ``family`` picks the MinHash kernels of :func:`candidate_pairs`:
    ``"arrow"`` (production) or ``"md5"`` (oracle parity); pairs agree
    at equal recall bars since the exact-Jaccard verify is
    engine-independent."""
    nodes = store.read_nodes().where(F.col("label") == label)
    entities = nodes.select(
        F.col("id"), F.element_at("props", text_prop).alias("__text")
    ).where(F.col("__text").isNotNull())

    pairs = candidate_pairs(entities, "id", "__text", threshold=threshold, family=family)
    comp = connected_components(pairs, "src", "dst")

    canon_updates = (
        comp.select(
            F.lit(label).alias("label"),
            F.col("id"),
            F.lit(None).cast("array<string>").alias("extra_labels"),
            F.lit(scope_id).cast("string").alias("scope_id"),
            F.create_map(F.lit("canonical_id"), F.col("component").cast("string")).alias("props"),
        )
    )
    n = store.merge_nodes(canon_updates, update_tag)

    same_as = pairs.select(
        F.lit("SAME_AS").alias("rel_label"),
        F.col("src"),
        F.col("dst"),
        F.lit(label).alias("src_label"),
        F.lit(label).alias("dst_label"),
        F.lit(scope_id).cast("string").alias("scope_id"),
        F.create_map(F.lit("jaccard"), F.col("jaccard").cast("string")).alias("props"),
    )
    e = store.merge_edges(same_as, update_tag)
    return {
        "linked_nodes": n["updated"] + n["created"],
        "same_as_edges": e["updated"] + e["created"],
    }
