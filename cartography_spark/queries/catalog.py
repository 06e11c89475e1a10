"""Query catalog: one entry per implemented operator family from
SURVEY.md §2, each with a DuckDB-oracle ANSI SQL twin.

Every callable takes ``(spark, sf_dir)`` and returns a DataFrame whose
column NAMES and VALUES match the oracle SQL exactly (the driver sorts
columns by name and value-hashes order-insensitively). Conventions for
cross-engine determinism:

- aggregates of doubles are ``round(x, d)`` in BOTH engines;
- timestamps are formatted to strings (session TZ is UTC; DuckDB is
  TZ-naive — same wall-clock text);
- hashes are md5 (byte-identical hex in both engines) — never
  xxhash64 in oracle-checked paths;
- deterministic tie-breaks on every window/rank.

Operator coverage map (SURVEY §2 row -> query):
  U1 MERGE upsert        -> kg_node_merge_u1
  C1 staleness anti-join -> kg_cleanup_stale_c1
  J2 equi rel-join       -> kg_link_exact_j2
  J3 ignore_case join    -> kg_link_ignorecase_j3
  J4 fuzzy contains      -> kg_link_fuzzy_j4
  J5 one_to_many         -> kg_link_one_to_many_j5
  J7 matchlink           -> kg_matchlink_j7
  J8 multi-hop/var-len   -> join_multihop_j8, kg_var_length_path_j8
  A1 group aggregate     -> agg_events_a1, agg_pricing_summary
  A2 dedup last-wins     -> agg_dedup_lastwins_a2
  O1 order/top-k         -> agg_window_topk_o1
  X1 union               -> set_union_x1
  X2 drift set-diff      -> set_drift_x2
  S2 incremental window  -> incremental_watermark_s2
  N1 exposure analysis   -> kg_exposure_analysis_n1
  N2/CC canonicalization -> kg_cc_canonical
  T2 fan-out extraction  -> kg_bigram_triples, kg_mention_triples
  T5/J6 policy lists     -> kg_policy_allow_deny (+ kg_policy_eval_j6)
  Skew (salted agg)      -> agg_salted_skew
  Training-data ops      -> dedup_* (exact/minhash/simhash/ngram/embedding),
                            text_* (+ text_dedup_survivors, web_source_stats,
                            text_quality_funnel), sim_* (brute/LSH/IVF top-k,
                            LSH- and IVF-blocked near-dup), curation
                            (text_repetition Gopher gates,
                            text_decontaminate benchmark n-gram removal,
                            sample_stratified deterministic data mixing)
  Flagship KG pipeline   -> kg_flagship_pipeline (oracle-gated r4),
                            kg_pages_e2e (html->text->triples vs the
                            generator's ground-truth picks, splitmix64
                            replicated in DuckDB SQL)
  Multimodal decode      -> multimodal_features (md5-arithmetic codec
                            replicated in DuckDB, oracle-gated r4)
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# KG core semantics
# ---------------------------------------------------------------------------


def kg_node_merge_u1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 MERGE: old graph = customers with bal<=800 loaded at tag 1000;
    run 2000 re-loads customers with bal>500 (bal+100). firstseen
    preserved on update, set on create; lastupdated stamped on touch."""
    from cartography_spark.store.graphstore import NODES_SCHEMA, merge_frames

    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    cust = _t(spark, sf_dir, "customer")
    old = cust.where(F.col("c_acctbal") <= 800).select(
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("id"),
        F.lit(None).cast("array<string>").alias("extra_labels"),
        F.lit(None).cast("string").alias("scope_id"),
        F.to_timestamp(F.from_unixtime(F.lit(1000))).alias("firstseen"),
        F.lit(1000).cast("long").alias("lastupdated"),
        F.create_map(F.lit("bal"), F.col("c_acctbal").cast("string")).alias("props"),
    )
    new = cust.where(F.col("c_acctbal") > 500).select(
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("id"),
        F.lit(None).cast("array<string>").alias("extra_labels"),
        F.lit(None).cast("string").alias("scope_id"),
        F.create_map(F.lit("bal"), (F.col("c_acctbal") + 100).cast("string")).alias("props"),
    )
    cols = [f.name for f in NODES_SCHEMA.fields]
    merged = merge_frames(old, new, ["label", "id"], cols, 2000)
    return merged.select(
        F.col("id"),
        F.col("lastupdated"),
        F.unix_timestamp("firstseen").alias("firstseen_epoch"),
        F.round(F.element_at("props", "bal").cast("double"), 2).alias("bal"),
    )


def kg_typed_index_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed promoted columns end-to-end through the REAL store: batch 1
    merges plain Customer nodes (props only — predates the declaration),
    batch 2 loads Vip nodes whose ``bal_cents`` is promoted as a typed
    bigint column (``PropertyRef(index_type="bigint")``). The range scan
    then reads Customer rows through the props fallback cast and Vip
    rows through the native typed column with numeric min/max pruning —
    the columnar analog of the reference's auto-created matcher indexes
    (``querybuilder.py:490-551``) under schema evolution."""
    import atexit
    import shutil
    import tempfile

    from cartography_spark.pipeline.sync import load
    from cartography_spark.schema import NodeSchema, PropertyRef
    from cartography_spark.store.graphstore import GraphStore

    root = tempfile.mkdtemp(prefix="kg_typed_index_")
    atexit.register(shutil.rmtree, root, True)  # lazy plan reads the files
    store = GraphStore(spark, root)
    cust = _t(spark, sf_dir, "customer")
    plain = cust.where(F.col("c_acctbal") <= 800).select(
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("id"),
        F.create_map(
            F.lit("bal_cents"),
            F.round(F.col("c_acctbal") * 100).cast("long").cast("string"),
        ).alias("props"),
    )
    store.merge_nodes(plain, 1000)
    vip_schema = NodeSchema(
        label="Vip",
        properties={
            "id": PropertyRef("cid"),
            "bal_cents": PropertyRef("balc", extra_index=True, index_type="bigint"),
        },
    )
    vips = cust.where(F.col("c_acctbal") > 500).select(
        F.col("c_custkey").cast("string").alias("cid"),
        F.round((F.col("c_acctbal") + 100) * 100).cast("long").alias("balc"),
    )
    load(store, vip_schema, vips, 2000)
    return (
        store.read_nodes()
        .where(F.col("_p_bal_cents") > 75000)
        .select("label", "id", F.col("_p_bal_cents").alias("bal_cents"))
    )


def kg_cleanup_stale_c1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 staleness sweep: nodes = all customers; the new run touches only
    customers having orders. The anti-join yields the doomed (stale) set
    per nation — the distributed replacement for the LIMIT-100 delete
    loop."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    touched = orders.where(F.col("o_orderdate") >= F.lit("2000-01-01")).select("o_custkey").distinct()
    stale = cust.join(touched, cust["c_custkey"] == touched["o_custkey"], "left_anti")
    return (
        stale.join(F.broadcast(nation), stale["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count("*").alias("n_stale"))
    )


def kg_link_exact_j2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 equi rel-join: event actors attach to Customer target nodes by
    key; unmatched actors drop (inner = the reference's CALL{} null
    tolerance)."""
    events = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    return (
        events.select("user_id").distinct()
        .join(cust, F.col("user_id") == F.col("c_custkey"))
        .select(
            F.concat(F.lit("U"), F.col("user_id")).alias("src"),
            F.concat(F.lit("C"), F.col("c_custkey")).alias("dst"),
            F.lit("ACTS_AS").alias("rel_label"),
        )
    )


def kg_link_ignorecase_j3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 case-insensitive matcher join (matcher_join with
    ignore_case=True PropertyRef)."""
    from cartography_spark.operators.linking import matcher_join
    from cartography_spark.schema.common import PropertyRef

    cust = _t(spark, sf_dir, "customer")
    dim = spark.createDataFrame(
        [("Building",), ("mACHINERY",), ("AutoMobile",)], "seg string"
    )
    joined = matcher_join(
        cust.withColumnRenamed("c_mktsegment", "segment"),
        dim,
        {"seg": PropertyRef("segment", ignore_case=True)},
    )
    return joined.select(
        F.col("c_custkey").alias("c_custkey"), F.col("__t_seg").alias("seg")
    )


def kg_link_fuzzy_j4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 fuzzy CONTAINS theta-join (broadcast small side)."""
    from cartography_spark.operators.linking import matcher_join
    from cartography_spark.schema.common import PropertyRef

    part = _t(spark, sf_dir, "part")
    dim = spark.createDataFrame([("econ",), ("Stand",), ("LARG",), ("med",)], "frag string")
    joined = matcher_join(
        F.broadcast(dim), part.select("p_partkey", "p_type"),
        {"p_type": PropertyRef("frag", fuzzy_and_ignore_case=True)},
    )
    return joined.select(F.col("__t_p_partkey").alias("p_partkey"), F.col("frag"))


def kg_link_one_to_many_j5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 one_to_many: the item field is a LIST (words of the doc);
    explode + equi-join to the target vocab nodes."""
    from cartography_spark.operators.linking import matcher_join
    from cartography_spark.schema.common import PropertyRef

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("words")
    )
    vocab = spark.createDataFrame(
        [("spark", 1), ("join", 2), ("merge", 3)], "word string, word_id int"
    )
    joined = matcher_join(docs, vocab, {"word": PropertyRef("words", one_to_many=True)})
    return joined.select(
        "doc_id", F.col("__t_word").alias("word"), F.col("__t_word_id").alias("word_id")
    )


def kg_matchlink_j7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 MatchLink: lineitem rows are edge candidates between two
    already-loaded node sets (Supplier, Part); rows missing either
    endpoint drop via the two inner joins."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy(
            F.concat(F.lit("S"), F.col("s_suppkey")).alias("src"),
            F.concat(F.lit("P"), F.col("p_partkey")).alias("dst"),
        )
        .agg(F.count("*").alias("n"))
        .withColumn("rel_label", F.lit("SUPPLIES"))
    )


def kg_cc_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components canonicalization: nations are equivalent when
    they share a region; canonical id = component min (runs the real
    large-star/small-star loop)."""
    from cartography_spark.operators.components import canonicalize, group_star_edges

    nation = _t(spark, sf_dir, "nation")
    # Star edges to the group min (O(k) per group), NOT a within-group
    # self-join clique (O(k²)) — identical components, no shuffle bomb
    # on hot groups.
    edges = group_star_edges(nation, "n_regionkey", "n_nationkey")
    nodes = nation.select(F.col("n_nationkey").cast("long").alias("id"))
    out = canonicalize(nodes, edges.select(F.col("src").cast("long"), F.col("dst").cast("long")))
    return out.select(F.col("id"), F.col("canonical_id").alias("component"))


def _entity_graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared node/edge frames for the graph-analytics gates: string-id
    entity graph Customer -> Nation -> Region (+ Supplier -> Nation),
    i.e. the membership structure of the KG with genuinely skewed
    in-degrees (a nation's in-degree = its customer+supplier count)."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    nodes = (
        cust.select(F.concat(F.lit("C"), F.col("c_custkey")).alias("id"))
        .unionAll(supp.select(F.concat(F.lit("S"), F.col("s_suppkey")).alias("id")))
        .unionAll(nation.select(F.concat(F.lit("N"), F.col("n_nationkey")).alias("id")))
        .unionAll(region.select(F.concat(F.lit("R"), F.col("r_regionkey")).alias("id")))
    )
    edges = (
        cust.select(
            F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
            F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
        )
        .unionAll(
            supp.select(
                F.concat(F.lit("S"), F.col("s_suppkey")).alias("src"),
                F.concat(F.lit("N"), F.col("s_nationkey")).alias("dst"),
            )
        )
        .unionAll(
            nation.select(
                F.concat(F.lit("N"), F.col("n_nationkey")).alias("src"),
                F.concat(F.lit("R"), F.col("n_regionkey")).alias("dst"),
            )
        )
    )
    return nodes, edges


def kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank entity salience over the KG membership graph (5 power
    iterations, d=0.85, dangling mass redistributed — regions are the
    dangling hubs here, exactly the web-graph shape). The oracle twin
    is the SAME power iteration unrolled into chained DuckDB CTEs, so
    the green hash proves the distributed iterate-join-aggregate loop
    equals the textbook sequential formulation."""
    from cartography_spark.operators.graphrank import pagerank

    nodes, edges = _entity_graph(spark, sf_dir)
    out = pagerank(nodes, edges, damping=0.85, iterations=5)
    return out.select("id", F.round("pagerank", 6).alias("pagerank"))


def kg_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the EXTRACTED mention graph: documents ->
    vocab mentions -> bipartite source<->term edges weighted by mention
    counts -> 5 power iterations. The full extract-build-rank chain in
    one driver-visible gate (the mention derivation is the flagship's;
    the rank oracle is the unrolled CTE builder with the weighted
    contribution rule r(u)*w/W(u))."""
    from cartography_spark.functions.triples import extract_mentions
    from cartography_spark.operators.graphrank import pagerank

    docs = _t(spark, sf_dir, "documents")
    vocab = ["spark", "join", "merge", "filter", "scan", "hash", "sort", "agg"]
    mentions = extract_mentions(docs, "doc_id", "text", vocab)
    fwd = (
        mentions.join(
            docs.select("doc_id", "source"), mentions["subj_id"] == F.col("doc_id")
        )
        .groupBy(F.col("source").alias("src"), F.col("obj").alias("dst"))
        .agg(F.sum("n_mentions").cast("double").alias("weight"))
    )
    edges = fwd.unionAll(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    nodes = edges.select(F.col("src").alias("id")).distinct()
    out = pagerank(nodes, edges, damping=0.85, iterations=5, weight_col="weight")
    return out.select("id", F.round("pagerank", 6).alias("pagerank"))


def kg_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank over the membership graph with the
    teleport concentrated on the region nodes: seed-relative entity
    salience (the seeded-random-walk relevance measure), against the
    same unrolled-CTE oracle builder with the reset-vector rule."""
    from cartography_spark.operators.graphrank import personalized_pagerank

    nodes, edges = _entity_graph(spark, sf_dir)
    seeds = nodes.where(F.col("id").startswith("R"))
    out = personalized_pagerank(nodes, edges, seeds, damping=0.85, iterations=5)
    return out.select("id", F.round("pagerank", 6).alias("pagerank"))


def kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts via degree-ordered orientation. Edge
    set = membership graph + the customer/supplier->region shortcut
    edges, so every customer and supplier closes exactly one
    (member, nation, region) triangle — hub counts are the per-nation
    / per-region rollups. Integer-exact; the oracle twin enumerates
    triangles with the independent id-ordered 3-way self-join."""
    from cartography_spark.operators.graphrank import triangle_count

    return triangle_count(_triangle_edges(spark, sf_dir))


def kg_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the triangle-closing entity
    graph (membership edges + member->region shortcuts): per-node
    degree, triangle count, and 2T/(deg*(deg-1)) — the density signal
    used to flag link farms vs topical hubs on web graphs. Exact
    integers everywhere except the single final division."""
    from cartography_spark.operators.graphrank import clustering_coefficient

    return clustering_coefficient(_triangle_edges(spark, sf_dir)).select(
        "id", "deg", "triangles", F.round("coeff", 6).alias("coeff")
    )


def _triangle_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership graph + customer/supplier->region shortcut edges —
    the edge set where every member closes exactly one
    (member, nation, region) triangle."""
    _, edges = _entity_graph(spark, sf_dir)
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    shortcut = (
        cust.join(nation, cust["c_nationkey"] == nation["n_nationkey"])
        .select(
            F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
            F.concat(F.lit("R"), F.col("n_regionkey")).alias("dst"),
        )
        .unionAll(
            supp.join(nation, supp["s_nationkey"] == nation["n_nationkey"]).select(
                F.concat(F.lit("S"), F.col("s_suppkey")).alias("src"),
                F.concat(F.lit("R"), F.col("n_regionkey")).alias("dst"),
            )
        )
    )
    return edges.unionAll(shortcut)


def kg_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities over the membership graph (5
    iterations, L2-normalized each half-step): the complementary
    ranking to PageRank — members score as hubs, nations/regions as
    authorities. Oracle: the same update order unrolled into
    MATERIALIZED CTEs."""
    from cartography_spark.operators.graphrank import hits

    nodes, edges = _entity_graph(spark, sf_dir)
    out = hits(nodes, edges, iterations=5)
    return out.select(
        "id", F.round("hub", 6).alias("hub"), F.round("authority", 6).alias("authority")
    )


def kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the doc<->term mention bipartite graph (iterative
    peel, 6 rounds fixed on BOTH sides so the unrolled oracle compares
    bit-for-bit even pre-convergence): the dense co-occurrence core —
    docs mentioning >=3 surviving terms and terms mentioned by >=3
    surviving docs. The graph-side curation gate."""
    from cartography_spark.functions.triples import extract_mentions
    from cartography_spark.operators.graphrank import k_core

    docs = _t(spark, sf_dir, "documents")
    vocab = ["spark", "join", "merge", "filter", "scan", "hash", "sort", "agg"]
    mentions = extract_mentions(docs, "doc_id", "text", vocab)
    edges = mentions.select(
        F.concat(F.lit("D"), F.col("subj_id")).alias("src"),
        F.col("obj").alias("dst"),
    )
    return k_core(edges, k=3, max_rounds=6)


def kg_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from the region seeds over the REVERSED membership
    graph (region -> nation -> member): bounded multi-source BFS — the
    quantitative form of the reference's bounded-hop exposure walks
    (how far is each entity from a trust boundary). Integer-exact
    (LONG hops, no floats anywhere); the oracle twin is the unrolled
    min-relaxation, which the frontier implementation provably equals
    round-for-round."""
    from cartography_spark.operators.graphrank import shortest_paths

    nodes, edges = _entity_graph(spark, sf_dir)
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    seeds = nodes.where(F.col("id").startswith("R"))
    return shortest_paths(nodes, rev, seeds, rounds=3)


def kg_weighted_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest mention-path cost from the 'spark' term over the
    EXTRACTED doc<->term bipartite graph (edge cost = that doc's
    mention count of that term): weighted multi-source relaxation over
    the full tokenize->build->traverse chain in one gate. Costs are
    integer-valued doubles (sums of counts), so the min-relaxation is
    bit-exact on both engines."""
    from cartography_spark.functions.triples import extract_mentions
    from cartography_spark.operators.graphrank import shortest_paths

    docs = _t(spark, sf_dir, "documents")
    vocab = ["spark", "join", "merge", "filter", "scan", "hash", "sort", "agg"]
    mentions = extract_mentions(docs, "doc_id", "text", vocab)
    fwd = mentions.select(
        F.concat(F.lit("D"), F.col("subj_id")).alias("src"),
        F.col("obj").alias("dst"),
        F.col("n_mentions").cast("double").alias("cost"),
    )
    edges = fwd.unionAll(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "cost")
    )
    nodes = edges.select(F.col("src").alias("id")).distinct()
    seeds = nodes.where(F.col("id") == F.lit("spark"))
    out = shortest_paths(nodes, edges, seeds, rounds=4, weight_col="cost")
    return out.select("id", F.round("dist", 6).alias("dist"))


def kg_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (3 iterations,
    most-frequent-neighbor-label update, ties to the smallest label)
    over the triangle-closing entity graph — the deterministic
    community assignment whose unrolled-CTE twin replays the exact
    (count desc, label asc) pick order. Communities converge toward
    the region clusters, the KG's genuine group structure."""
    from cartography_spark.operators.graphrank import label_propagation

    nodes, _ = _entity_graph(spark, sf_dir)
    return label_propagation(nodes, _triangle_edges(spark, sf_dir), iterations=3)


def _mention_bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized doc<->term mention edges — the shared EXTRACTED
    graph for the embedding-corpus gates."""
    from cartography_spark.functions.triples import extract_mentions

    docs = _t(spark, sf_dir, "documents")
    vocab = ["spark", "join", "merge", "filter", "scan", "hash", "sort", "agg"]
    mentions = extract_mentions(docs, "doc_id", "text", vocab)
    fwd = mentions.select(
        F.concat(F.lit("D"), F.col("subj_id")).alias("src"),
        F.col("obj").alias("dst"),
    )
    return fwd.unionAll(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def kg_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk corpus over the extracted doc<->term
    mention graph: one 3-step walk per node, every step pick an md5
    draw over the dst-sorted adjacency index — the skip-gram training
    corpus for KG embeddings, bit-identical at any parallelism. The
    oracle twin replays every draw hex-identically."""
    from cartography_spark.operators.embedding import random_walks

    return random_walks(
        _mention_bipartite_edges(spark, sf_dir), walk_len=3, num_walks=1
    )


def kg_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TransE-style filtered negative sampling over the extracted
    mention triples: k=2 md5-drawn object corruptions per true triple,
    minus any corruption that collides with a true triple — the
    margin-ranking training pairs for KG embeddings."""
    from cartography_spark.functions.triples import extract_mentions
    from cartography_spark.operators.embedding import negative_samples

    docs = _t(spark, sf_dir, "documents")
    vocab = ["spark", "join", "merge", "filter", "scan", "hash", "sort", "agg"]
    mentions = extract_mentions(docs, "doc_id", "text", vocab)
    triples = mentions.select(
        F.concat(F.lit("D"), F.col("subj_id")).alias("subj"), "pred", "obj"
    )
    return negative_samples(triples, k=2)


def kg_hyperball_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall approximate 2-hop neighborhood sizes over the
    extracted doc<->term mention graph: HLL registers seeded per node
    and max-merged along edges each round — the scalable substitute
    for exact all-pairs BFS (neighborhood function / effective
    diameter input). Every register and fold step re-derived
    hex-identically by the DuckDB twin."""
    from cartography_spark.operators.graphrank import hyperball

    out = hyperball(_mention_bipartite_edges(spark, sf_dir), rounds=2, p=6)
    return out.select("id", F.round("approx_reach", 4).alias("approx_reach"))


def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy-hitter estimates for per-user event frequencies
    beside the exact counts (d=4 rows x w=64 buckets over 150 users, so
    bucket collisions actually bite and the one-sided overestimate is
    visible in the gated values). Integer-exact end to end — build,
    probe, min — on both engines."""
    from cartography_spark.operators.sketches import (
        count_min_counters,
        count_min_estimate,
    )

    ev = _t(spark, sf_dir, "events")
    counters = count_min_counters(ev, "user_id", depth=4, width=64)
    est = count_min_estimate(counters, ev, "user_id", depth=4, width=64)
    exact = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy(F.col("user_id").cast("string").alias("user_id"))
        .agg(F.count("*").alias("exact"))
    )
    return est.join(exact, "user_id").select("user_id", "est", "exact")


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement: the 3
    docs per source drawn with probability proportional to token count
    — quality-weighted data mixing, reproducible at any parallelism
    (keys are md5 pure functions of the id). Selection = one row_number
    over (source, key), the topk plan."""
    from cartography_spark.operators.curation import weighted_sample

    docs = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("w")
    )
    out = weighted_sample(docs, ["source"], "w", "doc_id", k=3)
    return out.select("source", "doc_id", "sample_rank")


def text_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring with a corpus-trained unigram LM:
    per-doc mean token logprob and perplexity under add-1 smoothing —
    the fluency ranking signal for curation. Counts are integer-exact
    into one ln per vocabulary type; only the per-doc sum is
    order-sensitive (absorbed by the rounding)."""
    from cartography_spark.functions.textstats import unigram_lm_scores

    docs = _t(spark, sf_dir, "documents")
    out = unigram_lm_scores(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("avg_logprob", 6).alias("avg_logprob"),
        F.round("ppl", 4).alias("ppl"),
    )


def dedup_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 5-gram spans (the Lee et al. 2022
    exact-substring dedup signal at fixed length): every 5-gram in >= 2
    distinct docs with document frequency and occurrence count —
    boilerplate/template detection below the document level. One
    token-stream shuffle, integer-exact."""
    from cartography_spark.operators.dedup import repeated_ngram_spans

    docs = _t(spark, sf_dir, "documents")
    return repeated_ngram_spans(docs, "doc_id", "text", n=5, min_docs=2)


def web_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL dedup: three deterministic variant spellings
    per page (mixed-case host + default port + tracking params +
    fragment + trailing slashes + shuffled param order) must collapse
    onto one canonical URL — every normalization rule exercised in one
    gate, with the DuckDB twin re-deriving both the variant
    construction and the normalization independently."""
    from cartography_spark.functions.urls import dedup_by_canonical_url

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    base = F.expr("doc_id DIV 3").cast("string")
    site = F.expr("(doc_id DIV 3) % 7").cast("string")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("HTTPS://Site"), site, F.lit(".Example.org:443/page/"),
                base, F.lit("/?utm_source=feed&b=2&a=1#top"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("https://site"), site, F.lit(".example.org/page/"),
                base, F.lit("?a=1&b=2&fbclid=abc"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://site"), site, F.lit(".example.org/page/"),
                base, F.lit("//?b=2&a=1"),
            )
        )
    )
    return dedup_by_canonical_url(docs.select(url.alias("url")), "url")


def kg_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HyperBall neighborhood function N(0..3) over the extracted
    mention graph: mean approximate ball size per radius — the
    effective-diameter input curve, one register round + one 1-row fold
    per radius."""
    from cartography_spark.operators.graphrank import neighborhood_function

    out = neighborhood_function(_mention_bipartite_edges(spark, sf_dir), max_r=3, p=6)
    return out.select("r", F.round("avg_reach", 4).alias("avg_reach"))


def profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-column profile of the events table (row/null/
    distinct counts, typed min/max; timestamps as epoch micros) — the
    post-materialization stats gate every pipeline stage runs. One
    aggregation pass; the only collect is the 1-row aggregate."""
    from cartography_spark.operators.profile import profile_table

    ev = _t(spark, sf_dir, "events")
    return profile_table(
        ev, ["event_id", "ts", "user_id", "event_type", "value"]
    )


def kg_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order node2vec biased walks (p=2, q=0.5 — outward
    exploration) over the extracted mention graph: the return /
    stay-near / explore weight profile, the dst-sorted CDF, and the md5
    draw all replayed by the unrolled twin; dyadic weights make every
    cumsum exact on both engines."""
    from cartography_spark.operators.embedding import node2vec_walks

    return node2vec_walks(
        _mention_bipartite_edges(spark, sf_dir), walk_len=3, p=2.0, q=0.5
    )


def sketch_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom pre-filter for decontamination beside exact membership:
    a 256-bit / 3-hash filter over a benchmark subset's texts probed by
    every doc — never a false negative (pinned by exact), false
    positives visible in the gated values at this deliberately tiny m.
    The at-scale path when the blocklist outgrows the broadcast
    budget."""
    from cartography_spark.operators.sketches import bloom_bits, bloom_maybe_contains

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 17 == 0)
    bits = bloom_bits(bench, "text", m_bits=256, k=3)
    maybe = bloom_maybe_contains(docs, bits, "text", m_bits=256, k=3)
    exact = docs.join(
        bench.select(F.col("text").alias("__bt")).distinct(),
        docs["text"] == F.col("__bt"),
        "left",
    ).select("doc_id", F.col("__bt").isNotNull().alias("exact_member"))
    return maybe.join(exact, "doc_id").select(
        "doc_id", "maybe_member", "exact_member"
    )


def kg_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context, offset) pairs within a ±2 window
    over the deterministic walk corpus — the word2vec training layout
    DeepWalk feeds; one walk-keyed self-join with bounded fan-out."""
    from cartography_spark.operators.embedding import random_walks, skipgram_pairs

    walks = random_walks(
        _mention_bipartite_edges(spark, sf_dir), walk_len=3, num_walks=1
    )
    return skipgram_pairs(walks, window=2)


def kg_entity_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """±2-token context windows around every vocabulary mention
    occurrence (center excluded) — the contextual-embedding corpus and
    the per-mention provenance record; codegen-only array slicing."""
    from cartography_spark.functions.triples import entity_contexts

    docs = _t(spark, sf_dir, "documents")
    vocab = ["spark", "join", "merge", "filter", "scan", "hash", "sort", "agg"]
    return entity_contexts(docs, "doc_id", "text", vocab, window=2)


def kg_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall harmonic centrality (sum over radii of new-ball-mass
    / r) over the extracted mention graph — the disconnected-graph-safe
    centrality, one register round + per-node fold per radius."""
    from cartography_spark.operators.graphrank import harmonic_centrality

    out = harmonic_centrality(_mention_bipartite_edges(spark, sf_dir), max_r=3, p=6)
    return out.select("id", F.round("harmonic", 4).alias("harmonic"))


def sample_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing plan over the documents corpus: per-source token
    availability vs an uneven target mixture -> the no-upsampling
    sampling rates (the scarcest targeted stratum is kept whole,
    rate = 1). Feed the rates into stratified_sample to materialize."""
    from cartography_spark.operators.curation import mixture_plan

    docs = _t(spark, sf_dir, "documents").select(
        "source", F.size(F.split("text", " ")).alias("w")
    )
    targets = {f"src{i}": 0.2 if i < 3 else 0.4 / 17 for i in range(20)}
    out = mixture_plan(docs, "source", "w", targets)
    return out.select(
        "stratum", "n_rows", "available",
        F.round("target_share", 6).alias("target_share"),
        F.round("rate", 6).alias("rate"),
        F.round("planned", 4).alias("planned"),
    )


def text_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile-rank calibration of document length (an
    integer score, so the cross-engine ordering is bit-stable): the
    normalization that makes curation thresholds comparable across
    heterogeneous sources."""
    from cartography_spark.operators.curation import calibrate_scores

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    out = calibrate_scores(docs, ["source"], "n_tokens")
    return out.select(
        "doc_id", "source", "n_tokens", F.round("pct_rank", 6).alias("pct_rank")
    )


def kg_related_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "related entities" serving view every KG exposes: top-3
    co-occurring entities per entity by NPMI (symmetric closure of the
    PMI pairs), deterministic (npmi desc, neighbor asc) tie-break —
    rides one window over the pair table."""
    from cartography_spark.functions.triples import extract_mentions
    from cartography_spark.operators.index import cooccurrence_pmi

    docs = _t(spark, sf_dir, "documents")
    vocab = ["spark", "join", "merge", "filter", "scan", "hash", "sort", "agg"]
    mentions = extract_mentions(docs, "doc_id", "text", vocab)
    pairs = cooccurrence_pmi(mentions, "subj_id", "obj")
    sym = pairs.select(
        F.col("term_a").alias("entity"), F.col("term_b").alias("related"),
        "n_pair", "npmi",
    ).unionAll(
        pairs.select(
            F.col("term_b").alias("entity"), F.col("term_a").alias("related"),
            "n_pair", "npmi",
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("entity").orderBy(
        F.col("npmi").desc(), F.col("related").asc()
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("entity", "related", "n_pair", F.round("npmi", 6).alias("npmi"), "rank")
    )


def kg_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned in/out-degree histogram of the membership graph —
    the power-law fingerprint every web-graph audit starts with.
    Integer-exact: the bin is length(bin(degree)) - 1 = floor(log2),
    derived without floats on both engines."""
    nodes, edges = _entity_graph(spark, sf_dir)

    def hist(col: str, direction: str) -> DataFrame:
        deg = edges.groupBy(F.col(col).alias("id")).agg(
            F.count("*").alias("deg")
        )
        return (
            deg.select((F.length(F.bin("deg")) - 1).alias("log2_bin"))
            .groupBy("log2_bin")
            .agg(F.count("*").alias("n_nodes"))
            .select(F.lit(direction).alias("direction"), "log2_bin", "n_nodes")
        )

    return hist("src", "out").unionAll(hist("dst", "in"))


def kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-overlap audit at sketch cost: pairwise
    Jaccard between every two sources' word-3-gram shingle sets,
    estimated from 128-hash KMV sketches BESIDE the exact Jaccard —
    the contamination/duplication map a multi-source corpus needs
    before mixing, with the estimator's error driver-visible."""
    from cartography_spark.functions.textstats import word_shingles
    from cartography_spark.operators.sketches import kmv_jaccard_pairs, kmv_sketch

    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "source", F.explode(word_shingles(F.col("text"), 3)).alias("s")
    ).distinct()
    est = kmv_jaccard_pairs(kmv_sketch(sh, ["source"], "s", k=128), "source", k=128)
    sizes = sh.groupBy(F.col("source")).agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("group_a"), F.col("b.source").alias("group_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    out = (
        est.join(inter, ["group_a", "group_b"], "left")
        .join(
            sizes.select(F.col("source").alias("group_a"), F.col("n").alias("na")),
            "group_a",
        )
        .join(
            sizes.select(F.col("source").alias("group_b"), F.col("n").alias("nb")),
            "group_b",
        )
        .withColumn("__i", F.coalesce(F.col("inter"), F.lit(0)))
    )
    return out.select(
        "group_a",
        "group_b",
        F.round("jaccard_est", 6).alias("jaccard_est"),
        F.round(
            F.col("__i") / (F.col("na") + F.col("nb") - F.col("__i")), 6
        ).alias("jaccard_exact"),
    )


def kg_entity_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI / normalized-PMI association between extracted vocabulary
    entities co-mentioned in the same document — the relation-mining
    signal over the KG vocabulary (which entity pairs co-occur beyond
    chance). Integer counts into a final ln on both engines."""
    from cartography_spark.functions.triples import extract_mentions
    from cartography_spark.operators.index import cooccurrence_pmi

    docs = _t(spark, sf_dir, "documents")
    vocab = ["spark", "join", "merge", "filter", "scan", "hash", "sort", "agg"]
    mentions = extract_mentions(docs, "doc_id", "text", vocab)
    out = cooccurrence_pmi(mentions, "subj_id", "obj")
    return out.select(
        "term_a",
        "term_b",
        "n_pair",
        F.round("pmi", 6).alias("pmi"),
        F.round("npmi", 6).alias("npmi"),
    )


def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct counts per event type, beside
    the exact answer: event_id cardinality lands in the raw-estimator
    branch, user_id in the linear-counting branch, so ONE gate
    value-hashes both correction paths (hash, register, rank, fold, ln
    — all re-derived in the DuckDB twin). The approx/exact pairing is
    the accuracy audit a 100 TB pipeline runs at small scale before
    trusting the sketch at full scale."""
    from cartography_spark.operators.sketches import hll_distinct

    ev = _t(spark, sf_dir, "events")

    def one(metric: str) -> DataFrame:
        approx = hll_distinct(ev, ["event_type"], metric, p=8)
        exact = ev.groupBy("event_type").agg(
            F.countDistinct(metric).alias("exact")
        )
        return approx.join(exact, "event_type").select(
            "event_type",
            F.lit(metric).alias("metric"),
            F.round("approx_distinct", 4).alias("approx"),
            "exact",
        )

    return one("event_id").unionAll(one("user_id"))


def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smooth idf, deterministic
    term-asc tie-break) — corpus relevance scoring for retrieval /
    curation weighting."""
    from cartography_spark.functions.textstats import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing of the documents corpus into
    512-token context windows (GPT-style pretraining layout): per-doc
    stream position, window id, in-window offset, windows spanned. The
    Spark side is the two-pass distributed scan (never a
    single-partition global window); the oracle is DuckDB's one global
    cumsum — a green hash proves the scan decomposition exact."""
    from cartography_spark.operators.packing import pack_documents

    return pack_documents(_t(spark, sf_dir, "documents"), capacity=512)


def shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment: every document gets a
    pseudo-random shard (md5 bucket) and a reproducible within-shard
    position — the global shuffle a trainer reads, identical across
    runs/retries/cluster sizes; epoch reshuffles are a salt change."""
    from cartography_spark.operators.packing import shard_assignment

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return shard_assignment(docs, n_shards=8, salt="epoch0")


def text_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the documents corpus: per-term document
    frequency (full) + the 16 smallest doc_ids containing the term
    (capped ordered posting list) — the retrieval-side sink layout.
    The list is compared as its comma-joined string: an array cell is
    unhashable in the gate's canonical sort."""
    from cartography_spark.operators.index import build_postings

    out = build_postings(_t(spark, sf_dir, "documents"), max_postings=16)
    return out.withColumn(
        "postings", F.array_join(F.col("postings").cast("array<string>"), ",")
    )


def agg_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling 3-event statistics over the event stream
    (moving sum/min/max of value, ordered by ts with event_id
    tie-break): the telemetry smoothing / anomaly-baseline primitive.
    One hash exchange on user_id + one in-partition sort — both rolling
    frames share it (plan has exactly one exchange). Sum rounds to 6dp
    (the one float accumulation); min/max are order-statistics, exact."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 6).alias("roll_sum"),
        F.min("value").over(w).alias("roll_min"),
        F.max("value").over(w).alias("roll_max"),
        F.count("*").over(w).alias("roll_n"),
    )


def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 sign projection of the 64-dim embedding
    corpus down to 8 columns — row-local (zero shuffle), deterministic
    sign matrix shared verbatim with the DuckDB twin's literal lists."""
    from cartography_spark.operators.similarity import random_projection

    emb = _t(spark, sf_dir, "embeddings")
    out = random_projection(emb, out_dim=8, in_dim=64, seed="rp")
    return out.select(
        "vec_id", *[F.round(f"p{j}", 6).alias(f"p{j}") for j in range(8)]
    )


def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/valid/test split of the documents
    corpus: md5-bucket thresholds, disjoint + complete by construction,
    identical across runs/retries/cluster sizes — eval rows can never
    leak into train across pipeline versions."""
    from cartography_spark.operators.curation import split_assignment

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return split_assignment(
        docs, {"train": 0.9, "valid": 0.05, "test": 0.05}
    )


def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a fixed 3-term query
    (Robertson/Lucene idf, k1=1.2, b=0.75) — the retrieval scorer built
    from the same corpus stats as the inverted index; the query-term IN
    filter pushes below the token explode so the shuffle is bounded by
    query-term occurrences, not the corpus token stream."""
    from cartography_spark.operators.index import bm25_scores

    return bm25_scores(
        _t(spark, sf_dir, "documents"), ["spark", "hash", "merge"]
    ).select("doc_id", F.round("score", 6).alias("score"))


def kg_var_length_path_j8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 bounded var-length path [*1..2]: customer -> nation -> region
    over a unified string-id edge set, using the real expand() loop."""
    from cartography_spark.operators.graphquery import expand

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    e1 = cust.select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
        F.lit("IN").alias("rel_label"),
    )
    e2 = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("src"),
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("dst"),
        F.lit("IN").alias("rel_label"),
    )
    edges = e1.unionByName(e2)
    seeds = cust.where(F.col("c_custkey") < 10).select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("node")
    )
    return expand(seeds, edges, min_hops=1, max_hops=2)


def kg_exposure_analysis_n1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1 exposure propagation: seed EUROPE region, propagate 2 hops
    (region->nation->customer) with provenance path, via the real
    analysis-job operator."""
    from cartography_spark.pipeline.analysis import exposure_propagation

    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    empty_props = F.expr("map()").cast("map<string,string>")
    nodes = (
        region.select(F.lit("Region").alias("label"), F.concat(F.lit("R"), "r_regionkey").alias("id"), F.col("r_name").alias("name"))
        .unionByName(nation.select(F.lit("Nation").alias("label"), F.concat(F.lit("N"), "n_nationkey").alias("id"), F.col("n_name").alias("name")))
        .unionByName(cust.select(F.lit("Customer").alias("label"), F.concat(F.lit("C"), "c_custkey").alias("id"), F.col("c_name").alias("name")))
        .withColumn("props", empty_props)
    )
    edges = (
        nation.select(F.concat(F.lit("R"), "n_regionkey").alias("src"), F.concat(F.lit("N"), "n_nationkey").alias("dst"), F.lit("HAS_NATION").alias("rel_label"))
        .unionByName(cust.select(F.concat(F.lit("N"), "c_nationkey").alias("src"), F.concat(F.lit("C"), "c_custkey").alias("dst"), F.lit("HAS_CUSTOMER").alias("rel_label")))
    )
    seed = (F.col("label") == "Region") & (F.col("name") == "EUROPE")
    out = exposure_propagation(
        nodes.select("label", "id", "props", "name"), edges, seed,
        ["HAS_NATION", "HAS_CUSTOMER"], hops=2,
    )
    return out.where(F.element_at("props", "exposed") == "true").select(
        "id", F.element_at("props", "exposed_via").alias("via")
    )


def kg_mention_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/UDTF fan-out: JVM-only mention-triple extraction over the
    documents corpus (split -> explode -> vocab filter -> count)."""
    from cartography_spark.functions.triples import extract_mentions

    docs = _t(spark, sf_dir, "documents")
    vocab = ["spark", "join", "merge", "filter", "scan", "hash"]
    return extract_mentions(docs, "doc_id", "text", vocab).withColumnRenamed(
        "subj_id", "doc_id"
    )


def kg_bigram_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 fan-out triple extraction: corpus-wide (subj, precedes, obj)
    bigram triples with counts — the aggregated KG edge-weight shape."""
    docs = _t(spark, sf_dir, "documents")
    vocab = ["spark", "join", "merge", "filter"]
    # Stage the token array: HOF lambdas are interpreted (no CSE), so an
    # inline split() would re-tokenize the text per referenced element.
    toks_df = docs.select(F.split("text", " ").alias("toks")).where(F.size("toks") >= 2)
    toks = F.col("toks")
    pairs = toks_df.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.struct(
                    F.element_at(toks, i).alias("subj"),
                    F.element_at(toks, i + 1).alias("obj"),
                ),
            )
        ).alias("p")
    )
    return (
        pairs.select(F.col("p.subj").alias("subj"), F.col("p.obj").alias("obj"))
        .where(F.col("subj").isin(vocab))
        .groupBy("subj", "obj")
        .agg(F.count("*").alias("n"))
        .withColumn("pred", F.lit("precedes"))
    )


def kg_policy_eval_j6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/T5 wildcard-policy evaluation: IAM-style patterns (* ?) compiled
    to anchored case-insensitive regexes, evaluated principals x
    resources via broadcast + JVM regexp (prefix-blocked)."""
    from cartography_spark.functions.policy import evaluate_policies

    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    policies = spark.createDataFrame(
        [("pol1", "PROM*"), ("pol2", "?CONOMY"), ("pol3", "S*"), ("pol4", "*dium")],
        "pid string, pattern string",
    )
    return evaluate_policies(part, policies, "p_type", "pattern").select(
        "pid", "p_partkey", "p_type"
    )


def kg_policy_allow_deny(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/J6 full statement-list resolution: Allow/Deny precedence,
    action/notaction, resource/notresource, first-determined-permission
    ordering, any-policy deny override — granted (principal, resource)
    pairs over the part types. Includes a deny-overrides-allow case
    (reader's *BRASS deny) and a cross-policy deny (ordered)."""
    from cartography_spark.functions.policy import STATEMENTS_DDL, permission_relationships

    part = _t(spark, sf_dir, "part")
    res = part.select(F.col("p_type").alias("resource_arn")).distinct()
    stmts = spark.createDataFrame(
        [
            ("admin", "admin-pol", 0, "Allow", ["read:*"], None, ["*"], None),
            ("reader", "reader-allow", 0, "Allow", ["read:Object"], None, ["PROM*"], None),
            ("reader", "reader-deny", 0, "Deny", ["*"], None, ["*BRASS"], None),
            ("negator", "neg-pol", 0, "Allow", None, ["read:*"], ["*"], None),
            ("notres", "notres-pol", 0, "Allow", ["read:*"], None, ["*"], ["STANDARD*"]),
            ("ordered", "ord-deny", 0, "Deny", ["write:Object"], None, ["*"], None),
            ("ordered", "ord-allow", 0, "Allow", ["read:Object"], None, ["ECONOMY*"], None),
        ],
        STATEMENTS_DDL,
    )
    return permission_relationships(stmts, res, ["write:Object", "read:Object"])


# ---------------------------------------------------------------------------
# Aggregations / windows / set ops / incremental
# ---------------------------------------------------------------------------


def agg_events_a1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per (user, event_type): times_used / first_seen / last_used —
    the cloudtrail principal-pair aggregation shape."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("times_used"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_seen"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_used"),
    )


def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 wide aggregate (TPC-H q1 shape) with map-side partial agg."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def agg_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (survey §2.5: Spark builtin beyond reference
    parity): order counts/revenue by (status, priority) with subtotals."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame (rows unbounded preceding): running revenue per
    customer over order date — the frame/lag surface the reference
    lacks but Spark provides."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate"), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.where(F.col("o_custkey") < 50).select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a deliberately skewed key
    (event_type mod-bucketed so one bucket holds most rows): the
    skew-safe shape for non-broadcastable hot keys. Identical output to
    a plain GROUP BY for decomposable aggregates — which is exactly
    what the oracle verifies."""
    from cartography_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events").withColumn(
        "hot_key",
        F.when(F.col("event_type").isin("click", "view", "error"), F.lit("hot"))
        .otherwise(F.col("event_type")),
    )
    out = salted_agg(
        ev,
        ["hot_key"],
        {
            "n": ("count", "event_id"),
            "total": ("sum", "value"),
            "first_user": ("min", "user_id"),
        },
        buckets=16,
    )
    return out.select("hot_key", "n", F.round("total", 2).alias("total"), "first_user")


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction (reference analog: the JSON-blob
    handling every intel transform does before MERGE, e.g.
    ``cartography/intel/aws/ec2/instances.py`` tag flattening): parse
    the events ``props`` JSON column with a TYPED ``from_json`` schema
    (JVM Jackson path — stays in codegen; never a Python json.loads)
    and aggregate the extracted field per event type. Malformed/missing
    keys become NULLs and are counted, so the gate also pins the
    null-on-bad-parse contract."""
    ev = _t(spark, sf_dir, "events")
    k = F.from_json("props", "k BIGINT")["k"]
    staged = ev.select("event_type", k.alias("__k"))
    return staged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("__k").alias("sum_k"),
        F.round(F.avg("__k"), 4).alias("avg_k"),
        F.sum(F.col("__k").isNull().cast("long")).alias("n_missing"),
    )


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (p50/p95/p99 of event value per type):
    Spark's exact ``percentile`` agg interpolates identically to
    DuckDB's ``quantile_cont``, so the gate is value-hashed with no
    tolerance. Scale note (in-code, deliberate): the exact agg buffers
    each group's values — correct here because the group count is tiny
    and fixed (event types), while per-URL/per-domain percentiles at
    corpus scale should use ``approx_percentile`` (t-digest-style
    bounded memory; its agreement with the exact form is pinned in
    tests/test_sessions.py rather than the oracle, since the sketch is
    engine-specific)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.percentile("value", 0.5), 4).alias("p50"),
        F.round(F.percentile("value", 0.95), 4).alias("p95"),
        F.round(F.percentile("value", 0.99), 4).alias("p99"),
    )


def agg_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (8h inactivity gap over the events
    table): per-session event counts, bounds, exact microsecond
    duration, summed value — the batch web-analytics primitive (no
    reference analog; training-data/web family). One hash exchange on
    the key; the lag boundary flag and the running session number share
    the same window sort; the DuckDB twin re-derives the numbering
    independently."""
    from cartography_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events")
    s = session_stats(ev, "user_id", "ts", 8 * 3600.0, value_col="value")
    return s.select(
        "user_id", "session_seq", "n_events",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
        (F.unix_micros(F.col("session_end").cast("timestamp"))
         - F.unix_micros(F.col("session_start").cast("timestamp")))
        .cast("long").alias("duration_us"),
        "sum_value",
    )


def agg_session_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session ordered event-type sequences (8h gap): the
    behavioral-sequence corpus for next-event / session-embedding
    training — boundaries bit-identical to agg_sessionize, ordering a
    deterministic (ts, token) total order on both engines."""
    from cartography_spark.operators.sessions import session_sequences

    ev = _t(spark, sf_dir, "events")
    out = session_sequences(ev, "user_id", "ts", "event_type", 8 * 3600.0)
    return out.select(
        F.col("key").alias("user_id"),
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        "n_events",
        "sequence",
    )


def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized point-in-interval join (the second temporal primitive
    Spark lacks a scalable plan for — the naive BETWEEN theta-join
    plans a BroadcastNestedLoopJoin): every event equi-joins on
    (user, day-bucket) to the exploded session intervals of
    `agg_sessionize`, then the exact range filter keeps true
    containment. By construction each event lands in EXACTLY its own
    session, so the gate simultaneously checks the interval-join
    mechanics and sessionization self-consistency. The oracle is the
    straightforward BETWEEN theta-join (DuckDB plans IEJoin for it)."""
    from cartography_spark.operators.sessions import session_stats
    from cartography_spark.operators.temporal import interval_join

    ev = _t(spark, sf_dir, "events")
    sess = session_stats(ev, "user_id", "ts", 8 * 3600.0).select(
        "user_id", "session_seq", "session_start", "session_end"
    )
    pts = ev.select("event_id", "user_id", "ts")
    out = interval_join(
        pts, sess, on="user_id", point_ts="ts",
        start_ts="session_start", end_ts="session_end",
        payload=["session_seq"], bucket_seconds=86400.0,
    )
    return out.select("event_id", "user_id", "session_seq")


def agg_dedup_lastwins_a2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 dedup-by-key last-wins: the latest event per user wins."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.round("value", 2).alias("last_value"),
        )
    )


def agg_window_topk_o1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 ordered top-k per group (rank window, deterministic ties)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "rn")
    )


def join_multihop_j8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 chained equi-joins: revenue per nation through
    lineitem->orders->customer->nation (broadcast the small dims)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed as-of join (temporal joins are NOT PRESENT in the
    reference — SURVEY §2; DuckDB's native ASOF JOIN is the oracle
    twin): for every click event, the same user's newest view at or
    before it. union-tag + carry-forward window: ONE hash exchange on
    the key + one in-partition sort — the sort-merge-join lower bound,
    no range explosion, no cross product. Unmatched clicks keep NULL
    payload (left semantics)."""
    from cartography_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts",
        F.col("event_id").alias("view_id"), F.col("value").alias("view_value"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts",
    )
    out = asof_join(
        views, clicks, on="user_id", version_ts="ts", query_ts="ts",
        payload=["view_id", "view_value"],
    )
    return out.select(
        "click_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        "view_id",
        F.date_format("matched_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("view_ts"),
        "view_value",
    )


def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (cleanup's core op) as a standalone query: customers
    with no orders, counted per nation."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    no_orders = cust.join(urgent, cust["c_custkey"] == urgent["o_custkey"], "left_anti")
    return (
        no_orders.join(F.broadcast(nation), no_orders["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count("*").alias("n_without_orders"))
    )


def set_union_x1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 UNION of subquery branches (distinct union)."""
    cust = _t(spark, sf_dir, "customer")
    ev = _t(spark, sf_dir, "events")
    a = cust.where(F.col("c_acctbal") > 900).select(
        F.concat(F.lit("C"), "c_custkey").alias("entity")
    )
    b = ev.where(F.col("event_type") == "signup").select(
        F.concat(F.lit("C"), "user_id").alias("entity")
    )
    return a.union(b).distinct()


def set_drift_x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 drift detection: duplicate-sensitive set difference both ways
    between two query states, via the real state_diff operator."""
    from cartography_spark.operators.drift import state_diff

    orders = _t(spark, sf_dir, "orders")
    start = orders.where(F.col("o_orderdate") < F.lit("1998-01-01")).select("o_orderkey")
    end = orders.where(F.col("o_totalprice") > 50).select("o_orderkey")
    new, missing = state_diff(start, end)
    return new.withColumn("change", F.lit("added")).unionByName(
        missing.withColumn("change", F.lit("removed"))
    )


def incremental_watermark_s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 incremental window: high-water mark from the last 'signup'
    before Jan 15, then read only newer events of that user cohort."""
    ev = _t(spark, sf_dir, "events")
    hwm = ev.where(
        (F.col("event_type") == "signup") & (F.col("ts") < F.lit("2024-01-15"))
    ).agg(F.max("ts").alias("hwm"))
    return (
        ev.join(F.broadcast(hwm))
        .where((F.col("ts") > F.col("hwm")) & (F.col("event_type") == "signup"))
        .select("event_id", "user_id")
    )


# ---------------------------------------------------------------------------
# Training-data ops: dedup / text / similarity
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.dedup import exact_dedup_groups

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", "text")


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "doc_id", "text",
        shingle_n=3, num_hashes=8, bands=4, threshold=0.6,
        family="md5", max_bucket=100000,
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", "lang", shingle_n=3, threshold=0.6)


def dedup_retention_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate RETENTION by maximal independent set: keep a
    maximal set of mutually non-duplicate docs over the exact n-gram
    Jaccard pair graph (threshold 0.6, lang-blocked). CC dedup keeps
    one doc per transitively-closed cluster — chained similarity
    over-merges; MIS keeps strictly more data at the same pairwise
    bar (a kept pair is never a duplicate pair, and nothing else can
    be added). Priorities are md5(doc_id) so the greedy-MIS order is
    deterministic and engine-replicable; the twin unrolls the same
    fixed-priority rounds in SQL (the model-vs-greedy cross-check
    lives in tests/test_mis.py). Output: every doc in scope with its
    keep verdict.

    The gate's pair source is the EXACT blocked all-pairs operator
    (so the edge set is oracle-derivable without replicating LSH
    banding), whose cost is quadratic in block size — above the
    sf0.01 driver scale the doc universe is restricted to a
    deterministic doc_id%5 slice to keep the exact baseline at gate
    cost (sf0.1: 1 000 docs, ~9 100 dup pairs). Production retention
    would feed `minhash_lsh_pairs` pairs into the same MIS."""
    from cartography_spark.operators.dedup import ngram_jaccard_pairs
    from cartography_spark.operators.graphrank import maximal_independent_set

    docs = _t(spark, sf_dir, "documents")
    if _pages_n(sf_dir) > 500:
        docs = docs.where(F.col("doc_id") % 5 == 0)
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", "lang", shingle_n=3, threshold=0.6
    )
    nodes = docs.select(
        F.col("doc_id").alias("id"),
        F.md5(F.col("doc_id").cast("string")).alias("pri"),
    )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    out = maximal_independent_set(nodes, edges)
    return out.select(F.col("id").alias("doc_id"), "kept")


def dedup_excise_repeated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring EXCISION (the fix half of Lee et al. repeated
    n-gram dedup): every token covered by a cross-document repeated
    5-gram is cut, survivors rejoin in order, and the gate hashes
    md5(clean_text) so a single mis-kept token flips the row. The
    corpus never regroups — only repeated-gram hits shuffle (see
    operators/dedup.py::excise_repeated_ngrams). Twin: DuckDB list
    comprehension replaying the same coverage rule."""
    from cartography_spark.operators.dedup import excise_repeated_ngrams

    docs = _t(spark, sf_dir, "documents")
    out = excise_repeated_ngrams(docs, "doc_id", "text", n=5, min_docs=2)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        "n_removed",
        F.md5("clean_text").alias("clean_md5"),
    )


def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style PII scrub, byte-exact across engines: every doc gets a
    deterministic synthetic email + URL + IPv4 prepended (the corpus
    itself is PII-free, so the gate injects what it scrubs — same
    generator-twin trick as kg_pages_e2e), then the redaction chain
    runs and the oracle hash covers md5(redacted_bytes) — any pattern
    or ordering divergence between Java regex and RE2 flips the hash.
    Pure row-local regexp chain: zero shuffle."""
    from cartography_spark.functions.textstats import pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.lit("contact u"), F.col("doc_id").cast("string"), F.lit("@ex.org or "),
        F.lit("https://s"), (F.col("doc_id") % 50).cast("string"),
        F.lit(".example/a?x=1 ip 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."), ((F.col("doc_id") * 7) % 256).cast("string"),
        F.lit(" "), F.col("text"),
    )
    staged = docs.select("doc_id", injected.alias("__t"))
    red = staged.select(
        "doc_id", *pii_counts("__t"), redact_pii("__t").alias("__r")
    )
    return red.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_url").cast("long").alias("n_url"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.md5("__r").alias("redacted_md5"),
        F.length("__r").cast("long").alias("n_chars_redacted"),
    )


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-CONTAINMENT pairs via bottom-k sketches (k=16
    over distinct word 4-grams). Catches the shape symmetric Jaccard
    LSH structurally misses — a short doc quoted wholesale inside a
    long one (|A∩B|/|A| ≈ 1 while Jaccard ≈ |A|/|B| → 0); the filter
    is on max(c_ab, c_ba), so a 0.5/0.07 quote-pair survives.
    Candidates come from an equi-join on shared bottom-k hashes (never
    a cross join); the DuckDB twin re-derives the md5 sketches
    bit-exactly."""
    from cartography_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    return containment_pairs(
        docs, "doc_id", "text", shingle_n=4, k=16, threshold=0.5,
        shingle_mode="word",
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.functions.textstats import quality_features

    docs = _t(spark, sf_dir, "documents")
    return quality_features(docs).select(
        "doc_id", "n_chars_calc", "n_tokens", "avg_token_len",
        "punct_ratio", "stopword_ratio", "quality_score",
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.functions.textstats import langid

    docs = _t(spark, sf_dir, "documents")
    return langid(docs).select("doc_id", "lid_en", "lid_de", "lid_es", "lid_fr", "lid_zh", "lang_pred")


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.functions.textstats import doc_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint("text", n=5).alias("fingerprint"))


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.functions.textstats import bpe_ish_token_count, token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").cast("long").alias("ws_tokens"),
        bpe_ish_token_count("text").alias("bpe_tokens"),
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (md5 32-bit family, pigeonhole-blocked
    chunk equi-joins — no cross product)."""
    from cartography_spark.operators.dedup import simhash_pairs_md5

    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs_md5(docs, "doc_id", "text", shingle_n=3, max_hamming=3)


def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH buckets (the ANN
    scale path): bucket equi-join, corpus never replicated. Oracle
    replicates the deterministic planes as literals — verified
    cross-engine (sign margin ~1e-4 vs float error ~1e-13)."""
    from cartography_spark.operators.similarity import hyperplane_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    # 8 queries over 2^8 buckets: expected queries/bucket << 1, so the
    # corpus norm folds per candidate pair, not per corpus row (see
    # hyperplane_lsh_topk's stage_corpus_norm cost model).
    return hyperplane_lsh_topk(
        emb, queries, k=5, bits=8, dim=64, seed=42, stage_corpus_norm=False
    )


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: deterministic seed centroids (16 lowest
    ids), corpus in 1 list, queries probe 4 — equi-join on list id."""
    from cartography_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    return ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=4)


def text_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus after exact dedup (min doc_id per text hash wins) — the
    survivors view a training-data pipeline materializes after the
    group-level report."""
    from cartography_spark.operators.dedup import drop_exact_duplicates

    docs = _t(spark, sf_dir, "documents")
    return drop_exact_duplicates(docs, "doc_id", "text").select("doc_id", "lang")


def web_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source (domain-analog) corpus report: volume, token mass,
    language spread, exact-duplicate rate — the per-domain triage
    aggregation every web-scale ingest runs before filtering."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(F.avg(F.length("text")), 2).alias("avg_chars"),
        F.round(
            1.0 - F.countDistinct(F.md5("text")) / F.count("*"), 4
        ).alias("dup_rate"),
    )


def text_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data filter funnel as ONE scan + one aggregation:
    per source, how many docs survive each gate (langid=en ->
    quality >= 0.5 -> exact-unique). Conditional aggregation keeps the
    funnel in a single pass — no per-stage jobs."""
    from cartography_spark.functions.textstats import langid, quality_features

    docs = _t(spark, sf_dir, "documents")
    feats = quality_features(langid(docs))
    is_en = F.col("lang_pred") == "en"
    is_q = is_en & (F.col("quality_score") >= 0.5)
    first = F.row_number().over(
        Window.partitionBy(F.md5("text")).orderBy("doc_id")
    ) == 1
    return (
        feats.withColumn("__uniq", first)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(is_en.cast("long")).alias("n_en"),
            F.sum(is_q.cast("long")).alias("n_quality"),
            F.sum((is_q & F.col("__uniq")).cast("long")).alias("n_survivors"),
        )
    )


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate (Rae et al. 2021 §A.1.1) over the
    corpus: duplicate-word / duplicate-5-gram / top-word fractions and
    the combined ``repetitive`` flag. Entirely per-row JVM folds — the
    operator adds ZERO shuffle to the scan (the top-word share comes
    from a sorted-array run fold, not an explode+groupBy)."""
    from cartography_spark.operators.curation import repetition_features

    docs = _t(spark, sf_dir, "documents")
    return repetition_features(docs).select(
        "doc_id", "n_tokens", "dup_word_frac", "dup_ngram_frac",
        "top_word_frac", "repetitive",
    )


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-benchmark decontamination (the GPT-3/PaLM n-gram rule):
    every 97th doc plays the held-out benchmark; corpus docs sharing
    any word 4-gram with it are dropped (natural-text pipelines use
    ~13-grams; the synthetic corpus draws from a ~40-word vocabulary,
    so 4-grams are the collision scale that exercises the operator —
    8 removals at the sf0.01 gate, 727 at sf0.1). The benchmark gram
    set broadcasts (benchmarks are tiny by definition), so the corpus
    side streams through a broadcast semi-join with no corpus
    shuffle."""
    from cartography_spark.operators.curation import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench, "doc_id", "text", ngram=4).select(
        "doc_id", "lang", "n_chars"
    )


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixing sample: downweight the two dominant
    languages (en to 50%, zh to 25%) via the md5 bucket of the doc id —
    a pure row-local filter whose membership is identical across
    re-runs, cluster sizes, and engines (the DuckDB twin re-derives the
    exact same kept set, so the driver hash-gates row membership)."""
    from cartography_spark.operators.curation import sample_bucket, stratified_sample

    docs = _t(spark, sf_dir, "documents")
    kept = stratified_sample(docs, "lang", {"en": 0.5, "zh": 0.25}, "doc_id")
    return kept.select(
        "doc_id", "lang", sample_bucket("doc_id").cast("long").alias("bucket")
    )


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel as ONE scan + one aggregation, per
    language: total -> passes the repetition gate (top-word share <=
    0.12, ~p80 of this corpus; dup-5-gram <= 0.2) -> additionally not
    benchmark-contaminated (4-gram rule, doc_id%97 benchmark) -> and
    inside the deterministic mixing sample (en 50%, zh 25%). Stages
    compose as conditional aggregation flags over one corpus pass; the
    only non-row-local input is the contaminated-id set, which arrives
    as a broadcast flag join (bounded by benchmark reach)."""
    from cartography_spark.operators.curation import (
        contaminated_ids, repetition_features, sample_bucket,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    feats = repetition_features(corpus, top_word_max=0.12, dup_ngram_max=0.2)
    contaminated = contaminated_ids(corpus, bench, "doc_id", "text", ngram=4).withColumn(
        "__cont", F.lit(True)
    )
    flagged = feats.join(F.broadcast(contaminated), "doc_id", "left")
    rate = (
        F.when(F.col("lang") == "en", F.lit(0.5))
        .when(F.col("lang") == "zh", F.lit(0.25))
        .otherwise(F.lit(1.0))
    )
    ok_rep = ~F.col("repetitive")
    ok_dec = ok_rep & F.col("__cont").isNull()
    ok_samp = ok_dec & (sample_bucket("doc_id") < rate * 1000)
    return flagged.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.sum(ok_rep.cast("long")).alias("n_clean"),
        F.sum(ok_dec.cast("long")).alias("n_decontaminated"),
        F.sum(ok_samp.cast("long")).alias("n_sampled"),
    )


def sim_ivf_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup blocked by IVF lists (nprobe=2 on both sides):
    candidates share a centroid list — the partition-pruned near-dup
    shape when an IVF index already exists. Deterministic seed
    centroids make the DuckDB twin exact."""
    from cartography_spark.operators.dedup import embedding_near_dup_pairs
    from cartography_spark.operators.similarity import assign_ivf_buckets, ivf_centroids

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf_centroids(emb, "vec_id", "embedding", n_centroids=16)
    assigned = assign_ivf_buckets(emb, "embedding", cents, nprobe=2)
    return embedding_near_dup_pairs(
        assigned, "vec_id", "embedding", threshold=0.45, block_col="ivf_bucket"
    )


def sim_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    return brute_force_topk(emb, queries, k=5)


def sim_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked cosine near-dup (bucket equi-joins, NO cross product
    — asserted by tests/test_dedup.py plan check). The oracle replicates
    the deterministic sign-bit blocking exactly, so recall<1 LSH
    semantics are still hash-verified cross-engine."""
    from cartography_spark.operators.dedup import embedding_near_dup_lsh

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return embedding_near_dup_lsh(
        emb, "vec_id", "embedding", threshold=0.45, bits=4, sets=12, dim=64, seed=7
    )


# ---------------------------------------------------------------------------
# Rows-only (non-SQL-expressible: full pipeline / media)
# ---------------------------------------------------------------------------


def kg_flagship_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship KG construction over the documents corpus (the
    ``entry()`` flow): mention-triple extraction (JVM fan-out) ->
    entity-link to the doc source -> aggregated KG edge weights per
    (source, term). Oracle-gated round 4 (VERDICT #1): the DuckDB twin
    composes the kg_mention_triples SQL with the source join and the
    weight/n_docs aggregation."""
    from cartography_spark.functions.triples import extract_mentions

    docs = _t(spark, sf_dir, "documents")
    vocab = ["spark", "join", "merge", "filter", "scan", "hash", "sort", "agg"]
    mentions = extract_mentions(docs, "doc_id", "text", vocab)
    return (
        mentions.join(docs.select("doc_id", "source"), mentions["subj_id"] == F.col("doc_id"))
        .groupBy("source", "obj")
        .agg(F.sum("n_mentions").alias("weight"), F.count("*").alias("n_docs"))
        .orderBy(F.col("weight").desc(), "source", "obj")
    )


def _pages_n(sf_dir: str) -> int:
    """Page count for the e2e extraction gates, keyed off the sf dir
    (round 5, VERDICT #5: the gate must cover the chain at its own
    scale, not a fixed n=500). 500 at sf<=0.01 — matching the static
    DuckDB oracle the driver compares against at its gate scale — and
    50k x sf above it (5 000 at sf0.1), so the BENCH run exercises the
    chain at bench scale."""
    import re as _re

    # \d+(\.\d+)? — not [0-9.]+ — so 'sf0.1.bak' parses as 0.1 instead
    # of crashing float() on '0.1.'
    m = _re.search(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m.group(1)) if m else 0.01
    return max(500, int(50_000 * sf))


def _pages_e2e(spark: SparkSession, n_pages: int, seed: int) -> DataFrame:
    """End-to-end KG build on the synthesized pages batch: html -> text
    (byte-identical extraction) -> (s,p,o) triples -> aggregated edge
    weights. The DuckDB twin re-derives the generator's ground-truth
    sentence picks (splitmix64 replicated in UBIGINT/HUGEINT SQL) — a
    green hash row proves the whole html->text->triples chain emits
    exactly the planted triples (the north rule's P=R=1.0,
    driver-visible)."""
    from cartography_spark.functions.textextract import extract_text
    from cartography_spark.functions.triples import extract_triples
    from cartography_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, n_pages, seed=seed)
    text = extract_text(pages.drop("text"), "html", "text")
    triples = extract_triples(text)
    return (
        triples.groupBy("subj", "pred", "obj")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "subj", "pred", "obj")
        .limit(100)
    )


def kg_pages_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sf-keyed e2e extraction gate: n=500 at the driver's sf0.01 gate
    (matching the static oracle), 5 000+ at bench scale (see
    :func:`_pages_n`)."""
    return _pages_e2e(spark, _pages_n(sf_dir), seed=42)


def kg_pages_e2e_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second, larger extraction gate (round 5, VERDICT #5): fixed
    n=4000 regardless of sf — 8x the old gate — so the driver's
    value-hash check covers the html->text->triples chain well past the
    500-page scale the r4 gate pinned. Different seed (7) so it is not
    a prefix-rerun of the small gate's pages."""
    return _pages_e2e(spark, 4000, seed=7)


def web_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level web link graph from the pages' html: decode ->
    regexp href extraction -> explode -> one partial-aggregated hash
    shuffle on (src_host, dst_host). The DuckDB twin re-derives the
    PLANTED links from the generator's splitmix chain (no html, no
    regex), so a green hash proves href extraction == ground truth —
    the link-graph analog of the pages-e2e text gate. sf-keyed page
    count like kg_pages_e2e (static oracle exact at the sf0.01 driver
    gate; scripts/check_oracle.py regenerates above it)."""
    from cartography_spark.functions.weblinks import extract_links, host_graph
    from cartography_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, _pages_n(sf_dir), seed=42)
    return host_graph(extract_links(pages))


def web_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host in-crawl vs frontier outlink classification: the link
    stream LEFT-joins the crawled url set on the exact dst url. The
    twin derives membership arithmetically (target id < n_pages), so
    the hash match proves the planted dst urls string-equal the real
    target urls — the url-consistency invariant a crawl scheduler
    depends on."""
    from cartography_spark.functions.weblinks import crawl_frontier, extract_links
    from cartography_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, _pages_n(sf_dir), seed=42)
    return crawl_frontier(extract_links(pages), pages)


def web_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain ranking over the EXTRACTED host graph: html -> hrefs ->
    (src_host, dst_host, n_links) -> weighted PageRank (5 iterations,
    d=0.85, dangling mass redistributed — frontier-only hosts ARE the
    dangling nodes here). Twin: regenerated links + the shared unrolled
    power-iteration builder with the weighted contribution rule."""
    from cartography_spark.functions.weblinks import extract_links, host_graph
    from cartography_spark.operators.graphrank import pagerank
    from cartography_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, _pages_n(sf_dir), seed=42)
    edges = host_graph(extract_links(pages)).select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("n_links").cast("double").alias("weight"),
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    out = pagerank(nodes, edges, damping=0.85, iterations=5, weight_col="weight")
    return out.select("id", F.round("pagerank", 6).alias("pagerank"))


def _host_graph_frames(spark: SparkSession, sf_dir: str):
    """(nodes, edges) of the extracted host graph — the shared front
    half of the SCC / bowtie gates. Edges are SPARSIFIED to the strong
    links (n_links >= n_pages/100): the planted 20-domain graph is
    dense enough that its raw form is one giant SCC at every sf, which
    would leave the directed-reachability split trivially all-CORE —
    weight-thresholding (the standard host-graph backbone trick) keeps
    multiple SCCs and all bowtie regions driver-visible. Nodes keep
    EVERY linked host (pre-threshold), so isolated/weakly-linked hosts
    land in OTHER rather than vanishing."""
    from cartography_spark.functions.weblinks import extract_links, host_graph
    from cartography_spark.sources.pages import synthesize_pages

    n_pages = _pages_n(sf_dir)
    pages = synthesize_pages(spark, n_pages, seed=42)
    hg = host_graph(extract_links(pages))
    edges = hg.where(F.col("n_links") >= F.lit(max(2, n_pages // 100))).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    nodes = (
        hg.select(F.col("src_host").alias("id"))
        .unionAll(hg.select(F.col("dst_host").alias("id")))
        .distinct()
    )
    return nodes, edges


def web_host_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the EXTRACTED host-graph
    backbone: html -> hrefs -> host edges -> weight threshold -> FW-BW
    min-label SCC coloring. The twin regenerates the planted links and
    computes SCCs as a recursive transitive closure +
    mutual-reachability min — a different algorithm, so the hash match
    cross-checks SCC semantics (directed mutual reachability), not the
    code."""
    from cartography_spark.operators.graphrank import strongly_connected_components

    nodes, edges = _host_graph_frames(spark, sf_dir)
    return strongly_connected_components(nodes, edges)


def web_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder bowtie decomposition of the extracted host-graph
    backbone: CORE = largest SCC (ties -> min scc id), IN reaches it,
    OUT is reached from it, OTHER = tendrils/tubes/islands. The crawl-
    scheduling audit: IN hosts feed discovery, OUT hosts are sinks,
    OTHER needs seeding. All four regions are populated at the sf0.01
    gate (13 CORE / 3 IN / 3 OUT / 1 OTHER). Twin: closure-derived
    regions over the planted link graph."""
    from cartography_spark.operators.graphrank import bowtie_regions

    nodes, edges = _host_graph_frames(spark, sf_dir)
    return bowtie_regions(nodes, edges)


def web_fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-budgeted frontier schedule: with the even-id January
    crawl batch done (the generator's crawl calendar), every link
    target NOT yet crawled is prioritized by inlink count and packed
    into per-host fetch rounds of 2 (functions/weblinks.py::
    fetch_schedule — one count shuffle + one host window). The Spark
    side derives the frontier via the real url anti-join against the
    crawled subset; the twin derives membership ARITHMETICALLY (tid
    odd or beyond the synthesized range), so a green hash re-proves
    the planted-url consistency claim along the way. Scoping the
    crawl to the even batch keeps the frontier non-empty at every sf
    (above n=4096 the link universe is fully synthesized, so the
    everything-crawled frontier would be vacuous)."""
    from cartography_spark.functions.weblinks import extract_links, fetch_schedule
    from cartography_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, _pages_n(sf_dir), seed=42)
    crawled = pages.where(
        F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long") % 2 == 0
    )
    return fetch_schedule(extract_links(pages), crawled, rate=2)


def web_redirect_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution by pointer doubling over a planted
    redirect map: pages with id%10 in {1,2,3} redirect to id+1 (chains
    of up to 3 hops ending at the id%10==4 terminal) and each
    id%1000 in {7,8} pair forms a 2-cycle (a redirect loop — the
    "do not crawl" verdict). Redirect targets resolve to REAL page
    urls via an equi-join on the pages frame, so the gate re-verifies
    url construction like ``web_crawl_frontier`` does. Spark resolves
    in O(log chain) self-join rounds (operators/redirects.py); the
    twin re-derives the plant arithmetically and walks chains ONE hop
    per recursion step — a different algorithm, so the hash match
    cross-checks terminal/hops/cycle semantics."""
    from cartography_spark.operators.redirects import resolve_redirects
    from cartography_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, _pages_n(sf_dir), seed=42)
    ids = pages.select(
        "url", F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long").alias("pid")
    )
    dst_pid = (
        F.when(F.col("pid") % 1000 == 7, F.col("pid") + 1)
        .when(F.col("pid") % 1000 == 8, F.col("pid") - 1)
        .when((F.col("pid") % 10).isin(1, 2, 3), F.col("pid") + 1)
    )
    srcs = ids.withColumn("dst_pid", dst_pid).where(F.col("dst_pid").isNotNull())
    tgt = ids.select(F.col("pid").alias("dst_pid"), F.col("url").alias("dst_url"))
    redirects = srcs.join(tgt, "dst_pid").select(
        F.col("url").alias("src"), F.col("dst_url").alias("dst")
    )
    return resolve_redirects(redirects, max_chain_len=8)


def web_scc_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quotient-DAG summary of the host-graph backbone: per SCC its
    member count and its longest-path level in the condensation
    (sources at 0) — the dependency schedule of a staged graph build.
    Spark: FW-BW SCC -> membership-join condensation -> frontier
    max-level fixpoint; the twin derives all three from the recursive
    closure. 8 components at the sf0.01 gate (the 13-host core + 7
    periphery singletons)."""
    from cartography_spark.operators.graphrank import (
        condensation,
        dag_levels,
        strongly_connected_components,
    )

    nodes, edges = _host_graph_frames(spark, sf_dir)
    scc = strongly_connected_components(nodes, edges).localCheckpoint()
    cond = condensation(scc, edges).localCheckpoint()
    comps = scc.select(F.col("scc").alias("id")).distinct()
    levels = dag_levels(comps, cond)
    sizes = scc.groupBy("scc").agg(F.count("*").alias("n_hosts"))
    return sizes.join(
        levels.select(F.col("id").alias("scc"), "level"), "scc"
    ).select("scc", "n_hosts", "level")


# The generator's crawl calendar: even page ids belong to the
# 2025-01-01 crawl batch, odd ids to 2025-02-01 (sources/pages.py::
# _page_batch), with per-page offsets < 30 days — so these two
# boundaries split the batches exactly.
_CRAWL_CALENDAR = ("2025-01-01", "2025-02-01")


def _crawl_tagged_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """html -> text -> triples -> crawl-tagged distinct fact
    assertions, the shared front half of the temporal-fact gates."""
    from cartography_spark.functions.textextract import extract_text
    from cartography_spark.functions.triples import extract_triples
    from cartography_spark.operators.temporalkg import assign_crawl, fact_snapshots
    from cartography_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, _pages_n(sf_dir), seed=42)
    triples = extract_triples(extract_text(pages.drop("text"), "html", "text"))
    return fact_snapshots(assign_crawl(triples, _CRAWL_CALENDAR))


def kg_fact_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-KG fact history over the EXTRACTED triples: each
    (subj, pred, obj) gets validity intervals in crawl-index space
    (gaps-and-islands over the crawls asserting it) plus is_current —
    the N-snapshot generalization of the reference's firstseen/
    lastupdated lifecycle. The DuckDB twin re-derives the planted
    triples AND each page's crawl batch from the splitmix chain
    (crawl = 1 + i % 2), so a green hash proves the full
    html -> text -> triples -> crawl-assignment -> interval chain,
    including that warc_ts batch planting matches id parity."""
    from cartography_spark.operators.temporalkg import fact_intervals

    iv = fact_intervals(_crawl_tagged_facts(spark, sf_dir))
    return iv.select(
        "subj",
        "pred",
        "obj",
        "valid_from",
        "valid_to",
        F.col("is_current").cast("int").alias("is_current"),
    ).orderBy("subj", "pred", "obj", "valid_from")


def kg_fact_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-crawl-transition fact churn (added / removed / retained
    counts) — the sync-over-sync drift signal, emitted O(intervals)
    from the islands arrays (never #facts x #crawls). Same
    generator-twin derivation as kg_fact_intervals."""
    from cartography_spark.operators.temporalkg import fact_churn

    return fact_churn(_crawl_tagged_facts(spark, sf_dir)).orderBy("crawl_id")


def kg_entity_linking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full entity-linking loop over the documents corpus: MinHash-LSH
    blocking -> Jaccard verify -> connected-components canonical ids.
    md5 hash family so the DuckDB oracle replicates the blocking
    byte-identically, then a WITH RECURSIVE transitive closure stands
    in for the iterative large-star/small-star CC (round-3 gap close:
    this query was rows-only)."""
    from cartography_spark.operators.components import canonicalize
    from cartography_spark.pipeline.linking import candidate_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = candidate_pairs(
        docs, "doc_id", "text",
        threshold=0.6, num_hashes=8, bands=4, family="md5", max_bucket=100000,
    )
    nodes = docs.select(F.col("doc_id").alias("id"))
    return (
        canonicalize(nodes, pairs, "id")
        .groupBy("canonical_id")
        .agg(F.count("*").alias("cluster_size"))
        .where(F.col("cluster_size") > 1)
        .orderBy(F.col("cluster_size").desc(), "canonical_id")
    )


def kg_incremental_link_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-linking kernel: a 'new batch' (every 10th doc)
    LSH-blocked against the FULL corpus via the cross-frame MinHash
    join — cost ~ O(|new| x bucket), never a corpus self-join. md5
    family; the oracle replicates the two-sided blocking exactly."""
    from cartography_spark.operators.dedup import minhash_lsh_join

    docs = _t(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 10 == 0)
    return minhash_lsh_join(
        new, docs, "doc_id", "text",
        shingle_n=3, num_hashes=8, bands=4, threshold=0.6,
        family="md5", max_bucket=100000,
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media decode over binary payloads derived from the documents
    corpus: the real ``decode_media`` mapInPandas stage (fake codec —
    md5-seeded metadata) runs per row. Oracle-gated round 4 (VERDICT
    #2): the fake codec is pure md5 arithmetic, which the DuckDB twin
    replicates byte-exactly (md5 + hex->int + xor), so every per-row
    width/height/duration value is hash-checked cross-engine."""
    from cartography_spark.functions.multimodal import decode_media

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )
    return decode_media(media)


def web_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text dictionary over the planted link graph: per
    linked-to url, the web's consensus name (top inbound anchor,
    count desc / anchor asc), inlink total, and anchor-variant count
    — the entity-surface-form harvest that seeds entity linking. The
    DuckDB twin re-derives urls AND anchor entity picks arithmetically
    from the splitmix chain while Spark regexes them out of the html
    bytes (two-group extraction over one let-bound decode)."""
    from cartography_spark.functions.weblinks import (
        anchor_entities,
        extract_anchors,
    )
    from cartography_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, _pages_n(sf_dir), seed=42)
    return anchor_entities(extract_anchors(pages))


def kg_fact_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth discovery over the full extraction chain: html -> text ->
    (s,p,o) observations tagged with their page's host -> two-round
    accuracy-weighted fact fusion (operators/factfusion.py). The
    DuckDB twin re-derives both the planted triples AND each page's
    domain from the splitmix chain, then votes with ROW_NUMBER
    argmaxes — a green hash pins the voting spec (round-0 majority,
    Laplace source accuracy, round-6-before-argmax weighting) against
    a different implementation, on top of the extraction plant."""
    from cartography_spark.functions.textextract import extract_text
    from cartography_spark.functions.triples import extract_triples_jvm
    from cartography_spark.functions.weblinks import url_host
    from cartography_spark.operators.factfusion import fuse_facts
    from cartography_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, _pages_n(sf_dir), seed=42)
    text = extract_text(pages.drop("text"), "html", "text")
    triples = extract_triples_jvm(text).select(
        url_host("url").alias("source"), "subj", "pred", "obj"
    )
    return fuse_facts(triples)


def bpe_merge_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 6 BPE merge rules learned from the documents corpus
    (operators/bpe.py): corpus -> word-frequency table (the one
    corpus-sized pass) -> per-round pair-count argmax + greedy-left
    fold merge. The DuckDB twin applies merges with a match-run
    parity rule instead of a scan — agreement pins the greedy
    semantics themselves."""
    from cartography_spark.operators.bpe import bpe_merge_rules as learn

    return learn(_t(spark, sf_dir, "documents"), k=6).select(
        "merge_rank",
        F.col("left").alias("lft"),
        F.col("right").alias("rgt"),
        "pair_count",
        "merged",
    )


def domain_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality with empirical-Bayes shrinkage toward the
    corpus mean (operators/curation.py::domain_quality) — the
    host-level curation signal. One domain-keyed partial agg + a
    1-row global mean cross-joined back."""
    from cartography_spark.operators.curation import domain_quality as dq

    return dq(_t(spark, sf_dir, "documents"))


def dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/dsir.py): hashed
    unigram+bigram bucket models (md5, 256 buckets), target = the
    src0 slice of the corpus, per-doc summed log-likelihood ratio,
    selection = positive per-feature average. Floats ROUND 6 after
    the sums in both engines."""
    from cartography_spark.operators.dsir import importance_weights

    docs = _t(spark, sf_dir, "documents")
    return importance_weights(
        docs, docs.where(F.col("source") == "src0"), n_buckets=256
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "kg_node_merge_u1": kg_node_merge_u1,
    "kg_typed_index_scan": kg_typed_index_scan,
    "kg_cleanup_stale_c1": kg_cleanup_stale_c1,
    "kg_link_exact_j2": kg_link_exact_j2,
    "kg_link_ignorecase_j3": kg_link_ignorecase_j3,
    "kg_link_fuzzy_j4": kg_link_fuzzy_j4,
    "kg_link_one_to_many_j5": kg_link_one_to_many_j5,
    "kg_matchlink_j7": kg_matchlink_j7,
    "kg_cc_canonical": kg_cc_canonical,
    "kg_pagerank": kg_pagerank,
    "kg_pagerank_weighted": kg_pagerank_weighted,
    "kg_pagerank_personalized": kg_pagerank_personalized,
    "kg_triangles": kg_triangles,
    "kg_clustering_coeff": kg_clustering_coeff,
    "kg_kcore": kg_kcore,
    "kg_hits": kg_hits,
    "kg_bfs_distances": kg_bfs_distances,
    "kg_weighted_paths": kg_weighted_paths,
    "kg_label_propagation": kg_label_propagation,
    "kg_random_walks": kg_random_walks,
    "kg_negative_samples": kg_negative_samples,
    "sketch_hll_distinct": sketch_hll_distinct,
    "kg_entity_pmi": kg_entity_pmi,
    "kg_related_entities": kg_related_entities,
    "kg_degree_histogram": kg_degree_histogram,
    "kmv_source_overlap": kmv_source_overlap,
    "kg_hyperball_reach": kg_hyperball_reach,
    "sketch_count_min": sketch_count_min,
    "sample_weighted": sample_weighted,
    "sample_mixture_plan": sample_mixture_plan,
    "text_quality_calibrated": text_quality_calibrated,
    "text_lm_quality": text_lm_quality,
    "dedup_repeated_ngrams": dedup_repeated_ngrams,
    "web_canonical_urls": web_canonical_urls,
    "kg_neighborhood_function": kg_neighborhood_function,
    "kg_harmonic_centrality": kg_harmonic_centrality,
    "sketch_bloom_decontaminate": sketch_bloom_decontaminate,
    "profile_events": profile_events,
    "kg_skipgram_pairs": kg_skipgram_pairs,
    "kg_node2vec_walks": kg_node2vec_walks,
    "kg_entity_contexts": kg_entity_contexts,
    "text_tfidf": text_tfidf,
    "pack_sequences": pack_sequences,
    "shard_shuffle": shard_shuffle,
    "text_postings": text_postings,
    "text_bm25": text_bm25,
    "sample_split": sample_split,
    "sim_random_projection": sim_random_projection,
    "agg_rolling_window": agg_rolling_window,
    "kg_var_length_path_j8": kg_var_length_path_j8,
    "kg_exposure_analysis_n1": kg_exposure_analysis_n1,
    "kg_policy_eval_j6": kg_policy_eval_j6,
    "kg_policy_allow_deny": kg_policy_allow_deny,
    "kg_mention_triples": kg_mention_triples,
    "kg_bigram_triples": kg_bigram_triples,
    "agg_events_a1": agg_events_a1,
    "agg_pricing_summary": agg_pricing_summary,
    "agg_cube_rollup": agg_cube_rollup,
    "window_running_total": window_running_total,
    "agg_salted_skew": agg_salted_skew,
    "agg_dedup_lastwins_a2": agg_dedup_lastwins_a2,
    "agg_sessionize": agg_sessionize,
    "agg_session_sequences": agg_session_sequences,
    "agg_percentiles": agg_percentiles,
    "join_interval": join_interval,
    "events_json_props": events_json_props,
    "agg_window_topk_o1": agg_window_topk_o1,
    "join_multihop_j8": join_multihop_j8,
    "join_semi_anti": join_semi_anti,
    "join_asof": join_asof,
    "set_union_x1": set_union_x1,
    "set_drift_x2": set_drift_x2,
    "incremental_watermark_s2": incremental_watermark_s2,
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_retention_mis": dedup_retention_mis,
    "dedup_excise_repeated": dedup_excise_repeated,
    "dedup_containment": dedup_containment,
    "text_redact_pii": text_redact_pii,
    "text_quality": text_quality,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_token_count": text_token_count,
    "text_dedup_survivors": text_dedup_survivors,
    "text_repetition": text_repetition,
    "text_decontaminate": text_decontaminate,
    "sample_stratified": sample_stratified,
    "curation_funnel": curation_funnel,
    "web_source_stats": web_source_stats,
    "text_quality_funnel": text_quality_funnel,
    "dedup_simhash": dedup_simhash,
    "sim_topk_brute": sim_topk_brute,
    "sim_lsh_topk": sim_lsh_topk,
    "sim_ivf_topk": sim_ivf_topk,
    "sim_ivf_near_dup": sim_ivf_near_dup,
    "sim_embedding_near_dup": sim_embedding_near_dup,
    "kg_entity_linking": kg_entity_linking,
    "kg_incremental_link_pairs": kg_incremental_link_pairs,
    "kg_flagship_pipeline": kg_flagship_pipeline,
    "kg_pages_e2e": kg_pages_e2e,
    "kg_pages_e2e_large": kg_pages_e2e_large,
    "web_link_graph": web_link_graph,
    "web_crawl_frontier": web_crawl_frontier,
    "web_host_pagerank": web_host_pagerank,
    "web_host_scc": web_host_scc,
    "web_bowtie": web_bowtie,
    "web_redirect_resolution": web_redirect_resolution,
    "web_scc_condensation": web_scc_condensation,
    "web_fetch_schedule": web_fetch_schedule,
    "kg_fact_intervals": kg_fact_intervals,
    "kg_fact_churn": kg_fact_churn,
    "kg_fact_fusion": kg_fact_fusion,
    "web_anchor_text": web_anchor_text,
    "bpe_merge_rules": bpe_merge_rules,
    "dsir_selection": dsir_selection,
    "domain_quality": domain_quality,
    "multimodal_features": multimodal_features,
}
