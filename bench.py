"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "triples_per_sec": ..., "pages_per_sec": ...}

The KG flagship (materialized pages table -> byte-exact text
extraction -> triple extraction -> aggregate; generator untimed,
best-of-2 timed runs) reports the north-rule throughput (triples/sec);
the catalog headliners cover the operator families.
Results are materialized with the noop sink (full execution, no driver
collect).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from cartography_spark.queries import QUERIES
from cartography_spark.session import get_spark

HEADLINE = [
    "kg_flagship_pipeline",
    "kg_node_merge_u1",
    "kg_matchlink_j7",
    "kg_cc_canonical",
    "kg_cc_cooccurrence",
    "kg_entity_linking",
    "kg_exposure_analysis_n1",
    "kg_bigram_triples",
    "agg_events_a1",
    "agg_pricing_summary",
    "join_multihop_j8",
    "set_drift_x2",
    "dedup_exact",
    "dedup_minhash_lsh_prod",
    "dedup_simhash_prod",
    "text_quality",
    "text_langid",
    "sim_topk_brute",
    "sim_lsh_topk",
    "sim_embedding_near_dup",
    "sim_ivf_near_dup",
    "kg_policy_allow_deny",
    "agg_salted_skew",
    "text_quality_funnel",
    "multimodal_features",
]

FLAGSHIP_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "500000"))


def dedup_minhash_lsh_prod(spark, sf_dir):
    """Production LSH config: arrow family (vectorized signature fold +
    memoized-set Jaccard verify over Arrow batches), 4-row bands
    (candidate rate j^4, not j^2), bounded buckets. The catalog's
    md5/2-row variant exists for oracle parity, not throughput."""
    from cartography_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return minhash_lsh_pairs(
        docs, "doc_id", "text",
        shingle_n=3, num_hashes=32, bands=4, threshold=0.8,
        family="arrow", max_bucket=500,
    )


def dedup_simhash_prod(spark, sf_dir):
    """Production SimHash: fully Arrow-side fingerprints (shingle +
    memoized md5 base hash + numpy majority fold in one pass over the
    text — no interpreted JVM shingling). The catalog's dedup_simhash
    md5/32-bit variant exists for oracle parity, not throughput."""
    from cartography_spark.operators.dedup import simhash_pairs

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return simhash_pairs(docs, "doc_id", "text", shingle_n=3, max_hamming=3)


def kg_cc_cooccurrence(spark, sf_dir):
    """Connected components over the entity co-occurrence graph of the
    flagship triples (Zipf-skewed: hot entities form a giant component)
    — the canonicalization step at realistic shape."""
    from pyspark.sql import functions as F

    from cartography_spark.operators.components import connected_components
    from cartography_spark.pipeline.flagship import page_triples

    triples = page_triples(spark, 20000, seed=42)
    edges = triples.select(F.col("subj").alias("src"), F.col("obj").alias("dst")).distinct()
    return connected_components(edges)


def kg_entity_linking_prod(spark, sf_dir):
    """Production entity linking: arrow-family blocking (32 hashes, 4
    bands; vectorized signature + verify), same loop as the catalog
    query. The catalog entry switched to the md5 family for its
    round-3 recursive-closure oracle; this keeps the bench line
    like-for-like with earlier rounds."""
    from cartography_spark.operators.components import canonicalize
    from cartography_spark.pipeline.linking import candidate_pairs

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    pairs = candidate_pairs(
        docs, "doc_id", "text", threshold=0.6, num_hashes=32, bands=4, family="arrow"
    )
    nodes = docs.select(F.col("doc_id").alias("id"))
    return (
        canonicalize(nodes, pairs, "id")
        .groupBy("canonical_id")
        .agg(F.count("*").alias("cluster_size"))
        .where(F.col("cluster_size") > 1)
    )


def dedup_containment_prod(spark, sf_dir):
    """Production containment: xxhash64 sketch family (signed-long
    order, no hex materialization — A/B 1.4x over the md5 oracle
    family at sf0.1). Same pairs contract as the catalog entry."""
    from cartography_spark.operators.dedup import containment_pairs

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return containment_pairs(
        docs, "doc_id", "text", shingle_n=4, k=16, threshold=0.5,
        shingle_mode="word", family="xxhash64",
    )


BENCH_QUERIES = dict(QUERIES)
BENCH_QUERIES["dedup_containment_prod"] = dedup_containment_prod
BENCH_QUERIES["dedup_minhash_lsh_prod"] = dedup_minhash_lsh_prod
BENCH_QUERIES["dedup_simhash_prod"] = dedup_simhash_prod
BENCH_QUERIES["kg_cc_cooccurrence"] = kg_cc_cooccurrence
BENCH_QUERIES["kg_entity_linking"] = kg_entity_linking_prod


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_flagship(spark, n_pages: int) -> dict:
    """pages table -> text -> triples -> canonical edge weights; returns
    throughput numbers for the north rule.

    The deterministic page generator is test scaffolding, not the
    engine, so pages are MATERIALIZED to parquet first (the Iceberg
    pages-table stand-in) and only the read->extract->triples->agg
    pipeline is timed."""
    import shutil
    import tempfile

    from pyspark.sql import Observation

    from cartography_spark.functions.textextract import extract_text
    from cartography_spark.functions.triples import extract_triples_jvm
    from cartography_spark.sources.pages import synthesize_pages

    pages_dir = tempfile.mkdtemp(prefix="bench_pages_")
    try:
        synthesize_pages(spark, n_pages, seed=42, partitions=64).drop("text").write.mode(
            "overwrite"
        ).parquet(pages_dir)
        pages = spark.read.parquet(pages_dir)
        # warmup: codegen and JIT on a slice
        materialize(extract_text(pages.limit(5000), "html", "text"))
        # best-of-2: the host shows random multi-second steal bursts
        # (BASELINE.md §4); one burst during the timed window would
        # misreport the headline throughput by 2x.
        wall = float("inf")
        n_triples = 0
        for attempt in range(2):
            obs = Observation(f"triples_{attempt}")
            triples = extract_triples_jvm(extract_text(pages, "html", "text")).observe(
                obs, F.count(F.lit(1)).alias("n")
            )
            agg = triples.groupBy("subj", "pred", "obj").agg(F.count("*").alias("n"))
            t0 = time.time()
            materialize(agg)
            wall = min(wall, time.time() - t0)
            n_triples = obs.get["n"]
    finally:
        shutil.rmtree(pages_dir, ignore_errors=True)

    # North-rule P/R vs the reference extraction (triples from the
    # generator's golden text) — not timed, reported for the record.
    from cartography_spark.pipeline.flagship import page_triples

    pages = synthesize_pages(spark, min(n_pages, 20000), seed=42)
    reference = extract_triples_jvm(pages.select("url", "warc_ts", "text"))
    pipeline = page_triples(spark, min(n_pages, 20000), seed=42)
    ref_n = reference.count()
    pipe_n = pipeline.count()
    fp = pipeline.exceptAll(reference).count()
    fn = reference.exceptAll(pipeline).count()
    return {
        "pages": n_pages,
        "triples": n_triples,
        "wall_sec": round(wall, 2),
        "pages_per_sec": round(n_pages / wall, 1),
        "triples_per_sec": round(n_triples / wall, 1),
        "precision_vs_reference": round((pipe_n - fp) / pipe_n, 6),
        "recall_vs_reference": round((ref_n - fn) / ref_n, 6),
    }


def run_store_bench(spark) -> dict:
    """Partial-rewrite contract benchmark: after bulk-loading 8 label
    partitions x 16 hash buckets, a merge touching ONE label and a
    tombstone sweep must cost a fraction of the bulk load (merge cost ~
    touched BUCKETS — round 5 — sweep ~ key scan, never table size).
    ``small_merge_*`` is the round-5 headline: a 10-row merge's
    rewritten bytes must track the <=10 buckets its keys hash to, not
    the label."""
    import shutil
    import tempfile

    from cartography_spark.store.graphstore import GraphStore

    root = tempfile.mkdtemp(prefix="benchstore_")
    try:
        store = GraphStore(spark, root)
        labels = F.array(*[F.lit(f"L{i}") for i in range(8)])
        bulk = spark.range(200_000).select(
            F.element_at(labels, (F.col("id") % 8 + 1).cast("int")).alias("label"),
            F.col("id").cast("string").alias("id"),
            F.lit("s1").alias("scope_id"),
            F.create_map(F.lit("v"), F.col("id").cast("string")).alias("props"),
        )
        t0 = time.time()
        store.merge_nodes(bulk, 100)
        bulk_sec = time.time() - t0

        touched = spark.range(1_000).select(
            F.lit("L0").alias("label"),
            (F.col("id") * 8).cast("string").alias("id"),
            F.lit("s1").alias("scope_id"),
            F.create_map(F.lit("v"), F.lit("new")).alias("props"),
        )
        t0 = time.time()
        store.merge_nodes(touched, 200)
        touched_sec = time.time() - t0

        # Round-5 bucket granularity: a 10-row merge rewrites only the
        # buckets its keys hash to. Report wall time AND the manifest's
        # own bytes accounting (rewritten bucket bytes / table bytes).
        man_before = store._manifest("nodes")

        def table_bytes(man):
            return sum(
                b["bytes"]
                for p in man["partitions"].values()
                for b in p["buckets"].values()
            )

        small = spark.createDataFrame(
            [("L3", str(i * 8 + 3), "s1", {"v": "small"}) for i in range(10)],
            "label string, id string, scope_id string, props map<string,string>",
        )
        t0 = time.time()
        store.merge_nodes(small, 250)
        small_sec = time.time() - t0
        man_after = store._manifest("nodes")
        rewritten = sum(
            b["bytes"]
            for p, info in man_after["partitions"].items()
            for bk, b in info["buckets"].items()
            if man_before["partitions"].get(p, {}).get("buckets", {}).get(bk) != b
        )
        small_bytes_frac = rewritten / max(table_bytes(man_before), 1)

        # Round-3: analysis jobs ride the same partial-rewrite path — a
        # set_prop touching ONE of 8 labels must cost a fraction of the
        # bulk load (was: full rewrite of BOTH tables per job).
        from cartography_spark.pipeline.analysis import AnalysisJob

        job = json.dumps(
            {
                "name": "bench touch L0",
                "statements": [
                    {"op": "set_prop", "where": "label = 'L0'",
                     "prop": "tagged", "value": "y"}
                ],
            }
        )
        t0 = time.time()
        AnalysisJob.run_from_json(store, job, 300)
        analysis_sec = time.time() - t0

        # Late round-5: maintenance granularity — the table-wide
        # seq-group defrag (maybe_compact's trigger path) re-homes only
        # the BUCKET entries at minority seqs. State here has 3 seqs
        # (bulk; the small merge's ~10 stray L3 buckets; the
        # analysis-rewritten L0); bound=2 keeps the heavy bulk seq, so
        # the rewrite is exactly L0 + the stray L3 buckets — the
        # partition-unit counterfactual (any label containing a
        # minority bucket rewrites whole) is reported beside it to show
        # what the bucket unit saves (L3's kept buckets).
        man_d0 = store._manifest("nodes")
        bts: dict[int, int] = {}
        for info in man_d0["partitions"].values():
            for b in info["buckets"].values():
                bts[b["seq"]] = bts.get(b["seq"], 0) + b["bytes"]
        keep = set(sorted(bts, key=bts.get, reverse=True)[:1])  # bound-1
        minority_parts = {
            p
            for p, info in man_d0["partitions"].items()
            if any(b["seq"] not in keep for b in info["buckets"].values())
        }
        t0 = time.time()
        store.defrag("nodes", max_seq_groups=2)
        defrag_sec = time.time() - t0
        man_d1 = store._manifest("nodes")
        defrag_rewritten = sum(
            b["bytes"]
            for p, info in man_d1["partitions"].items()
            for bk, b in info["buckets"].items()
            if man_d0["partitions"].get(p, {}).get("buckets", {}).get(bk) != b
        )
        defrag_bytes_frac = defrag_rewritten / max(table_bytes(man_d0), 1)
        defrag_partition_unit_frac = sum(
            b["bytes"]
            for p in minority_parts
            for b in man_d0["partitions"][p]["buckets"].values()
        ) / max(table_bytes(man_d0), 1)

        # Late round-3: compaction is partition-scoped — tombstoning
        # rows of ONE label and compacting must rewrite that label only.
        # Both forms are timed on IDENTICAL state: the store dir is
        # cloned after the tombstone write, partial runs on the
        # original, full=True on the clone.
        doomed = (
            store.read_nodes()
            .where("label = 'L0' AND pmod(cast(id as long), 16) = 0")
            .select("label", "id")
        )
        store._write_deletes("nodes", doomed)
        clone_root = root + "_clone"
        shutil.copytree(root, clone_root)
        try:
            t0 = time.time()
            store.compact("nodes")
            compact_sec = time.time() - t0
            clone = GraphStore(spark, clone_root)
            t0 = time.time()
            clone.compact("nodes", full=True)
            compact_full_sec = time.time() - t0
        finally:
            shutil.rmtree(clone_root, ignore_errors=True)
        return {
            "bulk_load_sec": round(bulk_sec, 3),
            "touched_merge_sec": round(touched_sec, 3),
            "touched_over_bulk": round(touched_sec / bulk_sec, 3),
            "small_merge_sec": round(small_sec, 3),
            "small_merge_over_bulk": round(small_sec / bulk_sec, 3),
            "small_merge_bytes_frac": round(small_bytes_frac, 4),
            "analysis_touched_sec": round(analysis_sec, 3),
            "analysis_over_bulk": round(analysis_sec / bulk_sec, 3),
            "defrag_sec": round(defrag_sec, 3),
            "defrag_bytes_frac": round(defrag_bytes_frac, 4),
            "defrag_partition_unit_frac": round(defrag_partition_unit_frac, 4),
            "compact_partial_sec": round(compact_sec, 3),
            "compact_full_sec": round(compact_full_sec, 3),
            "compact_partial_over_full": round(compact_sec / compact_full_sec, 3),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="cartography-spark-bench", cores=cpus,
                      shuffle_partitions=int(cpus) if str(cpus).isdigit() else 32)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    # absorb JVM/codegen warmup before timing
    materialize(QUERIES["agg_pricing_summary"](spark, sf_dir))

    # Best-of-2 per query: the host shows multi-second steal bursts with
    # zero local load (BASELINE.md §4) — a single sample can double a
    # query's apparent cost. Same protocol the flagship timing and the
    # scaling harness already use; all samples could be recomputed from
    # a rerun, the min measures the engine.
    bestof = int(os.environ.get("SPARK_GRAFT_BENCH_BESTOF", "2"))
    timings: dict[str, float] = {}
    flagship_stats: dict = {}
    total = 0.0
    for name in HEADLINE:
        if name == "kg_flagship_pipeline":
            flagship_stats = run_flagship(spark, FLAGSHIP_PAGES)
            dt = flagship_stats["wall_sec"]
        else:
            dt = float("inf")
            for _ in range(max(1, bestof)):
                t0 = time.time()
                materialize(BENCH_QUERIES[name](spark, sf_dir))
                dt = min(dt, time.time() - t0)
        timings[name] = round(dt, 3)
        total += dt

    # Day-2 operator families, reported in their OWN section so the
    # headline total stays comparable across rounds (r1-r5 trendlines
    # reference the 25-query total).
    NEW_OPS = [
        "dedup_containment_prod", "join_asof", "join_interval",
        "agg_sessionize", "text_redact_pii", "agg_percentiles",
        "events_json_props", "kg_pagerank", "kg_triangles", "text_tfidf",
        "kg_clustering_coeff", "kg_pagerank_weighted", "pack_sequences",
        "kg_kcore", "shard_shuffle", "text_postings",
        "kg_pagerank_personalized", "text_bm25", "sample_split",
        "kg_hits", "sim_random_projection", "agg_rolling_window",
        "kg_bfs_distances", "kg_weighted_paths", "kg_label_propagation",
        "kg_random_walks", "kg_negative_samples", "sketch_hll_distinct",
        "kg_entity_pmi", "kg_hyperball_reach",
        "sketch_count_min", "sample_weighted", "text_lm_quality",
        "dedup_repeated_ngrams", "web_canonical_urls", "kg_neighborhood_function",
        "kg_skipgram_pairs", "kg_entity_contexts", "sketch_bloom_decontaminate",
        "profile_events", "kg_node2vec_walks", "kg_harmonic_centrality",
        "sample_mixture_plan", "text_quality_calibrated", "agg_session_sequences",
        "kg_related_entities", "kg_degree_histogram", "kmv_source_overlap",
        # Day-4/5 web + temporal-KG + retention families.
        "web_link_graph", "web_crawl_frontier", "web_host_pagerank",
        "kg_fact_intervals", "kg_fact_churn",
        "web_host_scc", "web_bowtie", "web_scc_condensation",
        "web_redirect_resolution", "web_fetch_schedule",
        "dedup_retention_mis", "dedup_excise_repeated",
        # Day-6 families: fact fusion, anchor dictionary, BPE, DSIR,
        # domain shrinkage.
        "kg_fact_fusion", "web_anchor_text", "bpe_merge_rules",
        "dsir_selection", "domain_quality",
    ]
    new_ops: dict[str, float] = {}
    for name in NEW_OPS:
        dt = float("inf")
        for _ in range(max(1, bestof)):
            t0 = time.time()
            materialize(BENCH_QUERIES[name](spark, sf_dir))
            dt = min(dt, time.time() - t0)
        new_ops[name] = round(dt, 3)

    store_stats = run_store_bench(spark)

    out = {
        "metric": "headline_total_sec",
        "value": round(total, 2),
        "unit": "sec",
        "queries": timings,
        "new_ops": new_ops,
        "new_ops_total_sec": round(sum(new_ops.values()), 2),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "flagship": flagship_stats,
        "store": store_stats,
        "triples_per_sec": flagship_stats.get("triples_per_sec"),
        "pages_per_sec": flagship_stats.get("pages_per_sec"),
        "cpus": cpus,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
