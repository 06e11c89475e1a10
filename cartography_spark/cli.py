"""CLI entrypoint — the reference-lifecycle analog, spark-submit-able.

Reference: ``cartography/cli.py`` (argparse -> ``sync.run_with_config``
-> staged run with ``update_tag`` defaulting to epoch seconds,
``cartography/sync.py:280-282``). Usage::

    spark-submit --py-files cartography_spark.zip -m ...   # cluster
    python -m cartography_spark.cli sync --store /tmp/graph [--update-tag T]
    python -m cartography_spark.cli flagship --pages 20000
    python -m cartography_spark.cli sweep --store /tmp/graph --label User \
        --scope t1 --update-tag T
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(args):
    from cartography_spark.session import get_spark

    return get_spark(app_name=f"cartography-spark-{args.command}", cores=args.cores)


def cmd_flagship(args) -> int:
    """Run the flagship KG pipeline on synthesized pages; print stats."""
    from pyspark.sql import Observation, functions as F

    from cartography_spark.pipeline.flagship import page_triples

    spark = _spark(args)
    t0 = time.time()
    obs = Observation("n")
    triples = page_triples(spark, args.pages, seed=args.seed).observe(
        obs, F.count(F.lit(1)).alias("n")
    )
    agg = triples.groupBy("subj", "pred", "obj").agg(F.count("*").alias("n"))
    agg.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    print(json.dumps({"pages": args.pages, "triples": obs.get["n"],
                      "wall_sec": round(wall, 2),
                      "triples_per_sec": round(obs.get["n"] / wall, 1)}))
    return 0


def cmd_sync(args) -> int:
    """Full sync run: pages -> triples -> entity nodes + co-occurrence
    edges -> MERGE into the store -> staleness sweep (Get/Transform/
    Load/Cleanup, ``sync.py:126-156``)."""
    from pyspark.sql import functions as F

    from cartography_spark.pipeline.flagship import page_triples
    from cartography_spark.pipeline.sync import Sync, load
    from cartography_spark.schema import (
        LinkDirection, NodeSchema, PropertyRef, RelSchema, TargetNodeMatcher,
    )
    from cartography_spark.store.graphstore import GraphStore

    spark = _spark(args)
    store = GraphStore(spark, args.store)
    update_tag = args.update_tag or int(time.time())

    crawl = NodeSchema(label="Crawl", properties={"id": PropertyRef("cid")})
    entity = NodeSchema(
        label="Entity",
        properties={"id": PropertyRef("name")},
        sub_resource_relationship=RelSchema(
            rel_label="IN_CRAWL",
            target_node_label="Crawl",
            target_node_matcher=TargetNodeMatcher(
                {"id": PropertyRef("CRAWL_ID", set_in_kwargs=True)}
            ),
            direction=LinkDirection.INWARD,
        ),
        other_relationships=(
            RelSchema(
                rel_label="RELATES_TO",
                target_node_label="Entity",
                target_node_matcher=TargetNodeMatcher({"id": PropertyRef("obj")}),
            ),
        ),
    )

    def stage_seed(st, tag, **p):
        return load(st, crawl, spark.createDataFrame([(args.crawl_id,)], "cid string"), tag)

    def stage_ingest(st, tag, **p):
        triples = page_triples(spark, args.pages, seed=args.seed).cache()
        subjects = triples.select(F.col("subj").alias("name"), F.col("obj")).distinct()
        out = load(st, entity, subjects, tag, CRAWL_ID=args.crawl_id)
        triples.unpersist()
        return out

    def stage_sweep(st, tag, **p):
        out = st.sweep(entity, tag, scope_id=args.crawl_id)
        # bound merge-on-read debt across repeated syncs
        compacted = st.maybe_compact()
        if compacted:
            out["compacted"] = list(compacted)
        return out

    sync = Sync(store)
    sync.add_stage("seed", stage_seed)
    sync.add_stage("ingest", stage_ingest)
    sync.add_stage("sweep", stage_sweep)
    result = sync.run(update_tag=update_tag)
    print(json.dumps(result, default=str))
    return 0


def cmd_sweep(args) -> int:
    from cartography_spark.schema import (
        LinkDirection, NodeSchema, PropertyRef, RelSchema, TargetNodeMatcher,
    )
    from cartography_spark.store.graphstore import GraphStore

    spark = _spark(args)
    store = GraphStore(spark, args.store)
    schema = NodeSchema(
        label=args.label,
        properties={"id": PropertyRef("id")},
        sub_resource_relationship=RelSchema(
            rel_label="IN_CRAWL",
            target_node_label="Crawl",
            target_node_matcher=TargetNodeMatcher(
                {"id": PropertyRef("SCOPE", set_in_kwargs=True)}
            ),
            direction=LinkDirection.INWARD,
        ),
    )
    print(json.dumps(store.sweep(schema, args.update_tag, scope_id=args.scope)))
    return 0


def cmd_analysis(args) -> int:
    """Run a declarative JSON analysis job against a store (reference:
    ``cartography/intel/analysis.py:12-45`` runs user-supplied JSON job
    files in order)."""
    from cartography_spark.pipeline.analysis import AnalysisJob
    from cartography_spark.store.graphstore import GraphStore

    spark = _spark(args)
    store = GraphStore(spark, args.store)
    params = dict(kv.split("=", 1) for kv in (args.param or []))
    job = AnalysisJob.from_json_file(args.job)
    out = job.run(store, args.update_tag or int(time.time()), params)
    print(json.dumps(out, default=str))
    return 0


def cmd_link(args) -> int:
    """Entity linking over a store label (LSH blocking -> Jaccard
    verify -> connected-components canonical ids -> MERGE).
    ``--incremental`` blocks only the nodes the given update-tag's sync
    touched against the corpus (the per-sync shape at scale)."""
    from cartography_spark.pipeline.linking import link_entities, link_entities_incremental
    from cartography_spark.store.graphstore import GraphStore

    spark = _spark(args)
    store = GraphStore(spark, args.store)
    fn = link_entities_incremental if args.incremental else link_entities
    out = fn(
        store, args.label, args.prop, args.update_tag,
        scope_id=args.scope, threshold=args.threshold,
    )
    print(json.dumps(out))
    return 0


def cmd_curate(args) -> int:
    """One-pass corpus curation over a parquet documents table: Gopher
    repetition gate -> optional benchmark decontamination -> optional
    deterministic per-stratum sampling. Prints per-stage survivor
    counts as JSON; ``--output`` writes the surviving rows.

    Scale shape: every gate is a row-local flag computed in the scan
    stage; the only non-row-local input is the contaminated-id set,
    which is bounded by benchmark reach (not corpus size) and
    broadcast-joined as a flag. With ``--output`` the stage counts ride
    the write job as an Observation, so the flag+filter+write side is
    ONE corpus pass; deriving the contaminated-id set itself costs one
    additional gram-exploded scan when ``--benchmark`` is given (same
    cost note as ``decontaminate``).
    """
    from pyspark.sql import Observation, functions as F

    from cartography_spark.operators.curation import (
        contaminated_ids, repetition_features, sample_keep,
    )

    if args.redact and not args.output:
        raise SystemExit("--redact requires --output (counts-only mode writes nothing to scrub)")

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    flagged = repetition_features(
        docs, args.text_col,
        top_word_max=args.top_word_max, dup_ngram_max=args.dup_ngram_max,
    )
    ok = ~F.col("repetitive")
    stages = {"total": F.lit(True), "repetition": ok}
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        contaminated = contaminated_ids(
            docs, bench, args.id_col, args.text_col, args.ngram
        ).withColumn("__cont", F.lit(True))
        flagged = flagged.join(F.broadcast(contaminated), args.id_col, "left")
        ok = ok & F.col("__cont").isNull()
        stages["decontamination"] = ok
    if args.rate:
        rates = dict(args.rate)
        ok = ok & sample_keep(args.strata_col, rates, args.id_col)
        stages["sample"] = ok
    aggs = [F.sum(c.cast("long")).alias(name) for name, c in stages.items()]
    out_cols = list(docs.columns)
    if args.redact:
        from cartography_spark.functions.textstats import redact_pii

        out_cols = [
            redact_pii(c).alias(c) if c == args.text_col else c for c in out_cols
        ]
    out: dict = {}
    if args.output:
        obs = Observation("curate")
        survivors = flagged.observe(obs, *aggs).where(ok).select(*out_cols)
        survivors.write.mode("overwrite").parquet(args.output)
        out["stages"] = obs.get
        out["written"] = args.output
    else:
        out["stages"] = flagged.agg(*aggs).collect()[0].asDict()
    print(json.dumps(out))
    return 0


def cmd_layout(args) -> int:
    """Training-corpus layout: ``pack`` (concat-then-chunk context
    windows via the distributed prefix scan), ``shards`` (deterministic
    md5 shard shuffle, written partitioned by shard — the physical file
    layout a trainer reads), ``split`` (md5-threshold train/valid/test
    labels, written partitioned by split). Without ``--output`` prints
    the row count and group count instead of writing."""
    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    partition_col = None
    if args.layout_command == "pack":
        from cartography_spark.operators.packing import pack_documents

        out = pack_documents(
            docs, capacity=args.capacity, id_col=args.id_col, text_col=args.text_col
        )
        group_col = "bin"  # thousands of windows: don't partitionBy
    elif args.layout_command == "shards":
        from cartography_spark.operators.packing import shard_assignment

        out = shard_assignment(
            docs, n_shards=args.n_shards, id_col=args.id_col, salt=args.salt
        )
        partition_col = group_col = "shard"
    else:
        from cartography_spark.operators.curation import split_assignment

        fractions = dict(args.fraction or [("train", 0.9), ("valid", 0.05), ("test", 0.05)])
        out = split_assignment(docs, fractions, id_col=args.id_col)
        partition_col = group_col = "split"
    res: dict = {}
    if args.output:
        writer = out.write.mode("overwrite")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(args.output)
        res["written"] = args.output
    res["rows"] = out.count() if not args.output else spark.read.parquet(args.output).count()
    res["groups"] = (
        (spark.read.parquet(args.output) if args.output else out)
        .select(group_col).distinct().count()
    )
    print(json.dumps(res))
    return 0


def cmd_profile(args) -> int:
    """Single-pass per-column profile of a parquet table (the
    post-materialization stats gate), printed as one JSON line per
    column — pipe into the run log or diff across pipeline versions."""
    from cartography_spark.operators.profile import profile_table

    spark = _spark(args)
    df = spark.read.parquet(args.table)
    cols = args.columns.split(",") if args.columns else None
    for row in profile_table(df, cols).collect():
        print(json.dumps(row.asDict()))
    return 0


def cmd_store(args) -> int:
    """Store maintenance: compact (fold merge-on-read tombstones) and
    expire (retention GC) — the Iceberg rewrite_data_files /
    expire_snapshots analogs."""
    from cartography_spark.store.graphstore import GraphStore

    spark = _spark(args)
    store = GraphStore(spark, args.store)
    if args.store_command == "compact":
        print(json.dumps(store.compact(full=getattr(args, "full", False))))
    else:
        print(json.dumps(store.expire_versions(keep_last=args.keep_last)))
    return 0


def cmd_drift(args) -> int:
    """Drift-detect workflow (reference: ``cartography/driftdetect/cli.py``
    get-state / add-shortcut / get-drift subcommands)."""
    from cartography_spark.operators.driftstate import (
        add_shortcut,
        get_query_state,
        load_state,
        perform_drift_detection,
    )

    if args.drift_command == "add-shortcut":
        add_shortcut(args.query_directory, args.shortcut, args.file)
        print(json.dumps({"shortcut": args.shortcut, "file": args.file}))
        return 0
    if args.drift_command == "detect":
        start = load_state(args.query_directory, args.start_state)
        end = load_state(args.query_directory, args.end_state)
        new, missing = perform_drift_detection(start, end)
        print(json.dumps({"query": end.name, "properties": end.properties,
                          "new": new, "missing": missing}))
        return 0
    # get-state
    from cartography_spark.store.graphstore import GraphStore

    spark = _spark(args)
    store = GraphStore(spark, args.store)
    state = get_query_state(store, args.query_directory, args.filename)
    print(json.dumps({"query": state.name, "rows": len(state.results)}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="cartography-spark")
    p.add_argument("--cores", default=None, help="local[N] cores (default env/all)")
    sub = p.add_subparsers(dest="command", required=True)

    f = sub.add_parser("flagship", help="run the flagship KG pipeline, print throughput")
    f.add_argument("--pages", type=int, default=20000)
    f.add_argument("--seed", type=int, default=42)
    f.set_defaults(fn=cmd_flagship)

    s = sub.add_parser("sync", help="Get/Transform/Load/Cleanup run into a store")
    s.add_argument("--store", required=True)
    s.add_argument("--pages", type=int, default=5000)
    s.add_argument("--seed", type=int, default=42)
    s.add_argument("--crawl-id", default="crawl-1")
    s.add_argument("--update-tag", type=int, default=None)
    s.set_defaults(fn=cmd_sync)

    w = sub.add_parser("sweep", help="staleness sweep for a label/scope")
    w.add_argument("--store", required=True)
    w.add_argument("--label", required=True)
    w.add_argument("--scope", required=True)
    w.add_argument("--update-tag", type=int, required=True)
    w.set_defaults(fn=cmd_sweep)

    ln = sub.add_parser("link", help="entity linking over a store label")
    ln.add_argument("--store", required=True)
    ln.add_argument("--label", required=True)
    ln.add_argument("--prop", required=True, help="node prop holding the text to block on")
    ln.add_argument("--update-tag", type=int, required=True)
    ln.add_argument("--scope", default=None)
    ln.add_argument("--threshold", type=float, default=0.8)
    ln.add_argument("--incremental", action="store_true",
                    help="block only this update-tag's batch against the corpus")
    ln.set_defaults(fn=cmd_link)

    c = sub.add_parser(
        "curate", help="corpus curation funnel (repetition/decontaminate/sample)"
    )
    c.add_argument("--input", required=True, help="parquet documents table")
    c.add_argument("--output", help="write surviving rows here (parquet)")
    c.add_argument("--id-col", default="doc_id")
    c.add_argument("--text-col", default="text")
    c.add_argument("--strata-col", default="lang")
    c.add_argument("--benchmark", help="parquet of benchmark docs (same text col)")
    c.add_argument("--ngram", type=int, default=10, help="decontamination n-gram size")
    c.add_argument("--top-word-max", type=float, default=0.2)
    c.add_argument("--dup-ngram-max", type=float, default=0.2)
    def _rate(kv: str) -> tuple:
        try:
            k, v = kv.split("=", 1)
            return (k, float(v))
        except ValueError:
            raise argparse.ArgumentTypeError(
                f"expected STRATUM=RATE with a numeric rate, got {kv!r}"
            )

    c.add_argument("--rate", action="append", type=_rate,
                   help="STRATUM=RATE sample rate (repeatable)")
    c.add_argument("--redact", action="store_true",
                   help="scrub emails/URLs/IPv4s from the text column of survivors")
    c.set_defaults(fn=cmd_curate)

    ly = sub.add_parser("layout", help="training-corpus layout (pack / shards / split)")
    lysub = ly.add_subparsers(dest="layout_command", required=True)
    lp = lysub.add_parser("pack", help="concat-then-chunk context-window assignment")
    lp.add_argument("--capacity", type=int, default=2048, help="tokens per context window")
    lp.add_argument("--text-col", default="text")
    lh = lysub.add_parser("shards", help="deterministic shard shuffle (partitioned write)")
    lh.add_argument("--n-shards", type=int, default=64)
    lh.add_argument("--salt", default="", help="epoch salt: changing it reshuffles")
    ls = lysub.add_parser("split", help="train/valid/test split (partitioned write)")

    def _frac(kv: str) -> tuple:
        try:
            k, v = kv.split("=", 1)
            return (k, float(v))
        except ValueError:
            raise argparse.ArgumentTypeError(
                f"expected LABEL=FRACTION with a numeric fraction, got {kv!r}"
            )

    ls.add_argument("--fraction", action="append", type=_frac,
                    help="LABEL=FRACTION (repeatable; must sum to 1; default 90/5/5)")
    for sp in (lp, lh, ls):
        sp.add_argument("--input", required=True, help="parquet documents table")
        sp.add_argument("--output", help="write the assignment here (parquet)")
        sp.add_argument("--id-col", default="doc_id")
        sp.set_defaults(fn=cmd_layout)

    pr = sub.add_parser("profile", help="single-pass per-column stats of a parquet table")
    pr.add_argument("--table", required=True, help="parquet path")
    pr.add_argument("--columns", default=None, help="comma-separated subset (default: all)")
    pr.set_defaults(fn=cmd_profile)

    st = sub.add_parser("store", help="store maintenance (compact / expire)")
    stsub = st.add_subparsers(dest="store_command", required=True)
    sc = stsub.add_parser(
        "compact",
        help="fold tombstones into rewritten data (only affected partitions; --full for a whole-table snapshot)",
    )
    sc.add_argument("--full", action="store_true")
    sc.add_argument("--store", required=True)
    se = stsub.add_parser("expire", help="retention GC of old versions")
    se.add_argument("--store", required=True)
    se.add_argument("--keep-last", type=int, default=3)
    for sp in (sc, se):
        sp.set_defaults(fn=cmd_store)

    d = sub.add_parser("drift", help="drift-detect state workflow")
    dsub = d.add_subparsers(dest="drift_command", required=True)
    dg = dsub.add_parser("get-state", help="snapshot a validation query's state")
    dg.add_argument("--store", required=True)
    dg.add_argument("--query-directory", required=True)
    dg.add_argument("--filename", default=None)
    ds = dsub.add_parser("add-shortcut", help="alias a state file")
    ds.add_argument("--query-directory", required=True)
    ds.add_argument("--shortcut", required=True)
    ds.add_argument("--file", required=True)
    dd = dsub.add_parser("detect", help="two-way drift between states")
    dd.add_argument("--query-directory", required=True)
    dd.add_argument("--start-state", required=True)
    dd.add_argument("--end-state", required=True)
    for sp in (dg, ds, dd):
        sp.set_defaults(fn=cmd_drift)

    a = sub.add_parser("analysis", help="run a declarative JSON analysis job")
    a.add_argument("--store", required=True)
    a.add_argument("--job", required=True, help="path to the JSON job file")
    a.add_argument("--update-tag", type=int, default=None)
    a.add_argument("--param", action="append", help="KEY=VALUE ($KEY substitution)")
    a.set_defaults(fn=cmd_analysis)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
