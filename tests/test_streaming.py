"""Structured Streaming front-end: availableNow catch-up over a pages
directory must produce the same triples as the batch pipeline."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cartography_spark.functions.textextract import extract_text
from cartography_spark.functions.triples import extract_triples_jvm
from cartography_spark.sources.pages import synthesize_pages
from cartography_spark.streaming.stream import stream_pages_to_triples


def test_stream_matches_batch(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = synthesize_pages(spark, 200, seed=21, partitions=4)
    pages.write.parquet(pages_dir)

    triples = stream_pages_to_triples(spark, pages_dir, max_files_per_trigger=2)
    assert triples.isStreaming
    q = (
        triples.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)

    got = spark.read.parquet(out_dir)
    batch = extract_triples_jvm(
        extract_text(spark.read.parquet(pages_dir).drop("text"), "html", "text")
    )
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    assert got.count() > 0


def test_windowed_counts_emit_open_windows(spark, tmp_path):
    """run_to_table's catch-up mode must emit EVERY window — including
    ones newer than max_event_time - watermark that an append sink
    would hold back — and match the batch windowed aggregate exactly."""
    from cartography_spark.streaming.stream import run_to_table, stream_triple_counts

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = synthesize_pages(spark, 150, seed=33, partitions=3)
    pages.write.parquet(pages_dir)

    counts = stream_triple_counts(stream_pages_to_triples(spark, pages_dir))
    run_to_table(counts, out_dir, ckpt, emit_open_windows=True, timeout=120)
    got = spark.read.parquet(out_dir)

    batch_triples = extract_triples_jvm(
        extract_text(spark.read.parquet(pages_dir).drop("text"), "html", "text")
    )
    batch = (
        batch_triples.groupBy(F.window("warc_ts", "7 days").alias("w"), "subj", "pred", "obj")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "subj", "pred", "obj", "n")
    )
    assert got.count() == batch.count() > 0
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    # the newest window (inside the 30-day watermark) is present
    assert (
        got.agg(F.max("window_start")).collect()[0][0]
        == batch.agg(F.max("window_start")).collect()[0][0]
    )


def test_stream_to_store_matches_batch_load(spark, tmp_path):
    """Streaming MERGE into the graph store ≡ the batch load of the same
    pages, and a catch-up rerun over the same checkpoint is a no-op
    (exactly-once per input file + idempotent MERGE)."""
    from cartography_spark.store.graphstore import GraphStore
    from cartography_spark.streaming.stream import stream_to_store

    pages_dir = str(tmp_path / "pages")
    synthesize_pages(spark, 120, seed=7, partitions=3).write.parquet(pages_dir)

    store = GraphStore(spark, str(tmp_path / "g"))
    totals = stream_to_store(
        stream_pages_to_triples(spark, pages_dir),
        store, str(tmp_path / "ckpt"), update_tag=100, timeout=120,
    )
    assert totals["nodes_created"] > 0 and totals["edges_created"] > 0

    # batch twin over the same pages
    batch = extract_triples_jvm(
        extract_text(spark.read.parquet(pages_dir).drop("text"), "html", "text")
    )
    batch_nodes = {
        r["name"]
        for r in batch.selectExpr("subj AS name").union(batch.selectExpr("obj AS name")).distinct().collect()
    }
    got_nodes = {r["id"] for r in store.read_nodes().where("label='Entity'").collect()}
    assert got_nodes == batch_nodes
    batch_edges = batch.groupBy("subj", "pred", "obj").count().count()
    assert store.read_edges().count() == batch_edges

    # rerun: checkpoint marks every file processed -> nothing merges
    totals2 = stream_to_store(
        stream_pages_to_triples(spark, pages_dir),
        store, str(tmp_path / "ckpt"), update_tag=200, timeout=120,
    )
    assert totals2 == {"nodes_created": 0, "nodes_updated": 0,
                      "edges_created": 0, "edges_updated": 0}
    assert store.read_nodes().where("label='Entity'").count() == len(batch_nodes)


def test_stream_stateful_dedup_first_seen(spark, tmp_path):
    """applyInPandasWithState cross-batch dedup: duplicates arriving in
    LATER micro-batches are suppressed by per-key GroupState; exactly
    one survivor per distinct content hash, and the survivor is from
    the batch where the key first appeared."""
    import os

    from pyspark.sql import functions as F

    from cartography_spark.streaming.stream import stream_dedup_first_seen

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    # file 1: a,b ; file 2: b again (dup) + c — one file per batch
    spark.createDataFrame(
        [("d1", "textA"), ("d2", "textB")], "doc_id string, text string"
    ).coalesce(1).write.parquet(os.path.join(in_dir, "f1"))
    spark.createDataFrame(
        [("d3", "textB"), ("d4", "textC")], "doc_id string, text string"
    ).coalesce(1).write.parquet(os.path.join(in_dir, "f2"))

    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
        .select("doc_id", F.md5("text").alias("h"))
    )
    out_dir = str(tmp_path / "out")
    q = (
        stream_dedup_first_seen(stream, "h", "doc_id")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    rows = spark.read.parquet(out_dir).where("id IS NOT NULL").collect()
    got = {r["id"] for r in rows}
    assert len(rows) == 3  # one survivor per distinct hash
    assert "d1" in got and "d4" in got
    assert ("d2" in got) != ("d3" in got)  # exactly one textB survivor


def test_stream_dedup_survivor_is_min_id_within_batch(spark, tmp_path):
    """Row order inside a micro-batch is partition-order
    nondeterministic, so the within-batch winner must be the MIN id
    (the batch operator's convention), not the first row seen —
    arrival order here is d9 before d2, and d2 must still win."""
    import os

    from pyspark.sql import functions as F

    from cartography_spark.streaming.stream import stream_dedup_first_seen

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    spark.createDataFrame(
        [("d9", "same"), ("d2", "same"), ("d5", "other")],
        "doc_id string, text string",
    ).coalesce(1).write.parquet(os.path.join(in_dir, "f1"))

    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
        .select("doc_id", F.md5("text").alias("h"))
    )
    out_dir = str(tmp_path / "out")
    q = (
        stream_dedup_first_seen(stream, "h", "doc_id")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    got = {
        r["id"]
        for r in spark.read.parquet(out_dir).where("id IS NOT NULL").collect()
    }
    assert got == {"d2", "d5"}


def test_stream_incremental_new_files(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(pages_dir)
    synthesize_pages(spark, 100, seed=1, partitions=2).write.mode("append").parquet(pages_dir)

    def catch_up():
        q = (
            stream_pages_to_triples(spark, pages_dir)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=120)

    catch_up()
    n1 = spark.read.parquet(out_dir).count()
    # new files arrive; the checkpoint ensures only the delta is processed
    synthesize_pages(spark, 100, seed=2, partitions=2).write.mode("append").parquet(pages_dir)
    catch_up()
    n2 = spark.read.parquet(out_dir).count()
    assert n2 > n1


def test_stream_to_store_edge_weight_accumulates_across_batches(spark, tmp_path):
    """The co-occurrence weight 'n' must be the TOTAL count across all
    micro-batches, not the last batch's count: with maxFilesPerTrigger=1
    the same triple arriving in two files lands in two batches, and MERGE
    prop overwrite alone would leave n=1."""
    from cartography_spark.store.graphstore import GraphStore
    from cartography_spark.streaming.stream import stream_to_store

    tdir = tmp_path / "triples"
    one = spark.createDataFrame([("a", "REL", "b")], "subj string, pred string, obj string")
    one.coalesce(1).write.parquet(str(tdir / "f1"))
    one.union(one).coalesce(1).write.parquet(str(tdir / "f2"))
    stream = (
        spark.readStream.schema("subj string, pred string, obj string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tdir) + "/*")
    )
    store = GraphStore(spark, str(tmp_path / "graph"))
    stream_to_store(stream, store, str(tmp_path / "ckpt"), update_tag=100, timeout=120)
    rows = store.read_edges().collect()
    assert len(rows) == 1
    assert rows[0]["props"]["n"] == "3"


def test_stream_ingest_with_continuous_entity_linking(spark, tmp_path):
    """Composition capstone: streaming ingestion MERGEs each
    micro-batch's entities under its own tag; incremental linking then
    blocks ONLY the latest batch against the corpus — near-duplicate
    entity names that arrived in DIFFERENT micro-batches share a
    canonical id (the continuous-KG-build shape: ingest per batch,
    link per sync)."""
    import pyspark.sql.functions as F

    from cartography_spark.pipeline.linking import link_entities_incremental
    from cartography_spark.store.graphstore import GraphStore

    tdir = tmp_path / "triples"
    b1 = spark.createDataFrame(
        [("Apache Spark Engine", "REL", "x")], "subj string, pred string, obj string"
    )
    b2 = spark.createDataFrame(
        [("apache spark enginee", "REL", "y")], "subj string, pred string, obj string"
    )
    b1.coalesce(1).write.parquet(str(tdir / "f1"))
    b2.coalesce(1).write.parquet(str(tdir / "f2"))
    store = GraphStore(spark, str(tmp_path / "g"))

    stream = (
        spark.readStream.schema("subj string, pred string, obj string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tdir) + "/*")
    )
    seen_tags = []

    def ingest(batch, epoch_id):
        if batch.isEmpty():
            return
        tag = 100 + int(epoch_id)
        seen_tags.append(tag)
        names = batch.select(F.col("subj").alias("name")).union(
            batch.select(F.col("obj").alias("name"))
        ).distinct()
        nodes = names.select(
            F.lit("Entity").alias("label"),
            F.col("name").alias("id"),
            F.lit(None).cast("array<string>").alias("extra_labels"),
            F.lit(None).cast("string").alias("scope_id"),
            F.create_map(F.lit("name"), F.col("name")).alias("props"),
        )
        store.merge_nodes(nodes, tag)

    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(ingest)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    assert not q.isActive and q.exception() is None
    assert len(seen_tags) == 2  # one batch per file

    # the per-sync link: block only the LATEST batch against the corpus
    out = link_entities_incremental(
        store, "Entity", "name", max(seen_tags), threshold=0.5,
        num_hashes=16, bands=4,
    )
    assert out["new_same_as_edges"] >= 1
    canon = {
        r["id"]: (r["props"] or {}).get("canonical_id")
        for r in store.read_nodes().where("label='Entity'").collect()
    }
    # the two name variants arrived in different micro-batches
    assert canon["Apache Spark Engine"] is not None
    assert canon["Apache Spark Engine"] == canon["apache spark enginee"]


def test_stream_to_store_epoch_replay_is_no_op(spark, tmp_path):
    """Crash-replay guard: removing the last streaming checkpoint commit
    (simulating a crash AFTER the store merges but BEFORE the checkpoint
    commit) makes the restart replay that epoch — the durable
    (stream, epoch) ledger must skip it outright, leaving weights AND
    the returned counters untouched."""
    import os

    from cartography_spark.store.graphstore import GraphStore
    from cartography_spark.streaming.stream import stream_to_store

    tdir = tmp_path / "triples"
    one = spark.createDataFrame([("a", "REL", "b")], "subj string, pred string, obj string")
    one.coalesce(1).write.parquet(str(tdir / "f1"))
    one.union(one).coalesce(1).write.parquet(str(tdir / "f2"))
    stream_def = lambda: (  # noqa: E731
        spark.readStream.schema("subj string, pred string, obj string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tdir) + "/*")
    )
    store = GraphStore(spark, str(tmp_path / "graph"))
    ckpt = str(tmp_path / "ckpt")
    stream_to_store(stream_def(), store, ckpt, update_tag=100, timeout=120)
    assert store.read_edges().collect()[0]["props"]["n"] == "3"

    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith(".")
    )
    # un-commit the last epoch (incl. Hadoop's checksum sidecar, which
    # would otherwise fail the replay's rename-based commit write)
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    totals = stream_to_store(stream_def(), store, ckpt, update_tag=200, timeout=120)
    assert totals == {"nodes_created": 0, "nodes_updated": 0,
                      "edges_created": 0, "edges_updated": 0}
    assert store.read_edges().collect()[0]["props"]["n"] == "3"  # no double-add


def test_merge_edges_in_transaction_surfaces_conflict(spark, tmp_path):
    """Round-4 ADVICE fix, store side: merge_edges inside a caller's
    transaction must let CommitConflict surface at its exit when the
    snapshot moved, instead of retrying internally against the
    caller's stale inputs."""
    from cartography_spark.store.graphstore import CommitConflict, GraphStore

    store = GraphStore(spark, str(tmp_path / "g"))
    other = GraphStore(spark, str(tmp_path / "g"))
    e1 = spark.createDataFrame(
        [("R", "a", "b", "X", "X", None, {"n": "1"})],
        "rel_label string, src string, dst string, src_label string, "
        "dst_label string, scope_id string, props map<string,string>",
    )
    store.merge_edges(e1, 100)
    with pytest.raises(CommitConflict):
        with store.transaction():
            other.merge_edges(e1, 101)  # snapshot moves past the entry seq
            store.merge_edges(e1, 102)


def test_stream_weight_rebuilds_plan_on_concurrent_writer(spark, tmp_path):
    """Round-4 ADVICE fix, stream side: a concurrent writer bumping the
    same edge's accumulated weight between the stream's read-back and
    its merge must NOT be overwritten — the conflict surfaces and the
    whole read+plan rebuilds against the winner's snapshot."""
    from cartography_spark.store.graphstore import GraphStore
    from cartography_spark.streaming.stream import stream_to_store

    tdir = tmp_path / "triples"
    one = spark.createDataFrame([("a", "REL", "b")], "subj string, pred string, obj string")
    one.coalesce(1).write.parquet(str(tdir / "f1"))
    stream = (
        spark.readStream.schema("subj string, pred string, obj string")
        .parquet(str(tdir) + "/*")
    )
    store = GraphStore(spark, str(tmp_path / "graph"))
    # pre-existing accumulated weight written by an earlier run
    store.merge_edges(
        spark.createDataFrame(
            [("REL", "a", "b", "Entity", "Entity", None, {"n": "10"})],
            "rel_label string, src string, dst string, src_label string, "
            "dst_label string, scope_id string, props map<string,string>",
        ),
        50,
    )

    # interpose: the FIRST stream merge_edges call loses the race to a
    # concurrent writer that bumps n to 17 (a second store handle on the
    # same root, as another process would)
    orig = store.merge_edges
    state = {"injected": False}

    def racing(updates, update_tag):
        if not state["injected"]:
            state["injected"] = True
            other = GraphStore(spark, str(tmp_path / "graph"))
            other.merge_edges(
                spark.createDataFrame(
                    [("REL", "a", "b", "Entity", "Entity", None, {"n": "17"})],
                    "rel_label string, src string, dst string, src_label string, "
                    "dst_label string, scope_id string, props map<string,string>",
                ),
                60,
            )
        return orig(updates, update_tag)

    store.merge_edges = racing
    try:
        stream_to_store(stream, store, str(tmp_path / "ckpt"), update_tag=100, timeout=120)
    finally:
        store.merge_edges = orig

    rows = store.read_edges().collect()
    assert len(rows) == 1
    # winner's n=17 + this batch's 1 — NOT the stale 10 + 1
    assert rows[0]["props"]["n"] == "18"


def test_stream_curate_matches_batch_funnel(spark, tmp_path):
    """stream_curate over micro-batches must emit EXACTLY the batch
    funnel's survivors on the union: every gate verdict is row-local
    given the static benchmark, so micro-batch boundaries cannot change
    membership. The fixture makes each gate fire (a repetitive doc, a
    benchmark-contaminated doc, sampled-out strata rows)."""
    from cartography_spark.operators.curation import (
        decontaminate, repetition_features, stratified_sample,
    )
    from cartography_spark.streaming.stream import stream_curate

    docs_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")
    rows = []
    for i in range(90):
        if i % 13 == 0:
            text = "spam " * 40                        # repetition gate
        else:
            # per-doc-unique words: a doc shares grams only with its
            # own benchmark copy, so contamination removes exactly the
            # doc_id % 17 == 3 rows
            text = " ".join(f"u{i}w{j}" for j in range(25))
        rows.append((i, "en" if i % 2 else "de", text.strip()))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    docs.repartition(5).write.parquet(docs_dir)          # >1 micro-batch
    bench = docs.where("doc_id % 17 = 3").select("doc_id", "text")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )
    assert stream.isStreaming
    rates = {"en": 0.5}
    stream_curate(
        stream, bench, "doc_id", "text", out_dir, ckpt,
        ngram=3, rates=rates, strata_col="lang", timeout=120,
    )

    got = spark.read.parquet(out_dir).drop("epoch")   # epoch=N partition dirs
    expected = repetition_features(spark.read.parquet(docs_dir))
    expected = expected.where(~F.col("repetitive")).select("doc_id", "lang", "text")
    expected = decontaminate(expected, bench, "doc_id", "text", ngram=3)
    expected = stratified_sample(expected, "lang", rates, "doc_id")
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    n_total, n_got = 90, got.count()
    assert 0 < n_got < n_total     # every gate actually removed something

    # Replay idempotence: a SECOND full run over the same input into the
    # SAME output dir (fresh checkpoint => every epoch replays, the
    # worst-case at-least-once scenario) must leave the output
    # unchanged — each epoch overwrites its own partition.
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )
    stream_curate(
        stream2, bench, "doc_id", "text", out_dir, str(tmp_path / "ckpt2"),
        ngram=3, rates=rates, strata_col="lang", timeout=120,
    )
    again = spark.read.parquet(out_dir).drop("epoch")
    assert again.count() == n_got
    assert again.exceptAll(expected).count() == 0


def test_stream_session_stats_matches_batch(spark, tmp_path):
    """Streaming sessionization (native session_window, +1µs gap
    adjustment) must emit EXACTLY the batch operator's sessions once
    the watermark passes them: same bounds, counts, durations, sums —
    across multiple micro-batches. A far-future sentinel event advances
    the global watermark so every real session finalizes; the
    sentinel's own session stays open and must NOT emit."""
    from datetime import datetime, timedelta

    from cartography_spark.operators.sessions import session_stats
    from cartography_spark.streaming.stream import stream_session_stats

    t0 = datetime(2024, 1, 1)
    src = str(tmp_path / "ev")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    spec = {"a": [0, 10, 25, 4000, 4010, 9000], "b": [5, 3600, 3630]}
    rows = [
        (k, t0 + timedelta(seconds=s), float(int(s) % 7))
        for k, offs in spec.items() for s in offs
    ]
    real = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    real.repartition(3).write.parquet(src)
    sentinel = spark.createDataFrame(
        [("zz", t0 + timedelta(days=30), 0.0)], "key string, ts timestamp, value double"
    )
    sentinel.write.mode("append").parquet(src)   # later mtime -> last batch

    stream = (
        spark.readStream.schema(real.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    agg = stream_session_stats(stream, "key", "ts", 30.0, watermark="1 hour",
                               value_col="value")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet").option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=180)

    got = spark.read.parquet(out_dir)
    assert got.where(F.col("key") == "zz").count() == 0   # open session held back
    expected = session_stats(real, "key", "ts", 30.0, value_col="value").drop("session_seq")
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    assert got.count() == 5   # a:3 sessions, b:2 sessions


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (watermarked both sides) must emit
    exactly the batch join's pairs across multi-file micro-batches:
    view->purchase attribution per user within 60s. Sentinel rows far
    in the future advance the watermark so every real pair finalizes."""
    from datetime import datetime, timedelta

    from cartography_spark.streaming.stream import stream_interval_join

    t0 = datetime(2024, 1, 1)
    vdir, pdir = str(tmp_path / "views"), str(tmp_path / "buys")
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    views = [
        ("u1", t0, "home"), ("u1", t0 + timedelta(seconds=100), "item"),
        ("u2", t0 + timedelta(seconds=5), "item"),
        ("u3", t0 + timedelta(seconds=50), "home"),
    ]
    buys = [
        ("u1", t0 + timedelta(seconds=30), 9.99),    # joins u1@0 only
        ("u1", t0 + timedelta(seconds=130), 5.00),   # joins u1@100 only
        ("u2", t0 + timedelta(seconds=4), 1.00),     # BEFORE the view: no join
        ("u3", t0 + timedelta(seconds=110), 2.50),   # joins u3@50 (60s edge)
        ("u3", t0 + timedelta(seconds=111), 2.50),   # 61s: outside the bound
    ]
    v_schema = "user string, view_ts timestamp, page string"
    b_schema = "user string, buy_ts timestamp, amount double"
    vdf = spark.createDataFrame(views, v_schema)
    bdf = spark.createDataFrame(buys, b_schema)
    vdf.repartition(2).write.parquet(vdir)
    bdf.repartition(2).write.parquet(pdir)
    far = t0 + timedelta(days=30)
    spark.createDataFrame([("zz", far, "x")], v_schema).write.mode("append").parquet(vdir)
    spark.createDataFrame([("zz", far, 0.0)], b_schema).write.mode("append").parquet(pdir)

    vs = spark.readStream.schema(v_schema).option("maxFilesPerTrigger", 1).parquet(vdir)
    bs = spark.readStream.schema(b_schema).option("maxFilesPerTrigger", 1).parquet(pdir)
    joined = stream_interval_join(
        vs, bs, "user", "view_ts", "buy_ts", 60.0, watermark="1 minute"
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet").option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=180)

    got = spark.read.parquet(out_dir).where(F.col("user") != "zz")
    batch = stream_interval_join(
        vdf, bdf, "user", "view_ts", "buy_ts", 60.0
    )
    assert not batch.isStreaming
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    assert got.count() == 3
    # inclusive upper bound: the u3 pair at exactly +60s is present
    assert got.where(F.col("amount") == 2.50).count() == 1


def test_stream_interval_join_validates(spark):
    from cartography_spark.streaming.stream import stream_interval_join

    a = spark.createDataFrame([("u", None)], "user string, ts timestamp")
    b = spark.createDataFrame([("u", None)], "user string, ts timestamp")
    with pytest.raises(ValueError, match="disjoint"):
        stream_interval_join(a, b, "user", "ts", "ts", 10.0)
    c = spark.createDataFrame([("u", None)], "user string, ts2 timestamp")
    with pytest.raises(ValueError, match="max_delay_seconds"):
        stream_interval_join(a, c, "user", "ts", "ts2", -1.0)


def test_stream_hll_registers_match_batch_and_estimate(spark, tmp_path):
    """Streamed windowed HLL registers must equal the batch register
    build on the same rows (shared expressions), and folding them must
    reproduce batch hll_distinct per window — the persist-registers /
    estimate-later pattern, across micro-batches."""
    from datetime import datetime, timedelta

    from cartography_spark.operators.sketches import (
        hll_distinct,
        hll_estimate,
        hll_registers,
    )
    from cartography_spark.streaming.stream import stream_hll_registers

    t0 = datetime(2024, 1, 1)
    src, out_dir, ck = str(tmp_path / "ev"), str(tmp_path / "o"), str(tmp_path / "c")
    rows = [
        ("u%d" % (i % 37), t0 + timedelta(minutes=i % 50))
        for i in range(400)
    ] + [
        ("w%d" % i, t0 + timedelta(hours=2, minutes=i % 30)) for i in range(80)
    ]
    schema = "uid string, ts timestamp"
    df = spark.createDataFrame(rows, schema)
    df.repartition(3).write.parquet(src)
    far = t0 + timedelta(days=30)
    spark.createDataFrame([("zz", far)], schema).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    regs = stream_hll_registers(stream, "ts", "uid", window="1 hour",
                                watermark="1 hour", p=8)
    q = (
        regs.writeStream.outputMode("append")
        .format("parquet").option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=180)

    got = spark.read.parquet(out_dir).where(
        F.col("window_start") < far - timedelta(days=1)
    )
    batch_src = df.withColumn(
        "window_start", F.window("ts", "1 hour")["start"]
    )
    want = hll_registers(batch_src, ["window_start"], "uid", p=8)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # folding the streamed registers == batch hll_distinct per window
    est = hll_estimate(got, ["window_start"], p=8)
    want_est = hll_distinct(batch_src, ["window_start"], "uid", p=8)
    diff = est.join(want_est.withColumnRenamed("approx_distinct", "w"), "window_start")
    for r in diff.collect():
        assert r["approx_distinct"] == r["w"]
