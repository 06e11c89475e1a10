"""Structured Streaming front-end (optional; beyond reference parity).

The reference is explicitly batch ("Cartography is not designed for
very fast updates", ``README.md:66-71``); its closest analogs are the
``update_tag`` run watermark and the CVE modified-window incremental
pull (``intel/cve/feed.py:156-179``). This module is the streaming
escalation of the same semantics: new page files (new Iceberg
snapshots, in production) stream through the SAME extraction stages
used in batch — the stage functions are shared, so batch/stream parity
is by construction — with an event-time watermark on ``warc_ts`` for
late data and windowed triple-count aggregation.

Run with ``trigger(availableNow=True)`` for the batch-like catch-up
mode (used by the tests), or a processing-time trigger for continuous
tailing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cartography_spark.functions.textextract import extract_text
from cartography_spark.functions.triples import extract_triples_jvm
from cartography_spark.sources.pages import PAGES_SCHEMA


def stream_pages_to_triples(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over a pages directory -> streaming triples frame.

    Narrow JVM-only transformations (text extraction and the triples
    twin are both Catalyst expressions), so the stream needs no state
    until aggregated and no Python worker.
    """
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_dir)
    text = extract_text(pages.drop("text"), "html", "text")
    return extract_triples_jvm(text)


def stream_triple_counts(
    triples: DataFrame,
    window: str = "7 days",
    watermark: str = "30 days",
) -> DataFrame:
    """Watermarked windowed aggregation: per (event window, subj, pred,
    obj) counts; late pages beyond ``watermark`` are dropped, state is
    bounded — the streaming form of the batch edge-weight aggregate."""
    return (
        triples.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "subj", "pred", "obj")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "subj", "pred", "obj", "n",
        )
    )


def stream_dedup_first_seen(
    df: DataFrame,
    key_col: str,
    id_col: str,
) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): streaming
    exact dedup — emit each key's FIRST occurrence only, across
    micro-batches, with per-key GroupState remembering what has been
    seen. The streaming form of :func:`operators.dedup.
    drop_exact_duplicates` for continuous training-data ingestion: a
    document whose content hash arrived in ANY earlier batch is
    suppressed.

    Output columns: (key, id) of the surviving first occurrence. State
    per key is one boolean — bounded by the number of distinct keys
    (shard it by key range / TTL in production via
    ``GroupStateTimeout`` if the key space is unbounded).

    Within the first batch that contains a key, the survivor is the
    MIN id — row order inside a micro-batch is partition-order
    nondeterministic, so "first row seen" would pick a different
    survivor on re-run/retry; min-id matches the batch operator's
    winner (:func:`operators.dedup.drop_exact_duplicates`), keeping
    stream-vs-batch equality exact, not just key-set-equal."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def first_only(key, pdfs, state):
        if state.exists:
            for _ in pdfs:  # drain; key already emitted in a prior batch
                pass
            yield pd.DataFrame({"key": [], "id": []})
            return
        first_id = None
        for pdf in pdfs:
            if len(pdf):
                m = pdf["id"].min()
                first_id = m if first_id is None else min(first_id, m)
        state.update((True,))
        yield pd.DataFrame({"key": [key[0]], "id": [first_id]})

    return (
        df.select(F.col(key_col).alias("key"), F.col(id_col).alias("id"))
        .groupBy("key")
        .applyInPandasWithState(
            first_only,
            outputStructType="key string, id string",
            stateStructType="seen boolean",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_curate(
    docs: DataFrame,
    benchmark: DataFrame | None,
    id_col: str,
    text_col: str,
    output_dir: str,
    checkpoint_dir: str,
    ngram: int = 10,
    top_word_max: float = 0.2,
    dup_ngram_max: float = 0.2,
    rates: dict[str, float] | None = None,
    strata_col: str | None = None,
    timeout: int | None = None,
) -> None:
    """Continuous corpus curation: the BATCH funnel operators
    (repetition gate -> benchmark decontamination -> deterministic
    stratified sample) applied per micro-batch via ``foreachBatch``,
    surviving rows appended as parquet.

    Stream output is EXACTLY the batch funnel over the union of all
    batches (pinned by test), because every gate's verdict for a row
    depends only on that row plus the STATIC benchmark set: the
    repetition signals are row-local folds, contamination is membership
    of the row's own grams in the benchmark gram set, and sample
    membership is a function of the row's id alone. No verdict reads
    other corpus rows, so micro-batch boundaries cannot change it —
    which also means the operator carries ZERO streaming state.
    ``foreachBatch`` (not a chained streaming plan) so the batch and
    stream paths are the SAME code objects — parity by construction,
    the module's house rule.

    Replay idempotence: ``foreachBatch`` is at-least-once (a crash
    between the sink write and the offset commit replays the epoch), so
    each epoch OVERWRITES its own ``epoch=<id>`` partition directory —
    a replay rewrites identical rows (the funnel is deterministic)
    instead of appending duplicates. Read the result with
    ``spark.read.parquet(output_dir)``; the epoch id surfaces as a
    partition column — drop it if unwanted.
    """
    from cartography_spark.operators.curation import (
        decontaminate,
        repetition_features,
        stratified_sample,
    )

    cols = docs.columns

    def curate_batch(batch: DataFrame, _epoch_id: int) -> None:
        out = repetition_features(
            batch, text_col, top_word_max=top_word_max, dup_ngram_max=dup_ngram_max
        )
        out = out.where(~F.col("repetitive")).select(*cols)
        if benchmark is not None:
            out = decontaminate(out, benchmark, id_col, text_col, ngram=ngram)
        if rates:
            if strata_col is None:
                raise ValueError("rates given without strata_col")
            out = stratified_sample(out, strata_col, rates, id_col)
        out.write.mode("overwrite").parquet(f"{output_dir}/epoch={int(_epoch_id)}")

    q = (
        docs.writeStream.foreachBatch(curate_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=timeout)


def stream_to_store(
    triples: DataFrame,
    store,
    checkpoint_dir: str,
    update_tag: int,
    timeout: int | None = None,
) -> dict[str, int]:
    """Close the streaming loop into the graph store: each micro-batch
    of (subj, pred, obj) triples MERGEs entity nodes and aggregated
    co-occurrence edges with the full idempotent semantics
    (firstseen-on-create, lastupdated=update_tag). The co-occurrence
    weight prop ``n`` ACCUMULATES across micro-batches (stored count +
    batch count), so the final weight is independent of micro-batch
    file grouping. The source checkpoint makes catch-up runs
    exactly-once per input file; replays are guarded twice — a durable
    (stream, epoch) ledger row skips completed epochs outright, and a
    per-edge epoch tag merged ATOMICALLY with the weight makes a replay
    that slips past the ledger (crash before the ledger write) an
    idempotent re-merge — together: restartable ingestion, the
    streaming analog of the Sync ledger.

    Returns the summed merge counters across batches."""
    import hashlib

    from pyspark.sql import functions as F

    totals = {"nodes_created": 0, "nodes_updated": 0, "edges_created": 0, "edges_updated": 0}
    # Batch-replay guard, TWO layers (edge weights ACCUMULATE, so a
    # replayed epoch must not double-add):
    # 1. A durable (stream, epoch) ledger row in the store metrics,
    #    written AFTER the epoch's merges: a replay of any epoch whose
    #    ledger row landed is skipped entirely — immune to other
    #    writers touching the same edges in between, and it keeps the
    #    returned counters exact.
    # 2. A per-edge (stream, epoch) tag merged ATOMICALLY with the
    #    weight: covers the crash window between the merge commit and
    #    the ledger write, where a replay re-runs the merge — the edge
    #    sees its own tag and keeps the stored count (idempotent
    #    re-merge). Residual exposure: only if a crash lands in that
    #    narrow window AND a different writer rewrites the same edge's
    #    props before the replay.
    stream_id = hashlib.md5(checkpoint_dir.encode("utf-8")).hexdigest()[:12]

    def _epoch_done(epoch_id: int) -> bool:
        m = store.read_metrics()
        return (
            m.where(
                (F.col("op") == "stream_epoch")
                & (F.element_at("counters", "stream_id")
                   == F.lit(int(stream_id, 16)))
                & (F.element_at("counters", "epoch") == F.lit(int(epoch_id)))
            ).limit(1).count()
            > 0
        )

    def upsert(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        if _epoch_done(epoch_id):
            return
        epoch_tag = f"{stream_id}:{int(epoch_id)}"
        nodes = (
            batch.select(F.col("subj").alias("name"))
            .union(batch.select(F.col("obj").alias("name")))
            .distinct()
            .select(
                F.lit("Entity").alias("label"),
                F.col("name").alias("id"),
                F.lit(None).cast("array<string>").alias("extra_labels"),
                F.lit(None).cast("string").alias("scope_id"),
                F.expr("map()").cast("map<string,string>").alias("props"),
            )
        )
        n = store.merge_nodes(nodes, update_tag)
        # Edge weight 'n' ACCUMULATES across micro-batches: MERGE's prop
        # overwrite is last-win, so writing the per-batch count would
        # make the final weight depend on micro-batch file grouping. Add
        # the stored count (a key-join against current edges — the
        # read-modify-write every streaming upsert-with-aggregate needs;
        # the store read prunes to the touched rel_label partitions).
        batch_counts = batch.groupBy("subj", "pred", "obj").agg(F.count("*").alias("__n"))
        # Manifest-level (partition, bucket) pruning: the read-back joins
        # only the rel_label partitions this batch touches AND, within
        # them, only the hash-buckets its (src, dst) keys land in
        # (round 5 — the same bucket discipline the merge itself uses),
        # not the whole edge table per micro-batch. The distinct is over
        # (pred, bucket) — at most rels x bucket_count rows.
        from cartography_spark.store.graphstore import EDGES_SCHEMA

        def merge_weighted_edges() -> dict[str, int]:
            # The accumulation is a read-modify-write: ``prev`` resolves
            # the edges manifest at PLAN-BUILD time, so read and merge
            # run as ONE store transaction unit — ``merge_edges`` joins
            # it, and a concurrent writer committing between the read
            # and the merge makes the unit re-run whole against the
            # winner's snapshot instead of being overwritten (round 4,
            # ADVICE fix).
            eman = store._manifest("edges")
            # bucket count re-read per retry (a concurrent full
            # compaction may have re-bucketed). The bucket expression is
            # the store's OWN kernel (_bucket_col over the edges key
            # columns) — subj/obj are aliased to src/dst so any future
            # change to the store's bucketing key/hash stays in lockstep
            # here instead of silently reading the wrong buckets.
            nb = store._bucket_count(eman)
            touched: dict[str, set] = {}
            for r in (
                batch_counts.select(
                    "pred",
                    F.col("subj").alias("src"),
                    F.col("obj").alias("dst"),
                )
                .select("pred", store._bucket_col("edges", nb).alias("__b"))
                .distinct()
                .collect()
            ):
                if r[0] is not None:
                    touched.setdefault(r[0], set()).add(int(r[1]))
            prev = store._read_manifest_df(
                "edges", EDGES_SCHEMA, eman,
                only_partitions=sorted(touched), only_buckets=touched,
            ).select(
                F.col("rel_label"),
                F.col("src"),
                F.col("dst"),
                F.element_at("props", "n").cast("long").alias("__prev_n"),
                F.element_at("props", "n_epoch").alias("__prev_ep"),
            )
            new_n = (
                F.when(F.col("__prev_ep") == epoch_tag, F.col("__prev_n"))  # replay: no-op
                .otherwise(F.col("__n") + F.coalesce(F.col("__prev_n"), F.lit(0)))
            )
            edges = (
                batch_counts.select(
                    F.col("pred").alias("rel_label"),
                    F.col("subj").alias("src"),
                    F.col("obj").alias("dst"),
                    F.col("__n"),
                )
                .join(prev, ["rel_label", "src", "dst"], "left")
                .select(
                    "rel_label",
                    "src",
                    "dst",
                    F.lit("Entity").alias("src_label"),
                    F.lit("Entity").alias("dst_label"),
                    F.lit(None).cast("string").alias("scope_id"),
                    F.create_map(
                        F.lit("n"), new_n.cast("string"),
                        F.lit("n_epoch"), F.lit(epoch_tag),
                    ).alias("props"),
                )
            )
            return store.merge_edges(edges, update_tag)

        e = store._transact(merge_weighted_edges)
        store._record_metrics(
            "stream_epoch",
            update_tag,
            {"stream_id": int(stream_id, 16), "epoch": int(epoch_id)},
        )
        totals["nodes_created"] += n["created"]
        totals["nodes_updated"] += n["updated"]
        totals["edges_created"] += e["created"]
        totals["edges_updated"] += e["updated"]

    q = (
        triples.writeStream.outputMode("append")
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if timeout is not None:
        q.awaitTermination(timeout=timeout)
        if q.isActive:  # timed out mid-flight: release the checkpoint
            q.stop()
            q.awaitTermination(timeout=30)
    else:
        q.awaitTermination()
    return totals


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    max_delay_seconds: float,
    watermark: str = "30 days",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair every left row
    with the right rows sharing ``key_col`` whose ``right_ts`` falls in
    ``[left_ts, left_ts + max_delay_seconds]`` — the attribution /
    freshness-correlation primitive (e.g. entity-record updates joined
    to the page mentions that landed within N days after them). Both
    sides carry the same event-time ``watermark``; with the time-range
    condition, Spark bounds BOTH join-state buffers to the watermark +
    delay horizon — the property that makes a stream-stream join viable
    at all (an unconditioned stream join buffers forever).

    ``left`` and ``right`` must share ONLY ``key_col`` (other column
    names must be disjoint — validated); output is key, both
    timestamps, then the remaining left and right columns. Works
    identically as a batch join when both inputs are static frames (the
    stream==batch parity test's form).
    """
    if max_delay_seconds < 0:
        raise ValueError(f"max_delay_seconds must be >= 0, got {max_delay_seconds}")
    shared = (set(left.columns) & set(right.columns)) - {key_col}
    if shared:
        raise ValueError(
            f"left/right column names must be disjoint apart from {key_col!r}; "
            f"shared: {sorted(shared)}"
        )
    is_streaming = left.isStreaming or right.isStreaming
    lf = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rf = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    delay_us = round(max_delay_seconds * 1_000_000)
    cond = (
        (lf[key_col] == rf[key_col])
        & (rf[right_ts] >= lf[left_ts])
        & (rf[right_ts] <= lf[left_ts] + F.expr(f"INTERVAL {delay_us} MICROSECOND"))
    )
    joined = lf.join(rf, cond)
    rest = [c for c in left.columns if c not in (key_col, left_ts)] + [
        c for c in right.columns if c not in (key_col, right_ts)
    ]
    out = joined.select(lf[key_col].alias(key_col), left_ts, right_ts, *rest)
    # Batch callers get the same frame; streaming callers get append-mode
    # emission once the watermark passes left_ts + delay.
    assert out.isStreaming == is_streaming
    return out


def stream_hll_registers(
    events: DataFrame,
    ts_col: str,
    value_col: str,
    window: str = "1 hour",
    watermark: str = "1 day",
    p: int = 8,
) -> DataFrame:
    """Windowed HLL register stream: per (event-time window, bucket)
    the max rank of the window's values — ``(window_start, bucket,
    rank)``, at most ``2^p`` rows per window regardless of volume. The
    streaming half of the persist-registers / estimate-later pattern:
    append-mode rows finalize when the watermark passes the window;
    fold any subset with ``sketches.hll_estimate`` (grouped by
    ``window_start``) or max-merge across days first — the registers
    are IDENTICAL to the batch :func:`sketches.hll_registers` on the
    same rows (shared expressions; stream==batch pinned by test).

    Why registers and not estimates: a streaming estimate would need a
    second aggregation over the first (unsupported chained streaming
    aggs) — and the register table is the more useful artifact anyway
    (mergeable across windows, days, and pipelines).
    """
    from cartography_spark.operators.sketches import hll_register_exprs

    bucket, rank = hll_register_exprs(value_col, p)
    return (
        events.withWatermark(ts_col, watermark)
        .where(F.col(value_col).isNotNull())
        .select(
            F.window(F.col(ts_col), window).alias("w"),
            bucket.alias("bucket"),
            rank.alias("rank"),
        )
        .groupBy("w", "bucket")
        .agg(F.max("rank").alias("rank"))
        .select(F.col("w.start").alias("window_start"), "bucket", "rank")
    )


def run_to_table(
    counts: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    emit_open_windows: bool = True,
    timeout: int | None = None,
) -> None:
    """Catch-up execution: process everything currently available, write
    the aggregate as parquet, then stop.

    ``emit_open_windows=True`` (default): complete-mode snapshot via
    ``foreachBatch`` overwrite — EVERY window appears in the output,
    including windows newer than ``max_event_time - watermark`` that
    append mode would hold back as still-open state. This is the mode a
    "process everything available now" catch-up wants.

    ``emit_open_windows=False``: plain append sink — only
    watermark-expired (finalized) windows are emitted; recent windows
    stay in state until a later run closes them. Use for continuous
    tailing where the output must be append-only.
    """
    if emit_open_windows:
        q = (
            counts.writeStream.outputMode("complete")
            .foreachBatch(
                lambda df, _epoch: df.write.mode("overwrite").parquet(output_dir)
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    else:
        q = (
            counts.writeStream.outputMode("append")
            .format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    if timeout is not None:
        q.awaitTermination(timeout=timeout)
    else:
        q.awaitTermination()


def stream_session_stats(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: float,
    watermark: str = "30 days",
    value_col: str | None = None,
) -> DataFrame:
    """Streaming sessionization on Spark's NATIVE ``session_window``
    aggregation with watermark-bounded state — the streaming form of
    :func:`operators.sessions.session_stats`.

    The gap is adjusted by +1µs so the session rule is EXACTLY the
    batch operator's strictly-greater break: ``session_window`` starts
    a new session when the gap is ``>= duration`` while the batch rule
    breaks when ``> gap_seconds``; timestamps are integer microseconds,
    so ``gap > g  <=>  gap >= g + 1µs`` — the two forms agree
    bit-for-bit (pinned by the stream≡batch test, multi-micro-batch,
    out-of-order capable via the watermark).

    Output columns match ``session_stats`` except ``session_seq``: a
    global per-key ordinal is inherently cross-session state, so the
    streaming form identifies a session by its ``session_start``
    instead — join on (key, session_start) to reconcile, as the parity
    test does. In append mode a session emits exactly once, when the
    watermark passes its close (the production contract for downstream
    consumers); state per key is bounded by the watermark horizon.
    """
    from cartography_spark.operators.temporal import ts_micros as _us

    gap = f"{round(gap_seconds * 1_000_000) + 1} microseconds"
    aggs = [
        F.count("*").alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        ((_us(F.max(ts_col)) - _us(F.min(ts_col))) / 1_000_000.0).alias("duration_sec"),
    ]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 2).alias("sum_value"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap))
        .agg(*aggs)
        .drop("session_window")
    )
