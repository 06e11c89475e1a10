"""One store transaction per load: ``GraphStore.transaction`` stages the
node and edge merges (and a sweep's tombstone writes) and publishes
them with one CAS'd commit. A load is all-or-nothing, bumps the
pointer seq once, re-runs whole when a concurrent commit wins, and
keeps the edges of a self-referencing rel identical to a node-then-edge
sequence. Jobs started on the load's worker threads stay in the
caller's Spark job group."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cartography_spark.pipeline.sync import load
from cartography_spark.schema import (
    LinkDirection,
    NodeSchema,
    PropertyRef,
    RelSchema,
    TargetNodeMatcher,
)
from cartography_spark.schema.compiler import compile_edge_updates, compile_node_updates
from cartography_spark.store.graphstore import CommitConflict, GraphStore

TENANT = NodeSchema(label="Tenant", properties={"id": PropertyRef("tid")})

USER = NodeSchema(
    label="User",
    properties={"id": PropertyRef("uid")},
    sub_resource_relationship=RelSchema(
        rel_label="RESOURCE",
        target_node_label="Tenant",
        target_node_matcher=TargetNodeMatcher({"id": PropertyRef("TENANT_ID", set_in_kwargs=True)}),
        direction=LinkDirection.INWARD,
    ),
)

PAGE = NodeSchema(
    label="Page",
    properties={"id": PropertyRef("url")},
    other_relationships=(
        RelSchema(
            rel_label="LINKS_TO",
            target_node_label="Page",
            target_node_matcher=TargetNodeMatcher({"id": PropertyRef("link")}),
        ),
    ),
)


def _seq(store: GraphStore) -> int:
    return store._pointer()["seq"]


def _users(spark, uids):
    return spark.createDataFrame([(u,) for u in uids], "uid string")


def _metrics_lines(store: GraphStore) -> int:
    path = os.path.join(store.root, "metrics.jsonl")
    return sum(1 for _ in open(path)) if os.path.exists(path) else 0


@pytest.fixture()
def store(spark, tmp_path):
    st = GraphStore(spark, str(tmp_path / "g"), n_buckets=4)
    load(st, TENANT, spark.createDataFrame([("t1",)], "tid string"), 1)
    return st


def test_failed_edge_side_publishes_nothing(spark, store):
    """The edge merge raising aborts the whole load: the pointer seq is
    unchanged and no node of the batch is visible."""
    seq0 = _seq(store)

    def boom(*_args, **_kwargs):
        raise RuntimeError("edge side failed")

    store.merge_edges = boom
    with pytest.raises(RuntimeError, match="edge side failed"):
        load(store, USER, _users(spark, ["u1", "u2"]), 100, TENANT_ID="t1")
    assert _seq(store) == seq0
    assert store.read_nodes().where("label = 'User'").count() == 0


def test_load_and_sweep_bump_seq_once(spark, store):
    """A load (node + edge merge) is one commit, and so is a sweep that
    tombstones nodes and their DETACH edges. Empty input commits
    nothing and records no metrics row."""
    seq0 = _seq(store)
    out = load(store, USER, _users(spark, ["u1", "u2", "u3"]), 100, TENANT_ID="t1")
    assert out == {"created": 3, "updated": 0, "edges": 3}
    assert _seq(store) == seq0 + 1

    load(store, USER, _users(spark, ["u1"]), 200, TENANT_ID="t1")
    assert _seq(store) == seq0 + 2
    assert store.sweep(USER, 200, scope_id="t1") == {"nodes_deleted": 2, "edges_deleted": 2}
    assert _seq(store) == seq0 + 3
    assert {r["id"] for r in store.read_nodes().where("label = 'User'").collect()} == {"u1"}
    assert store.read_edges().where("rel_label = 'RESOURCE'").count() == 1

    lines = _metrics_lines(store)
    out = load(store, USER, _users(spark, []), 300, TENANT_ID="t1")
    assert out == {"created": 0, "updated": 0, "edges": 0}
    assert _seq(store) == seq0 + 3
    assert _metrics_lines(store) == lines


def test_commit_between_stage_and_publish_retries_whole_load(spark, store):
    """Another writer commits after the load staged its edges and before
    it published: the publish CAS fails, the load re-runs from the new
    snapshot, and both writers' rows survive."""
    other = GraphStore(spark, store.root, n_buckets=4)
    seq0 = _seq(store)
    orig = store.merge_edges
    calls = {"n": 0}

    def merge_edges_then_interpose(*args, **kwargs):
        out = orig(*args, **kwargs)
        calls["n"] += 1
        if calls["n"] == 1:
            other.merge_nodes(
                spark.createDataFrame([("Other", "o1")], "label string, id string"), 50
            )
        return out

    store.merge_edges = merge_edges_then_interpose
    out = load(store, USER, _users(spark, ["u1", "u2"]), 100, TENANT_ID="t1")
    assert calls["n"] == 2  # the whole load ran twice
    assert out == {"created": 2, "updated": 0, "edges": 2}
    assert _seq(store) == seq0 + 2
    labels = {r["label"] for r in store.read_nodes().collect()}
    assert labels == {"Tenant", "User", "Other"}
    assert store.read_edges().where("rel_label = 'RESOURCE'").count() == 2


def test_transaction_exit_conflict_raises(spark, store):
    """Inside a transaction a merge only stages; a commit by another
    handle makes the exit raise CommitConflict and publish nothing."""
    other = GraphStore(spark, store.root, n_buckets=4)
    with pytest.raises(CommitConflict):
        with store.transaction():
            store.merge_nodes(spark.createDataFrame([("A", "a1")], "label string, id string"), 5)
            assert store.read_nodes().where("label = 'A'").count() == 1  # staged view
            assert other.read_nodes().where("label = 'A'").count() == 0
            other.merge_nodes(spark.createDataFrame([("B", "b1")], "label string, id string"), 5)
    assert {r["label"] for r in store.read_nodes().collect()} == {"Tenant", "B"}


def test_self_referencing_rel_matches_sequential_merges(spark, tmp_path):
    """Page LINKS_TO Page whose targets are created by the same batch:
    the edges equal those of a node merge followed by an edge merge."""
    rows = [("p1", "p2"), ("p2", "p3"), ("p3", "p1"), ("p4", "p9")]
    df = spark.createDataFrame(rows, "url string, link string")

    txn_store = GraphStore(spark, str(tmp_path / "txn"), n_buckets=4)
    seq0 = _seq(txn_store)
    out = load(txn_store, PAGE, df, 100)
    assert _seq(txn_store) == seq0 + 1

    seq_store = GraphStore(spark, str(tmp_path / "seq"), n_buckets=4)
    seq_store.merge_nodes(compile_node_updates(PAGE, df), 100)
    (plan,) = compile_edge_updates(PAGE, df, seq_store.read_nodes())
    seq_store.merge_edges(plan, 100)

    def edges(st):
        cols = ["rel_label", "src", "dst", "src_label", "dst_label", "scope_id", "lastupdated"]
        return sorted(
            tuple(r) for r in st.read_edges().select(*cols, F.to_json("props")).collect()
        )

    assert edges(txn_store) == edges(seq_store)
    assert [(r[1], r[2]) for r in edges(txn_store)] == [("p1", "p2"), ("p2", "p3"), ("p3", "p1")]
    assert out == {"created": 4, "updated": 0, "edges": 3}


def test_load_and_sweep_jobs_stay_in_caller_job_group(spark, store):
    """Every job a load or a sweep starts — on its worker threads too —
    is reported under the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "transaction job-group probe")
    try:
        load(store, USER, _users(spark, ["u1", "u2"]), 100, TENANT_ID="t1")
        load(store, USER, _users(spark, ["u1"]), 200, TENANT_ID="t1")
        store.sweep(USER, 200, scope_id="t1")
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert len(tracker.getJobIdsForGroup("g")) > 0
