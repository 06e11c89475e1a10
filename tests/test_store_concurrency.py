"""Optimistic-concurrency commit protocol: racing writers must never
silently lose a commit (the round-2 ``_swap_pointer`` was
read-modify-replace last-wins). The reference gets per-write atomicity
from Neo4j ACID transactions (``cartography/client/core/tx.py:178-213``);
here the CURRENT pointer swap is a CAS on the snapshot seq under a
cross-process file lock, and every mutation op retries on conflict."""

from __future__ import annotations

import json
import os
import threading

import pytest

from cartography_spark.store.graphstore import (
    STORE_FORMAT,
    CommitConflict,
    GraphStore,
    StoreFormatError,
)


def _nodes_df(spark, rows):
    return spark.createDataFrame(
        rows, "label string, id string, scope_id string, props map<string,string>"
    )


def test_cas_rejects_stale_commit(spark, tmp_path):
    """A transaction whose entry seq is no longer current at exit must
    raise CommitConflict and publish NOTHING (pointer and manifest set
    unchanged for the winner)."""
    root = str(tmp_path / "g")
    a = GraphStore(spark, root)
    b = GraphStore(spark, root)
    a.merge_nodes(_nodes_df(spark, [("A", "a1", None, {})]), 1)
    with pytest.raises(CommitConflict):
        with a.transaction():
            man = a._manifest("nodes")
            v = a._allocate_version("nodes")
            a._commit_manifests({"nodes": (v, man)})
            b.merge_nodes(_nodes_df(spark, [("B", "b1", None, {})]), 1)  # B wins the race
    # the loser published nothing: pointer still B's commit
    assert set(a._manifest("nodes")["partitions"]) == {"A", "B"}


def test_concurrent_disjoint_merges_both_survive(spark, tmp_path):
    """Deterministic interleaving of the round-2 lost-update scenario:
    writer B commits label-Y while writer A is mid-merge on label-X
    (after A read its base manifest, before A's pointer swap). A's CAS
    must fail, A retries against B's snapshot, and BOTH labels survive
    in the final manifest."""
    root = str(tmp_path / "g")
    a = GraphStore(spark, root)
    b = GraphStore(spark, root)
    a.merge_nodes(_nodes_df(spark, [("Seed", "s0", None, {})]), 1)

    orig = a._write_data
    fired = {"n": 0}

    def hook(table, version, df, *args, **kwargs):
        out = orig(table, version, df, *args, **kwargs)
        if fired["n"] == 0:
            fired["n"] += 1
            b.merge_nodes(_nodes_df(spark, [("Y", "y1", None, {})]), 2)
        return out

    a._write_data = hook
    r = a.merge_nodes(_nodes_df(spark, [("X", "x1", None, {})]), 2)
    assert r["created"] == 1
    labels = sorted(set(row["label"] for row in a.read_nodes().collect()))
    assert labels == ["Seed", "X", "Y"]
    # A genuinely retried: the interposed commit fired exactly once
    assert fired["n"] == 1


def test_threaded_merges_race_no_lost_update(spark, tmp_path):
    """Two real threads merging disjoint labels through the same store
    root: with CAS + retry both commits must land (last-wins would lose
    one manifest)."""
    root = str(tmp_path / "g")
    GraphStore(spark, root).merge_nodes(_nodes_df(spark, [("Seed", "s0", None, {})]), 1)
    errs: list[Exception] = []

    def worker(label: str):
        try:
            st = GraphStore(spark, root)
            st.merge_nodes(
                _nodes_df(spark, [(label, f"{label.lower()}1", None, {})]), 2
            )
        except Exception as e:  # pragma: no cover - surfaced via assert
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(lab,)) for lab in ("X", "Y")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    st = GraphStore(spark, root)
    labels = sorted(set(r["label"] for r in st.read_nodes().collect()))
    assert labels == ["Seed", "X", "Y"]


def test_concurrent_merge_and_sweep(spark, tmp_path):
    """A sweep racing a merge: the merge commits mid-sweep; the sweep's
    CAS fails and it recomputes the stale set from the merged snapshot —
    the freshly merged (current-tag) rows survive."""
    from cartography_spark.schema import (
        LinkDirection,
        NodeSchema,
        PropertyRef,
        RelSchema,
        TargetNodeMatcher,
    )

    root = str(tmp_path / "g")
    a = GraphStore(spark, root)
    b = GraphStore(spark, root)
    a.merge_nodes(
        _nodes_df(spark, [("User", "u1", "s1", {}), ("User", "u2", "s1", {})]), 100
    )
    schema = NodeSchema(
        label="User",
        properties={"id": PropertyRef("id")},
        sub_resource_relationship=RelSchema(
            rel_label="IN_SCOPE",
            target_node_label="Tenant",
            target_node_matcher=TargetNodeMatcher(
                {"id": PropertyRef("S", set_in_kwargs=True)}
            ),
            direction=LinkDirection.INWARD,
        ),
    )
    # u1 re-touched at tag 200; u2 stays stale
    orig = a._prepare_deletes
    fired = {"n": 0}

    def hook(table, keys):
        if fired["n"] == 0:
            fired["n"] += 1
            b.merge_nodes(_nodes_df(spark, [("User", "u1", "s1", {})]), 200)
        return orig(table, keys)

    a._prepare_deletes = hook
    out = a.sweep(schema, 200, scope_id="s1")
    assert out["nodes_deleted"] == 1
    ids = sorted(r["id"] for r in a.read_nodes().where("label='User'").collect())
    assert ids == ["u1"]


def test_compact_reruns_on_concurrent_merge(spark, tmp_path):
    """compact is one transaction unit: a merge committing after the
    compaction wrote its data fails the compaction's CAS, the whole
    compaction re-runs against the merged snapshot, the racing row
    survives and the tombstones still fold."""
    root = str(tmp_path / "g")
    a = GraphStore(spark, root, n_buckets=4)
    b = GraphStore(spark, root, n_buckets=4)
    a.merge_nodes(_nodes_df(spark, [("P", f"p{i}", None, {}) for i in range(20)]), 1)
    a._write_deletes(
        "nodes", spark.createDataFrame([("P", f"p{i}") for i in range(5)], "label string, id string")
    )

    orig = a._write_data
    calls = {"n": 0}

    def hook(table, version, df, *args, **kwargs):
        out = orig(table, version, df, *args, **kwargs)
        calls["n"] += 1
        if calls["n"] == 1:
            b.merge_nodes(_nodes_df(spark, [("P", "race", None, {})]), 2)
        return out

    a._write_data = hook
    assert set(a.compact("nodes")) == {"nodes"}
    assert calls["n"] == 2  # the compaction ran twice
    ids = {r["id"] for r in a.read_nodes().collect()}
    assert ids == {f"p{i}" for i in range(5, 20)} | {"race"}
    assert a._manifest("nodes")["deletes"] == []


def test_analysis_job_reruns_on_concurrent_merge(spark, tmp_path):
    """An analysis job's read -> steps -> write is one transaction unit:
    a merge committing while the job runs makes the whole job re-run
    against the merged snapshot, so the racing row survives (and is
    rewritten by the re-run's steps)."""
    from pyspark.sql import functions as F

    from cartography_spark.pipeline.analysis import AnalysisJob

    root = str(tmp_path / "g")
    a = GraphStore(spark, root, n_buckets=4)
    b = GraphStore(spark, root, n_buckets=4)
    a.merge_nodes(_nodes_df(spark, [("X", "x1", None, {}), ("Y", "y1", None, {})]), 1)
    calls = {"n": 0}

    def tag(nodes, edges, params):
        calls["n"] += 1
        if calls["n"] == 1:
            b.merge_nodes(_nodes_df(spark, [("X", "race", None, {})]), 2)
        props = F.map_concat(F.col("props"), F.create_map(F.lit("tagged"), F.lit("1")))
        return nodes.withColumn("props", props), edges

    out = AnalysisJob("tag x").add_step("tag", tag, labels=["X"], touches_edges=False).run(a, 3)
    assert out["touched_labels"] == ["X"]
    assert calls["n"] == 2  # the job's steps ran twice
    rows = {r["id"]: r["props"] for r in a.read_nodes().collect()}
    assert set(rows) == {"x1", "y1", "race"}
    assert rows["x1"]["tagged"] == "1" and rows["race"]["tagged"] == "1"
    assert "tagged" not in rows["y1"]


def test_store_format_version_guard(spark, tmp_path):
    """A CURRENT written by a different (or pre-format) layout fails
    fast with a clear error instead of FileNotFoundError / silent
    re-read."""
    root = str(tmp_path / "g")
    store = GraphStore(spark, root)
    store.merge_nodes(_nodes_df(spark, [("A", "a1", None, {})]), 1)
    cur = json.load(open(os.path.join(root, "CURRENT")))
    assert cur["format"] == STORE_FORMAT
    cur["format"] = 1
    json.dump(cur, open(os.path.join(root, "CURRENT"), "w"))
    with pytest.raises(StoreFormatError, match="layout format"):
        store.read_nodes()


def test_expire_age_gates_true_orphans(spark, tmp_path):
    """A version dir never referenced by any manifest (an in-flight or
    aborted commit) survives expire until older than the orphan grace;
    grace=0 removes it."""
    root = str(tmp_path / "g")
    store = GraphStore(spark, root)
    store.merge_nodes(_nodes_df(spark, [("A", "a1", None, {})]), 1)
    store.merge_nodes(_nodes_df(spark, [("A", "a2", None, {})]), 2)
    orphan = os.path.join(root, "data", "nodes", "v999999")
    os.makedirs(orphan)
    store.expire_versions(keep_last=1)  # default grace: young orphan kept
    assert os.path.isdir(orphan)
    store.expire_versions(keep_last=1, orphan_grace_sec=0.0)
    assert not os.path.isdir(orphan)
    assert store.read_nodes().count() == 2


def test_two_process_merges_both_survive(spark, tmp_path):
    """TRUE cross-process race: a child Python process with its OWN
    Spark JVM commits label Y through the same store root while the
    parent is mid-merge on label X (after the parent read its base
    manifest, before its pointer swap). The commit lock is an fcntl
    flock — only a second OS process actually exercises it — and the
    parent's CAS must fail and retry so BOTH commits survive."""
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    repo_root = str(Path(__file__).resolve().parents[1])
    root = str(tmp_path / "g")
    a = GraphStore(spark, root)
    a.merge_nodes(_nodes_df(spark, [("Seed", "s0", None, {})]), 1)

    child = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, sys.argv[2])
        from cartography_spark.session import get_spark
        from cartography_spark.store.graphstore import GraphStore
        spark = get_spark(app_name="child-writer", cores=2, shuffle_partitions=2)
        st = GraphStore(spark, sys.argv[1])
        r = st.merge_nodes(
            spark.createDataFrame(
                [("Y", "y1", None, {})],
                "label string, id string, scope_id string, props map<string,string>",
            ),
            2,
        )
        assert r["created"] == 1, r
        print("CHILD_OK")
        """
    )

    orig = a._write_data
    fired = {"n": 0}

    def hook(table, version, df, *args, **kwargs):
        out = orig(table, version, df, *args, **kwargs)
        if fired["n"] == 0:
            fired["n"] += 1
            # parent now holds a stale snapshot; the child commits first
            proc = subprocess.run(
                [sys.executable, "-c", child, root, repo_root],
                capture_output=True,
                text=True,
                timeout=300,
            )
            assert "CHILD_OK" in proc.stdout, proc.stderr[-2000:]
        return out

    a._write_data = hook
    r = a.merge_nodes(_nodes_df(spark, [("X", "x1", None, {})]), 2)
    assert r["created"] == 1
    assert fired["n"] == 1  # the parent genuinely raced and retried
    labels = sorted(set(row["label"] for row in a.read_nodes().collect()))
    assert labels == ["Seed", "X", "Y"]
