"""Bucketed merge granularity (round 5, VERDICT #1): the store's
rewrite unit is the (label, bucket) hash-bucket file group, not the
whole label partition. A web-scale KG has few, huge labels, so the
round-4 whole-label rewrite unit meant a 10-row sync batch
re-materialized the table; with bucketing it re-materializes at most
min(k, n_buckets) buckets. The reference's analog is index-selective
row MERGE (``querybuilder.py:427-487`` + auto-indexes); Iceberg's is
file-level copy-on-write.

The VERDICT done-criterion verbatim: a store bench on 1 label x 16
buckets showing a 10-row merge's read+write bytes track the touched
bucket, with a manifest-diff test pinning untouched bucket entries
byte-identical."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cartography_spark.store.graphstore import GraphStore


def _nodes_df(spark, rows):
    return spark.createDataFrame(
        rows, "label string, id string, scope_id string, props map<string,string>"
    )


def _bulk(spark, n=4000, label="Page"):
    return spark.range(n).select(
        F.lit(label).alias("label"),
        F.concat(F.lit("u"), F.col("id")).alias("id"),
        F.lit("s1").alias("scope_id"),
        F.create_map(F.lit("v"), F.col("id").cast("string")).alias("props"),
    )


def _buckets_of(spark, ids: list[str], n: int) -> set:
    rows = (
        spark.createDataFrame([(i,) for i in ids], "id string")
        .select(F.pmod(F.xxhash64("id"), F.lit(n)).cast("int").alias("b"))
        .collect()
    )
    return {r["b"] for r in rows}


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """1 label x 16 buckets, 10-row merge: only the buckets the batch
    keys hash to get new manifest entries; every untouched bucket entry
    is byte-identical (same dir, seq, files, bytes), and the rewrite's
    written bytes track the touched buckets, not the label."""
    store = GraphStore(spark, str(tmp_path / "g"), n_buckets=16)
    store.merge_nodes(_bulk(spark), 100)
    before = store._manifest("nodes")["partitions"]["Page"]["buckets"]
    assert len(before) == 16  # 4000 uniform ids fill every bucket

    batch_ids = [f"u{i}" for i in range(0, 4000, 400)]  # 10 existing keys
    expected = _buckets_of(spark, batch_ids, 16)
    store.merge_nodes(
        _nodes_df(spark, [("Page", i, "s1", {"v": "new"}) for i in batch_ids]), 200
    )
    after = store._manifest("nodes")["partitions"]["Page"]["buckets"]

    touched = {int(b) for b in after if after[b] != before[b]}
    assert touched == expected, (touched, expected)
    for b in before:
        if int(b) not in expected:
            assert after[b] == before[b]  # untouched: byte-identical entry

    # read+write bytes of the merge track the touched buckets: the new
    # version's data dir weighs ~|touched|/16 of the table, not the table
    total = sum(e["bytes"] for e in before.values())
    rewritten = sum(e["bytes"] for b, e in after.items() if int(b) in expected)
    assert rewritten <= total * (len(expected) + 2) / 16

    # semantics intact
    rows = {r["id"]: r["props"]["v"] for r in store.read_nodes().collect()}
    assert len(rows) == 4000
    assert all(rows[i] == "new" for i in batch_ids)
    assert rows["u1"] == "1"


def test_merge_read_side_scans_only_touched_buckets(spark, tmp_path):
    """The merge's old-side read (only_buckets) must scan a subset of
    the table's files — the data-proportional guarantee behind the
    manifest diff above."""
    store = GraphStore(spark, str(tmp_path / "g"), n_buckets=16)
    store.merge_nodes(_bulk(spark), 100)
    man = store._manifest("nodes")
    from cartography_spark.store.graphstore import NODES_SCHEMA

    one = {"Page": _buckets_of(spark, ["u0"], 16)}
    df = store._read_manifest_df(
        "nodes", NODES_SCHEMA, man, only_partitions=["Page"], only_buckets=one
    )
    got = [r["id"] for r in df.collect()]
    assert "u0" in got and len(got) < 1000  # ~1/16 of 4000, not the table
    # and the scanned files all live in the one bucket dir
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__bucket=" in plan or len(got) < 1000


def test_bucket_count_pinned_by_manifest_not_handle(spark, tmp_path):
    """A store handle opened with a different n_buckets must keep
    merging at the manifest's pinned bucket_count — old and new rows of
    a key co-locate only if every write buckets identically."""
    root = str(tmp_path / "g")
    GraphStore(spark, root, n_buckets=4).merge_nodes(_bulk(spark, 200), 100)
    other = GraphStore(spark, root, n_buckets=32)  # wrong handle config
    other.merge_nodes(
        _nodes_df(spark, [("Page", "u0", "s1", {"v": "new"})]), 200
    )
    man = other._manifest("nodes")
    assert man["bucket_count"] == 4
    assert all(
        0 <= int(b) < 4 for b in man["partitions"]["Page"]["buckets"]
    )
    rows = {r["id"]: r["props"]["v"] for r in other.read_nodes().collect()}
    assert len(rows) == 200 and rows["u0"] == "new"  # no duplicate u0


def test_full_compaction_rebuckets(spark, tmp_path):
    """compact(full=True) is the one layout-change path: it may
    re-bucket to the handle's n_buckets and re-pin the manifest."""
    root = str(tmp_path / "g")
    GraphStore(spark, root, n_buckets=4).merge_nodes(_bulk(spark, 400), 100)
    wider = GraphStore(spark, root, n_buckets=8)
    wider.compact("nodes", full=True)
    man = wider._manifest("nodes")
    assert man["bucket_count"] == 8
    assert len(man["partitions"]["Page"]["buckets"]) == 8
    # merges through the new layout still converge on the right bucket
    wider.merge_nodes(_nodes_df(spark, [("Page", "u1", "s1", {"v": "n"})]), 200)
    rows = {r["id"]: r["props"]["v"] for r in wider.read_nodes().collect()}
    assert len(rows) == 400 and rows["u1"] == "n"


def test_tombstones_record_buckets_and_sweep_composes(spark, tmp_path):
    """Delete files record the (partition, bucket) groups their keys
    hash to, so bucket-scoped compaction rewrites only those buckets."""
    store = GraphStore(spark, str(tmp_path / "g"), n_buckets=16)
    store.merge_nodes(_bulk(spark), 100)
    doomed_ids = ["u7", "u13"]
    doomed = store.read_nodes().where(F.col("id").isin(doomed_ids)).select("label", "id")
    n, _ = store._write_deletes("nodes", doomed)
    assert n == 2
    man = store._manifest("nodes")
    d = man["deletes"][0]
    assert set(d["buckets"]["Page"]) == _buckets_of(spark, doomed_ids, 16)
    before = dict(man["partitions"]["Page"]["buckets"])
    store.compact("nodes")
    after = store._manifest("nodes")["partitions"]["Page"]["buckets"]
    untouched = [b for b in before if int(b) not in set(d["buckets"]["Page"])]
    assert untouched and all(after[b] == before[b] for b in untouched)
    assert store._manifest("nodes")["deletes"] == []
    ids = {r["id"] for r in store.read_nodes().collect()}
    assert len(ids) == 3998 and not ids & set(doomed_ids)


def test_edges_bucket_on_src_dst(spark, tmp_path):
    """Edge buckets key on (src, dst) — a pure function of the edge
    merge key — so re-merging an edge updates in place."""
    store = GraphStore(spark, str(tmp_path / "g"), n_buckets=8)
    edges = spark.createDataFrame(
        [("MENTIONS", f"p{i}", f"e{i % 50}", "Page", "Entity", None, {"w": "1"})
         for i in range(500)],
        "rel_label string, src string, dst string, src_label string, "
        "dst_label string, scope_id string, props map<string,string>",
    )
    store.merge_edges(edges, 100)
    before = store._manifest("edges")["partitions"]["MENTIONS"]["buckets"]
    one = spark.createDataFrame(
        [("MENTIONS", "p1", "e1", "Page", "Entity", None, {"w": "9"})],
        edges.schema,
    )
    store.merge_edges(one, 200)
    after = store._manifest("edges")["partitions"]["MENTIONS"]["buckets"]
    changed = [b for b in after if after[b] != before.get(b)]
    assert len(changed) == 1  # exactly the (p1, e1) bucket
    rows = store.read_edges().where("src='p1' AND dst='e1'").collect()
    assert len(rows) == 1 and rows[0]["props"]["w"] == "9"
    assert store.read_edges().count() == 500


def test_defrag_consolidates_fragmented_partitions(spark, tmp_path):
    """Bucketing makes buckets evolve at independent seqs, and every
    distinct seq is one unioned scan in the read plan — defrag under a
    two-group bound keeps the heaviest seq (Other's) in place by
    reference and re-homes every Page bucket at one fresh seq."""
    store = GraphStore(spark, str(tmp_path / "g"), n_buckets=4)
    store.merge_nodes(_bulk(spark, 200, label="Page"), 100)
    store.merge_nodes(_bulk(spark, 200, label="Other"), 100)
    # fragment Page: several single-key merges, each re-homing one bucket
    for i, key in enumerate(["u0", "u1", "u2", "u3"]):
        store.merge_nodes(
            _nodes_df(spark, [("Page", key, "s1", {"v": f"m{i}"})]), 200 + i
        )
    man = store._manifest("nodes")
    page_seqs = {b["seq"] for b in man["partitions"]["Page"]["buckets"].values()}
    assert len(page_seqs) > 1  # fragmented
    other_before = man["partitions"]["Other"]

    out = store.defrag("nodes", max_seq_groups=2)
    assert "nodes" in out
    after = store._manifest("nodes")
    assert len({b["seq"] for b in after["partitions"]["Page"]["buckets"].values()}) == 1
    assert after["partitions"]["Other"] == other_before  # carried by reference
    rows = {r["id"]: r["props"]["v"] for r in store.read_nodes().where("label='Page'").collect()}
    assert len(rows) == 200 and rows["u2"] == "m2" and rows["u9"] == "9"
    # idempotent: nothing left to do
    assert store.defrag("nodes", max_seq_groups=2) == {}


def test_maybe_compact_triggers_defrag_on_seq_groups(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "g"), n_buckets=4)
    store.merge_nodes(_bulk(spark, 100), 100)
    for i in range(3):
        store.merge_nodes(_nodes_df(spark, [("Page", f"u{i}", "s1", {"v": "x"})]), 200 + i)
    man = store._manifest("nodes")
    assert store._seq_group_count(man) > 2
    out = store.maybe_compact(max_delete_files=8, max_seq_groups=2)
    assert "nodes" in out
    # bucket-granular consolidation: kept heaviest seq + the fresh one
    assert store._seq_group_count(store._manifest("nodes")) <= 2
    assert store.read_nodes().count() == 100
    # converged: the trigger must not re-fire
    assert store.maybe_compact(max_delete_files=8, max_seq_groups=2) == {}


def test_defrag_bounds_table_wide_seq_groups(spark, tmp_path):
    """Trigger/action alignment: N partitions each internally
    homogeneous at its own seq have per-partition spread == 1 but an
    N-way unioned read plan (``_read_manifest_df`` groups by seq
    TABLE-WIDE). maybe_compact's seq-group trigger must actually shrink
    that — not re-fire forever over a no-op defrag. The consolidation
    keeps the heaviest seqs in place and re-homes the light ones."""
    store = GraphStore(spark, str(tmp_path / "g"), n_buckets=2)
    sizes = {0: 60, 1: 50, 2: 8, 3: 8, 4: 8}
    for i, n in sizes.items():  # one label per merge -> one seq each
        store.merge_nodes(
            _nodes_df(
                spark, [(f"L{i}", f"u{j}", "s1", {"v": str(i)}) for j in range(n)]
            ),
            100 + i,
        )
    man = store._manifest("nodes")
    assert all(
        len(set(GraphStore._entry_seqs(p))) == 1 for p in man["partitions"].values()
    )
    assert store._seq_group_count(man) == 5
    heavy_before = {k: man["partitions"][k] for k in ("L0", "L1")}

    out = store.maybe_compact(max_delete_files=8, max_seq_groups=3)
    assert "nodes" in out
    man2 = store._manifest("nodes")
    assert store._seq_group_count(man2) <= 3
    # greedy: the two heaviest partitions' file groups stayed in place
    assert {k: man2["partitions"][k] for k in ("L0", "L1")} == heavy_before
    # trigger cleared -> maintenance converges instead of re-firing
    assert store.maybe_compact(max_delete_files=8, max_seq_groups=3) == {}
    assert store.read_nodes().count() == sum(sizes.values())
    got = {
        (r["label"], r["id"]): r["props"]["v"] for r in store.read_nodes().collect()
    }
    assert got[("L3", "u5")] == "3" and got[("L0", "u59")] == "0"


def test_defrag_seq_group_rewrite_unit_is_the_bucket(spark, tmp_path):
    """The table-wide seq-group consolidation re-homes individual
    BUCKET entries, not whole partitions — a huge label with one stray
    recently-merged bucket pays one bucket (the merge's own rewrite
    unit), otherwise maintenance would re-materialize the label each
    cycle (the 100 TB-hostile shape the bucketed merge removed)."""
    store = GraphStore(spark, str(tmp_path / "g"), n_buckets=4)
    store.merge_nodes(_bulk(spark, 400, label="Big"), 100)  # seq 1 (heavy)
    store.merge_nodes(_bulk(spark, 300, label="Other"), 100)  # seq 2 (heavy)
    # one single-key merge re-homes exactly one Big bucket at a new seq
    store.merge_nodes(_nodes_df(spark, [("Big", "u7", "s1", {"v": "hot"})]), 200)
    # one light label at its own seq
    store.merge_nodes(
        _nodes_df(spark, [("Tiny", f"t{i}", "s1", {}) for i in range(5)]), 300
    )
    man = store._manifest("nodes")
    assert store._seq_group_count(man) == 4
    big_before = dict(man["partitions"]["Big"]["buckets"])
    seqs = sorted(e["seq"] for e in big_before.values())
    majority = seqs[len(seqs) // 2]
    stray = {b for b, e in big_before.items() if e["seq"] != majority}
    assert len(stray) == 1  # exactly the u7 bucket

    out = store.defrag("nodes", max_seq_groups=3)
    assert "nodes" in out
    man2 = store._manifest("nodes")
    assert store._seq_group_count(man2) <= 3
    big_after = man2["partitions"]["Big"]["buckets"]
    # kept-seq buckets of the mixed partition carried BY REFERENCE
    for b, e in big_before.items():
        if b not in stray:
            assert big_after[b] == e, f"kept bucket {b} was rewritten"
    # the stray bucket was re-homed
    assert all(big_after[b] != big_before[b] for b in stray)
    # Other (heavy, homogeneous, kept) untouched wholesale
    assert man2["partitions"]["Other"] == man["partitions"]["Other"]
    rows = {r["id"]: r["props"] for r in store.read_nodes().where("label='Big'").collect()}
    assert len(rows) == 400 and rows["u7"]["v"] == "hot"
    assert store.read_nodes().count() == 705


def test_defrag_retries_on_concurrent_merge(spark, tmp_path):
    """defrag is CAS-committed like compaction: a merge landing between
    its snapshot read and its pointer swap must force a retry from the
    winner's snapshot — never clobber the racing commit."""
    root = str(tmp_path / "g")
    a = GraphStore(spark, root, n_buckets=4)
    b = GraphStore(spark, root, n_buckets=4)
    a.merge_nodes(_bulk(spark, 120), 100)
    for i in range(3):  # fragment
        a.merge_nodes(_nodes_df(spark, [("Page", f"u{i}", "s1", {"v": "h"})]), 200 + i)

    orig = a._write_data
    fired = {"n": 0}

    def hook(table, version, df, *args, **kwargs):
        out = orig(table, version, df, *args, **kwargs)
        if fired["n"] == 0:
            fired["n"] += 1
            # interpose a commit AFTER defrag read its snapshot
            b.merge_nodes(_nodes_df(spark, [("Page", "u99", "s1", {"v": "race"})]), 300)
        return out

    a._write_data = hook
    out = a.defrag("nodes", max_seq_groups=1)
    assert out and fired["n"] == 1  # genuinely raced and retried
    rows = {r["id"]: r["props"]["v"] for r in a.read_nodes().collect()}
    assert rows["u99"] == "race"  # the racing merge's update survived
    assert rows["u1"] == "h" and len(rows) == 120
    assert a._seq_group_count(a._manifest("nodes")) == 1


def test_merge_scan_file_list_is_exactly_touched_buckets(spark, tmp_path):
    """Definitive scan-scope pin (round-5 plan audit): the merge's
    old-side read lists EXACTLY the touched buckets' files — verified
    via inputFiles(), not manifest bookkeeping."""
    import re

    from cartography_spark.store.graphstore import NODES_SCHEMA

    store = GraphStore(spark, str(tmp_path / "g"), n_buckets=16)
    store.merge_nodes(_bulk(spark, 4000), 100)
    man = store._manifest("nodes")
    batch_ids = [f"u{i * 397}" for i in range(10)]
    touched = {"Page": _buckets_of(spark, batch_ids, 16)}
    old = store._read_manifest_df(
        "nodes", NODES_SCHEMA, man, only_partitions=["Page"], only_buckets=touched
    )
    files = old.inputFiles()
    scanned = {int(re.search(r"__bucket=(\d+)", f).group(1)) for f in files}
    assert scanned == touched["Page"]
    assert len(files) < len(store.read_nodes().inputFiles())


def test_tombstone_anti_join_skipped_for_disjoint_groups(spark, tmp_path):
    """Tombstones record their (partition, bucket) scope; a seq group
    whose dirs are disjoint from every applicable tombstone's scope
    must read with NO anti-join in its plan — after sweeping one label,
    scans of file groups holding only other labels stay join-free."""
    store = GraphStore(spark, str(tmp_path / "g"), n_buckets=2)
    store.merge_nodes(_bulk(spark, 60, label="A"), 100)   # seq group 1
    store.merge_nodes(_bulk(spark, 60, label="B"), 200)   # seq group 2
    doomed = spark.createDataFrame(
        [("A", f"u{i}") for i in range(5)], "label string, id string"
    )
    store._write_deletes("nodes", doomed)
    plan = (
        store.read_nodes()._jdf.queryExecution().optimizedPlan().toString()
    )
    # the delete's seq is newest, so BY SEQ it applies to both groups —
    # only the recorded (partition, bucket) scope exempts the B group,
    # leaving exactly one anti-join (the A group's) in the whole plan
    assert plan.count("LeftAnti") == 1, plan
    assert store.read_nodes().count() == 115
    assert store.read_nodes().where("label='A'").count() == 55


def test_replace_partitions_default_commit_is_cas_retried(spark, tmp_path):
    """An unpinned replace_partitions must not silently erase a merge
    that commits between its manifest read and its pointer swap — the
    module invariant is 'no commit is ever silently lost'. The losing
    attempt retries against the winner's manifest."""
    root = str(tmp_path / "g")
    a = GraphStore(spark, root, n_buckets=2)
    b = GraphStore(spark, root, n_buckets=2)
    a.merge_nodes(_bulk(spark, 40, label="X"), 100)
    a.merge_nodes(_bulk(spark, 40, label="Y"), 100)

    orig = a._write_data
    fired = {"n": 0}

    def hook(table, version, df, *args, **kwargs):
        out = orig(table, version, df, *args, **kwargs)
        if fired["n"] == 0:
            fired["n"] += 1
            # a concurrent merge lands AFTER replace read its manifest
            b.merge_nodes(
                _nodes_df(spark, [("Y", "u1", "s1", {"v": "winner"})]), 300
            )
        return out

    a._write_data = hook
    new_x = _nodes_df(spark, [("X", "only", "s1", {"v": "replaced"})])
    a.replace_partitions("nodes", new_x, ["X"])
    assert fired["n"] == 1  # genuinely raced and retried
    rows = {(r["label"], r["id"]): r["props"] for r in a.read_nodes().collect()}
    assert rows[("Y", "u1")]["v"] == "winner"  # racing merge survived
    assert ("X", "only") in rows and len([k for k in rows if k[0] == "X"]) == 1
