"""Promoted matcher columns (round-3): ``extra_index=True`` properties
become typed top-level ``_p_<name>`` columns in the node table via store
schema evolution, and matcher joins read them instead of
``element_at(props, name)`` — recovering the stats-pruned lookups the
reference gets from auto-created matcher-key indexes
(``cartography/graph/querybuilder.py:490-551``)."""

from __future__ import annotations

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
from cartography_spark.store.graphstore import GraphStore

HUMAN = NodeSchema(
    label="Human",
    properties={"id": PropertyRef("hid"), "email": PropertyRef("email", extra_index=True)},
)

ACCOUNT = NodeSchema(
    label="Account",
    properties={"id": PropertyRef("aid"), "owner_mail": PropertyRef("owner_mail")},
    other_relationships=(
        RelSchema(
            rel_label="OWNED_BY",
            target_node_label="Human",
            target_node_matcher=TargetNodeMatcher({"email": PropertyRef("owner_mail")}),
        ),
    ),
)


@pytest.fixture()
def store(spark, tmp_path):
    return GraphStore(spark, str(tmp_path / "graph"))


def _humans(spark, rows):
    return spark.createDataFrame(rows, "hid string, email string")


def test_extra_index_promotes_typed_column(spark, store):
    load(store, HUMAN, _humans(spark, [("h1", "a@x.io"), ("h2", "b@x.io")]), 100)
    nodes = store.read_nodes()
    assert "_p_email" in nodes.columns
    got = {r["id"]: r["_p_email"] for r in nodes.collect()}
    assert got == {"h1": "a@x.io", "h2": "b@x.io"}
    # prop also stays in the map (promoted column is the indexed copy)
    assert {r["id"]: r["props"]["email"] for r in nodes.collect()} == got
    assert store._manifest("nodes")["columns"] == ["_p_email"]


def test_promoted_column_survives_merge_and_compact(spark, store):
    load(store, HUMAN, _humans(spark, [("h1", "a@x.io")]), 100)
    # merge of a schema WITHOUT the promoted column must not clobber it
    plain = spark.createDataFrame(
        [("Human", "h1", {"team": "eng"})], "label string, id string, props map<string,string>"
    )
    store.merge_nodes(plain, 200)
    row = store.read_nodes().collect()[0]
    assert row["_p_email"] == "a@x.io" and row["props"]["team"] == "eng"
    store.compact("nodes")
    row = store.read_nodes().collect()[0]
    assert row["_p_email"] == "a@x.io"
    assert store._manifest("nodes")["columns"] == ["_p_email"]


def test_promoted_key_lookup_is_pushed_down(spark, store):
    """The done-criterion: a filter on the promoted key must reach the
    parquet scan as PushedFilters (parquet min/max row-group pruning) —
    an element_at(props, k) filter cannot."""
    load(store, HUMAN, _humans(spark, [(f"h{i}", f"u{i}@x.io") for i in range(50)]), 100)
    q = store.read_nodes().where(F.col("_p_email") == "u7@x.io")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(_p_email), EqualTo(_p_email,u7@x.io)]" in plan
    assert [r["id"] for r in q.collect()] == ["h7"]


def test_matcher_join_prefers_promoted_column(spark, store):
    """The OWNED_BY matcher keys on Human.email: with the promoted
    column present the join plan must read _p_email, not the props map,
    and produce the same edges."""
    load(store, HUMAN, _humans(spark, [("h1", "a@x.io"), ("h2", "b@x.io")]), 100)
    accounts = spark.createDataFrame(
        [("acc1", "a@x.io"), ("acc2", "b@x.io"), ("acc3", "nobody@x.io")],
        "aid string, owner_mail string",
    )
    out = load(store, ACCOUNT, accounts, 100)
    assert out["edges"] == 2
    edges = {(r["src"], r["dst"]) for r in store.read_edges().collect()}
    assert edges == {("acc1", "h1"), ("acc2", "h2")}
    # plan evidence: the edge-compile join reads the promoted column
    from cartography_spark.schema.compiler import compile_edge_updates

    plan_df = compile_edge_updates(ACCOUNT, accounts, store.read_nodes())[0]
    plan = plan_df._jdf.queryExecution().optimizedPlan().toString()
    assert "_p_email" in plan
    assert "element_at(props, email)" not in plan


def test_promoted_column_derived_from_props_on_write(spark, store):
    """WRITE INVARIANT regression: the stored ``_p_`` value is re-derived
    from the merged props map at every write — a batch whose promoted
    column disagrees with its own props map cannot plant a stale index
    copy (props is the single source of truth)."""
    df = spark.createDataFrame(
        [("Human", "h1", {"email": "truth@x.io"}, "stale@x.io")],
        "label string, id string, props map<string,string>, _p_email string",
    )
    store.merge_nodes(df, 100)
    row = store.read_nodes().collect()[0]
    assert row["_p_email"] == "truth@x.io"
    assert row["props"]["email"] == "truth@x.io"


def test_analysis_set_prop_refreshes_promoted_column(spark, store):
    """Silent-data-loss regression: an analysis job that rewrites a
    promoted property in the props map must refresh the ``_p_`` copy in
    the same write — otherwise every later matcher join reads the stale
    indexed value while props holds the truth."""
    from cartography_spark.pipeline.analysis import AnalysisJob

    load(store, HUMAN, _humans(spark, [("h1", "old@x.io"), ("h2", "keep@x.io")]), 100)
    job = AnalysisJob.from_json(
        """{"name": "rekey", "statements": [
            {"op": "set_prop",
             "where": "label = 'Human' AND element_at(props, 'email') = 'old@x.io'",
             "prop": "email", "value": "new@x.io"}]}"""
    )
    job.run(store, 200)
    got = {r["id"]: (r["_p_email"], r["props"]["email"]) for r in store.read_nodes().collect()}
    assert got == {"h1": ("new@x.io", "new@x.io"), "h2": ("keep@x.io", "keep@x.io")}
    # the column declaration survives the analysis commit, and the
    # post-declaration file group keeps the filter pushable
    man = store._manifest("nodes")
    assert man["columns"] == ["_p_email"] and "_p_email" in man["columns_seq"]
    q = store.read_nodes().where(F.col("_p_email") == "new@x.io")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(_p_email), EqualTo(_p_email,new@x.io)]" in plan
    assert [r["id"] for r in q.collect()] == ["h1"]


def test_promoted_fallback_for_files_predating_declaration(spark, store):
    """File groups written BEFORE the column declaration lack the
    physical column; reads must fall back to props for those groups
    only (the coalesce is gated by the declaration seq)."""
    plain = spark.createDataFrame(
        [("Robot", "r0", {"email": "pre@x.io"})],
        "label string, id string, props map<string,string>",
    )
    store.merge_nodes(plain, 100)  # pre-declaration file group
    # declares _p_email; the Robot partition carries forward untouched
    load(store, HUMAN, _humans(spark, [("h1", "post@x.io")]), 200)
    got = {r["id"]: r["_p_email"] for r in store.read_nodes().collect()}
    assert got == {"r0": "pre@x.io", "h1": "post@x.io"}


TYPED = NodeSchema(
    label="Human",
    properties={
        "id": PropertyRef("hid"),
        "age": PropertyRef("age", extra_index=True, index_type="bigint"),
    },
)


def test_typed_promotion_numeric_range_pushdown(spark, store):
    """``index_type`` promotes to a REAL typed column: a numeric range
    filter reaches the scan as a numeric GreaterThan (string min/max
    would prune lexicographically, i.e. not at all), and every later
    write re-derives the typed copy from props with a cast."""
    df = spark.createDataFrame(
        [(f"h{i}", i * 3) for i in range(50)], "hid string, age long"
    )
    load(store, TYPED, df, 100)
    nodes = store.read_nodes()
    assert nodes.schema["_p_age"].dataType.simpleString() == "bigint"
    assert store._manifest("nodes")["columns_types"] == {"_p_age": "bigint"}
    q = nodes.where(F.col("_p_age") > 120)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(_p_age), GreaterThan(_p_age,120)]" in plan
    assert sorted(r["id"] for r in q.collect()) == [f"h{i}" for i in range(41, 50)]
    # a batch without the column keeps the typed value through the merge
    plain = spark.createDataFrame(
        [("Human", "h1", {"team": "eng"})], "label string, id string, props map<string,string>"
    )
    store.merge_nodes(plain, 200)
    row = store.read_nodes().where("id = 'h1'").collect()[0]
    assert row["_p_age"] == 3 and row["props"]["team"] == "eng"
    # an analysis rewrite of the prop refreshes the typed copy (cast)
    from cartography_spark.pipeline.analysis import AnalysisJob

    AnalysisJob.from_json(
        """{"name": "bump", "statements": [
            {"op": "set_prop", "where": "label = 'Human' AND id = 'h2'",
             "prop": "age", "value": "99"}]}"""
    ).run(store, 300)
    assert store.read_nodes().where("id = 'h2'").collect()[0]["_p_age"] == 99


def test_promoted_column_retype_rejected(spark, store):
    """Schema evolution adds columns, it never retypes them: an update
    carrying a different dtype for a declared column must fail fast
    (before the join would coerce it silently)."""
    load(
        store,
        TYPED,
        spark.createDataFrame([("h1", 30)], "hid string, age long"),
        100,
    )
    bad = spark.createDataFrame(
        [("Human", "h9", {"age": "1.5"}, 1.5)],
        "label string, id string, props map<string,string>, _p_age double",
    )
    with pytest.raises(ValueError, match="never retyped"):
        store.merge_nodes(bad, 200)


def test_typed_fallback_for_files_predating_declaration(spark, store):
    """Pre-declaration file groups read the typed column through the
    props fallback WITH the declared cast."""
    plain = spark.createDataFrame(
        [("Robot", "r0", {"age": "77"})], "label string, id string, props map<string,string>"
    )
    store.merge_nodes(plain, 100)  # pre-declaration group
    load(
        store,
        TYPED,
        spark.createDataFrame([("h1", 30)], "hid string, age long"),
        200,
    )
    got = {r["id"]: r["_p_age"] for r in store.read_nodes().collect()}
    assert got == {"r0": 77, "h1": 30}


def test_sweep_works_with_promoted_columns(spark, store):
    """The staleness sweep must be oblivious to evolved schemas."""
    schema = NodeSchema(
        label="Human",
        properties={
            "id": PropertyRef("hid"),
            "email": PropertyRef("email", extra_index=True),
        },
        scoped_cleanup=False,
        other_relationships=(
            RelSchema(
                rel_label="KNOWS",
                target_node_label="Human",
                target_node_matcher=TargetNodeMatcher({"id": PropertyRef("hid")}),
            ),
        ),
    )
    load(store, schema, _humans(spark, [("h1", "a@x.io"), ("h2", "b@x.io")]), 100)
    load(store, schema, _humans(spark, [("h1", "a@x.io")]), 200)
    out = store.sweep(schema, 200)
    assert out["nodes_deleted"] == 1
    rows = store.read_nodes().collect()
    assert [r["id"] for r in rows] == ["h1"] and rows[0]["_p_email"] == "a@x.io"


def test_replace_partitions_derives_missing_promoted_column(spark, store):
    """Round-4 ADVICE fix: a replace_partitions df that OMITS a declared
    ``_p_`` column must not write partition files lacking it (reads
    would NULL-fill with no props fallback at seq >= columns_seq and
    matcher joins would silently miss rows) — the column is derived
    from props before the write."""
    load(store, HUMAN, _humans(spark, [("h1", "a@x.io"), ("h2", "b@x.io")]), 100)
    assert store._manifest("nodes")["columns"] == ["_p_email"]

    # new full content of the Human partition, WITHOUT the _p_ column
    df = spark.createDataFrame(
        [("Human", "h1", None, None, None, 100, {"email": "new@x.io"}),
         ("Human", "h3", None, None, None, 100, {"email": "c@x.io"})],
        "label string, id string, extra_labels array<string>, scope_id string, "
        "firstseen timestamp, lastupdated long, props map<string,string>",
    )
    store.replace_partitions("nodes", df, ["Human"])

    got = {r["id"]: r["_p_email"] for r in store.read_nodes().collect()}
    assert got == {"h1": "new@x.io", "h3": "c@x.io"}


@pytest.mark.parametrize("labels", [["Human"], None], ids=["partial", "full"])
def test_analysis_code_step_derives_missing_promoted_column(spark, store, labels):
    """An analysis code step whose nodes OMIT a declared ``_p_`` column
    must not write rows with that column NULL: the manifest still
    declares it, so reads would NULL-fill with no props fallback and the
    promoted-key lookup would silently miss. Pinned on the partial
    (touched-labels) and the full rewrite path."""
    from cartography_spark.pipeline.analysis import AnalysisJob
    from cartography_spark.store.graphstore import NODES_SCHEMA

    load(store, HUMAN, _humans(spark, [("h1", "a@x.io"), ("h2", "b@x.io")]), 100)
    job = AnalysisJob("base_columns_only").add_step(
        "select_base",
        lambda nodes, edges, params: (nodes.select(*NODES_SCHEMA.fieldNames()), edges),
        labels=labels,
    )
    job.run(store, 200)

    rows = store.read_nodes().collect()
    assert {r["id"]: r["_p_email"] for r in rows} == {
        r["id"]: r["props"]["email"] for r in rows
    } == {"h1": "a@x.io", "h2": "b@x.io"}
    hit = store.read_nodes().where(F.col("_p_email") == "a@x.io").collect()
    assert [r["id"] for r in hit] == ["h1"]
