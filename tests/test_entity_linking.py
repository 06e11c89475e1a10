"""End-to-end entity linking: LSH blocking + Jaccard verify + CC
canonicalization + store merge, including the two-run retirement of
stale SAME_AS pairs via the sweep machinery."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cartography_spark.pipeline.linking import candidate_pairs, link_entities
from cartography_spark.pipeline.sync import load
from cartography_spark.schema import NodeSchema, PropertyRef
from cartography_spark.store.graphstore import GraphStore

ENT = NodeSchema(
    label="Entity",
    properties={"id": PropertyRef("eid"), "name": PropertyRef("name")},
)

NAMES = [
    ("e1", "Apache Spark Engine"),
    ("e2", "apache spark engine"),      # case variant of e1
    ("e3", "Apache Spark Enginee"),     # typo variant of e1
    ("e4", "PostgreSQL Database"),
    ("e5", "PostgreSQL Databases"),     # near-dup of e4
    ("e6", "completely unrelated thing"),
]


@pytest.fixture()
def store(spark, tmp_path):
    s = GraphStore(spark, str(tmp_path / "g"))
    load(s, ENT, spark.createDataFrame(NAMES, "eid string, name string"), 100)
    return s


@pytest.mark.parametrize("family", ["md5", "arrow"])
def test_candidate_pairs_blocked_and_verified(spark, family):
    df = spark.createDataFrame(NAMES, "eid string, name string")
    pairs = {
        (r["src"], r["dst"])
        for r in candidate_pairs(df, "eid", "name", threshold=0.7, family=family).collect()
    }
    assert ("e1", "e2") in pairs  # case variant (shingles lowercased)
    assert ("e1", "e3") in pairs
    assert ("e4", "e5") in pairs
    assert not any("e6" in p for p in pairs)


def test_candidate_pairs_rejects_unknown_family(spark):
    df = spark.createDataFrame(NAMES, "eid string, name string")
    with pytest.raises(ValueError, match="MinHash family"):
        candidate_pairs(df, "eid", "name", family="xxhash64")


def test_link_entities_md5_family_same_canonical_ids(store):
    """The md5 oracle-family blocking/verify kernels plug into the
    store-integrated flow and produce the same canonical assignment as
    the default arrow family (test_link_entities_canonicalizes)."""
    out = link_entities(store, "Entity", "name", 200, threshold=0.7, family="md5")
    assert out["linked_nodes"] >= 5
    rows = {
        r["id"]: (r["props"] or {}).get("canonical_id")
        for r in store.read_nodes().where("label='Entity'").collect()
    }
    assert rows["e1"] == rows["e2"] == rows["e3"] == "e1"
    assert rows["e4"] == rows["e5"] == "e4"
    assert rows["e6"] is None


def test_link_entities_canonicalizes(store):
    out = link_entities(store, "Entity", "name", 200, threshold=0.7)
    assert out["linked_nodes"] >= 5
    assert out["same_as_edges"] >= 3
    rows = {
        r["id"]: (r["props"] or {}).get("canonical_id")
        for r in store.read_nodes().where("label='Entity'").collect()
    }
    # e1/e2/e3 share a canonical id; e4/e5 share another; e6 untouched
    assert rows["e1"] == rows["e2"] == rows["e3"] == "e1"
    assert rows["e4"] == rows["e5"] == "e4"
    assert rows["e6"] is None
    edges = store.read_edges().where("rel_label='SAME_AS'").collect()
    assert all(r["lastupdated"] == 200 for r in edges)
    # linking merge must not clobber the original props (LAST_WIN concat)
    named = {r["id"]: r["props"].get("name") for r in store.read_nodes().where("label='Entity'").collect()}
    assert named["e1"] == "Apache Spark Engine"


def test_link_is_idempotent(store):
    link_entities(store, "Entity", "name", 200, threshold=0.7)
    before = store.read_edges().where("rel_label='SAME_AS'").count()
    link_entities(store, "Entity", "name", 300, threshold=0.7)
    after = store.read_edges().where("rel_label='SAME_AS'").count()
    assert before == after  # same pairs, new tag — no duplicates
    assert (
        store.read_edges().where("rel_label='SAME_AS'").agg(F.min("lastupdated")).collect()[0][0]
        == 300
    )


def test_incremental_linking_matches_full_relink(spark, tmp_path):
    """Batch-by-batch incremental linking (new-vs-corpus LSH join over
    existing SAME_AS edges) must converge to the same canonical ids as
    one full re-link over the final corpus."""
    from cartography_spark.pipeline.linking import link_entities_incremental

    batches = [NAMES[:2], NAMES[2:4], NAMES[4:]]
    inc = GraphStore(spark, str(tmp_path / "inc"))
    for i, batch in enumerate(batches):
        tag = 100 + i
        load(inc, ENT, spark.createDataFrame(batch, "eid string, name string"), tag)
        link_entities_incremental(inc, "Entity", "name", tag, threshold=0.7,
                                  num_hashes=32, bands=8)

    full = GraphStore(spark, str(tmp_path / "full"))
    load(full, ENT, spark.createDataFrame(NAMES, "eid string, name string"), 100)
    link_entities(full, "Entity", "name", 200, threshold=0.7)

    def canon(st):
        return {
            r["id"]: (r["props"] or {}).get("canonical_id")
            for r in st.read_nodes().where("label='Entity'").collect()
        }

    assert canon(inc) == canon(full)
    # and the incremental runs found the cross-batch transitive merge:
    got = canon(inc)
    assert got["e1"] == got["e2"] == got["e3"] == "e1"


def test_incremental_linking_blocks_only_new_side(spark, tmp_path):
    """Scale contract: the blocking join's LEFT band frame is built from
    the new batch only (lastupdated == tag), not the corpus — re-linking
    after a 1-row batch emits no new pairs when nothing matches."""
    from cartography_spark.pipeline.linking import link_entities_incremental

    st = GraphStore(spark, str(tmp_path / "g"))
    load(st, ENT, spark.createDataFrame(NAMES, "eid string, name string"), 100)
    link_entities_incremental(st, "Entity", "name", 100, threshold=0.7,
                              num_hashes=32, bands=8)
    n_edges = st.read_edges().where("rel_label='SAME_AS'").count()
    load(st, ENT, spark.createDataFrame([("e9", "zzz nothing alike")],
                                        "eid string, name string"), 200)
    out = link_entities_incremental(st, "Entity", "name", 200, threshold=0.7,
                                    num_hashes=32, bands=8)
    assert out["new_same_as_edges"] == 0
    assert st.read_edges().where("rel_label='SAME_AS'").count() == n_edges


def test_minhash_lsh_join_keeps_same_text_distinct_ids(spark):
    """Pair dedup is on the BARE id columns, so two distinct left rows
    (and two distinct right rows) sharing identical text all survive —
    2x2 = 4 pairs, not 1."""
    from cartography_spark.operators.dedup import minhash_lsh_join

    left = spark.createDataFrame(
        [("i1", "Apache Spark Engine"), ("i2", "Apache Spark Engine")],
        "id string, name string",
    )
    right = spark.createDataFrame(
        [("t1", "Apache Spark Engine"), ("t2", "Apache Spark Engine")],
        "id string, name string",
    )
    out = minhash_lsh_join(
        left, right, "id", "name", num_hashes=8, bands=4, threshold=0.5
    )
    got = {(r["id_l"], r["id_r"]) for r in out.collect()}
    assert got == {("i1", "t1"), ("i1", "t2"), ("i2", "t1"), ("i2", "t2")}
    # exactly one row per (left id, right id) pair — no duplicate
    # candidates from multi-band collisions either
    assert out.count() == 4
