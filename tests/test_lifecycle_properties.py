"""Property-based lifecycle test: ANY interleaving of mutations
(merge, tombstone delete) and maintenance (partial compaction, defrag
to one or two table-wide seq groups, full re-bucketing compaction,
snapshot expiry) must leave the visible
table state equal to a driver-side Python model after EVERY op.

The per-op suites pin each operator alone (test_store_merge,
test_store_bucketing, test_sweep_properties); this one pins their
COMPOSITION — the cross-op interactions of the v3 bucketed layout:
sequence-number semantics across compaction (a key deleted then
re-merged is not re-deleted when a later compaction folds the old
tombstone), defrag re-homing partitions that still have live
tombstones, expiry never GC'ing files the current manifest references,
and maintenance ops being exact no-ops on visible state. The reference
asserts the analogous end-state contract example-wise in its two-run
node-and-edge integration tests (``tests/integration/cartography/
intel``); hypothesis generalizes it to arbitrary op sequences.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cartography_spark.store.graphstore import GraphStore

keys = st.tuples(st.sampled_from(["L0", "L1"]), st.sampled_from(["a", "b", "c", "d"]))
props = st.dictionaries(
    st.sampled_from(["p", "q"]), st.sampled_from(["1", "2"]), max_size=2
)
ops = st.lists(
    st.one_of(
        st.tuples(st.just("merge"), st.dictionaries(keys, props, min_size=1, max_size=4)),
        st.tuples(st.just("delete"), st.sets(keys, min_size=1, max_size=3)),
        st.tuples(
            st.sampled_from(["compact", "defrag", "defrag_bounded", "full", "expire"]),
            st.just(None),
        ),
    ),
    min_size=2,
    max_size=6,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ops=ops, n_buckets=st.sampled_from([2, 16]))
def test_lifecycle_matches_python_model(spark, tmp_path_factory, ops, n_buckets):
    store = GraphStore(spark, str(tmp_path_factory.mktemp("g")), n_buckets=n_buckets)
    model: dict[tuple[str, str], dict] = {}

    def check(where: str) -> None:
        rows = store.read_nodes().collect()
        got = {(r["label"], r["id"]): r for r in rows}
        assert len(rows) == len(got), f"duplicate keys after {where}"
        assert set(got) == set(model), f"key set diverged after {where}"
        for k, m in model.items():
            r = got[k]
            assert int(r["firstseen"].timestamp()) == m["firstseen"], (where, k)
            assert r["lastupdated"] == m["lastupdated"], (where, k)
            assert dict(r["props"] or {}) == m["props"], (where, k)

    for i, (kind, arg) in enumerate(ops):
        tag = 100 + i
        if kind == "merge":
            df = spark.createDataFrame(
                [(lb, nid, p) for (lb, nid), p in arg.items()],
                "label string, id string, props map<string,string>",
            )
            store.merge_nodes(df, tag)
            for k, p in arg.items():
                if k not in model:
                    # re-merge after delete re-CREATES: fresh firstseen,
                    # empty props baseline (sequence-number semantics —
                    # the old tombstone must not re-delete the new row,
                    # even after a later compaction folds it)
                    model[k] = {"firstseen": tag, "props": {}}
                model[k]["lastupdated"] = tag
                model[k]["props"].update(p)
        elif kind == "delete":
            df = spark.createDataFrame(
                sorted(arg), "label string, id string"
            )
            store._write_deletes("nodes", df)
            for k in arg:
                model.pop(k, None)
        elif kind == "compact":
            store.compact("nodes")
        elif kind in ("defrag", "defrag_bounded"):
            # bucket-granular re-homing must be a visible-state no-op
            # and must leave the manifest within the bound: everything
            # at one fresh seq, or <= 1 kept seq + 1 fresh seq
            bound = 1 if kind == "defrag" else 2
            store.defrag("nodes", bound)
            man = store._manifest("nodes")
            if man is not None:
                assert store._seq_group_count(man) <= bound
        elif kind == "full":
            store.compact("nodes", full=True)
        elif kind == "expire":
            store.expire_versions(keep_last=1)
        check(f"op{i}:{kind}")
