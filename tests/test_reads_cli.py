"""Typed read API (tx.py analog) and CLI lifecycle."""

from __future__ import annotations

import json

import pytest

from cartography_spark.pipeline.sync import load
from cartography_spark.schema import NodeSchema, PropertyRef
from cartography_spark.store.graphstore import GraphStore
from cartography_spark.store.reads import (
    create_graph_views,
    read_list_of_dicts,
    read_list_of_tuples,
    read_list_of_values,
    read_single_dict,
    read_single_value,
)

THING = NodeSchema(label="Thing", properties={"id": PropertyRef("tid")})


@pytest.fixture()
def store(spark, tmp_path):
    s = GraphStore(spark, str(tmp_path / "g"))
    load(s, THING, spark.createDataFrame([("a",), ("b",), ("c",)], "tid string"), 100)
    return s


def test_typed_reads_sql(store):
    q = "SELECT id FROM graph_nodes WHERE label = 'Thing' ORDER BY id"
    assert read_list_of_values(store, q) == ["a", "b", "c"]
    assert read_single_value(store, q) == "a"
    assert read_list_of_dicts(store, q) == [{"id": "a"}, {"id": "b"}, {"id": "c"}]
    assert read_list_of_tuples(store, q) == [("a",), ("b",), ("c",)]
    assert read_single_dict(store, q) == {"id": "a"}
    assert read_single_value(store, "SELECT id FROM graph_nodes WHERE id = 'zz'") is None


def test_typed_reads_dataframe(store):
    df = store.read_nodes().where("label = 'Thing'").selectExpr("id").orderBy("id")
    assert read_list_of_values(store, df) == ["a", "b", "c"]


def test_graph_views(store, spark):
    create_graph_views(store)
    n = spark.sql("SELECT count(*) AS n FROM graph_nodes").collect()[0]["n"]
    assert n == 3


def test_cli_sync_and_resweep(spark, tmp_path, capsys):
    from cartography_spark.cli import main

    store_dir = str(tmp_path / "clistore")
    rc = main(["--cores", "8", "sync", "--store", store_dir, "--pages", "300",
               "--update-tag", "111"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out["stages"]) == {"seed", "ingest", "sweep"}

    g = GraphStore(spark, store_dir)
    assert g.read_nodes().where("label='Entity'").count() > 0
    assert g.read_edges().where("rel_label='IN_CRAWL'").count() > 0
    assert g.read_edges().where("rel_label='RELATES_TO'").count() > 0

    # rerun same tag resumes (ledger) — stages skip
    rc = main(["--cores", "8", "sync", "--store", store_dir, "--pages", "300",
               "--update-tag", "111"])
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert all(v == "skipped(resume)" for v in out2["stages"].values())


def test_cli_flagship_counts_page_triples(spark, capsys):
    from cartography_spark.cli import main
    from cartography_spark.pipeline.flagship import page_triples

    assert main(["flagship", "--pages", "300"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["pages"] == 300
    assert out["triples"] == page_triples(spark, 300, seed=42).count() > 0


def test_multi_round_lifecycle_with_drift_and_gc(spark, tmp_path, capsys):
    """Capstone: three sync rounds through the CLI with a shrinking
    corpus, drift-state snapshots between rounds, and retention GC at
    the end — the full operate-it-for-a-while story."""
    import json as _json

    from cartography_spark.cli import main
    from cartography_spark.operators.driftstate import (
        load_state,
        perform_drift_detection,
    )

    store_dir = str(tmp_path / "g")
    qdir = tmp_path / "q"
    qdir.mkdir()
    (qdir / "template.json").write_text(_json.dumps({
        "name": "entities",
        "validation_query": "SELECT id FROM graph_nodes WHERE label = 'Entity' ORDER BY id",
        "properties": [], "results": [],
    }))

    def sync(pages, tag):
        assert main(["--cores", "8", "sync", "--store", store_dir,
                     "--pages", str(pages), "--update-tag", str(tag)]) == 0

    def snapshot(fname):
        assert main(["--cores", "8", "drift", "get-state", "--store", store_dir,
                     "--query-directory", str(qdir), "--filename", fname]) == 0

    sync(300, 101)
    snapshot("r1.json")
    sync(300, 102)  # same corpus: no drift
    snapshot("r2.json")
    sync(20, 103)  # much smaller corpus: rare entities vanish, sweep retires them
    snapshot("r3.json")
    capsys.readouterr()

    new12, missing12 = perform_drift_detection(
        load_state(str(qdir), "r1.json"), load_state(str(qdir), "r2.json"))
    assert new12 == [] and missing12 == []
    new23, missing23 = perform_drift_detection(
        load_state(str(qdir), "r2.json"), load_state(str(qdir), "r3.json"))
    assert len(missing23) > 0  # entities only present in the larger corpus
    assert new23 == []         # seed-fixed generator: smaller run adds nothing

    from cartography_spark.store.graphstore import GraphStore

    store = GraphStore(spark, store_dir)
    n_before = store.read_nodes().count()
    store.expire_versions(keep_last=2)
    assert store.read_nodes().count() == n_before  # GC never changes current reads
    assert len(store.node_versions()) == 2


def test_cli_link_full_and_incremental(spark, tmp_path, capsys):
    """The `link` command closes the lifecycle: sync -> link (full),
    then a second sync batch -> link --incremental; canonical ids
    appear on near-duplicate entities."""
    from cartography_spark.cli import main
    from cartography_spark.pipeline.sync import load
    from cartography_spark.schema import NodeSchema, PropertyRef

    ent = NodeSchema(
        label="Brand", properties={"id": PropertyRef("bid"), "name": PropertyRef("name")}
    )
    store_dir = str(tmp_path / "g")
    g = GraphStore(spark, store_dir)
    load(g, ent, spark.createDataFrame(
        [("b1", "Acme Rocket Skates"), ("b2", "acme rocket skates")],
        "bid string, name string"), 100)
    rc = main(["--cores", "8", "link", "--store", store_dir, "--label", "Brand",
               "--prop", "name", "--update-tag", "100", "--threshold", "0.7"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["linked_nodes"] >= 2

    load(g, ent, spark.createDataFrame(
        [("b3", "Acme Rocket Skatez")], "bid string, name string"), 200)
    rc = main(["--cores", "8", "link", "--store", store_dir, "--label", "Brand",
               "--prop", "name", "--update-tag", "200", "--threshold", "0.7",
               "--incremental"])
    assert rc == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["new_same_as_edges"] >= 1
    canon = {
        r["id"]: (r["props"] or {}).get("canonical_id")
        for r in g.read_nodes().where("label='Brand'").collect()
    }
    assert canon["b1"] == canon["b2"] == canon["b3"] == "b1"


def test_cli_curate_funnel_single_pass(spark, tmp_path, capsys):
    """The curate command's stage counts must be monotone, the written
    survivor parquet must have exactly the final stage's rows (the
    Observation rides the same write job — one corpus pass), and the
    kept set must be the deterministic md5-bucket membership (re-run
    identical)."""
    from cartography_spark.cli import main

    src = str(tmp_path / "docs")
    bench = str(tmp_path / "bench")
    out_dir = str(tmp_path / "curated")
    rows = [
        (i, f"lang{i % 2}", " ".join(f"w{(i * 7 + j) % 23}" for j in range(30)))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    df.write.parquet(src)
    df.where("doc_id % 11 = 0").write.parquet(bench)

    argv = ["--cores", "8", "curate", "--input", src, "--output", out_dir,
            "--benchmark", bench, "--ngram", "3",
            "--rate", "lang0=0.5", "--rate", "lang1=0.25"]
    assert main(argv) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    s = out["stages"]
    assert s["total"] == 120
    assert s["total"] >= s["repetition"] >= s["decontamination"] >= s["sample"]
    written = spark.read.parquet(out_dir)
    assert written.count() == s["sample"]
    assert set(written.columns) == {"doc_id", "lang", "text"}

    # determinism: a second run keeps the identical id set
    out2_dir = str(tmp_path / "curated2")
    argv2 = argv[:]
    argv2[argv2.index(out_dir)] = out2_dir
    assert main(argv2) == 0
    capsys.readouterr()
    ids = lambda d: {r["doc_id"] for r in spark.read.parquet(d).select("doc_id").collect()}
    assert ids(out_dir) == ids(out2_dir)


def test_cli_curate_redact_scrubs_survivor_text(spark, tmp_path, capsys):
    from cartography_spark.cli import main

    src = str(tmp_path / "docs")
    out_dir = str(tmp_path / "curated")
    rows = [(i, "en", f"doc {i} mail bob{i}@ex.org ok") for i in range(20)]
    spark.createDataFrame(rows, "doc_id long, lang string, text string").write.parquet(src)
    assert main(["--cores", "8", "curate", "--input", src,
                 "--output", out_dir, "--redact"]) == 0
    capsys.readouterr()
    texts = [r["text"] for r in spark.read.parquet(out_dir).collect()]
    assert texts and all("@" not in t and "<PII>" in t for t in texts)


def test_cli_curate_redact_requires_output_and_rate_validates(spark, tmp_path, capsys):
    from cartography_spark.cli import main

    src = str(tmp_path / "docs")
    spark.createDataFrame([(1, "en", "x")], "doc_id long, lang string, text string").write.parquet(src)
    with pytest.raises(SystemExit):
        main(["--cores", "8", "curate", "--input", src, "--redact"])
    with pytest.raises(SystemExit):    # argparse usage error, not a traceback
        main(["--cores", "8", "curate", "--input", src, "--rate", "lang0"])
    with pytest.raises(SystemExit):
        main(["--cores", "8", "curate", "--input", src, "--rate", "en=abc"])
    capsys.readouterr()


def test_cli_layout_shards_split_pack(spark, tmp_path, capsys):
    from cartography_spark.cli import main

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "w " * 40 + "w", "en") for i in range(120)],
        "doc_id long, text string, lang string",
    ).write.parquet(src)

    # shards: partitioned write, every row lands in exactly one shard.
    out_dir = str(tmp_path / "sharded")
    rc = main(["--cores", "4", "layout", "shards", "--input", src,
               "--output", out_dir, "--n-shards", "4", "--salt", "e0"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["rows"] == 120 and res["groups"] == 4
    back = spark.read.parquet(out_dir)
    assert back.count() == 120
    assert back.select("shard").distinct().count() == 4

    # split: default 90/5/5, disjoint+complete, partitioned by split.
    split_dir = str(tmp_path / "split")
    rc = main(["--cores", "4", "layout", "split", "--input", src,
               "--output", split_dir])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["rows"] == 120
    sb = spark.read.parquet(split_dir)
    assert sb.count() == 120 and set(
        r["split"] for r in sb.select("split").distinct().collect()
    ) <= {"train", "valid", "test"}

    # pack: counts-only mode (no output), windows of 64 tokens.
    rc = main(["--cores", "4", "layout", "pack", "--input", src,
               "--capacity", "64"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["rows"] == 120
    assert res["groups"] == (120 * 41 + 63) // 64  # ceil(total_tokens/64)


def test_cli_profile_prints_per_column_stats(spark, tmp_path, capsys):
    import json

    from cartography_spark.cli import main

    src = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b")], "k long, s string"
    ).write.parquet(src)
    rc = main(["--cores", "4", "profile", "--table", src])
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    got = {r["col_name"]: r for r in lines}
    assert got["k"]["n_distinct"] == 2 and got["k"]["max_num"] == 2.0
    assert got["s"]["n_nulls"] == 1 and got["s"]["max_str"] == "b"
    # column subset
    rc = main(["--cores", "4", "profile", "--table", src, "--columns", "s"])
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert [r["col_name"] for r in lines] == ["s"]
