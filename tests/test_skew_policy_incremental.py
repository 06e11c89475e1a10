"""Skew salting, wildcard policy evaluation, incremental watermark
source, and error quarantine."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cartography_spark.functions.policy import (
    evaluate_policies,
    literal_prefix,
    wildcard_to_regex,
)
from cartography_spark.operators.skew import salted_agg, salted_repartition, top_keys
from cartography_spark.sources.incremental import (
    commit_watermark,
    incremental_read,
    last_watermark,
)
from cartography_spark.sources.quarantine import quarantined_stage, split_quarantine
from cartography_spark.store.graphstore import GraphStore


def test_salted_agg_matches_plain(spark):
    df = spark.createDataFrame(
        [("hot", i * 1.0) for i in range(500)] + [("cold", 1.0), ("cold", 2.0)],
        "k string, v double",
    )
    plain = {
        (r["k"]): (r["s"], r["n"], r["mn"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("v").alias("n"), F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        (r["k"]): (r["s"], r["n"], r["mn"], r["mx"])
        for r in salted_agg(
            df, ["k"],
            {"s": ("sum", "v"), "n": ("count", "v"), "mn": ("min", "v"), "mx": ("max", "v")},
            buckets=8,
        ).collect()
    }
    assert salted == plain


def test_salted_repartition_preserves_rows(spark):
    df = spark.createDataFrame([("a", i) for i in range(100)], "k string, v int")
    out = salted_repartition(df, "k", 8)
    assert out.count() == 100
    assert set(out.columns) == {"k", "v"}


def test_top_keys(spark):
    df = spark.createDataFrame(
        [("hot",)] * 90 + [("warm",)] * 9 + [("c1",)], "k string"
    )
    hot = [r["k"] for r in top_keys(df, "k", min_share=0.05).collect()]
    assert hot == ["hot", "warm"]


# ---------------- policy (T5/J6) ----------------


def test_wildcard_to_regex():
    """Reference-exact kernel (``permission_relationships.py:225-251``):
    escape ONLY '.', '*'->'.*', '?'->'.?' (zero-or-one), malformed ->
    match-nothing. Round-5 VERDICT #2 pin: both policy layers now share
    this one kernel."""
    import re

    assert wildcard_to_regex("s3:Get*") == "(?i)^(?:s3:Get.*)$"
    assert wildcard_to_regex("a?c") == "(?i)^(?:a.?c)$"
    # only '.' is escaped — other regex specials pass through, exactly
    # as the reference compiles them ('+' stays a quantifier there too)
    assert wildcard_to_regex("a.b+c") == "(?i)^(?:a\\.b+c)$"
    # '?' is ZERO-or-one: 'abc?' matches both 'abc' and 'abcd'
    rx = wildcard_to_regex("abc?")  # anchors are embedded in rx
    assert re.match(rx, "abc") and re.match(rx, "abcd")
    assert not re.match(rx, "abcde")
    # the non-capturing group keeps fullmatch semantics under a
    # top-level '|': re.fullmatch('a|b', 'axx') is None in the
    # reference, so the find-semantics regex must not match either
    alt = wildcard_to_regex("a|b")
    assert re.search(alt, "a") and re.search(alt, "b")
    assert not re.search(alt, "axx") and not re.search(alt, "xb")
    # malformed clause degrades to match-nothing (reference: compiled '')
    bad = wildcard_to_regex("a(")
    assert bad == "(?i)^$" and not re.match(bad, "a(")
    # ")x(" wraps into a VALID group — degradation must still key off
    # the bare clause, like the reference's re.compile does
    assert wildcard_to_regex(")x(") == "(?i)^$"
    assert literal_prefix("s3:Get*") == "s3:Get"
    assert literal_prefix("nostar") == "nostar"
    # prefix soundness under active regex syntax: '[ab]c' matches 'ac',
    # so the mandatory prefix stops BEFORE the class; '|' and '{' and a
    # malformed clause void the prefix entirely
    assert literal_prefix("ab[cd]e") == "ab"
    assert literal_prefix("a|b") == ""
    assert literal_prefix("ab{0,1}c") == ""
    assert literal_prefix("a(") == ""


def test_evaluate_policies(spark):
    resources = spark.createDataFrame(
        [("arn:s3:bucket/a",), ("arn:s3:bucket/b",), ("arn:ec2:i-1",)], "arn string"
    )
    policies = spark.createDataFrame(
        [("p1", "arn:s3:*"), ("p2", "ARN:EC2:I-?"), ("p3", "arn:rds:*")],
        "pid string, pattern string",
    )
    got = {
        (r["pid"], r["arn"])
        for r in evaluate_policies(resources, policies, "arn", "pattern").collect()
    }
    assert got == {
        ("p1", "arn:s3:bucket/a"),
        ("p1", "arn:s3:bucket/b"),
        ("p2", "arn:ec2:i-1"),
    }


def test_evaluate_policies_active_regex_syntax(spark):
    """End-to-end soundness when patterns carry active regex syntax
    (the reference escapes only '.'): the prefix pre-filter must not
    drop rows the compiled regex matches, and a top-level '|' must not
    escape the fullmatch anchors."""
    resources = spark.createDataFrame(
        [("ac",), ("bc",), ("axx",), ("b",)], "arn string"
    )
    policies = spark.createDataFrame(
        [("cls", "[ab]c"), ("alt", "a|b")], "pid string, pattern string"
    )
    got = {
        (r["pid"], r["arn"])
        for r in evaluate_policies(resources, policies, "arn", "pattern").collect()
    }
    assert got == {
        ("cls", "ac"),
        ("cls", "bc"),
        ("alt", "b"),
        # 'a|b' fullmatches neither 'axx' (reference: None) nor 'ac'/'bc'
    }


# ---------------- incremental watermark (S2) ----------------


def test_incremental_watermark_cycle(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "g"))
    df1 = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-02 00:00:00")], "id long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    assert last_watermark(store, "events") is None
    out1, wm1 = incremental_read(store, df1, "events", "ts")
    assert out1.count() == 2  # first run = full read
    commit_watermark(store, "events", 100, wm1)

    df2 = df1.union(
        spark.createDataFrame([(3, "2024-01-03 00:00:00")], "id long, ts string")
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out2, wm2 = incremental_read(store, df2, "events", "ts")
    assert [r["id"] for r in out2.collect()] == [3]  # only past the HWM
    assert wm2 > wm1
    # watermark is per-source
    assert last_watermark(store, "other") is None


def test_watermark_source_id_stable_across_processes():
    """The persisted watermark key must survive a driver restart: derive
    it in two subprocesses with *different* PYTHONHASHSEED (which salts
    builtin hash(str)) and require identical values. Guards the bug
    where hash(source) keyed the metrics row and every restart silently
    degraded to a full re-read."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    from cartography_spark.sources.incremental import _source_id

    cmd = [
        sys.executable,
        "-c",
        "from cartography_spark.sources.incremental import _source_id;"
        "print(_source_id('events'))",
    ]
    repo_root = Path(__file__).resolve().parents[1]
    outs = []
    for seed in ("1", "2"):
        env = dict(os.environ, PYTHONHASHSEED=seed)
        outs.append(int(subprocess.check_output(cmd, env=env, cwd=repo_root).strip()))
    assert outs[0] == outs[1] == _source_id("events")


# ---------------- quarantine (S3) ----------------


def test_quarantine_isolates_poison_rows(spark):
    def parse(pdf: pd.DataFrame) -> pd.DataFrame:
        if (pdf["x"] < 0).any():
            raise ValueError("negative!")
        return pd.DataFrame({"y": pdf["x"] * 2})

    df = spark.createDataFrame([(1,), (-5,), (3,)], "x int")
    out = df.mapInPandas(quarantined_stage(parse, ["y"]), "y int, error string")
    good, bad = split_quarantine(out)
    assert sorted(r["y"] for r in good.collect()) == [2, 6]
    bad_rows = bad.collect()
    assert len(bad_rows) == 1 and "negative" in bad_rows[0]["error"]


def test_quarantine_passthrough_keeps_row_identity(spark):
    """Dead-letter rows must carry their source id (else they can be
    neither traced nor reprocessed) — and good rows carry it too, so
    the output schema is uniform."""

    def parse(pdf: pd.DataFrame) -> pd.DataFrame:
        if (pdf["x"] < 0).any():
            raise ValueError("negative!")
        return pd.DataFrame({"y": pdf["x"] * 2})

    df = spark.createDataFrame([(10, 1), (20, -5), (30, 3)], "rid int, x int")
    out = df.mapInPandas(
        quarantined_stage(parse, ["y"], passthrough=["rid"]),
        "rid int, y int, error string",
    )
    good, bad = split_quarantine(out)
    assert {(r["rid"], r["y"]) for r in good.collect()} == {(10, 2), (30, 6)}
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    assert bad_rows[0]["rid"] == 20 and bad_rows[0]["y"] is None
    assert "negative" in bad_rows[0]["error"]


def test_quarantine_passthrough_rejects_fanout_transform(spark):
    """A fan-out fn cannot carry a per-row passthrough: rows quarantine
    loudly with the alignment error instead of mis-attributing ids."""

    def fan(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"y": list(pdf["x"]) * 2})

    df = spark.createDataFrame([(10, 1), (20, 2)], "rid int, x int")
    out = df.mapInPandas(
        quarantined_stage(fan, ["y"], passthrough=["rid"]),
        "rid int, y int, error string",
    )
    good, bad = split_quarantine(out)
    assert good.count() == 0
    assert all("row-aligned" in r["error"] for r in bad.collect())


def test_incremental_window_filter_is_pushed_down(spark, tmp_path):
    """The watermark window predicate must reach the parquet scan as a
    PushedFilters entry (bare-column comparison against a timestamp
    literal, not unix_micros(ts) > wm), and the new candidate watermark
    is computed over the FILTERED window so the same pruning applies to
    the max() scan."""
    import pandas as pd

    store = GraphStore(spark, str(tmp_path / "graph"))
    src = str(tmp_path / "events")
    spark.createDataFrame(
        pd.DataFrame({"ts": pd.to_datetime(["2024-01-01", "2024-06-01"]), "v": [1, 2]})
    ).write.parquet(src)
    df = spark.read.parquet(src)
    _, wm1 = incremental_read(store, df, "evp", "ts")
    commit_watermark(store, "evp", 1, wm1)
    out, wm2 = incremental_read(store, df, "evp", "ts")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(ts), GreaterThan(ts" in plan
    assert out.count() == 0 and wm2 == wm1  # empty window keeps the watermark
