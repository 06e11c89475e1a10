"""Deterministic synthetic Common-Crawl-style ``pages`` table.

Shape per the engine contract: ``(url string, warc_ts timestamp,
html binary, text string, lang string)``. ``text`` is the golden
extraction output — the html wraps it in boilerplate (nav/footer) that
the extractor must strip byte-identically.

Reference analog: the static fixture dicts under the reference's
``tests/data/**`` that its integration tests feed through real sync
(e.g. ``tests/integration/cartography/intel/lastpass/test_users.py``);
here the fixtures are generated distributively so the same recipe
scales from 1k rows (unit tests) to tens of millions (bench).

Determinism: every field of row ``i`` is a pure function of ``(seed, i)``
via splitmix64-style integer mixing — no RNG object, no partition-order
dependence. The key mixing is vectorized in numpy inside one
``mapInPandas``, the only Python worker of the flagship chain
(``pipeline/flagship.py``); the benchmark and ``bench.py`` materialize
the pages first, so they time the JVM extraction alone. The same
(seed, n) always yields the same table regardless of parallelism.

Skew (deliberate, per the web-scale contract): domains and entities are
Zipf-distributed — the top-2 domains carry >=40% of pages and the hot
entities produce hot join keys downstream, exercising AQE skew-join and
salting.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

# Single-token entities (no escaping needed in the html template).
ENTITIES = [
    "Spark", "Hadoop", "Iceberg", "Parquet", "Arrow", "Kafka", "Flink",
    "Trino", "DuckDB", "Neo4j", "Cassandra", "Redis", "Postgres", "MySQL",
    "Airflow", "Dagster", "Beam", "Samza", "Hive", "Presto", "Impala",
    "Druid", "Pinot", "Clickhouse", "Snowflake", "Redshift", "Bigquery",
    "Databricks", "Delta", "Hudi", "Zookeeper", "Etcd", "Consul", "Vault",
    "Terraform", "Ansible", "Kubernetes", "Docker", "Podman", "Nomad",
]
PREDICATES = [
    "depends on", "integrates with", "replaces", "extends",
    "queries", "stores", "reads from", "writes to",
]
DOMAINS = [f"site{d:02d}.example.org" for d in range(20)]
LANGS = ["en", "en", "en", "en", "en", "en", "en", "en", "en", "de", "fr"]

_MASK = (1 << 64) - 1


def _mix(x: np.ndarray, k: int) -> np.ndarray:
    """splitmix64-style mixer, vectorized; uniform uint64 per (x, k)."""
    z = (x.astype(np.uint64) + np.uint64(k * 0x9E3779B97F4A7C15 & _MASK)) & np.uint64(_MASK)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9) & np.uint64(_MASK)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB) & np.uint64(_MASK)
    return z ^ (z >> np.uint64(31))


def _zipf_cdf(n: int, s: float = 1.0) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return np.cumsum(w / w.sum())


_DOMAIN_CDF = _zipf_cdf(len(DOMAINS), 1.2)  # top-2 domains ~ 44% of pages
_ENTITY_CDF = _zipf_cdf(len(ENTITIES), 1.1)


def _pick(u64: np.ndarray, cdf: np.ndarray) -> np.ndarray:
    u = u64.astype(np.float64) / float(_MASK)
    return np.searchsorted(cdf, u, side="left").clip(0, len(cdf) - 1)


# Outlink plant (round 5 day-5): every page carries 1..MAX_LINKS
# absolute outlinks in its FOOTER — the extractor drops footer blocks,
# so the golden text/triples contracts are untouched, while the corpus
# gains a real web link graph (the Common-Crawl host-graph artifact).
# Targets are page ids in a fixed LINK_UNIVERSE (links point into a
# larger web than any one crawl — ids >= n are the crawl frontier), and
# each target's host is derived through the SAME (seed, id) chain the
# target page itself would use, so an in-crawl link's dst url equals
# the target's real url exactly.
LINK_UNIVERSE = 4096
MAX_LINKS = 3


def _link_targets(
    key: np.ndarray, seed: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Per page: (n_links, tids[MAX_LINKS, n], tdoms[MAX_LINKS, n],
    tanch[MAX_LINKS, n]).

    n_links = 1 + mix(key, 8) % MAX_LINKS; slot t's target id is
    mix(key + t + 1, 11) % LINK_UNIVERSE, and its domain is the target
    page's own domain pick (mix(mix(tid, seed), 1) through the Zipf
    CDF). tanch is the slot's ANCHOR-TEXT entity (mix(tk, 3) through
    the entity Zipf CDF) — the web's naming signal for the linked
    page. Pure function of (seed, id) — replicated limb-exactly by the
    DuckDB generator-twin oracles (queries/oracles.py::_links_ctes).
    """
    n_links = (1 + (_mix(key, 8) % np.uint64(MAX_LINKS))).astype(np.int64)
    tids = np.empty((MAX_LINKS, len(key)), dtype=np.uint64)
    tdoms = np.empty((MAX_LINKS, len(key)), dtype=np.int64)
    tanch = np.empty((MAX_LINKS, len(key)), dtype=np.int64)
    for t in range(MAX_LINKS):
        tk = _mix(key + np.uint64(t + 1), 11)
        tid = tk % np.uint64(LINK_UNIVERSE)
        tdoms[t] = _pick(_mix(_mix(tid, seed), 1), _DOMAIN_CDF)
        tanch[t] = _pick(_mix(tk, 3), _ENTITY_CDF)
        tids[t] = tid
    return n_links, tids, tdoms, tanch


def _page_batch(ids: np.ndarray, seed: int) -> pd.DataFrame:
    key = _mix(ids, seed)
    dom_idx = _pick(_mix(key, 1), _DOMAIN_CDF)
    n_sent = (3 + (_mix(key, 2) % np.uint64(10))).astype(np.int64)
    lang_idx = (_mix(key, 3) % np.uint64(len(LANGS))).astype(np.int64)
    ts_off = (_mix(key, 4) % np.uint64(86400 * 30)).astype(np.int64)
    # Two crawl batches (for incremental / sweep tests): even ids crawl A.
    crawl_base = np.where(ids % 2 == 0, 1735689600, 1738368000)  # 2025-01-01 / 2025-02-01

    urls, texts, htmls = [], [], []
    n_ent, n_pred = len(ENTITIES), len(PREDICATES)
    n_links, link_tids, link_tdoms, link_tanch = _link_targets(key, seed)
    for j in range(len(ids)):
        rid, k = int(ids[j]), key[j : j + 1]
        sents = []
        for si in range(int(n_sent[j])):
            sk = _mix(k + np.uint64(si + 1), 7)
            s_i = int(_pick(_mix(sk, 1), _ENTITY_CDF)[0])
            o_i = int(_pick(_mix(sk, 2), _ENTITY_CDF)[0])
            if o_i == s_i:
                o_i = (o_i + 1) % n_ent
            # int() before %: numpy uint64 % python-int promotes to float64.
            p_i = int(_mix(sk, 3)[0]) % n_pred
            sents.append(f"{ENTITIES[s_i]} {PREDICATES[p_i]} {ENTITIES[o_i]}.")
        text = " ".join(sents)
        domain = DOMAINS[int(dom_idx[j])]
        url = f"https://{domain}/page/{rid}"
        paras = "".join(f"<p>{s}</p>" for s in sents)
        outlinks = "".join(
            f"<a href='https://{DOMAINS[int(link_tdoms[t][j])]}"
            f"/page/{int(link_tids[t][j])}'>{ENTITIES[int(link_tanch[t][j])]}</a>"
            for t in range(int(n_links[j]))
        )
        html = (
            f"<html><head><title>{domain} page {rid}</title>"
            f"<script>var x={rid};</script></head><body>"
            f"<nav><a href='/'>home</a> | <a href='/about'>about</a></nav>"
            f"<div class=\"content\">{paras}</div>"
            f"<footer>&copy; 2025 {domain}{outlinks}</footer></body></html>"
        )
        urls.append(url)
        texts.append(text)
        htmls.append(html.encode("utf-8"))

    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.to_datetime(crawl_base + ts_off, unit="s"),
            "html": htmls,
            "text": texts,
            "lang": [LANGS[i] for i in lang_idx],
        }
    )


def synthesize_pages(
    spark: SparkSession, n: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic pages table: ``spark.range`` -> mapInPandas.

    The generator runs on executors (no driver-side loop); row content
    depends only on (seed, id), so output is identical at any
    parallelism (tests/test_triples_paths.py checks two partitionings)."""
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            yield _page_batch(pdf["id"].to_numpy(), seed)

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=PAGES_SCHEMA)
