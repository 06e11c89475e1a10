"""Seeded benchmark inputs and their on-disk cache.

Everything the engine receives is generated here from ``--seed`` (plus
fixed universe seeds), so the same seed always gives the same inputs.
Costly artefacts are cached under ``<work>/cache`` keyed by kind, size
parameters, seed and a hash of the package source: a change to the
engine rebuilds them with the engine it is measured against.

Two artefacts are built with the engine itself and cached per size:
the pages *universe* (``synthesize_pages``) that the build and graph
workloads sample from, and the sync workload's *base store* (one
``pipeline.sync.load`` per node schema, then a few re-crawl rounds).
They do not depend on the seed, and ``harness.prebuild`` makes them
before the first measured run of a checkout. Everything per-seed is
derived from them with numpy/pyarrow in a few seconds at most.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from pathlib import Path
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the recipes below change, so stale cache entries are ignored.
INPUTS_VERSION = 3
#: Per-seed entries kept per kind (oldest pruned first).
KEEP_PER_KIND = 12


def package_hash(root: Path) -> str:
    """sha1 over every ``cartography_spark/**/*.py`` (path + bytes)."""
    h = hashlib.sha1()
    pkg = root / "cartography_spark"
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


class Cache:
    """Directory-per-entry cache; an entry appears atomically (rename)."""

    def __init__(self, root: Path, work: Path):
        self.dir = work / "cache"
        self.dir.mkdir(parents=True, exist_ok=True)
        self.pkg = package_hash(root)

    def get(self, kind: str, params: dict, build: Callable[[Path], None]) -> Path:
        key = hashlib.sha1(
            json.dumps([kind, params, self.pkg, INPUTS_VERSION], sort_keys=True).encode()
        ).hexdigest()[:16]
        path = self.dir / f"{kind}-{key}"
        if path.is_dir():
            os.utime(path)
            return path
        tmp = self.dir / f".{kind}-{key}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        try:
            build(tmp)
            os.rename(tmp, path)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        self._prune(kind)
        return path

    def _prune(self, kind: str) -> None:
        entries = sorted(
            (p for p in self.dir.glob(f"{kind}-*") if p.is_dir()),
            key=lambda p: p.stat().st_mtime,
        )
        for p in entries[:-KEEP_PER_KIND]:
            shutil.rmtree(p, ignore_errors=True)


def write_parts(table: pa.Table, out: Path, parts: int) -> None:
    """Write ``table`` as ``parts`` parquet files so a scan has one task
    per file (a single small file would be one task on one core).
    Timestamps are written as UTC microseconds, the form Spark reads
    back as ``timestamp`` (pyarrow reads Spark's INT96 as naive ns)."""
    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type):
            table = table.set_column(i, f.name, table.column(i).cast(pa.timestamp("us", "UTC")))
    out.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), out / f"part-{i:03d}.parquet")


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


# ---------------------------------------------------------------- pages

UNIVERSE_SEED = 7
PAGE_ID_RE = re.compile(r"/page/(\d+)$")
LINK_RE = re.compile(r"href='https?://([^/']+)/page/(\d+)'")


def pages_universe(ctx, n: int) -> Path:
    """``n`` synthetic pages (html + golden text), built by the engine's
    own generator once per checkout and package version. ``ctx.spark``
    is only touched when the entry is missing."""

    def build(tmp: Path) -> None:
        from cartography_spark.sources.pages import synthesize_pages

        synthesize_pages(ctx.spark, n, seed=UNIVERSE_SEED, partitions=8).write.parquet(
            str(tmp / "pages")
        )

    return ctx.cache.get("universe", {"n": n}, build) / "pages"


def _page_ids(urls) -> np.ndarray:
    return np.array([int(PAGE_ID_RE.search(u).group(1)) for u in urls], dtype=np.int64)


def build_pages(cache: Cache, universe: Path, seed: int, n: int, parts: int) -> Path:
    """Seeded sample of ``n`` universe pages: ``pages/`` holds what the
    engine reads (url, warc_ts, html, lang), ``golden.parquet`` the
    generator's golden text for the correctness check."""

    def build(tmp: Path) -> None:
        t = pq.read_table(universe)
        rng = np.random.default_rng(seed)
        idx = np.sort(rng.choice(t.num_rows, size=n, replace=False))
        sample = t.take(pa.array(idx))
        write_parts(sample.select(["url", "warc_ts", "html", "lang"]), tmp / "pages", parts)
        pq.write_table(sample.select(["url", "text"]), tmp / "golden.parquet")

    return cache.get("pages", {"seed": seed, "n": n, "parts": parts}, build)


def golden_triples(text: str) -> list[tuple[str, str, str]]:
    """The generator writes sentences ``"<Entity> <pred words> <Entity>."``
    joined by single spaces; this is their independent parse."""
    out = []
    for sent in text.split(". "):
        words = sent.rstrip(".").split(" ")
        out.append((words[0], "_".join(words[1:-1]), words[-1]))
    return out


# ---------------------------------------------------------------- graph

def build_graphs(cache: Cache, universe: Path, seed: int, n_link_pages: int,
                 n_mention_pages: int) -> Path:
    """Three graphs drawn from a seeded sample of universe pages:

    - ``links``: page -> page outlinks (long ids) of pages whose id is
      inside the generator's link universe, so links close cycles;
    - ``hosts``: host -> host links (string ids) of the same pages;
    - ``mentions``: page <-> entity co-mention edges (string ids, both
      directions) from the golden text of a smaller sample.
    """

    def build(tmp: Path) -> None:
        from cartography_spark.sources.pages import LINK_UNIVERSE

        t = pq.read_table(universe, columns=["url", "html", "text"])
        ids = _page_ids(t.column("url").to_pylist())
        rng = np.random.default_rng(seed)
        inside = np.flatnonzero(ids < LINK_UNIVERSE)
        pick = np.sort(rng.choice(inside, size=min(n_link_pages, len(inside)), replace=False))
        urls = t.column("url").take(pa.array(pick)).to_pylist()
        htmls = t.column("html").take(pa.array(pick)).to_pylist()
        src, dst, hsrc, hdst = [], [], [], []
        for u, h in zip(urls, htmls):
            s = int(PAGE_ID_RE.search(u).group(1))
            shost = u.split("/")[2]
            for m in LINK_RE.finditer(h.decode()):
                src.append(s)
                dst.append(int(m.group(2)))
                hsrc.append(shost)
                hdst.append(m.group(1))
        pq.write_table(pa.table({"src": pa.array(src, pa.int64()),
                                 "dst": pa.array(dst, pa.int64())}), tmp / "links.parquet")
        pq.write_table(pa.table({"src": hsrc, "dst": hdst}), tmp / "hosts.parquet")

        mpick = np.sort(rng.choice(t.num_rows, size=n_mention_pages, replace=False))
        msrc, mdst = [], []
        for u, text in zip(t.column("url").take(pa.array(mpick)).to_pylist(),
                           t.column("text").take(pa.array(mpick)).to_pylist()):
            page = "p" + PAGE_ID_RE.search(u).group(1)
            ents = sorted({e for s, _, o in golden_triples(text) for e in (s, o)})
            for e in ents:
                msrc += [page, e]
                mdst += [e, page]
        pq.write_table(pa.table({"src": msrc, "dst": mdst}), tmp / "mentions.parquet")

    return cache.get(
        "graphs", {"seed": seed, "links": n_link_pages, "mentions": n_mention_pages}, build
    )


# ---------------------------------------------------------------- curate

def _vocabulary(n: int) -> list[str]:
    syl = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "da", "zu", "ri",
           "gan", "tor", "mel", "bas"]
    words, i = [], 0
    while len(words) < n:
        a, b, c = i % 16, (i // 16) % 16, (i // 256) % 16
        words.append(syl[a] + syl[b] + (syl[c] if i >= 256 else ""))
        i += 1
    return words


def build_documents(cache: Cache, seed: int, n_docs: int) -> Path:
    """``n_docs`` documents ``(doc_id long, text string)``: Zipf word
    draws from a 2000-word vocabulary, with planted near-duplicates
    (about 12 %: an earlier document with 1-3 word substitutions) and
    containment pairs (about 4 %: a 10-18 word document quoted whole
    inside a longer one)."""

    def build(tmp: Path) -> None:
        rng = np.random.default_rng(seed)
        vocab = np.array(_vocabulary(2000))
        w = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
        w /= w.sum()

        def draw(k: int) -> list[str]:
            return list(vocab[rng.choice(len(vocab), size=k, p=w)])

        docs: list[list[str]] = []
        shorts: list[int] = []
        while len(docs) < n_docs:
            u = rng.random()
            if u < 0.12 and docs:
                base = list(docs[rng.integers(len(docs))])
                for _ in range(int(rng.integers(1, 4))):
                    base[rng.integers(len(base))] = draw(1)[0]
                docs.append(base)
            elif u < 0.16:
                shorts.append(len(docs))
                docs.append(draw(int(rng.integers(10, 19))))
            elif u < 0.20 and shorts:
                quoted = docs[shorts[rng.integers(len(shorts))]]
                docs.append(draw(int(rng.integers(20, 40))) + quoted
                            + draw(int(rng.integers(10, 30))))
            else:
                docs.append(draw(int(rng.integers(30, 70))))
        order = rng.permutation(n_docs)
        table = pa.table({
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64) * 7 + 3),
            "text": [" ".join(docs[i]) for i in order],
        })
        write_parts(table, tmp / "docs", 4)

    return cache.get("docs", {"seed": seed, "n": n_docs}, build) / "docs"


# ---------------------------------------------------------------- sync

SYNC_BASE_TAG = 1_000_000


def _entity_cdf(entities: int) -> np.ndarray:
    """Cumulative Zipf(1.1) weights over the entity ids."""
    w = 1.0 / np.arange(1, entities + 1) ** 1.1
    return np.cumsum(w / w.sum())


def _mentions(rng, cdf: np.ndarray) -> list[str]:
    """1-4 Zipf-drawn entities, distinct and sorted."""
    k = int(rng.integers(1, 5))
    ids = np.minimum(np.searchsorted(cdf, rng.random(k), side="right"), len(cdf) - 1)
    return sorted({f"E{int(e):04d}" for e in ids})


def sync_base_rows(shards: int, pages_per_shard: int, entities: int) -> dict:
    """The fixed base crawl: ``{shard: {url: (title, [entities])}}``."""
    rng = np.random.default_rng(UNIVERSE_SEED)
    w = _entity_cdf(entities)
    state: dict[str, dict[str, tuple[str, list[str]]]] = {}
    for s in range(shards):
        shard = f"shard{s:02d}"
        state[shard] = {}
        for p in range(pages_per_shard):
            url = f"https://{shard}.example.net/p/{p}"
            state[shard][url] = (f"t{p}", _mentions(rng, w))
    return state


def rows_table(state: dict, shards: list[str] | None = None) -> pa.Table:
    """One row per (page, mentioned entity), the shape the Page schema loads."""
    url, shard, title, ent = [], [], [], []
    for s in shards if shards is not None else sorted(state):
        for u, (t, es) in sorted(state[s].items()):
            for e in es:
                url.append(u)
                shard.append(s)
                title.append(t)
                ent.append(e)
    return pa.table({"url": url, "shard": shard, "title": title, "entity": ent})


def sync_rounds(state: dict, seed: int, n_rounds: int, entities: int, label: str,
                drop: float = 0.10, change: float = 0.25) -> list[dict]:
    """Seeded re-crawl schedule. Round ``r`` picks one shard, drops
    ``drop`` of its pages, re-draws the mentions of ``change`` of the
    rest and adds as many new pages as it dropped, so every round loads
    the same number of pages (new urls carry ``label``, so schedules
    with different labels never mint the same url). Returns per round
    the shard, the shard's new page map (what the store must hold for
    that scope after the round), and the round's input table."""
    rng = np.random.default_rng(seed)
    w = _entity_cdf(entities)
    state = {s: dict(p) for s, p in state.items()}
    fresh = 0
    rounds = []
    for _ in range(n_rounds):
        shard = sorted(state)[int(rng.integers(len(state)))]
        pages = state[shard]
        urls = sorted(pages)
        n_drop = round(drop * len(urls))
        dropped = set(rng.choice(len(urls), size=n_drop, replace=False).tolist())
        new_pages = {}
        for i, u in enumerate(urls):
            if i in dropped:
                continue
            t, es = pages[u]
            if rng.random() < change:
                es = _mentions(rng, w)
            new_pages[u] = (t, es)
        for _ in range(n_drop):
            fresh += 1
            new_pages[f"https://{shard}.example.net/n/{label}-{fresh}"] = (
                f"n{fresh}", _mentions(rng, w))
        state[shard] = new_pages
        rounds.append({"shard": shard, "pages": new_pages,
                       "table": rows_table({shard: new_pages})})
    return rounds
