"""The workloads: build, sync, graph and curate, and analyze (graph and
curate in one operation, the form the benchmark campaign runs).

Each workload has the same life cycle, driven by ``harness.run``:

- ``inputs(ctx)``: generate or fetch the seeded inputs (untimed, cached);
- ``prepare(ctx)``: copy the inputs into the run directory and open
  them; timed and repeated, its median is part of ``setup_s``;
- ``op(ctx, state)``: one unit of work, input to complete result; the
  closed loop repeats it for ``--seconds``;
- ``check(ctx, state, result)``: compare the result with values
  recomputed independently in Python (untimed); returns error strings;
- ``items(state)``: work items of the last operation.

Optional hooks: ``shared(ctx)`` (build the seed-independent cached
inputs; ``harness.prebuild`` calls it before the first measured run),
``warmup(ctx, state)`` (part of set-up; returns check errors),
``final_check(ctx, state)``, ``summary(ctx, state)`` (untimed
end-of-run report entries ``{name: (value, unit)}``) and
``layers(summary, tracer, per_name)`` (traced run: workload-specific
per-layer values).

``ctx.span(name)`` is a no-op on untraced operations; on traced ones it
records a span around the benchmark's own call into a layer.
``PATCHES`` lists the functions wrapped where the package looks them
up, so that calls nested inside the package are attributed as well.
"""

from __future__ import annotations

import functools
import hashlib
import shutil
import statistics
import time
from collections import Counter, defaultdict
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from kgbench import inputs as I
from kgbench.xxh64 import xxh64


def _union_find_min(pairs, nodes=()) -> dict:
    """node -> minimum node of its undirected component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for n in nodes:
        find(n)
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


# ====================================================================== build

class Build:
    """pages parquet -> extract_text -> extract_triples_jvm -> (s,p,o) count."""

    name = "build"
    item = "pages"
    UNIVERSE = 120_000
    #: Pages per operation: enough that page work, not per-job overhead,
    #: is most of an operation (on 4 cores 16 000 pages took 1.2 s and
    #: 100 000 take 2.4 s).
    PAGES = 100_000
    PARTS = 8
    #: The JIT is still speeding up the second operation.
    WARMUP_OPS = 2
    #: Plan prefixes of the traced run's ladder (see ``summary``).
    LAYERS = [
        "sources.read_pages", "functions.extract_text", "functions.extract_triples_jvm",
        "pipeline.flagship.aggregate",
    ]

    def shared(self, ctx) -> Path:
        return I.pages_universe(ctx, self.UNIVERSE)

    def inputs(self, ctx) -> None:
        self.src = I.build_pages(ctx.cache, self.shared(ctx), ctx.seed, self.PAGES, self.PARTS)
        golden = pq.read_table(self.src / "golden.parquet")
        self.expected = Counter(
            t for text in golden.column("text").to_pylist() for t in I.golden_triples(text)
        )
        self.golden_slice = {
            (u, *t)
            for u, text in zip(golden.column("url").to_pylist()[:500],
                               golden.column("text").to_pylist()[:500])
            for t in I.golden_triples(text)
        }
        self.slice_urls = golden.column("url").to_pylist()[:500]

    def prepare(self, ctx):
        dst = ctx.run_dir / "pages"
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(self.src / "pages", dst)
        return {"dir": str(dst)}

    def _plan(self, ctx, state):
        from pyspark.sql import functions as F

        from cartography_spark.functions import textextract, triples

        pages = ctx.spark.read.parquet(state["dir"])
        text = textextract.extract_text(pages, "html", "text")
        trip = triples.extract_triples_jvm(text)
        agg = trip.groupBy("subj", "pred", "obj").agg(F.count("*").alias("n"))
        return pages, text, trip, agg

    def op(self, ctx, state):
        return self._plan(ctx, state)[3].collect()

    def items(self, state) -> int:
        return self.PAGES

    def warmup(self, ctx, state) -> list[str]:
        return [e for _ in range(self.WARMUP_OPS)
                for e in self.check(ctx, state, self.op(ctx, state))]

    def check(self, ctx, state, rows) -> list[str]:
        got = Counter({(r["subj"], r["pred"], r["obj"]): r["n"] for r in rows})
        if got != self.expected:
            return [f"build: aggregate differs from golden triples "
                    f"({len(got)} vs {len(self.expected)} distinct)"]
        return []

    def final_check(self, ctx, state) -> list[str]:
        """Triple-level precision and recall on a 500-page slice."""
        from pyspark.sql import functions as F

        trip = self._plan(ctx, state)[2].where(F.col("url").isin(self.slice_urls))
        got = {(r["url"], r["subj"], r["pred"], r["obj"]) for r in trip.collect()}
        if got != self.golden_slice:
            tp = len(got & self.golden_slice)
            return [f"build: slice P={tp / max(len(got), 1):.4f} "
                    f"R={tp / max(len(self.golden_slice), 1):.4f}"]
        return []

    def summary(self, ctx, state) -> dict:
        """Traced run only: materialize each plan prefix in its own span,
        twice, so a lazy layer's cost is the marginal time of its prefix."""
        if ctx.tracer is not None:
            for _ in range(2):
                pages, text, trip, agg = self._plan(ctx, state)
                for name, df in zip(self.LAYERS, (pages, text, trip, agg)):
                    with ctx.tracer.span("ladder." + name):
                        if df is agg:
                            df.collect()
                        else:
                            df.write.format("noop").mode("overwrite").save()
        return {}

    def layers(self, summary, tracer, per_name) -> dict[str, float]:
        ladder: dict[str, list[float]] = defaultdict(list)
        for s in tracer.spans:
            if s.name.startswith("ladder."):
                ladder[s.name[len("ladder."):]].append(s.end - s.start)
        out, prev = {}, 0.0
        for layer in self.LAYERS:
            t = statistics.median(ladder[layer])
            out[f"{layer}.s"] = max(t - prev, 0.0)
            prev = t
        n = len(ladder[self.LAYERS[0]])
        text = per_name.get("ladder.functions.extract_text", {})
        agg = per_name.get("ladder.pipeline.flagship.aggregate", {})
        out["functions.extract_text.python_s"] = text.get("python_s", 0.0) / n
        out["functions.extract_text.arrow_bytes"] = text.get("arrow_bytes", 0.0) / n
        out["pipeline.flagship.aggregate.shuffle_write_bytes"] = (
            agg.get("shuffle_write_bytes", 0.0) / n)
        return out


# ======================================================================= sync

class Sync:
    """Re-crawl rounds against a base store: load -> sweep -> maintenance,
    then fixed reads.

    No warm-up: a warm-up round costs twice a warm one, and a re-crawl
    job runs one or two rounds per process, so the first round is the
    one users wait for."""

    name = "sync"
    item = "pages"
    #: 40 000 pages in 8 shards, the store shape of the first 4-core probe.
    SHARDS = 8
    PAGES_PER_SHARD = 5000
    #: One entity per ten pages; mentions are Zipf-drawn, so a few
    #: entities are mentioned by thousands of pages.
    ENTITIES = 4000
    ROUNDS = 12
    #: Rounds applied to the cached base store, so timed rounds meet
    #: the merge-on-read debt (tombstones, write seqs) a live store carries.
    PRE_ROUNDS = 4
    PATCHES = [
        ("cartography_spark.pipeline.sync", "compile_node_updates", "schema.compile_node_updates"),
        ("cartography_spark.pipeline.sync", "compile_edge_updates", "schema.compile_edge_updates"),
        ("cartography_spark.store.graphstore.GraphStore", "merge_nodes", "store.merge_nodes"),
        ("cartography_spark.store.graphstore.GraphStore", "merge_edges", "store.merge_edges"),
    ]

    @staticmethod
    def schemas():
        from cartography_spark.schema import (
            LinkDirection, NodeSchema, PropertyRef, RelSchema, TargetNodeMatcher,
        )

        shard = NodeSchema(label="Shard", properties={"id": PropertyRef("shard")})
        entity = NodeSchema(label="Entity", properties={"id": PropertyRef("entity")})
        page = NodeSchema(
            label="Page",
            properties={"id": PropertyRef("url"), "title": PropertyRef("title")},
            sub_resource_relationship=RelSchema(
                rel_label="IN_SHARD",
                target_node_label="Shard",
                target_node_matcher=TargetNodeMatcher({"id": PropertyRef("shard")}),
                direction=LinkDirection.INWARD,
            ),
            other_relationships=(
                RelSchema(
                    rel_label="MENTIONS",
                    target_node_label="Entity",
                    target_node_matcher=TargetNodeMatcher({"id": PropertyRef("entity")}),
                ),
            ),
        )
        return shard, entity, page

    def _base(self):
        base = I.sync_base_rows(self.SHARDS, self.PAGES_PER_SHARD, self.ENTITIES)
        return base, I.sync_rounds(base, I.UNIVERSE_SEED, self.PRE_ROUNDS, self.ENTITIES, "pre")

    def shared(self, ctx) -> Path:
        """The cached base store: every node schema loaded, then
        ``PRE_ROUNDS`` re-crawl rounds applied."""

        def build(tmp: Path) -> None:
            from cartography_spark.pipeline.sync import load
            from cartography_spark.store.graphstore import GraphStore

            base, pre = self._base()
            shard_s, entity_s, page_s = self.schemas()
            store = GraphStore(ctx.spark, str(tmp / "store"))
            sp = ctx.spark
            load(store, shard_s, sp.createDataFrame([(s,) for s in sorted(base)], "shard string"),
                 I.SYNC_BASE_TAG)
            ents = [(f"E{e:04d}",) for e in range(self.ENTITIES)]
            load(store, entity_s, sp.createDataFrame(ents, "entity string"), I.SYNC_BASE_TAG)
            I.write_parts(I.rows_table(base), tmp / "rows" / "base", 4)
            load(store, page_s, sp.read.parquet(str(tmp / "rows" / "base")), I.SYNC_BASE_TAG)
            for i, r in enumerate(pre):
                path = tmp / "rows" / f"pre{i}.parquet"
                pq.write_table(r["table"], path)
                self._round(ctx, store, str(path), I.SYNC_BASE_TAG + 1 + i, r["shard"])
            shutil.rmtree(tmp / "rows")

        return ctx.cache.get(
            "syncstore",
            {"shards": self.SHARDS, "pages": self.PAGES_PER_SHARD, "entities": self.ENTITIES,
             "pre_rounds": self.PRE_ROUNDS},
            build,
        ) / "store"

    def inputs(self, ctx) -> None:
        self.src = self.shared(ctx)
        base, pre = self._base()
        self.start = dict(base)
        for r in pre:
            self.start[r["shard"]] = r["pages"]
        self.rounds = I.sync_rounds(self.start, ctx.seed, self.ROUNDS, self.ENTITIES,
                                    f"s{ctx.seed}")
        rdir = ctx.run_dir / "rounds"
        rdir.mkdir(parents=True)
        for i, r in enumerate(self.rounds):
            path = rdir / f"r{i:03d}.parquet"
            pq.write_table(r["table"], path)
            r["path"] = str(path)
            r["bytes"] = path.stat().st_size

    def prepare(self, ctx):
        from cartography_spark.store.graphstore import GraphStore

        dst = ctx.run_dir / "store"
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(self.src, dst)
        return {
            "store": GraphStore(ctx.spark, str(dst)), "dir": dst, "round": 0,
            "expected": dict(self.start),
            "bytes_written": [], "files_written": [], "round_s": [], "read_s": [],
            "write_amp": [], "compactions": 0,
        }

    @staticmethod
    def _reads(store):
        from cartography_spark.store.reads import read_list_of_tuples

        nodes = read_list_of_tuples(
            store,
            "SELECT scope_id, count(*) FROM graph_nodes WHERE label = 'Page' GROUP BY scope_id",
        )
        edges = read_list_of_tuples(
            store,
            "SELECT scope_id, rel_label, count(*) FROM graph_edges "
            "WHERE src_label = 'Page' OR dst_label = 'Page' GROUP BY scope_id, rel_label",
        )
        return nodes, edges

    @staticmethod
    def _files(root: Path) -> dict[str, int]:
        return {str(p): p.stat().st_size for p in root.rglob("*") if p.is_file()}

    def _round(self, ctx, store, path: str, tag: int, shard: str):
        """One re-crawl of ``shard``: load, scoped sweep, maintenance."""
        from cartography_spark.pipeline import sync as psync

        page_s = self.schemas()[2]
        with ctx.span("pipeline.load"):
            psync.load(store, page_s, ctx.spark.read.parquet(path), tag)
        with ctx.span("store.sweep"):
            store.sweep(page_s, tag, scope_id=shard)
        with ctx.span("store.maybe_compact"):
            return store.maybe_compact()

    def op(self, ctx, state):
        if state["round"] >= len(self.rounds):
            raise RuntimeError("sync: more rounds requested than generated")
        r = self.rounds[state["round"]]
        tag = I.SYNC_BASE_TAG + 1 + self.PRE_ROUNDS + state["round"]
        store = state["store"]
        before = self._files(state["dir"])
        t0 = time.perf_counter()
        compacted = self._round(ctx, store, r["path"], tag, r["shard"])
        t1 = time.perf_counter()
        with ctx.span("store.reads"):
            reads = self._reads(store)
        t2 = time.perf_counter()
        after = self._files(state["dir"])
        written = {p: s for p, s in after.items() if before.get(p) != s}
        state["bytes_written"].append(sum(written.values()))
        state["files_written"].append(len(written))
        state["write_amp"].append(sum(written.values()) / r["bytes"])
        state["round_s"].append(t1 - t0)
        state["read_s"].append(t2 - t1)
        state["compactions"] += bool(compacted)
        state["expected"][r["shard"]] = r["pages"]
        state["round"] += 1
        return reads

    def items(self, state) -> int:
        return len(self.rounds[state["round"] - 1]["pages"])

    def check(self, ctx, state, reads) -> list[str]:
        nodes, edges = reads
        exp = state["expected"]
        errors = []
        want_nodes = {s: len(p) for s, p in exp.items()}
        if dict(nodes) != want_nodes:
            errors.append(f"sync: Page counts per scope {dict(nodes)} != {want_nodes}")
        want_edges = {}
        for s, pages in exp.items():
            want_edges[(s, "IN_SHARD")] = len(pages)
            want_edges[(s, "MENTIONS")] = sum(len(es) for _, es in pages.values())
        got_edges = {(s, rel): n for s, rel, n in edges}
        if got_edges != want_edges:
            errors.append("sync: edge counts per scope differ from the round input")
        return errors

    def summary(self, ctx, state) -> dict:
        """Per-round medians, and space_amp against the live graph written
        compactly (one parquet file per table, untimed)."""
        store = state["store"]
        compact = ctx.run_dir / "compact"
        store.read_nodes().coalesce(1).write.mode("overwrite").parquet(str(compact / "n"))
        store.read_edges().coalesce(1).write.mode("overwrite").parquet(str(compact / "e"))
        med = statistics.median
        return {
            "round_s": (med(state["round_s"]), "s"),
            "read_s": (med(state["read_s"]), "s"),
            "write_amp": (med(state["write_amp"]), "ratio"),
            "space_amp": (I.dir_bytes(state["dir"]) / I.dir_bytes(compact), "ratio"),
            "bytes_written": (med(state["bytes_written"]), "bytes"),
            "files_written": (med(state["files_written"]), "count"),
            "compactions": (state["compactions"], "count"),
            "tombstones": (sum(len((store._manifest(t) or {}).get("deletes", []))
                               for t in ("nodes", "edges")), "count"),
        }

    def layers(self, summary, tracer, per_name) -> dict[str, float]:
        names = {
            "round_s": "pipeline.sync.round.s", "write_amp": "store.write_amp",
            "space_amp": "store.space_amp", "bytes_written": "store.bytes_written",
            "files_written": "store.files_written", "tombstones": "store.tombstones",
            "compactions": "store.maybe_compact.compactions",
        }
        return {layer: summary[k][0] for k, layer in names.items()}


# ====================================================================== graph

class Graph:
    """Iterative operators on graphs extracted in set-up.

    No warm-up: the operators' cost is per-job overhead (planning,
    codegen, scheduling) that a batch run pays from its first call, and
    a warm-up on a tiny graph costs as much as the operation itself."""

    name = "graph"
    item = "edges"
    UNIVERSE = Build.UNIVERSE
    LINK_PAGES = 3500
    MENTION_PAGES = 150
    K = 6
    WALK_LEN = 2
    PR_ITERS = 2

    def shared(self, ctx) -> Path:
        return I.pages_universe(ctx, self.UNIVERSE)

    def inputs(self, ctx) -> None:
        self.src = I.build_graphs(ctx.cache, self.shared(ctx), ctx.seed, self.LINK_PAGES,
                                  self.MENTION_PAGES)
        links = pq.read_table(self.src / "links.parquet").to_pydict()
        self.links = list(zip(links["src"], links["dst"]))
        hosts = pq.read_table(self.src / "hosts.parquet").to_pydict()
        self.hosts = list(zip(hosts["src"], hosts["dst"]))
        ment = pq.read_table(self.src / "mentions.parquet").to_pydict()
        self.mentions = list(zip(ment["src"], ment["dst"]))
        self.n_edges = len(self.links) + len(self.hosts) + len(self.mentions)
        self.expect = self._expectations()

    def _expectations(self) -> dict:
        und = [(a, b) for a, b in self.mentions if a != b]
        cc = _union_find_min(und)
        link_nodes = {x for e in self.links for x in e}
        # k-core by peeling the distinct undirected edge set
        adj: dict = defaultdict(set)
        for a, b in und:
            adj[a].add(b)
            adj[b].add(a)
        alive = set(adj)
        while True:
            low = {v for v in alive if len(adj[v] & alive) < self.K}
            if not low:
                break
            alive -= low
        core = {v: len(adj[v] & alive) for v in alive if adj[v] & alive}
        return {"cc": cc, "link_nodes": link_nodes, "kcore": core,
                "scc": _scc_min(self.hosts), "mention_edges": set(self.mentions)}

    def prepare(self, ctx):
        dst = ctx.run_dir / "graphs"
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(self.src, dst)
        return {"dir": dst}

    def op(self, ctx, state):
        from pyspark.sql import functions as F

        from cartography_spark.operators import components, embedding, graphrank

        sp = ctx.spark
        d = state["dir"]
        links = sp.read.parquet(str(d / "links.parquet"))
        link_nodes = links.select(F.col("src").alias("id")).union(
            links.select(F.col("dst").alias("id"))).distinct()
        hosts = sp.read.parquet(str(d / "hosts.parquet"))  # host -> host, one row per link
        host_nodes = hosts.select(F.col("src").alias("id")).union(
            hosts.select(F.col("dst").alias("id"))).distinct()
        mentions = sp.read.parquet(str(d / "mentions.parquet"))
        out = {}
        with ctx.span("operators.connected_components"):
            out["cc"] = components.connected_components(mentions).collect()
        with ctx.span("operators.pagerank"):
            out["pr"] = graphrank.pagerank(link_nodes, links, iterations=self.PR_ITERS).collect()
        with ctx.span("operators.strongly_connected_components"):
            out["scc"] = graphrank.strongly_connected_components(host_nodes, hosts).collect()
        with ctx.span("operators.k_core"):
            out["kcore"] = graphrank.k_core(mentions, self.K).collect()
        with ctx.span("operators.node2vec_walks"):
            out["walks"] = embedding.node2vec_walks(mentions, walk_len=self.WALK_LEN).collect()
        return out

    def items(self, state) -> int:
        return self.n_edges

    def check(self, ctx, state, out) -> list[str]:
        e = self.expect
        errors = []
        cc = {r["id"]: r["component"] for r in out["cc"]}
        if cc != e["cc"]:
            errors.append("graph: CC labels are not the per-component minimum")
        pr = {r["id"]: r["pagerank"] for r in out["pr"]}
        if set(pr) != e["link_nodes"] or abs(sum(pr.values()) - 1.0) > 1e-6:
            errors.append(f"graph: PageRank covers {len(pr)} nodes, sums to {sum(pr.values())}")
        if {r["id"]: r["scc"] for r in out["scc"]} != e["scc"]:
            errors.append("graph: SCC labels differ from Kosaraju's")
        if {r["id"]: r["deg"] for r in out["kcore"]} != e["kcore"]:
            errors.append("graph: k-core differs from peeling")
        walks = defaultdict(dict)
        for r in out["walks"]:
            walks[r["walk"]][r["step"]] = r["id"]
        n_nodes = len({x for edge in e["mention_edges"] for x in edge})
        bad = sum(
            (w[t - 1], w[t]) not in e["mention_edges"]
            for w in walks.values() for t in w if t > 0
        )
        if bad or len(walks) != n_nodes:
            errors.append(f"graph: {bad} walk steps are not edges; {len(walks)} walks")
        return errors


def _scc_min(edges) -> dict:
    """node -> minimum member of its strongly connected component."""
    fwd, rev = defaultdict(set), defaultdict(set)
    for a, b in edges:
        fwd[a].add(b)
        rev[b].add(a)

    def reach(v, adj):
        seen, todo = {v}, [v]
        while todo:
            for y in adj[todo.pop()]:
                if y not in seen:
                    seen.add(y)
                    todo.append(y)
        return seen

    scc: dict = {}
    for v in sorted({x for e in edges for x in e}):
        if v not in scc:
            members = reach(v, fwd) & reach(v, rev)
            for m in members:
                scc[m] = min(members)
    return scc


# ===================================================================== curate

class Curate:
    """Near-duplicate detection and entity linking over seeded documents.

    No warm-up, for the same reason as ``Graph``."""

    name = "curate"
    item = "docs"
    DOCS = 800
    PATCHES = [
        ("cartography_spark.operators.dedup", "minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs"),
        ("cartography_spark.operators.components", "connected_components",
         "operators.connected_components"),
    ]

    def inputs(self, ctx) -> None:
        self.src = I.build_documents(ctx.cache, ctx.seed, self.DOCS)
        t = pq.read_table(self.src)
        self.text = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        # Per-document exact features for the checks, computed on demand once.
        self.gram3 = functools.cache(lambda d: _char_grams(self.text[d].lower(), 3))
        self.word4 = functools.cache(lambda d: _word_grams(self.text[d], 4))
        self.sketch = functools.cache(
            lambda d: sorted({xxh64(g.encode()) for g in self.word4(d)})[:16])
        self.simhash = functools.cache(lambda d: _simhash_arrow2(self.text[d]))

    def prepare(self, ctx):
        dst = ctx.run_dir / "docs"
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(self.src, dst)
        return {"dir": str(dst), "containment_precision": []}

    def op(self, ctx, state):
        from pyspark.sql import functions as F

        from cartography_spark.operators import components, dedup
        from cartography_spark.pipeline import linking

        docs = ctx.spark.read.parquet(state["dir"])
        out = {}
        with ctx.span("operators.dedup.minhash_lsh_pairs"):
            out["minhash"] = dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", shingle_n=3, num_hashes=32, bands=4,
                threshold=0.8, family="arrow", max_bucket=500,
            ).collect()
        with ctx.span("operators.dedup.simhash_pairs"):
            out["simhash"] = dedup.simhash_pairs(
                docs, "doc_id", "text", shingle_n=3, max_hamming=3, engine="arrow2"
            ).collect()
        with ctx.span("operators.dedup.containment_pairs"):
            out["containment"] = dedup.containment_pairs(
                docs, "doc_id", "text", shingle_n=4, k=16, threshold=0.5,
                shingle_mode="word", family="xxhash64",
            ).collect()
        with ctx.span("pipeline.linking.candidate_pairs"):
            pairs = linking.candidate_pairs(
                docs, "doc_id", "text", threshold=0.6, num_hashes=32, bands=4, family="arrow"
            ).localCheckpoint()
            out["pairs"] = pairs.collect()
        with ctx.span("operators.canonicalize"):
            nodes = docs.select(F.col("doc_id").alias("id"))
            out["canon"] = components.canonicalize(nodes, pairs, "id").collect()
        return out

    def items(self, state) -> int:
        return self.DOCS

    def check(self, ctx, state, out) -> list[str]:
        errors = []

        def jac(a, b):
            ga, gb = self.gram3(a), self.gram3(b)
            inter = len(ga & gb)
            return inter / (len(ga) + len(gb) - inter)

        for name, rows, thr in (("minhash", out["minhash"], 0.8), ("linking", out["pairs"], 0.6)):
            a_col, b_col = ("id_a", "id_b") if name == "minhash" else ("src", "dst")
            bad = sum(
                abs(jac(r[a_col], r[b_col]) - r["jaccard"]) > 5e-5 or r["jaccard"] < thr
                for r in rows
            )
            if bad or not rows:
                errors.append(f"curate: {bad}/{len(rows)} {name} pairs fail exact Jaccard")
        bad = 0
        for r in out["simhash"]:
            h = bin((self.simhash(r["id_a"]) ^ self.simhash(r["id_b"])) & ((1 << 64) - 1)).count("1")
            bad += h != r["hamming"] or h > 3
        if bad or not out["simhash"]:
            errors.append(f"curate: {bad}/{len(out['simhash'])} simhash pairs fail recomputation")
        bad = exact_ok = 0
        for r in out["containment"]:
            ga, gb = self.word4(r["id_a"]), self.word4(r["id_b"])
            c_ab, c_ba = _containment_estimate(self.sketch(r["id_a"]), self.sketch(r["id_b"]))
            bad += (
                abs(c_ab - r["containment_ab"]) > 5e-5 or abs(c_ba - r["containment_ba"]) > 5e-5
                or max(r["containment_ab"], r["containment_ba"]) < 0.5
            )
            inter = len(ga & gb)
            exact_ok += max(inter / len(ga), inter / len(gb)) >= 0.5
        if bad or not out["containment"]:
            errors.append(f"curate: {bad}/{len(out['containment'])} containment pairs fail "
                          "sketch recomputation")
        state["containment_precision"].append(exact_ok / max(len(out["containment"]), 1))
        comp = _union_find_min([(r["src"], r["dst"]) for r in out["pairs"]], self.text)
        canon = {r["id"]: r["canonical_id"] for r in out["canon"]}
        if canon != comp:
            errors.append("curate: canonical ids are not component minima")
        return errors

    def summary(self, ctx, state) -> dict:
        return {"containment_precision": (statistics.median(state["containment_precision"]),
                                          "ratio")}

    def layers(self, summary, tracer, per_name) -> dict[str, float]:
        return {"operators.dedup.containment_pairs.precision":
                summary["containment_precision"][0]}


def _char_grams(s: str, n: int) -> frozenset:
    """Distinct char n-grams, as the arrow MinHash family shingles."""
    return frozenset(s[i:i + n] for i in range(max(len(s) - (n - 1), 1)))


def _word_grams(text: str, n: int) -> frozenset:
    """Distinct space-joined word n-grams (``word_shingles``)."""
    w = text.split(" ")
    return frozenset(" ".join(w[i:i + n]) for i in range(max(len(w) - (n - 1), 1)))


def _containment_estimate(sk_a: list[int], sk_b: list[int], k: int = 16) -> tuple[float, float]:
    """``containment_pairs``' bottom-k estimator: over the k smallest
    hashes of the union, the share of each side's sample the other
    side also holds."""
    ku = set(sorted(set(sk_a) | set(sk_b))[:k])
    ka, kb = ku & set(sk_a), ku & set(sk_b)
    both = len(ka & set(sk_b))
    return (round(both / len(ka), 4) if ka else 0.0, round(both / len(kb), 4) if kb else 0.0)


def _simhash_arrow2(text: str, n: int = 3) -> int:
    """64-bit SimHash as ``engine="arrow2"`` defines it: per distinct
    lowercased char n-gram, the big-endian first 8 bytes of its md5; bit
    set where at least half the n-grams have it; signed long."""
    grams = _char_grams(text.lower(), n)
    hs = np.array([int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "big") for g in grams],
                  dtype=np.uint64)
    val = 0
    for bit in range(63, -1, -1):
        ones = int(((hs >> np.uint64(bit)) & np.uint64(1)).sum())
        val = (val << 1) | (ones * 2 >= len(hs))
    return val - (1 << 64) if val >= (1 << 63) else val


class Analyze:
    """``graph`` and ``curate`` as one operation, on the same inputs.

    Both are bound by per-job overhead paid from a cold start; one
    process for the two saves a session start and shares the JIT warm-up,
    which keeps a full measurement campaign within its time budget."""

    name = "analyze"
    item = "rows"
    PATCHES = Curate.PATCHES

    def __init__(self):
        self.graph, self.curate = Graph(), Curate()

    def shared(self, ctx) -> Path:
        return self.graph.shared(ctx)

    def inputs(self, ctx) -> None:
        self.graph.inputs(ctx)
        self.curate.inputs(ctx)

    def prepare(self, ctx):
        return {"graph": self.graph.prepare(ctx), "curate": self.curate.prepare(ctx)}

    def op(self, ctx, state):
        return {"graph": self.graph.op(ctx, state["graph"]),
                "curate": self.curate.op(ctx, state["curate"])}

    def items(self, state) -> int:
        """Graph edges plus documents."""
        return self.graph.items(state["graph"]) + self.curate.items(state["curate"])

    def check(self, ctx, state, out) -> list[str]:
        return (self.graph.check(ctx, state["graph"], out["graph"])
                + self.curate.check(ctx, state["curate"], out["curate"]))

    def summary(self, ctx, state) -> dict:
        return self.curate.summary(ctx, state["curate"])

    def layers(self, summary, tracer, per_name) -> dict[str, float]:
        return self.curate.layers(summary, tracer, per_name)


WORKLOADS = {w.name: w for w in (Build, Sync, Graph, Curate, Analyze)}
