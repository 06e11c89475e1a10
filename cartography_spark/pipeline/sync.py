"""Sync orchestration: Get -> Transform -> Load -> Cleanup.

Re-expression of the reference's sync lifecycle:

- :func:`load` is the hot path — the analog of
  ``cartography/client/core/tx.py:283-303`` (``load``): empty-input
  short-circuit (``tx.py:298-300``), schema-compiled node upsert, and one
  edge upsert covering every declared relationship. Batching
  (``tx.py:231``: 10k dicts per transaction) becomes partition-parallel
  writes. A load is ONE store transaction, the analog of the reference's
  one ``tx`` per load: the node and edge merges stage their writes
  concurrently (independent Spark jobs overlap on the executors) and
  publish with one commit, so a load is all-or-nothing and bumps the
  store version once.
- :class:`Sync` is the analog of ``cartography/sync.py:126-156``: named
  stages run sequentially in declared order, each stamped with the run's
  ``update_tag`` (epoch seconds, ``sync.py:280-282``); a stage ledger makes
  the run **resumable** — a rerun with the same update_tag skips stages that
  already committed (per-stage lineage via the store's version pointer +
  metrics rows).

Scale: the per-tenant Python loop of the reference
(``intel/aws/__init__.py:173-248``) is replaced by the ``scope_id`` column —
all tenants flow through one partitioned plan.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from functools import partial, reduce
from typing import Any, Callable, Mapping, Sequence

from pyspark.sql import DataFrame

from cartography_spark.schema.compiler import (
    compile_edge_updates,
    compile_matchlink,
    compile_node_updates,
)
from cartography_spark.schema.nodes import NodeSchema
from cartography_spark.schema.relationships import MatchLinkSchema, RelSchema
from cartography_spark.store.graphstore import GraphStore, _concurrently


def load(
    store: GraphStore,
    schema: NodeSchema,
    df: DataFrame,
    update_tag: int,
    selected_rels: Sequence[RelSchema] | None = None,
    **params: Any,
) -> dict[str, int]:
    """Schema-driven ingest of one DataFrame of items, as ONE store
    transaction (:meth:`GraphStore.transaction`): the node merge and the
    edge merge stage concurrently and publish together, one pointer-seq
    bump per load. A concurrent commit re-runs the whole load against
    the new snapshot, up to the store's commit-retry bound.

    The edge matcher join reads the pre-load node snapshot, unless a rel
    targets the label this load writes (a self-referencing rel, e.g.
    Page LINKS_TO Page): then the edge merge waits for the node merge
    and matches against the staged nodes, as a node-then-edge sequence
    would. Empty input (reference short-circuit ``tx.py:298-300``)
    commits nothing and records nothing: the merges observe zero rows,
    so the transaction stages nothing."""
    df = df.cache()  # consumed by the node plan + every edge plan
    try:
        node_counters, edge_counters = store._transact(
            partial(_load_once, store, schema, df, update_tag, selected_rels, params)
        )
    finally:
        df.unpersist()
    return {
        "created": node_counters["created"],
        "updated": node_counters["updated"],
        "edges": edge_counters.get("created", 0) + edge_counters.get("updated", 0),
    }


def _load_once(
    store: GraphStore,
    schema: NodeSchema,
    df: DataFrame,
    update_tag: int,
    selected_rels: Sequence[RelSchema] | None,
    params: Mapping[str, Any],
) -> tuple[dict[str, int], dict[str, int]]:
    """One attempt of :func:`load` inside its open transaction."""
    merge_nodes = partial(store.merge_nodes, compile_node_updates(schema, df, params), update_tag)

    def merge_edges(nodes: DataFrame) -> dict[str, int]:
        plans = compile_edge_updates(schema, df, nodes, params, selected_rels)
        if not plans:
            return {}
        # Independent per-rel joins unioned into ONE edge merge: keeps the
        # reference's CALL{} isolation semantics while paying a single
        # decomposed MERGE (broadcast-able LEFT OUTER update pass + key-only
        # ANTI create pass, bucket-scoped read/rewrite) against the edge
        # table instead of one merge per rel plan.
        return store.merge_edges(reduce(lambda a, b: a.unionByName(b), plans), update_tag)

    rels = schema.all_relationships if selected_rels is None else selected_rels
    if any(r.target_node_label == schema.label for r in rels):
        node_counters = merge_nodes()
        if not node_counters["rows_total"]:
            return node_counters, {}
        return node_counters, merge_edges(store.read_nodes())
    node_counters, edge_counters = _concurrently(
        merge_nodes, partial(merge_edges, store.read_nodes())
    )
    return node_counters, edge_counters


def load_matchlink(
    store: GraphStore,
    link: MatchLinkSchema,
    df: DataFrame,
    update_tag: int,
    scope_id: str,
    **params: Any,
) -> dict[str, int]:
    """Standalone rel ingest between two existing node sets (J7), as one
    store transaction like :func:`load` (empty input commits nothing)."""

    def merge() -> dict[str, int]:
        nodes = store.read_nodes()
        edges = compile_matchlink(link, df, nodes, params, scope_id=scope_id)
        return store.merge_edges(edges, update_tag)

    c = store._transact(merge)
    return {"edges": c["created"] + c["updated"]}


@dataclass
class Stage:
    name: str
    fn: Callable[..., Any]  # fn(store, update_tag, **params)


@dataclass
class Sync:
    store: GraphStore
    stages: list[Stage] = field(default_factory=list)

    def add_stage(self, name: str, fn: Callable[..., Any]) -> None:
        self.stages.append(Stage(name, fn))

    def _ledger_path(self) -> str:
        return os.path.join(self.store.root, "SYNC_LEDGER.json")

    def _ledger(self) -> dict:
        p = self._ledger_path()
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {}

    def _mark_done(self, update_tag: int, name: str) -> None:
        led = self._ledger()
        led.setdefault(str(update_tag), []).append(name)
        tmp = self._ledger_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(led, f)
        os.replace(tmp, self._ledger_path())

    def run(
        self,
        update_tag: int | None = None,
        params: Mapping[str, Any] | None = None,
        resume: bool = True,
        best_effort: bool = False,
    ) -> dict[str, Any]:
        """Run stages in declared order (reference: OrderedDict stage order,
        ``sync.py:54-88``; any stage exception aborts, ``sync.py:148-153`` —
        ``best_effort=True`` instead aggregates per-stage errors like the
        reference's multi-account loop, ``intel/aws/__init__.py:222-238``)."""
        if update_tag is None:
            update_tag = int(time.time())
        done = set(self._ledger().get(str(update_tag), [])) if resume else set()
        results: dict[str, Any] = {"update_tag": update_tag, "stages": {}}
        errors: dict[str, str] = {}
        for stage in self.stages:
            if stage.name in done:
                results["stages"][stage.name] = "skipped(resume)"
                continue
            try:
                out = stage.fn(self.store, update_tag, **(dict(params) if params else {}))
                results["stages"][stage.name] = out
                self._mark_done(update_tag, stage.name)
            except Exception as e:  # noqa: BLE001
                if not best_effort:
                    raise
                errors[stage.name] = repr(e)
        if errors:
            results["errors"] = errors
        return results
