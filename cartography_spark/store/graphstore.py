"""Manifest-versioned parquet property-graph store with partial-rewrite
MERGE and merge-on-read deletes — the single-node analog of an Iceberg
table (no Iceberg runtime jar ships in this environment; the layout
below reproduces its two load-bearing properties: merges rewrite only
touched partitions, deletes are row-level tombstone files folded in at
read time).

This is the engine's sink layer — the re-expression of the reference's
batched idempotent ``UNWIND … MERGE`` writes
(``cartography/client/core/tx.py:216-237``, generated query
``cartography/graph/querybuilder.py:427-487``) and its staleness cleanup
(``cartography/graph/cleanupbuilder.py``).

Layout::

    <root>/CURRENT                      # JSON pointer {nodes: vN, edges: vM, seq}
    <root>/manifests/nodes/v000N.json   # partition map + delete-file list
    <root>/data/nodes/v000N/label=X/__bucket=B/  # parquet, written once, immutable
    <root>/deletes/nodes/v000N/         # parquet of (label,id) tombstone keys
    <root>/metrics/                     # append-only parquet, one row per op

Within every label (rel_label) partition the rows are HASH-BUCKETED on
the non-partition part of the merge key (``pmod(xxhash64(id), N)`` for
nodes, ``xxhash64(src, dst)`` for edges) into ``__bucket=B`` sub-dirs.
A manifest pins, per (partition value, bucket), the immutable data
directory that holds it plus the seq at which that directory was
written — buckets of one partition evolve INDEPENDENTLY — and a list
of delete files each with its own seq (Iceberg sequence-number
semantics: a delete applies to rows from data files OLDER than it, so a
key deleted then re-merged is NOT re-deleted at read time).

- ``merge_nodes`` / ``merge_edges`` read ONLY the (partition, bucket)
  groups containing the update's keys, merge, and rewrite ONLY those
  buckets; every other bucket carries forward by manifest reference —
  zero copy. Merge cost is proportional to touched BUCKETS, not label
  size: a web-scale KG has few, huge labels (Page/Entity; one dominant
  MENTIONS rel_label), so the round-4 whole-label rewrite unit was the
  table — with bucketing a k-row sync batch re-materializes at most
  min(k, N) buckets ≈ k/N of the label (Iceberg's file-level
  copy-on-write analog; the reference's is index-selective row MERGE,
  ``querybuilder.py:427-487`` + auto-indexes). The bucket count is
  fixed per table at first write (``bucket_count`` in the manifest,
  default :attr:`GraphStore.n_buckets`) so old and new rows of a key
  always co-locate; a FULL compaction (``compact(full=True)``) may
  re-bucket. Local tests default to 16; size N for the target scale
  (label_bytes / N ≈ a few GB, e.g. 1024-4096 at 100 TB).
- ``sweep`` writes tombstone key files (merge-on-read DELETE) — no
  table rewrite at all. ``compact`` folds tombstones into a fresh full
  snapshot.
- Every mutation writes a new manifest and atomically swaps the CURRENT
  pointer (os.replace) — snapshot isolation + time travel, which is
  what drift detection (§2.7 X2) and resume read.
- Commits are OPTIMISTICALLY CONCURRENT: the pointer swap is a
  compare-and-swap on the seq the mutation's snapshot was read at,
  under a cross-process file lock; a losing writer gets
  :class:`CommitConflict` and retries against the winner's snapshot,
  so no commit is ever silently lost (Iceberg's commit protocol; the
  reference gets this from Neo4j ACID transactions,
  ``client/core/tx.py:178-213``). CURRENT carries a ``format`` field
  (:data:`STORE_FORMAT`) so incompatible layouts fail fast.
- :meth:`GraphStore.transaction` groups several mutations into ONE
  commit: inside it every mutation stages its (version, manifest)
  instead of swapping the pointer, reads see the staged manifests, and
  the exit publishes everything with one CAS against the seq read at
  entry — ``pipeline.sync.load`` is one transaction (node and edge
  merges), the reference's one ``tx`` per load.

On a real deployment both tables are Iceberg and ``merge_nodes`` is
``MERGE INTO nodes t USING s ON t.label=s.label AND t.id=s.id`` with
merge-on-read position/equality deletes — the plans below are exactly
what that executes. Two single-node stand-ins to swap there: the JSON
manifest (at labels x 4096 buckets it reaches tens of MB per commit —
Iceberg stores the same per-file metadata as avro manifest trees with
partial reuse) and the flock'd CURRENT pointer (Iceberg uses the
catalog's atomic swap). Neither changes any plan shape below.

MERGE semantics (exact reference contract):
- keyed by (label, id) for nodes / (src, dst, rel_label) for edges;
- ``firstseen`` set only on create (``querybuilder.py:450-459``), never
  touched on update;
- ``lastupdated`` stamped with the run's update_tag on every touch
  (``models/core/nodes.py:20-21``);
- declared props overwrite, undeclared props are retained (MERGE's SET
  only touches declared keys — map_concat LAST_WIN);
- ``id`` is never re-SET (``querybuilder.py:59-61``) — it is the join key.

Cleanup semantics are null-safe: rows whose ``scope_id`` or
``lastupdated`` is NULL never match a stale predicate and are KEPT
(Cypher's ``n.x <> $v`` does not match NULL — the reference never
deletes such rows either).
"""

from __future__ import annotations

import contextvars
import copy
import fcntl
import functools
import json
import operator
import os
import time
import urllib.parse
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T
from pyspark.sql.window import Window
from pyspark.util import InheritableThread

#: On-disk layout version, stamped into CURRENT. Bumped when the layout
#: breaks (v3 = hash-bucketed partitions: manifest entries are
#: per-(partition, bucket) file groups; v2 = manifests + data/ dirs +
#: metrics.jsonl + md5 watermark keys; the pre-manifest layout had no
#: format field at all). A store written by a different format fails
#: fast with a clear error instead of a FileNotFoundError or a silent
#: full re-read.
STORE_FORMAT = 3

_COMMIT_RETRIES = 5


class CommitConflict(Exception):
    """Another writer committed between this writer's snapshot read and
    its pointer swap (optimistic concurrency, Iceberg-style). Mutation
    ops catch this and retry against the new current snapshot."""


class StoreFormatError(Exception):
    """CURRENT was written by an incompatible store layout version."""


@dataclass
class _Transaction:
    """One open :meth:`GraphStore.transaction`: the snapshot seq it
    builds on, the (version, manifest) staged per table, and the
    metrics rows to append once the commit lands. Concurrent stagers
    write distinct tables (dict item assignment and list append are
    atomic under the GIL)."""

    seq: int
    staged: dict[str, tuple[str, dict]] = field(default_factory=dict)
    metrics: list[dict] = field(default_factory=list)


#: The open transactions, per store handle. A context variable, so a
#: transaction is visible to the code that opened it and to the threads
#: ``_concurrently`` starts for it, and to nothing else.
_OPEN_TXNS: contextvars.ContextVar[dict] = contextvars.ContextVar("graphstore_txns", default={})


def _concurrently(*fns: Callable[[], Any]) -> list[Any]:
    """Run ``fns`` on threads of their own and return their results in
    order. Each thread inherits the caller's Spark local properties
    (job group, scheduler pool — ``InheritableThread``) and a copy of its
    context variables (the open store transaction), so its jobs are
    attributed to the caller and its writes stage into the caller's
    transaction. Every thread is joined before the first error, if any,
    is re-raised."""
    if len(fns) == 1:
        return [fns[0]()]
    results: list[Any] = [None] * len(fns)
    errors: list[BaseException | None] = [None] * len(fns)

    def run(i: int) -> None:
        try:
            results[i] = fns[i]()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            errors[i] = e

    threads = [
        InheritableThread(contextvars.copy_context().run, args=(run, i))
        for i in range(len(fns))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results

NODES_SCHEMA = T.StructType(
    [
        T.StructField("label", T.StringType(), False),
        T.StructField("id", T.StringType(), False),
        T.StructField("extra_labels", T.ArrayType(T.StringType()), True),
        T.StructField("scope_id", T.StringType(), True),
        T.StructField("firstseen", T.TimestampType(), True),
        T.StructField("lastupdated", T.LongType(), True),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

EDGES_SCHEMA = T.StructType(
    [
        T.StructField("rel_label", T.StringType(), False),
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("src_label", T.StringType(), True),
        T.StructField("dst_label", T.StringType(), True),
        T.StructField("scope_id", T.StringType(), True),
        T.StructField("firstseen", T.TimestampType(), True),
        T.StructField("lastupdated", T.LongType(), True),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

_NODE_KEY = ["label", "id"]
_EDGE_KEY = ["rel_label", "src", "dst"]
_PARTITION_COL = {"nodes": "label", "edges": "rel_label"}
_KEY = {"nodes": _NODE_KEY, "edges": _EDGE_KEY}
_SCHEMA = {"nodes": NODES_SCHEMA, "edges": EDGES_SCHEMA}
#: Non-partition part of the merge key — the in-partition bucketing key.
#: MUST be a pure function of the merge key so a key's old and new rows
#: always land in the same bucket.
_BUCKET_COLS = {"nodes": ["id"], "edges": ["src", "dst"]}


def _is_stale(pred: F.Column) -> F.Column:
    """Null-safe stale filter: rows where ``pred`` is NULL are NOT
    stale (kept) — Cypher ``<>`` null semantics, which the reference's
    cleanup WHERE clauses inherit."""
    return F.coalesce(pred, F.lit(False))


def merge_frames(
    old: DataFrame,
    new: DataFrame,
    key: list[str],
    cols: list[str],
    update_tag: int,
    with_flags: bool = False,
) -> DataFrame:
    """The pure MERGE plan (U1/U2 semantics) as a DataFrame op:
    full-outer join on ``key``; ``firstseen`` preserved on update, set to
    the run timestamp on create; ``lastupdated`` stamped only on touched
    rows; ``props`` merged LAST_WIN (declared keys overwrite, undeclared
    retained). ``new`` must already have unique keys. Extracted from the
    store so query plans can reuse MERGE semantics without a write —
    on Iceberg this exact plan is what MERGE INTO executes.

    ``with_flags=True`` appends boolean ``__created`` / ``__updated``
    columns so the caller can harvest counters from the SAME pass via
    ``Observation`` (no extra job — the flags ride the same plan).

    Plan shape (the 100 TB story): a MERGE written as one FULL OUTER
    join can NEVER broadcast — Spark has no broadcast strategy for full
    outer, so both sides shuffle, i.e. every sync would shuffle the
    touched stored partitions in full. Decomposed instead as

      (old LEFT OUTER new)   -- update-in-place pass
      UNION ALL
      (new LEFT ANTI old.key)  -- create pass

    the dominant pass becomes broadcast-able: with a typical small sync
    batch Catalyst/AQE broadcasts ``new`` and the STORED ROWS NEVER
    SHUFFLE (scan -> broadcast-hash-join -> write). The create pass
    anti-joins against a KEY-ONLY projection of ``old`` (column-pruned
    scan), so even when it shuffles it moves keys, not row payloads.
    When ``new`` is large both passes degrade to ordinary shuffled
    joins — the same cost full_outer always paid. ``new`` is evaluated
    twice (once per pass): callers pass a cheap/small update plan."""
    run_ts = F.to_timestamp(F.from_unixtime(F.lit(int(update_tag))))
    new = new.withColumn("__new", F.lit(True))
    j = old.alias("o").join(new.alias("n"), key, "left_outer")
    is_new = F.col("n.__new").isNotNull()  # matched -> update-in-place

    def merged(c: str) -> F.Column:
        if c in key:
            return F.col(c)
        if c == "firstseen":
            return F.coalesce(F.col("o.firstseen"), run_ts).alias(c)
        if c == "lastupdated":
            return (
                F.when(is_new, F.lit(int(update_tag))).otherwise(F.col("o.lastupdated")).alias(c)
            )
        if c == "props":
            # new-wins merge WITHOUT duplicate keys by construction:
            # old keys shadowed by the update are filtered out before
            # the concat, so the semantics hold under ANY
            # spark.sql.mapKeyDedupPolicy. merge_frames is exported for
            # standalone plan reuse, where relying on the LAST_WIN conf
            # GraphStore.__init__ sets would throw (default EXCEPTION)
            # or silently invert the overwrite contract (FIRST_WIN) on
            # any updated prop. Maps here are small declared-props
            # dicts, so the interpreted map_filter is not a hot-loop
            # array recompute (the PLANS.md HOF caveat targets those).
            o_props = F.coalesce(F.col("o.props"), F.expr("map()"))
            n_props = F.coalesce(F.col("n.props"), F.expr("map()"))
            return (
                F.when(
                    is_new,
                    F.map_concat(
                        F.map_filter(
                            o_props,
                            lambda k, _v: ~F.array_contains(F.map_keys(n_props), k),
                        ),
                        n_props,
                    ),
                )
                .otherwise(F.col("o.props"))
                .alias(c)
            )
        return (
            F.when(is_new, F.coalesce(F.col(f"n.{c}"), F.col(f"o.{c}")))
            .otherwise(F.col(f"o.{c}"))
            .alias(c)
        )

    upd = [merged(c) for c in cols]
    if with_flags:
        upd.append(F.lit(False).alias("__created"))
        upd.append(is_new.alias("__updated"))
    updated = j.select(*upd)

    def created_col(c: str) -> F.Column:
        if c == "firstseen":
            return run_ts.alias(c)
        if c == "lastupdated":
            return F.lit(int(update_tag)).cast("long").alias(c)
        return F.col(c).alias(c)

    cre = [created_col(c) for c in cols]
    if with_flags:
        cre.append(F.lit(True).alias("__created"))
        cre.append(F.lit(False).alias("__updated"))
    created = new.join(old.select(*key), key, "left_anti").select(*cre)
    return updated.unionByName(created)


class GraphStore:
    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16):
        self.spark = spark
        self.root = root
        #: In-partition hash-bucket count used for NEW tables (and full
        #: re-bucketing compactions). Existing tables keep the
        #: ``bucket_count`` their manifest pins — merges must bucket
        #: exactly as the stored data is bucketed. Size for the target
        #: scale: label_bytes / n_buckets ≈ a few GB per bucket.
        self.n_buckets = int(n_buckets)
        os.makedirs(root, exist_ok=True)
        # Declared-props-overwrite semantics rely on LAST_WIN map merge.
        spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")

    # ---------- bucket helpers ----------

    def _bucket_count(self, manifest: dict | None) -> int:
        """The bucket count this table's data is laid out with — the
        manifest's pinned value, or ``self.n_buckets`` for a first
        write."""
        return int((manifest or {}).get("bucket_count") or self.n_buckets)

    @staticmethod
    def _bucket_col(table: str, n: int) -> F.Column:
        return F.pmod(F.xxhash64(*_BUCKET_COLS[table]), F.lit(int(n))).cast("int")

    @staticmethod
    def _entry_seqs(info: dict) -> list[int]:
        """All file-group seqs of one partition entry (one per bucket)."""
        return [b["seq"] for b in info["buckets"].values()]

    # ---------- version pointer / commit protocol ----------
    #
    # Optimistic concurrency (Iceberg-style): a mutation reads the
    # current pointer seq, builds its new data + manifest off-line, then
    # commits under an exclusive file lock IF AND ONLY IF the seq is
    # still the one it read (compare-and-swap). A concurrent commit in
    # between raises :class:`CommitConflict` and the op retries against
    # the new snapshot — no commit is ever silently last-wins-lost. The
    # reference gets the same guarantee from Neo4j ACID transactions
    # (``cartography/client/core/tx.py:178-213``). flock is per-fd, so
    # the mutual exclusion holds across threads AND processes.

    @contextmanager
    def _commit_lock(self):
        fd = os.open(os.path.join(self.root, ".lock"), os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _pointer(self) -> dict:
        p = os.path.join(self.root, "CURRENT")
        if not os.path.exists(p):
            return {"nodes": None, "edges": None, "seq": 0, "format": STORE_FORMAT}
        with open(p) as f:
            cur = json.load(f)
        if cur.get("format") != STORE_FORMAT:
            raise StoreFormatError(
                f"store at {self.root} has layout format {cur.get('format')!r}, "
                f"this engine reads format {STORE_FORMAT} — rebuild the store "
                "(no migration path from pre-manifest layouts)"
            )
        return cur

    def _allocate_version(self, table: str) -> str:
        """Allocate a globally unique, monotonically increasing version
        name for ``table`` under the commit lock, so racing writers never
        write to the same immutable data directory. Allocation is
        durable (counter file) — an aborted writer's version is simply
        orphaned and GC'd by ``expire_versions``."""
        with self._commit_lock():
            cpath = os.path.join(self.root, f".vcounter_{table}")
            used = 0
            if os.path.exists(cpath):
                with open(cpath) as f:
                    used = int(f.read().strip() or 0)
            used = max(used, int((self._pointer().get(table) or "v0")[1:]))
            n = used + 1
            tmp = cpath + ".tmp"
            with open(tmp, "w") as f:
                f.write(str(n))
            os.replace(tmp, cpath)
            return f"v{n:06d}"

    # ---------- manifests ----------

    def _manifest_path(self, table: str, version: str) -> str:
        return os.path.join(self.root, "manifests", table, f"{version}.json")

    def _manifest(self, table: str, version: str | None = None) -> dict | None:
        """The manifest of ``version``, else the current one — inside a
        transaction, the one it staged for ``table`` if any (a copy, so
        callers may edit it)."""
        txn = self._txn()
        if version is None and txn is not None and table in txn.staged:
            return copy.deepcopy(txn.staged[table][1])
        v = version or self._pointer().get(table)
        if v is None:
            return None
        with open(self._manifest_path(table, v)) as f:
            return json.load(f)

    # ---------- transactions ----------

    def _txn(self) -> _Transaction | None:
        return _OPEN_TXNS.get().get(self)

    def _seq(self) -> int:
        """The snapshot seq a mutation builds on: the open transaction's,
        else the pointer's. Read it BEFORE the manifest (see
        ``_merge_cached``)."""
        txn = self._txn()
        return txn.seq if txn is not None else self._pointer().get("seq", 0)

    @contextmanager
    def transaction(self):
        """Group mutations into one atomic commit (one pointer-seq bump).

        On entry the pointer seq is read. Inside, ``merge_nodes``,
        ``merge_edges``, the sweeps' tombstone writes and every other
        mutation of this store handle stage their (version, manifest)
        instead of committing, and reads of this handle see what is
        staged. On a normal exit everything staged is published with one
        CAS against the entry seq, and the mutations' metrics rows are
        appended; a transaction that staged nothing commits and records
        nothing. If the body raises, nothing is published (the data
        written so far is an orphan for ``expire_versions``). A
        concurrent commit makes the exit raise :class:`CommitConflict`:
        the caller re-runs the WHOLE unit against the new snapshot, as
        ``pipeline.sync.load`` does. Opening a transaction inside an
        open one (same handle) joins it.

        Work may fan out to threads started by ``_concurrently``; two
        staged writes to the SAME table must not run concurrently (the
        later one would not build on the earlier)."""
        if self._txn() is not None:
            yield
            return
        txn = _Transaction(self._pointer().get("seq", 0))
        token = _OPEN_TXNS.set({**_OPEN_TXNS.get(), self: txn})
        try:
            yield
        finally:
            _OPEN_TXNS.reset(token)
        if txn.staged:
            self._publish(txn.staged, txn.seq)
            self._append_metrics(txn.metrics)

    def _transact(self, unit: Callable[[], Any]) -> Any:
        """Run ``unit`` inside one :meth:`transaction` and return its
        result; when the commit meets a concurrent one, re-run the WHOLE
        unit against the new snapshot, up to ``_COMMIT_RETRIES`` times.
        Inside an open transaction the unit joins it, and a conflict
        surfaces at that transaction's exit instead."""
        last: CommitConflict | None = None
        for _ in range(_COMMIT_RETRIES):
            try:
                with self.transaction():
                    return unit()
            except CommitConflict as e:
                last = e
        raise last  # type: ignore[misc]

    def _commit_manifest(
        self, table: str, version: str, manifest: dict, expected_seq: int | None = None
    ) -> None:
        """Write manifest then CAS-swap the pointer (write-then-publish:
        readers of the old pointer never see a half-written manifest).
        ``expected_seq`` is the pointer seq this mutation's snapshot was
        read at; if another writer committed since, raises
        :class:`CommitConflict` (nothing published — the data/manifest
        files written so far are orphans for GC). Delete entries older
        than every live partition prune away."""
        self._commit_manifests({table: (version, manifest)}, expected_seq)

    def _commit_manifests(
        self, commits: dict[str, tuple[str, dict]], expected_seq: int | None = None
    ) -> None:
        """Atomically publish manifests for one or MORE tables in a
        single CAS pointer swap — a multi-table transaction (the sweep
        uses it so node tombstones and their DETACH edge tombstones
        become visible together, like the reference's single
        ``DETACH DELETE`` transaction). Inside an open
        :meth:`transaction` the manifests are staged instead; a pinned
        ``expected_seq`` other than the transaction's raises
        :class:`CommitConflict` at once."""
        txn = self._txn()
        if txn is None:
            self._publish(commits, expected_seq)
            return
        if expected_seq is not None and expected_seq != txn.seq:
            raise CommitConflict(
                f"commit of {sorted(commits)}: built on seq {expected_seq}, the "
                f"open transaction on seq {txn.seq} — retry from the new snapshot"
            )
        txn.staged.update(commits)

    def _publish(self, commits: dict[str, tuple[str, dict]], expected_seq: int | None) -> None:
        for _, manifest in commits.values():
            parts = manifest["partitions"]
            manifest["deletes"] = [
                d
                for d in manifest.get("deletes", [])
                if any(
                    s < d["seq"] for p in parts.values() for s in self._entry_seqs(p)
                )
            ]
        with self._commit_lock():
            cur = self._pointer()
            if expected_seq is not None and cur.get("seq", 0) != expected_seq:
                raise CommitConflict(
                    f"commit of {sorted(commits)}: pointer seq is "
                    f"{cur.get('seq', 0)}, expected {expected_seq} (concurrent "
                    "writer) — retry from the new snapshot"
                )
            for table, (version, manifest) in commits.items():
                path = self._manifest_path(table, version)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                tmp = path + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(manifest, f, indent=1)
                os.replace(tmp, path)
                cur[table] = version
            cur["seq"] = cur.get("seq", 0) + 1
            cur["format"] = STORE_FORMAT
            ptmp = os.path.join(self.root, "CURRENT.tmp")
            with open(ptmp, "w") as f:
                json.dump(cur, f)
            os.replace(ptmp, os.path.join(self.root, "CURRENT"))

    def node_versions(self) -> list[str]:
        d = os.path.join(self.root, "manifests", "nodes")
        return sorted(os.path.splitext(f)[0] for f in os.listdir(d)) if os.path.isdir(d) else []

    # ---------- reads ----------

    def _evolve_columns(
        self,
        manifest: dict | None,
        df: DataFrame,
        version: str,
        restrict_to_df: bool = False,
    ) -> dict:
        """The promoted-column evolution block every commit carries:
        ``columns`` (declared ``_p_`` columns), ``columns_seq`` (the
        version seq each was first declared at — gates the read-side
        props fallback), ``columns_types`` (Spark DDL type, fixed at
        first declaration). ``restrict_to_df=True`` is the compaction
        full-snapshot case where ``df`` IS the whole table; otherwise
        the declarations union with what the manifest already carries.
        Raises on a type conflict — schema evolution adds columns, it
        never retypes them."""
        man = manifest or {}
        df_promoted = {c for c in df.columns if c.startswith("_p_")}
        cols = sorted(
            df_promoted if restrict_to_df else set(man.get("columns", [])) | df_promoted
        )
        seqs = {c: s for c, s in man.get("columns_seq", {}).items() if c in cols}
        types = {c: t for c, t in man.get("columns_types", {}).items() if c in cols}
        for c in cols:
            seqs.setdefault(c, int(version[1:]))
            if c in df.columns:
                t = df.schema[c].dataType.simpleString()
                prev = types.setdefault(c, t)
                if prev != t:
                    raise ValueError(
                        f"promoted column {c} is declared {prev!r}; this write "
                        f"carries {t!r} — promoted columns are never retyped"
                    )
            else:
                types.setdefault(c, "string")
        return {"columns": cols, "columns_seq": seqs, "columns_types": types}

    @staticmethod
    def _promoted_type(manifest: dict, col: str) -> T.DataType:
        from pyspark.sql.types import _parse_datatype_string

        return _parse_datatype_string(
            manifest.get("columns_types", {}).get(col, "string")
        )

    @staticmethod
    def _with_promoted(schema: T.StructType, manifest: dict | None) -> T.StructType:
        """Extend a base table schema with the promoted matcher columns
        the manifest declares (``columns``) — the store's schema
        evolution. Promoted columns are typed top-level copies of
        matcher-key props (``_p_<name>``): parquet keeps min/max stats
        for them, so matcher lookups prune row-groups the way the
        reference's auto-created indexes serve matcher keys
        (``querybuilder.py:490-551``); ``element_at(props, k)`` gets no
        stats at all. Older data files lacking a later-promoted column
        read as NULL (parquet missing-column fill)."""
        if not manifest:
            return schema
        have = {f.name for f in schema.fields}
        extra = [
            T.StructField(c, GraphStore._promoted_type(manifest, c), True)
            for c in manifest.get("columns", [])
            if c not in have
        ]
        return T.StructType(list(schema.fields) + extra) if extra else schema

    def _empty(self, schema: T.StructType) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    def _read_manifest_df(
        self,
        table: str,
        schema: T.StructType,
        manifest: dict | None,
        only_partitions: list[str] | None = None,
        only_buckets: dict[str, set] | None = None,
    ) -> DataFrame:
        """Scan the (partition, bucket) file groups a manifest names,
        applying merge-on-read deletes. Bucket dirs written by the same
        version share a basePath, so each version-group is ONE multi-dir
        parquet scan (partition + bucket columns restored from the
        ``col=val`` dir names, filters/pruning pushed per scan); groups
        are unioned. Delete files apply only to groups with seq < delete
        seq — Iceberg sequence-number semantics.

        ``only_buckets`` maps partition value -> bucket ids to include
        (partitions absent from the map read all their buckets) — the
        merge passes the buckets its batch keys hash to, so untouched
        buckets are never scanned at all."""
        if manifest is None:
            return self._empty(schema)
        schema = self._with_promoted(schema, manifest)
        parts = manifest["partitions"]
        if only_partitions is not None:
            parts = {k: v for k, v in parts.items() if k in only_partitions}
        if not parts:
            return self._empty(schema)
        key = _KEY[table]
        key_schema = T.StructType([schema[k] for k in key])
        groups: dict[int, list[str]] = {}
        for pval, info in parts.items():
            allowed = None
            if only_buckets is not None and pval in only_buckets:
                allowed = {int(b) for b in only_buckets[pval]}
            for b, binfo in info["buckets"].items():
                if allowed is not None and int(b) not in allowed:
                    continue
                groups.setdefault(binfo["seq"], []).append(binfo["dir"])
        if not groups:
            return self._empty(schema)
        # __bucket rides the dir names; declare it so the user-specified
        # schema covers every partition-discovery column, then drop it.
        read_schema = T.StructType(
            list(schema.fields) + [T.StructField("__bucket", T.IntegerType(), True)]
        )
        col_seq = manifest.get("columns_seq", {})
        out: DataFrame | None = None
        for seq, dirs in sorted(groups.items()):
            base = os.path.join(self.root, "data", table, f"v{seq:06d}")
            df = (
                self.spark.read.option("basePath", base)
                .schema(read_schema)
                .parquet(*[os.path.join(self.root, d) for d in dirs])
                .drop("__bucket")
            )
            # Promoted-column fallback ONLY for file groups written
            # BEFORE the column was declared (their files lack it, the
            # schema fills NULL, but props holds the truth). Groups at or
            # after the declaration carry the write-invariant value, so
            # they read the bare column and filters on it stay PUSHABLE
            # into those scans.
            for c in manifest.get("columns", []):
                if seq < int(col_seq.get(c, 0)):
                    df = df.withColumn(
                        c,
                        F.coalesce(
                            F.col(c),
                            F.element_at(F.col("props"), c[len("_p_"):]).try_cast(
                                self._promoted_type(manifest, c)
                            ),
                        ),
                    )
            # Tombstones record the (partition, bucket) scope their keys
            # hash to (_prepare_deletes); a delete whose scope is
            # disjoint from THIS group's dirs cannot match any of its
            # rows, so its anti-join is dropped from the plan — e.g.
            # after sweeping one label, scans of file groups holding
            # only other labels read with no anti-join at all. Entries
            # without a recorded scope (none are written today) are
            # conservatively applied. Safe vs re-bucketing: the only
            # path that changes bucket_count is the full-snapshot
            # compaction, which folds and CLEARS deletes — so recorded
            # bucket ids always correspond to the live layout.
            group_pb = set()
            for dd in dirs:
                comps = dd.split("/")
                group_pb.add(
                    (
                        urllib.parse.unquote(comps[-2].split("=", 1)[1]),
                        int(comps[-1].split("=", 1)[1]),
                    )
                )

            def overlaps(d: dict) -> bool:
                bmap = d.get("buckets")
                if bmap is None:
                    return True
                return any(p in bmap and b in bmap[p] for p, b in group_pb)

            dels = [
                d
                for d in manifest.get("deletes", [])
                if d["seq"] > seq and overlaps(d)
            ]
            if dels:
                # Declared key schema: no schema-inference job per read.
                # Duplicate keys across tombstones cannot change an
                # anti-join, so they are not deduplicated.
                keys = self.spark.read.schema(key_schema).parquet(
                    *[os.path.join(self.root, d["path"]) for d in dels]
                )
                df = df.join(keys, key, "left_anti")
            out = df if out is None else out.unionByName(df)
        assert out is not None
        return out

    def _read(self, table: str, schema: T.StructType, version: str | None = None) -> DataFrame:
        return self._read_manifest_df(table, schema, self._manifest(table, version))

    def read_nodes(self, version: str | None = None) -> DataFrame:
        return self._read("nodes", NODES_SCHEMA, version)

    def read_edges(self, version: str | None = None) -> DataFrame:
        return self._read("edges", EDGES_SCHEMA, version)

    # ---------- writes ----------

    def _write_data(
        self, table: str, version: str, df: DataFrame, bucket_count: int | None = None
    ) -> dict[str, dict]:
        """Write one immutable partitioned data directory for ``version``
        and return its partition map (``{pval: {"buckets": {b: {dir,
        seq, files, bytes}}}}``). Rows are hash-bucketed within each
        partition on the non-partition merge key and HASH-DISTRIBUTED to
        writers on (partition, bucket) — Iceberg's
        ``write.distribution-mode=hash`` — so each bucket lands as ~one
        file instead of one per upstream task (without it a 32-task
        create pass sprays 32 tiny files into every bucket dir). The
        write-side shuffle moves exactly the bytes being written, which
        the merge already bounds to the touched buckets.

        Sorted-within-partition on the lookup key (Iceberg
        ``write.sorted`` analog): parquet row-group min/max stats then
        prune id-range lookups — the layout replacement for the
        reference's index-ensure step (querybuilder.py:490-551).

        WRITE INVARIANT for promoted columns: every ``_p_<name>`` column
        is re-derived from ``props[<name>]`` here, so in every data file
        written at/after a column's declaration the promoted copy equals
        the props value by construction — props stays the single source
        of truth (a props rewrite, e.g. an analysis set_prop, can never
        leave a stale index copy), and the read path only needs a
        props-fallback for files that PREDATE the declaration."""
        if "props" in df.columns:
            for c, dt in [(f.name, f.dataType) for f in df.schema.fields]:
                if c.startswith("_p_"):
                    df = df.withColumn(
                        c, F.element_at(F.col("props"), c[len("_p_"):]).try_cast(dt)
                    )
        pcol = _PARTITION_COL[table]
        path = os.path.join(self.root, "data", table, version)
        sort_key = "id" if "id" in df.columns else "src"
        n = int(bucket_count or self.n_buckets)
        df = df.withColumn("__bucket", self._bucket_col(table, n))
        # Scope-clustered layout (round 4, VERDICT #6): sorting each
        # bucket by (scope_id, key) clusters every tenant into
        # contiguous parquet row groups, so a scoped sweep's pushed
        # ``scope_id = X`` predicate prunes other tenants' row groups
        # via footer min/max — the multi-tenant selectivity the
        # reference gets from its indexed sub-resource rel
        # (querybuilder.py:200-253). Tradeoff (round 5, ADVICE): leading
        # with scope_id interleaves id ranges ACROSS scope clusters
        # within a file, so bare id-point lookups on multi-tenant tables
        # prune fewer row groups than an id-led sort would — accepted
        # because the hot readers (scoped sweeps, analysis jobs, merge
        # read-back) all carry the scope or the bucket's id-subset
        # anyway; per-scope file splitting would restore both at the
        # cost of files x tenants.
        # The partition + bucket columns lead the sort so
        # FileFormatWriter's required ordering is already satisfied —
        # otherwise it inserts its own (non-stable) sort on the
        # partition cols alone and destroys the clustering.
        sort_cols = (
            [pcol, "__bucket"]
            + (["scope_id"] if "scope_id" in df.columns else [])
            + [sort_key]
        )
        (
            df.repartition(pcol, "__bucket")
            .sortWithinPartitions(*sort_cols)
            .write.mode("overwrite")
            .partitionBy(pcol, "__bucket")
            .parquet(path)
        )
        seq = int(version[1:])
        parts: dict[str, dict] = {}
        prefix = f"{pcol}="
        for entry in os.listdir(path):
            if not entry.startswith(prefix):
                continue
            pval = urllib.parse.unquote(entry[len(prefix):])
            pdir = os.path.join(path, entry)
            buckets: dict[str, dict] = {}
            for bentry in os.listdir(pdir):
                if not bentry.startswith("__bucket="):
                    continue
                b = bentry.split("=", 1)[1]
                bdir = os.path.join(pdir, bentry)
                files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
                # Per-bucket lineage: which write produced this dir and
                # what it weighs (Iceberg manifest-entry analog;
                # resumability/debugging reads this without touching
                # data). Row counts live in the metrics JSONL.
                buckets[b] = {
                    "dir": os.path.join("data", table, version, entry, bentry),
                    "seq": seq,
                    "files": len(files),
                    "bytes": sum(
                        os.path.getsize(os.path.join(bdir, f)) for f in files
                    ),
                }
            if buckets:
                parts[pval] = {"buckets": buckets}
        return parts

    def _write(
        self,
        table: str,
        df: DataFrame,
        expected_seq: int | None = None,
    ) -> str:
        """Full-snapshot write: every partition fresh, tombstones folded
        in (the compaction path). Raises :class:`CommitConflict` when
        ``expected_seq`` is given and stale — the caller rebuilds ``df``
        from the new snapshot and retries."""
        old_man = self._manifest(table) or {}
        v = self._allocate_version(table)
        # A full snapshot rewrites every bucket, so it may RE-bucket to
        # this store handle's n_buckets (the only layout-change path).
        parts = self._write_data(table, v, df, self.n_buckets)
        self._commit_manifest(
            table,
            v,
            {
                "partitions": parts,
                "deletes": [],
                "bucket_count": self.n_buckets,
                **self._evolve_columns(old_man, df, v, restrict_to_df=True),
            },
            expected_seq,
        )
        return v

    def replace_partitions(
        self,
        table: str,
        df: DataFrame,
        partitions: list[str],
        expected_seq: int | None = None,
    ) -> str:
        """Partial rewrite: ``df`` is the complete new content of the
        named ``partitions``; every OTHER partition carries forward by
        manifest reference — zero copy (the same shape ``_merge`` uses;
        exposed for analysis jobs, whose rewrites touch a few labels of
        a 100 TB table). Existing tombstone files carry forward: they
        are older than the new data version, so by sequence-number
        semantics they keep applying to untouched partitions and stop
        applying to the rewritten ones (whose content already folded
        them in at read time).

        Commit is ALWAYS CAS'd: when the caller doesn't pin
        ``expected_seq``, the pointer seq is read here (before the
        manifest, same ordering rule as ``_merge_cached``) and a losing
        race retries against the winner's manifest — an unguarded
        default would publish carried-forward stale entries over a
        concurrent merge's commit, silently losing it, and leave
        CURRENT pointing at an older version than the newest manifest
        (breaking ``expire_versions``' newest-is-current retention
        premise). NOTE: ``df`` must be independent of the store's
        current state (true for analysis-style rewrites computed from a
        snapshot the caller owns); a caller whose df READ this table
        should pass ``expected_seq`` so the conflict surfaces instead."""
        pinned = expected_seq is not None
        last: CommitConflict | None = None
        for _ in range(_COMMIT_RETRIES):
            seq0 = expected_seq if pinned else self._seq()
            try:
                return self._replace_partitions_once(table, df, partitions, seq0)
            except CommitConflict as e:
                if pinned:
                    raise
                last = e
        raise last  # type: ignore[misc]

    def _replace_partitions_once(
        self, table: str, df: DataFrame, partitions: list[str], expected_seq: int
    ) -> str:
        manifest = self._manifest(table) or {"partitions": {}, "deletes": []}
        # A df omitting a DECLARED promoted column would write partition
        # files lacking it at seq >= columns_seq — reads would NULL-fill
        # with no props fallback and matcher joins silently miss rows
        # (round 4, ADVICE fix). Derive the missing ones from props; the
        # write invariant in _write_data then re-derives values as for
        # any other write.
        if "props" in df.columns:
            for c in manifest.get("columns", []):
                if c not in df.columns:
                    df = df.withColumn(
                        c,
                        F.element_at(F.col("props"), c[len("_p_"):]).try_cast(
                            self._promoted_type(manifest, c)
                        ),
                    )
        nb = self._bucket_count(manifest)
        v = self._allocate_version(table)
        new_parts = self._write_data(table, v, df, nb)
        parts = {k: p for k, p in manifest["partitions"].items() if k not in set(partitions)}
        parts.update(new_parts)
        self._commit_manifest(
            table,
            v,
            {
                "partitions": parts,
                "deletes": list(manifest.get("deletes", [])),
                "bucket_count": nb,
                **self._evolve_columns(manifest, df, v),
            },
            expected_seq,
        )
        return v

    _METRICS_DDL = "op string, update_tag long, wall_ts double, counters map<string,long>"

    def _record_metrics(self, op: str, update_tag: int, counters: dict[str, int]) -> None:
        """Per-operation metrics row (reference analog: statement counters
        harvested to statsd, ``graph/statement.py:105-120`` + per-sync
        ``ModuleSyncMetadata``, ``util.py:136-174``). Appended as one
        JSONL line like the manifests (a 1-row Spark parquet append
        costs seconds of job overhead per mutation — metrics are
        metadata, not data; they stay queryable via read_metrics). Inside
        a transaction the row waits for its commit."""
        row = {
            "op": op,
            "update_tag": int(update_tag),
            "wall_ts": float(time.time()),
            "counters": {k: int(v) for k, v in counters.items()},
        }
        txn = self._txn()
        if txn is not None:
            txn.metrics.append(row)
        else:
            self._append_metrics([row])

    def _append_metrics(self, rows: list[dict]) -> None:
        with open(os.path.join(self.root, "metrics.jsonl"), "a") as f:
            f.writelines(json.dumps(row) + "\n" for row in rows)

    def read_metrics(self) -> DataFrame:
        path = os.path.join(self.root, "metrics.jsonl")
        if not os.path.exists(path):
            return self.spark.createDataFrame([], self._METRICS_DDL)
        return self.spark.read.schema(self._METRICS_DDL).json(path)

    # ---------- MERGE ----------

    @staticmethod
    def _dedupe(df: DataFrame, key: list[str]) -> DataFrame:
        """Unique source keys before MERGE (hard requirement of a real
        MERGE INTO; also removes retry duplicates so re-running a
        partition can't double-apply). Deterministic winner: max
        xxhash64 of the row's JSON — order-independent, and a
        fixed-width sort key so wide rows don't ride the in-partition
        sort as full JSON strings (round 4, VERDICT #8). A second,
        independently-seeded hash breaks 64-bit collisions (round 5,
        ADVICE): one hash alone is not a total order on row content, so
        two distinct duplicates colliding on it would make the winner
        partition-order-dependent; a simultaneous 128-bit collision is
        ~2^-128."""
        row_json = F.to_json(F.struct(*df.columns))
        w = Window.partitionBy(*key).orderBy(
            F.xxhash64(row_json).desc(), F.xxhash64(F.lit(42), row_json).desc()
        )
        return (
            df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")
        )

    def _merge(
        self,
        table: str,
        schema: T.StructType,
        key: list[str],
        updates: DataFrame,
        update_tag: int,
        partition_col: str,
        expected_seq: int | None = None,
    ) -> dict[str, int]:
        managed = {"firstseen", "lastupdated"}
        new = self._dedupe(updates, key)
        for f in schema.fields:
            if f.name not in new.columns and f.name not in managed:
                new = new.withColumn(f.name, F.lit(None).cast(f.dataType))
        # Promoted matcher columns (``_p_<name>``) in the update trigger
        # schema evolution: the table's column set is the union of what
        # the manifest already declares and what this update carries.
        new_promoted = sorted(c for c in new.columns if c.startswith("_p_"))

        # The decomposed MERGE (see merge_frames) reads ``new`` twice
        # (update pass + create pass): checkpoint the deduped batch so its
        # window shuffle runs once. The same job observes what steers the
        # plan — the row count, the NULL-key count and the touched
        # (partition value, bucket id) set, at most labels x bucket_count
        # entries, never row count — so no job runs just to plan.
        nb = self._bucket_count(self._manifest(table))
        null_key = functools.reduce(operator.or_, [F.col(k).isNull() for k in key])
        obs = Observation()
        new = new.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.count_if(null_key).alias("null_keys"),
            F.collect_set(
                F.struct(F.col(partition_col).alias("p"), self._bucket_col(table, nb).alias("b"))
            ).alias("touched"),
        ).localCheckpoint(eager=True)
        steer = obs.get
        # NULL merge-key columns are rejected, not absorbed: a NULL
        # key never equi-matches, so such rows would always take the
        # create pass (duplicating on every merge), never match a
        # tombstone anti-join (undeletable), and — worst — a NULL
        # partition value would be written under
        # __HIVE_DEFAULT_PARTITION__, REPLACING that partition's
        # manifest entries and silently losing every previously stored
        # row there. The reference has
        # the same contract (Cypher MERGE on a null property errors).
        if steer["null_keys"]:
            raise ValueError(
                f"merge_{table}: updates contain NULL values in merge-key "
                f"column(s) {key} — keys must be non-null"
            )
        if not steer["rows"]:
            # Empty batch: a MERGE of nothing is a no-op — commit
            # nothing (also: the write plan over an all-empty input
            # would let AQE's empty-relation propagation eliminate
            # the CollectMetrics node, breaking Observation.get).
            counters = {"rows_total": 0, "created": 0, "updated": 0}
            self._record_metrics(f"merge_{table}", update_tag, counters)
            return {**counters, "version": self._pointer().get(table)}
        touched: dict[str, set] = {}
        for r in steer["touched"]:
            touched.setdefault(r["p"], set()).add(int(r["b"]))
        return self._merge_cached(
            table, schema, key, new, new_promoted, update_tag, partition_col,
            (nb, touched), expected_seq=expected_seq,
        )

    def _merge_cached(
        self,
        table: str,
        schema: T.StructType,
        key: list[str],
        new: DataFrame,
        new_promoted: list[str],
        update_tag: int,
        partition_col: str,
        observed: tuple[int, dict[str, set]],
        expected_seq: int | None = None,
    ) -> dict[str, int]:
        last: CommitConflict | None = None
        for _ in range(_COMMIT_RETRIES):
            # Snapshot seq MUST be read before the manifest: a commit
            # landing between the two reads then makes the manifest
            # NEWER than the seq, so the CAS fails safe (retry) rather
            # than publishing a merge built on a stale base. A caller
            # whose UPDATES plan itself read the store (e.g. streaming's
            # weight accumulation) passes expected_seq — its conflict
            # must surface so it can rebuild that plan, not be retried
            # here against the caller's stale inputs (round 4, ADVICE
            # fix).
            seq0 = expected_seq if expected_seq is not None else self._seq()
            manifest = self._manifest(table) or {"partitions": {}, "deletes": []}
            # Bucket pruning (round 5, VERDICT #1): only the (partition,
            # bucket) groups containing the update's keys are read,
            # merged, and rewritten; every other BUCKET carries forward
            # by manifest reference. The touched set was observed at
            # the bucket count the checkpoint saw; if a concurrent full
            # compaction has since re-bucketed the table, the touched
            # partitions are read and rewritten whole instead.
            nb, touched = observed
            if self._bucket_count(manifest) != nb:
                nb = self._bucket_count(manifest)
                touched = {p: set(range(nb)) for p in touched}
            promoted = sorted(set(manifest.get("columns", [])) | set(new_promoted))
            cols = [f.name for f in schema.fields] + promoted
            # Fail fast on a retype BEFORE the join coerces it silently:
            # evolution adds columns, it never changes their type.
            for c in new_promoted:
                declared = manifest.get("columns_types", {}).get(c)
                carried = new.schema[c].dataType.simpleString()
                if declared is not None and declared != carried:
                    raise ValueError(
                        f"promoted column {c} is declared {declared!r}; this "
                        f"update carries {carried!r} — promoted columns are "
                        f"never retyped"
                    )
            old = self._read_manifest_df(
                table,
                schema,
                manifest,
                only_partitions=sorted(touched),
                only_buckets=touched,
            )
            for c in promoted:  # cols missing on one side: typed NULL
                if c not in old.columns:
                    old = old.withColumn(c, F.lit(None).cast(new.schema[c].dataType))
                if c not in new.columns:
                    new = new.withColumn(
                        c, F.lit(None).cast(self._promoted_type(manifest, c))
                    )
            v = self._allocate_version(table)
            obs = Observation(f"merge_{table}_{v}")
            result = (
                merge_frames(old, new, key, cols, update_tag, with_flags=True)
                .observe(
                    obs,
                    F.count(F.lit(1)).alias("rows"),
                    F.sum(F.col("__created").cast("long")).alias("created"),
                    F.sum(F.col("__updated").cast("long")).alias("updated"),
                )
                .drop("__created", "__updated")
            )
            evolution = self._evolve_columns(manifest, result, v)
            # counters fold into this job
            new_parts = self._write_data(table, v, result, nb)
            # Bucket-granular manifest update: untouched buckets of a
            # touched partition carry forward BY REFERENCE — their
            # entries stay byte-identical across the merge.
            parts = {
                p: {"buckets": dict(i["buckets"])}
                for p, i in manifest["partitions"].items()
            }
            for pval, pinfo in new_parts.items():
                parts.setdefault(pval, {"buckets": {}})["buckets"].update(
                    pinfo["buckets"]
                )
            try:
                self._commit_manifest(
                    table,
                    v,
                    {
                        "partitions": parts,
                        "deletes": list(manifest.get("deletes", [])),
                        "bucket_count": nb,
                        **evolution,
                    },
                    expected_seq=seq0,
                )
            except CommitConflict as e:
                # Another writer won the race: re-merge against the new
                # snapshot (the written data dir is an orphan for GC) —
                # unless the caller pinned the snapshot, in which case
                # only IT can rebuild its inputs.
                if expected_seq is not None:
                    raise
                last = e
                continue
            got = obs.get
            counters = {
                "rows_total": int(got["rows"] or 0),
                "created": int(got["created"] or 0),
                "updated": int(got["updated"] or 0),
            }
            self._record_metrics(f"merge_{table}", update_tag, counters)
            return {**counters, "version": v}
        raise last  # type: ignore[misc]

    def merge_nodes(self, updates: DataFrame, update_tag: int) -> dict[str, int]:
        """Idempotent node upsert (U1). ``updates`` columns: label, id,
        [extra_labels, scope_id, props]."""
        return self._merge("nodes", NODES_SCHEMA, _NODE_KEY, updates, update_tag, "label")

    def merge_edges(
        self, updates: DataFrame, update_tag: int, expected_seq: int | None = None
    ) -> dict[str, int]:
        """Idempotent edge upsert (U2), keyed (rel_label, src, dst).

        ``expected_seq`` pins the CAS to a snapshot the CALLER read: a
        conflict then raises CommitConflict instead of retrying
        internally — required when ``updates`` was computed FROM the
        store (read-modify-write), so the caller rebuilds its plan
        against the winner's snapshot."""
        return self._merge(
            "edges", EDGES_SCHEMA, _EDGE_KEY, updates, update_tag, "rel_label",
            expected_seq=expected_seq,
        )

    # ---------- merge-on-read deletes ----------

    def _prepare_deletes(
        self, table: str, keys: DataFrame
    ) -> tuple[int, str | None, dict | None]:
        """Write one tombstone key file and return the updated manifest
        WITHOUT committing — the caller publishes (possibly for several
        tables atomically) via ``_commit_manifests``. Returns
        (rows_deleted, new_version, manifest). No data directory is
        touched — sweep cost is the key scan plus a key-sized write,
        independent of table size.

        The write also observes which (partition, bucket) groups the
        tombstone can touch (the key's leading column IS the partition
        column, and the key hashes to exactly one bucket): compaction
        then rewrites only affected buckets and prunes dead tombstones,
        instead of folding the whole table."""
        manifest = self._manifest(table)
        if manifest is None:
            return 0, None, None
        v = self._allocate_version(table)
        path = os.path.join(self.root, "deletes", table, v)
        pcol = _PARTITION_COL[table]
        nb = self._bucket_count(manifest)
        obs = Observation(f"delete_{table}_{v}")
        keys.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.collect_set(
                F.struct(F.col(pcol).alias("p"), self._bucket_col(table, nb).alias("b"))
            ).alias("scope"),
        ).write.mode("overwrite").parquet(path)
        got = obs.get
        n = int(got["n"] or 0)
        if n == 0:
            return 0, None, None
        buckets: dict[str, list] = {}
        for r in got["scope"]:
            pv = r["p"] if r["p"] is not None else "__HIVE_DEFAULT_PARTITION__"
            buckets.setdefault(pv, []).append(int(r["b"]))
        manifest["deletes"] = list(manifest.get("deletes", [])) + [
            {
                "path": os.path.join("deletes", table, v),
                "seq": int(v[1:]),
                "partitions": sorted(buckets),
                "buckets": {p: sorted(bs) for p, bs in buckets.items()},
            }
        ]
        return n, v, manifest

    def _write_deletes(self, table: str, keys: DataFrame) -> tuple[int, str | None]:
        """Single-table tombstone write: prepare + one CAS commit. A
        CommitConflict PROPAGATES instead of retrying here: the caller's
        ``keys`` plan was built against the pre-conflict snapshot, so a
        blind retry would tombstone rows a concurrent writer just
        refreshed — the caller must recompute the doomed set from the
        new snapshot (the sweep paths do exactly that)."""
        seq0 = self._seq()
        n, v, man = self._prepare_deletes(table, keys)
        if n == 0:
            return 0, None
        self._commit_manifests({table: (v, man)}, expected_seq=seq0)
        return n, v

    # ---------- cleanup sweep (C1-C6) ----------

    def sweep(
        self,
        node_schema,
        update_tag: int,
        scope_id: str | None = None,
    ) -> dict[str, int]:
        """Watermark anti-join staleness sweep for one node schema.

        Implements the reference's 4-case cleanup matrix
        (``cleanupbuilder.py:16-77``) exactly:

        - no relationships at all -> no-op; such nodes are never
          auto-cleaned (``cleanupbuilder.py:24-30``, C6);
        - sub-resource + scoped_cleanup=False -> ValueError
          (``cleanupbuilder.py:42-48``);
        - sub-resource + scoped_cleanup=True -> scoped delete of stale
          nodes (DETACH: all their edges) + stale declared rels (C1/C2);
        - no sub-resource + scoped_cleanup=True -> rel-only cleanup, the
          nodes are preserved (``cleanupbuilder.py:50-62``, C4);
        - no sub-resource + scoped_cleanup=False -> unscoped full cleanup
          (C3).

        One distributed anti-join replaces the reference's LIMIT-100
        delete loop (``graph/job.py:163-173``) — no iteration needed.
        Deletes are merge-on-read tombstone files: NO table rewrite. The
        node and edge tombstones are written concurrently and published
        as one transaction (one commit); a conflict re-runs the sweep.
        Rows with NULL scope_id / lastupdated never match a stale
        predicate and are kept (Cypher ``<>`` null semantics).
        """
        label = node_schema.label
        rels = node_schema.all_relationships
        if not rels:
            return {"nodes_deleted": 0, "edges_deleted": 0}
        has_sub = node_schema.sub_resource_relationship is not None
        if has_sub and not node_schema.scoped_cleanup:
            raise ValueError(
                f"NodeSchema({label}): sub_resource_relationship with "
                "scoped_cleanup=False is an invalid combination"
            )
        if has_sub and scope_id is None:
            raise ValueError(f"NodeSchema({label}): scoped sweep requires scope_id")

        tag = int(update_tag)
        rel_labels = [r.rel_label for r in rels]
        delete_nodes = has_sub or not node_schema.scoped_cleanup

        def once() -> dict[str, int]:
            nodes = self.read_nodes()
            edges = self.read_edges()

            stale_edge = (
                F.col("rel_label").isin(rel_labels)
                & ((F.col("src_label") == label) | (F.col("dst_label") == label))
                & (F.col("lastupdated") != tag)
            )
            if has_sub:
                stale_edge = stale_edge & (F.col("scope_id") == scope_id)
            stale_edges = edges.where(_is_stale(stale_edge))

            doomed = {"edges": stale_edges.select(*_EDGE_KEY)}
            if delete_nodes:
                stale_node = (F.col("label") == label) & (F.col("lastupdated") != tag)
                if has_sub:
                    stale_node = stale_node & (F.col("scope_id") == scope_id)
                doomed["nodes"] = nodes.where(_is_stale(stale_node)).select(*_NODE_KEY)
                # DETACH DELETE: tombstone every edge touching a doomed
                # node — two semi-joins against the doomed-node PLAN
                # (one snapshot, so both tombstone writes see the same
                # set), which lets the two writes run concurrently.
                # Endpoint-label match, with a bare-id fallback for
                # edges merged out-of-band with NULL src/dst labels
                # (round-4 fix, VERDICT #4) — the reference's DETACH
                # DELETE (cleanupbuilder.py:176-181) drops every rel
                # touching the node unconditionally. The equi half
                # (id match) stays the hash key; the label clause is
                # a post-filter on the same semi-join.
                dns = doomed["nodes"].select(F.col("id").alias("__d_id"), F.col("label").alias("__d_label"))
                det_src = edges.join(
                    dns,
                    (F.col("src") == F.col("__d_id"))
                    & ((F.col("src_label") == F.col("__d_label")) | F.col("src_label").isNull()),
                    "left_semi",
                )
                det_dst = edges.join(
                    dns,
                    (F.col("dst") == F.col("__d_id"))
                    & ((F.col("dst_label") == F.col("__d_label")) | F.col("dst_label").isNull()),
                    "left_semi",
                )
                doomed["edges"] = (
                    det_src.select(*_EDGE_KEY)
                    .unionByName(det_dst.select(*_EDGE_KEY))
                    .unionByName(doomed["edges"])
                    .dropDuplicates(_EDGE_KEY)
                )
            written = dict(
                zip(
                    doomed,
                    _concurrently(
                        *[functools.partial(self._prepare_deletes, t, k) for t, k in doomed.items()]
                    ),
                )
            )
            commits = {t: (v, man) for t, (n, v, man) in written.items() if n}
            if commits:
                # ONE atomic publish: node tombstones and their DETACH
                # edge tombstones become visible together — a conflict
                # re-runs the WHOLE sweep, so a stale set recomputed
                # from the winner's snapshot stays consistent (no
                # orphaned detach edges).
                self._commit_manifests(commits)
            return {
                "nodes_deleted": written.get("nodes", (0,))[0],
                "edges_deleted": written["edges"][0],
            }

        counters = self._transact(once)
        self._record_metrics(f"sweep_{label}", update_tag, counters)
        return counters

    def sweep_matchlink(self, matchlink, update_tag: int, scope_id: str) -> dict[str, int]:
        """MatchLink cleanup (C5): delete stale rels of this label within
        the given sub-resource scope (``cleanupbuilder.py:340-383``)."""
        stale = (
            (F.col("rel_label") == matchlink.rel_label)
            & (F.col("scope_id") == scope_id)
            & (F.col("lastupdated") != int(update_tag))
        )

        def once() -> int:
            doomed = self.read_edges().where(_is_stale(stale)).select(*_EDGE_KEY)
            deleted, v, man = self._prepare_deletes("edges", doomed)
            if deleted:
                self._commit_manifests({"edges": (v, man)})
            return deleted

        deleted = self._transact(once)
        self._record_metrics(
            f"sweep_link_{matchlink.rel_label}", update_tag, {"edges_deleted": deleted}
        )
        return {"edges_deleted": deleted}

    # ---------- maintenance ----------

    def expire_versions(
        self, keep_last: int = 3, orphan_grace_sec: float = 3600.0
    ) -> dict[str, list[str]]:
        """Retention GC (Iceberg expire_snapshots analog): drop all but
        the newest ``keep_last`` manifests per table, then delete every
        data-version dir and tombstone file no kept manifest references.
        Time travel keeps working across the retained window; the
        current pointer is always retained (it is the newest) —
        ``keep_last`` is clamped to >= 1 so the CURRENT manifest and
        the data it references can never be GC'd.

        Version dirs no manifest EVER referenced are either aborted
        commits (safe to drop) or an in-flight writer's not-yet-committed
        data — indistinguishable on disk, so true orphans are only
        removed once older than ``orphan_grace_sec`` (Iceberg's
        remove_orphan_files retention-age rule); dirs that committed
        manifests referenced are removed immediately with them."""
        import shutil

        keep_last = max(1, int(keep_last))
        now = time.time()
        removed: dict[str, list[str]] = {}
        for table in ("nodes", "edges"):
            mdir = os.path.join(self.root, "manifests", table)
            if not os.path.isdir(mdir):
                continue
            versions = sorted(os.path.splitext(f)[0] for f in os.listdir(mdir))
            doomed = versions[:-keep_last]
            kept = [v for v in versions if v not in doomed]
            ref_data: set[str] = set()
            ref_del: set[str] = set()
            ever_ref: set[str] = set()
            for v in versions:
                man = self._manifest(table, v)
                for p in man["partitions"].values():
                    for b in p["buckets"].values():
                        ever_ref.add(b["dir"].split("/")[2])
                for d in man.get("deletes", []):
                    ever_ref.add(d["path"].split("/")[2])
                if v in kept:
                    for p in man["partitions"].values():
                        for b in p["buckets"].values():
                            ref_data.add(b["dir"].split("/")[2])
                    for d in man.get("deletes", []):
                        ref_del.add(d["path"].split("/")[2])
            for v in doomed:
                os.remove(self._manifest_path(table, v))
            for kind, refs in (("data", ref_data), ("deletes", ref_del)):
                root = os.path.join(self.root, kind, table)
                if not os.path.isdir(root):
                    continue
                for entry in os.listdir(root):
                    if entry in refs:
                        continue
                    path = os.path.join(root, entry)
                    if entry not in ever_ref:  # true orphan: age-gate it
                        try:
                            if now - os.path.getmtime(path) < orphan_grace_sec:
                                continue
                        except OSError:
                            continue
                    shutil.rmtree(path, ignore_errors=True)
            removed[table] = doomed
        return removed

    def maybe_compact(
        self, max_delete_files: int = 8, max_seq_groups: int = 32
    ) -> dict[str, str]:
        """Bound merge-on-read debt: compact any table whose manifest
        references more than ``max_delete_files`` tombstone files (each
        adds an anti-join to every read), and DEFRAG any table whose
        bucket entries span more than ``max_seq_groups`` distinct write
        seqs — every distinct seq is one unioned scan in the read plan
        (buckets evolve independently, so a long merge history can
        fragment a table up to labels x bucket_count groups; the
        Iceberg analog is rewrite_data_files on file-count triggers).
        Call after sweeps on a schedule — the maintenance-job analog."""
        out: dict[str, str] = {}
        for t in ("nodes", "edges"):
            man = self._manifest(t)
            if man is not None and len(man.get("deletes", [])) > max_delete_files:
                out.update(self.compact(t))
                man = self._manifest(t)
            if man is not None and self._seq_group_count(man) > max_seq_groups:
                # Pass the trigger's own bound through so the action is
                # guaranteed to clear it (<= max_seq_groups after), even
                # when every partition is internally seq-homogeneous —
                # otherwise the trigger could re-fire forever over a
                # no-op defrag. Spread is DISABLED on this path: the
                # read-plan cost is the table-wide seq count, and the
                # spread criterion's whole-partition rewrite unit would
                # re-materialize a huge label (always internally
                # fragmented after any small merge) on every maintenance
                # cycle — the bucket-granular bound alone both clears
                # the trigger and pays only minority-seq bytes.
                out.update(
                    self.defrag(t, max_seq_spread=None, max_seq_groups=max_seq_groups)
                )
        return out

    @staticmethod
    def _seq_group_count(manifest: dict) -> int:
        return len(
            {
                b["seq"]
                for p in manifest["partitions"].values()
                for b in p["buckets"].values()
            }
        )

    def defrag(
        self,
        table: str,
        max_seq_spread: int | None = 1,
        max_seq_groups: int | None = None,
    ) -> dict[str, str]:
        """Consolidate read-plan fragmentation. Two criteria, both
        CAS-committed with retry like compaction; tombstones fold into
        whatever is rewritten (the new seq postdates them) and keep
        applying to untouched entries; entries dead everywhere are
        pruned at commit.

        ``max_seq_spread``: every partition whose buckets span more
        than this many distinct seqs is rewritten WHOLE (all its
        buckets re-homed at one fresh seq) — the explicit
        "make this partition contiguous" API. Pass ``None`` to skip.

        ``max_seq_groups`` bounds the TABLE-WIDE distinct seq count —
        the actual read-plan cost (one unioned scan per distinct seq
        across all partitions, see ``_read_manifest_df``). Per-partition
        spread alone cannot reduce it: 33 partitions each internally
        homogeneous at 33 different seqs give a 33-way union the spread
        criterion never touches. The heaviest (by manifest bytes)
        ``max_seq_groups - 1`` seqs are kept in place, and ONLY the
        individual bucket entries at any other seq are re-homed — a
        bucket-granular rewrite, exactly the merge's unit, so a huge
        label with one stray recently-merged bucket pays one bucket,
        not the label (whole-partition re-homing here would re-create
        the 100 TB-hostile shape the bucketed merge removed). Post-
        defrag count is <= ``max_seq_groups`` (kept seqs + the one
        fresh seq); rewrite cost tracks minority-seq bytes."""
        last: CommitConflict | None = None
        for _ in range(_COMMIT_RETRIES):
            seq0 = self._seq()
            manifest = self._manifest(table)
            if manifest is None:
                return {}
            parts = manifest["partitions"]
            affected_set: set[str] = (
                set()
                if max_seq_spread is None
                else {
                    p
                    for p, info in parts.items()
                    if len(set(self._entry_seqs(info))) > max_seq_spread
                }
            )
            rehome: dict[str, set[int]] = {}
            if max_seq_groups is not None:
                untouched = {p: i for p, i in parts.items() if p not in affected_set}
                kept_seqs = {s for i in untouched.values() for s in self._entry_seqs(i)}
                if len(kept_seqs) + (1 if affected_set else 0) > max_seq_groups:
                    bytes_per_seq: dict[int, int] = {}
                    for info in untouched.values():
                        for b in info["buckets"].values():
                            bytes_per_seq[b["seq"]] = (
                                bytes_per_seq.get(b["seq"], 0) + b.get("bytes", 0)
                            )
                    keep = set(
                        sorted(bytes_per_seq, key=bytes_per_seq.get, reverse=True)[
                            : max(max_seq_groups - 1, 0)
                        ]
                    )
                    for p, info in untouched.items():
                        for b, binfo in info["buckets"].items():
                            if binfo["seq"] not in keep:
                                rehome.setdefault(p, set()).add(int(b))
            affected = sorted(affected_set)
            if not affected and not rehome:
                return {}
            nb = self._bucket_count(manifest)
            frames = []
            if affected:
                frames.append(
                    self._read_manifest_df(
                        table, _SCHEMA[table], manifest, only_partitions=affected
                    )
                )
            if rehome:
                frames.append(
                    self._read_manifest_df(
                        table,
                        _SCHEMA[table],
                        manifest,
                        only_partitions=sorted(rehome),
                        only_buckets=rehome,
                    )
                )
            df = frames[0]
            for f in frames[1:]:
                df = df.unionByName(f)
            v = self._allocate_version(table)
            new_parts = self._write_data(table, v, df, nb)
            merged: dict[str, dict] = {}
            for p, i in parts.items():
                if p in affected_set:
                    continue  # replaced wholesale below (or dropped if empty)
                if p in rehome:
                    # bucket-granular carry-forward: kept-seq bucket
                    # entries stay byte-identical; re-homed buckets take
                    # their fresh entry, or drop out if fully tombstoned
                    entry = {
                        b: e
                        for b, e in i["buckets"].items()
                        if int(b) not in rehome[p]
                    }
                    entry.update(new_parts.get(p, {}).get("buckets", {}))
                    if entry:
                        merged[p] = {"buckets": entry}
                else:
                    merged[p] = i
            for p, i in new_parts.items():
                if p in affected_set:
                    merged[p] = i  # fully-tombstoned partitions drop out
            try:
                self._commit_manifest(
                    table,
                    v,
                    {
                        "partitions": merged,
                        "deletes": list(manifest.get("deletes", [])),
                        "bucket_count": nb,
                        **self._evolve_columns(manifest, df, v),
                    },
                    expected_seq=seq0,
                )
            except CommitConflict as e:
                last = e
                continue
            return {table: v}
        raise last  # type: ignore[misc]

    def compact(self, table: str | None = None, full: bool = False) -> dict[str, str]:
        """Fold tombstones into rewritten data (Iceberg
        rewrite_data_files + rewrite_position_delete_files analog). Run
        periodically, off the sync critical path. CAS-committed: a
        concurrent mutation wins and the compaction re-reads the new
        snapshot (never clobbers a racing merge/sweep).

        Default is PARTITION-SCOPED (the only shape that survives
        100 TB): each tombstone entry records the partitions its keys
        can touch, so only affected partitions are read (deletes fold in
        at read time) and rewritten; every other partition carries
        forward by reference, and tombstones that no longer apply to any
        remaining older-seq partition are pruned from the manifest.
        Compaction cost tracks tombstone-touched partitions, not table
        size. ``full=True`` forces the legacy whole-table snapshot
        (also re-sorts untouched partitions)."""
        out: dict[str, str] = {}
        for t in [table] if table else ["nodes", "edges"]:
            last: CommitConflict | None = None
            for _ in range(_COMMIT_RETRIES):
                seq0 = self._seq()
                manifest = self._manifest(t)
                if manifest is None:
                    break
                try:
                    if full:
                        out[t] = self._write(
                            t, self._read(t, _SCHEMA[t]), expected_seq=seq0
                        )
                    else:
                        v = self._compact_partial(t, manifest, seq0)
                        if v is not None:
                            out[t] = v
                    break
                except CommitConflict as e:
                    last = e
            else:
                raise last  # type: ignore[misc]
        return out

    def _compact_partial(self, table: str, manifest: dict, seq0: int) -> str | None:
        """One bucket-scoped compaction pass against ``manifest``.
        Returns the new version, or None when nothing needed doing.
        Rewrite unit = the (partition, bucket) groups some tombstone can
        still apply to (bucket seq < delete seq, bucket in the delete's
        recorded key-bucket set); every other bucket carries forward by
        reference, so compaction cost tracks tombstoned buckets, not
        table or even partition size."""
        parts = manifest["partitions"]
        deletes = list(manifest.get("deletes", []))
        nb = self._bucket_count(manifest)

        def scope(d: dict) -> list[str]:
            # pre-round-3 tombstones lack the partition list: assume all
            return d.get("partitions", list(parts))

        def bucket_scope(d: dict, p: str, partmap: dict) -> set:
            # tombstones record the buckets their keys hash to; absent
            # (older layouts) -> assume every bucket of the partition
            bm = d.get("buckets")
            if bm is None or p not in bm:
                return {int(b) for b in partmap[p]["buckets"]}
            return {int(b) for b in bm[p]}

        def applies(d: dict, partmap: dict) -> bool:
            return any(
                binfo["seq"] < d["seq"]
                for p in scope(d)
                if p in partmap
                for b, binfo in partmap[p]["buckets"].items()
                if int(b) in bucket_scope(d, p, partmap)
            )

        affected: dict[str, set] = {}
        for d in deletes:
            for p in scope(d):
                if p not in parts:
                    continue
                for b, binfo in parts[p]["buckets"].items():
                    if int(b) in bucket_scope(d, p, parts) and binfo["seq"] < d["seq"]:
                        affected.setdefault(p, set()).add(int(b))
        if not affected:
            # still prune tombstones that apply to nothing (e.g. their
            # buckets were since rewritten by merges)
            kept = [d for d in deletes if applies(d, parts)]
            if len(kept) == len(deletes):
                return None
            v = self._allocate_version(table)
            self._commit_manifest(
                table,
                v,
                {**manifest, "deletes": kept},
                expected_seq=seq0,
            )
            return v
        # deletes fold in at read time for the affected buckets
        schema = _SCHEMA[table]
        df = self._read_manifest_df(
            table,
            schema,
            manifest,
            only_partitions=sorted(affected),
            only_buckets=affected,
        )
        v = self._allocate_version(table)
        new_parts = self._write_data(table, v, df, nb)
        merged = {p: {"buckets": dict(i["buckets"])} for p, i in parts.items()}
        for p, bs in affected.items():
            for b in bs:
                # a compacted-away bucket (every row tombstoned) must not
                # carry its old entry forward; re-added below if the
                # rewrite produced fresh data for it
                merged[p]["buckets"].pop(str(b), None)
        for p, pinfo in new_parts.items():
            merged.setdefault(p, {"buckets": {}})["buckets"].update(pinfo["buckets"])
        merged = {p: i for p, i in merged.items() if i["buckets"]}
        kept = [d for d in deletes if applies(d, merged)]
        self._commit_manifest(
            table,
            v,
            {
                "partitions": merged,
                "deletes": kept,
                "bucket_count": nb,
                **self._evolve_columns(manifest, df, v),
            },
            expected_seq=seq0,
        )
        return v
