"""One benchmark run: session, inputs, set-up, closed loop, checks, report.

The client is a closed loop: the Spark driver program issues one
operation at a time and starts the next only when the previous result is
complete. Spark
runs ``local[nproc]`` with ``nproc`` shuffle partitions.
"""

from __future__ import annotations

import importlib
import os
import shutil
import statistics
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

from kgbench import eventlog, host
from kgbench.inputs import Cache
from kgbench.tracing import Tracer, self_times
from kgbench.workloads import WORKLOADS

SETUP_REPEATS = 3
#: Once its minimum count of operations is done, a run issues no further
#: operation after this many seconds of wall time, so it ends well
#: inside its limit.
HARD_STOP_S = 75.0
DRIVER_MEM = "3g"

#: Gated metrics. Peak RSS is reported (and traced as
#: ``spark.peak_rss_mb``) but not gated: JVM heap growth makes it spread
#: by about 20 % between runs of the same graph workload.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "items_per_s": "items/s",
}

#: Spans whose self time (``.s``) and self jobs (``.jobs``) are reported.
LAYER_SPANS = [
    "pipeline.load", "schema.compile_node_updates", "schema.compile_edge_updates",
    "store.merge_nodes", "store.merge_edges", "store.sweep", "store.maybe_compact",
    "store.reads",
    "operators.connected_components", "operators.pagerank",
    "operators.strongly_connected_components",
    "operators.k_core", "operators.node2vec_walks",
    "operators.dedup.minhash_lsh_pairs", "operators.dedup.simhash_pairs",
    "operators.dedup.containment_pairs", "pipeline.linking.candidate_pairs",
    "operators.canonicalize",
]
#: Per-layer metrics beyond ``<span>.s`` / ``<span>.jobs``.
EXTRA_LAYER = {
    "sources.read_pages.s": "s",
    "functions.extract_text.s": "s",
    "functions.extract_text.python_s": "s",
    "functions.extract_text.arrow_bytes": "bytes",
    "functions.extract_triples_jvm.s": "s",
    "pipeline.flagship.aggregate.s": "s",
    "pipeline.flagship.aggregate.shuffle_write_bytes": "bytes",
    "operators.dedup.minhash_lsh_pairs.python_s": "s",
    "operators.dedup.simhash_pairs.python_s": "s",
    "operators.dedup.containment_pairs.precision": "ratio",
    "store.maybe_compact.compactions": "count",
    "store.bytes_written": "bytes",
    "store.files_written": "count",
    "store.tombstones": "count",
    "store.write_amp": "ratio",
    "store.space_amp": "ratio",
    "pipeline.sync.round.s": "s",
    "spark.jobs": "count",
    "spark.jobs_first_op": "count",
    "spark.jobs_last_op": "count",
    "spark.tasks": "count",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.peak_rss_mb": "MiB",
    "trace.overhead": "ratio",
    "host.loadavg_before": "load",
    "host.loadavg_after": "load",
    "host.md5_probe_s": "s",
}


def per_layer_units() -> dict[str, str]:
    out = {}
    for name in LAYER_SPANS:
        out[f"{name}.s"] = "s"
        out[f"{name}.jobs"] = "count"
    out.update(EXTRA_LAYER)
    return out


class Ctx:
    """What a workload sees of the run. ``start_spark`` is called on the
    first use of ``ctx.spark``, so a prebuild that finds every cache
    entry present starts no session."""

    def __init__(self, run_dir: Path, cache: Cache, start_spark, seed: int,
                 tracer: Tracer | None):
        self.run_dir, self.cache = run_dir, cache
        self._start_spark, self._spark = start_spark, None
        self.seed, self.tracer = seed, tracer
        self.traced = False

    @property
    def spark(self):
        if self._spark is None:
            self._spark = self._start_spark()
        return self._spark

    def span(self, name: str):
        return self.tracer.span(name) if self.traced else nullcontext()


def _resolve(path: str):
    """``pkg.module`` or ``pkg.module.Class`` -> the object."""
    try:
        return importlib.import_module(path)
    except ImportError:
        mod, _, attr = path.rpartition(".")
        return getattr(importlib.import_module(mod), attr)


def start_spark(name: str, run_dir: Path, trace: bool, nproc: int):
    from cartography_spark.session import get_spark

    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions":
            # The package's GC choice, plus: keep every JVM file in the
            # run directory (no hsperfdata under /tmp).
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'} "
            f"-Dderby.system.home={run_dir / 'tmp'}",
    }
    if trace:
        (run_dir / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(run_dir / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name=f"kgbench-{name}", cores=nproc, shuffle_partitions=nproc,
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)
    host.reap_descendants()


def prebuild(root: Path, work: Path) -> None:
    """Build every workload's seed-independent cached inputs (the pages
    universe, the sync base store). ``run.py`` calls this in a process
    of its own before each measured run, so the first run in a checkout
    pays for them neither in its timed set-up nor in its JVM."""
    run_dir = work / "runs" / f"prebuild-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    ctx = Ctx(run_dir, Cache(root, work),
              lambda: start_spark("prebuild", run_dir, False, os.cpu_count() or 1), 0, None)
    try:
        for cls in WORKLOADS.values():
            if hasattr(cls, "shared"):
                cls().shared(ctx)
    finally:
        if ctx._spark is not None:
            stop_spark(ctx._spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(root: Path, work: Path, name: str, seed: int, seconds: float, trace: bool,
        t_start: float) -> tuple[dict, dict]:
    """Returns (result, report): ``result`` is the JSON object printed
    last, ``report`` the workload's full metric set for humans."""
    nproc = os.cpu_count() or 1
    fingerprint = {"loadavg_before": host.loadavg_1m(), "md5_probe_s": host.md5_probe_s()}
    run_dir = work / "runs" / f"{name}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    spark = None
    try:
        spark = start_spark(name, run_dir, trace, nproc)
        session_s = time.perf_counter() - t_start
        tracer = Tracer(spark.sparkContext) if trace else None
        cache = Cache(root, work)
        ctx = Ctx(run_dir, cache, lambda: spark, seed, tracer)
        w = WORKLOADS[name]()
        t0 = time.perf_counter()
        w.inputs(ctx)
        inputs_s = time.perf_counter() - t0

        prep = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            state = w.prepare(ctx)
            prep.append(time.perf_counter() - t0)

        patches = [(_resolve(m), a, n) for m, a, n in getattr(w, "PATCHES", [])]
        tally = {"attempted": 0, "failed": 0, "check_s": 0.0}
        errors: list[str] = []

        def record(op_errors: list[str]) -> None:
            tally["attempted"] += 1
            tally["failed"] += bool(op_errors)
            errors.extend(op_errors)

        def one_op(kind: str) -> float:
            """Run, time and check one operation; ``kind`` is plain or traced."""
            traced = kind == "traced"
            if traced:
                for mod, attr, span_name in patches:
                    tracer.patch(mod, attr, span_name)
            ctx.traced = traced
            t0 = time.perf_counter()
            try:
                with (tracer.span(f"op.{kind}") if trace else nullcontext()):
                    result = w.op(ctx, state)
                op_errors = None
            except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                op_errors = ["operation raised:\n" + traceback.format_exc()]
            dt = time.perf_counter() - t0
            ctx.traced = False
            if traced:
                tracer.unpatch()
            t0 = time.perf_counter()
            record(op_errors if op_errors is not None else w.check(ctx, state, result))
            tally["check_s"] += time.perf_counter() - t0
            return dt

        # The workload's warm-up (JIT, codegen, Python workers) is part of set-up.
        warmup_s = 0.0
        if hasattr(w, "warmup"):
            t0 = time.perf_counter()
            with (tracer.span("op.warmup") if trace else nullcontext()):
                record(w.warmup(ctx, state))
            warmup_s = time.perf_counter() - t0
        setup_s = session_s + _median(prep) + warmup_s

        op_s, traced_flags, items = [], [], []
        max_ops = getattr(w, "ROUNDS", 10_000) - 1
        # A traced run brackets each traced operation by plain ones; its
        # first operation only warms up (graph and curate have no warm-up).
        # The minimum count is always run, whatever the wall time.
        min_ops = 3 if trace else 1
        with host.RssSampler() as rss:
            while len(op_s) < max_ops and (
                len(op_s) < min_ops
                or (sum(op_s) < seconds and time.perf_counter() - t_start < HARD_STOP_S)
            ):
                traced = trace and len(op_s) % 2 == 1
                op_s.append(one_op("traced" if traced else "plain"))
                traced_flags.append(traced)
                items.append(w.items(state))
        t_end_loop = time.perf_counter()
        if trace and not (any(traced_flags) and not all(traced_flags[1:])):
            record(["trace: no traced operation bracketed by plain ones, "
                    "so trace.overhead is unknown"])
        if hasattr(w, "final_check"):
            record(w.final_check(ctx, state))
        summary = w.summary(ctx, state) if hasattr(w, "summary") else {}
        t_stop = time.perf_counter()
        stop_spark(spark)
        spark = None
        stop_s = time.perf_counter() - t_stop
        if trace:
            (log,) = (run_dir / "eventlog").iterdir()
            with open(log) as f:
                folded = eventlog.fold(f)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    fingerprint["loadavg_after"] = host.loadavg_1m()
    attempted, failed = tally["attempted"], tally["failed"]

    plain = [t for t, f in zip(op_s, traced_flags) if not f]
    per_s = _median([i / t for i, t, f in zip(items, op_s, traced_flags) if not f])
    report = {
        "setup_s": (setup_s, "s"),
        "wall_s": (_median(plain), "s"),
        "items_per_s": (per_s, "items/s"),
        f"{w.item}_per_s": (per_s, f"{w.item}/s"),
        "peak_rss_mb": (rss.peak / 2**20, "MiB"),
        "error_rate": (failed / attempted, "ratio"),
        "op_s": (op_s, "s"),
        "session_s": (session_s, "s"),
        "prepare_s": (_median(prep), "s"),
        "warmup_s": (warmup_s, "s"),
        "inputs_s": (inputs_s, "s"),
        "check_s": (tally["check_s"], "s"),
        "finish_s": (t_stop - t_end_loop, "s"),
        "stop_s": (stop_s, "s"),
        "run_s": (time.perf_counter() - t_start, "s"),
    }
    report.update(summary)
    for k, v in fingerprint.items():
        report[f"host.{k}"] = (v, "load" if k.startswith("loadavg") else "s")

    if trace:
        metrics = _layer_metrics(w, tracer, folded, op_s, traced_flags, summary, fingerprint)
        metrics["spark.peak_rss_mb"] = report["peak_rss_mb"][0]
        units = per_layer_units()
    else:
        metrics = {k: report[k][0] for k in END_TO_END}
        units = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }
    return result, {"report": report, "errors": errors[:20]}


def _layer_metrics(w, tracer: Tracer, folded: dict, op_s, traced_flags, summary,
                   fingerprint) -> dict[str, float]:
    spans = tracer.spans
    n_traced = max(sum(traced_flags), 1)
    out: dict[str, float] = {}

    st = self_times(spans)
    per_name = eventlog.by_name(folded, tracer.group_names())
    for layer in LAYER_SPANS:
        out[f"{layer}.s"] = st.get(layer, 0.0) / n_traced
        out[f"{layer}.jobs"] = per_name.get(layer, {}).get("jobs", 0) / n_traced
    for layer in ("operators.dedup.minhash_lsh_pairs", "operators.dedup.simhash_pairs"):
        out[f"{layer}.python_s"] = per_name.get(layer, {}).get("python_s", 0.0) / n_traced

    # Jobs and counters per operation, from each op's root span down.
    root_of = []
    for s in spans:
        r = s
        while r.parent is not None:
            r = spans[r.parent]
        root_of.append(r)
    op_roots = [s for s in spans if s.parent is None and s.name.startswith("op.")]
    per_op = {id(r): dict.fromkeys(eventlog.COUNTERS, 0.0) for r in op_roots}
    for s, r in zip(spans, root_of):
        if id(r) in per_op:
            for k, v in folded.get(s.group, {}).items():
                per_op[id(r)][k] += v
    timed = [per_op[id(r)] for r in op_roots if r.name != "op.warmup"]
    for k in ("jobs", "tasks", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{k}"] = sum(c[k] for c in timed) / max(len(timed), 1)
    if op_roots:
        out["spark.jobs_first_op"] = per_op[id(op_roots[0])]["jobs"]
        out["spark.jobs_last_op"] = per_op[id(op_roots[-1])]["jobs"]

    traced = [t for t, f in zip(op_s, traced_flags) if f]
    plain = [t for t, f in zip(op_s[1:], traced_flags[1:]) if not f]
    out["trace.overhead"] = _median(traced) / _median(plain) - 1.0 if traced and plain else 0.0

    if hasattr(w, "layers"):
        out.update(w.layers(summary, tracer, per_name))
    for k, v in fingerprint.items():
        out[f"host.{k}"] = v
    return out
