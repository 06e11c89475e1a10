"""Benchmark entry point for the cartography_spark engine.

    python3 perfbench/run.py --workload build --seed 1 --seconds 8 --trace 0

Run from the root of a checkout that holds ``cartography_spark``.
``--workload all`` runs build, sync, graph and curate in turn (one
process each) and prints every metric per workload. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Work files live under ``.perfbench/`` in
the checkout (inputs cache and per-run directories). Before a measured
run, a child process builds any missing seed-independent input; the
run's clock starts when that child has ended.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ("build", "sync", "graph", "curate", "analyze")
#: ``analyze`` is graph + curate in one process, so ``all`` leaves it out.
ALL = ("build", "sync", "graph", "curate")


def _env() -> None:
    """Make the session fit the host and let Python workers import the
    package from any working directory."""
    paths = [str(ROOT), str(HERE)]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path[:0] = [str(ROOT), str(HERE)]


def _run_all(args) -> int:
    totals = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in ALL:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: exited with {proc.returncode}", file=sys.stderr)
            return 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        totals["correct"] &= res["correct"]
        totals["attempted"] += res["attempted"]
        totals["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            totals["metrics"][f"{name}.{k}"] = v
    print(json.dumps(totals))
    return 0


def _prebuild() -> int:
    """Build the seed-independent cached inputs in a child process, so
    the measured process and its JVM start clean."""
    cmd = [sys.executable, str(Path(__file__).resolve()), "--prebuild"]
    return subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr).returncode


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv == ["--prebuild"]:
        _env()
        from kgbench import harness

        harness.prebuild(ROOT, ROOT / ".perfbench")
        return 0
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "cartography_spark" / "__init__.py").is_file():
        print(f"no cartography_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)
    if _prebuild() != 0:
        print("building the cached inputs failed", file=sys.stderr)
        return 1

    t_start = time.perf_counter()
    _env()
    from kgbench import harness

    result, report = harness.run(
        ROOT, ROOT / ".perfbench", args.workload, args.seed, args.seconds,
        bool(args.trace), t_start,
    )
    for err in report["errors"]:
        print(f"{args.workload}: {err}", file=sys.stderr)
    for k, (v, unit) in report["report"].items():
        shown = " ".join(f"{x:.6g}" for x in v) if isinstance(v, list) else f"{v:.6g}"
        print(f"# {args.workload:6s} {k:20s} {shown} {unit}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
