"""Fold a Spark event log (uncompressed JSON lines) into counters.

Every Spark job carries the ``spark.jobGroup.id`` local property that
was set when it started; each task's metrics are charged to its stage's
job's group. Python-boundary SQL metrics (``time to run Python
workers``, ``data sent to`` / ``returned from Python workers``) are
found by name in the SQL plan events (including AQE re-plans) and
matched to task accumulator updates by accumulator id.
"""

from __future__ import annotations

import json
from collections import defaultdict
from typing import Iterable

COUNTERS = (
    "jobs", "tasks", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
    "python_s", "arrow_bytes",
)
PY_TIME = "time to run Python workers"
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", []):
        out[int(m["accumulatorId"])] = (m["name"], m.get("metricType", ""))
    for child in node.get("children", []):
        _plan_metrics(child, out)


def fold(lines: Iterable[str]) -> dict[str | None, dict[str, float]]:
    """Counters per job group (``None`` = jobs outside any group)."""
    events = [json.loads(line) for line in lines if line.strip()]
    accs: dict[int, tuple[str, str]] = {}
    for e in events:
        if "sparkPlanInfo" in e:
            _plan_metrics(e["sparkPlanInfo"], accs)

    stage_group: dict[int, str | None] = {}
    out: dict[str | None, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            out[group]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            c = out[stage_group.get(e["Stage ID"])]
            c["tasks"] += 1
            tm = e.get("Task Metrics") or {}
            c["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            c["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            c["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                name, mtype = accs.get(int(a["ID"]), (None, None))
                if name == PY_TIME:
                    c["python_s"] += float(a.get("Update", 0)) * _TIME_SCALE.get(mtype, 1e-3)
                elif name in PY_BYTES:
                    c["arrow_bytes"] += float(a.get("Update", 0))
    return dict(out)


def by_name(folded: dict, group_names: dict[str, str]) -> dict[str, dict[str, float]]:
    """Sum group counters under the span name that owns each group."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for group, c in folded.items():
        name = group_names.get(group) if group is not None else None
        if name is None:
            continue
        for k, v in c.items():
            out[name][k] += v
    return dict(out)

