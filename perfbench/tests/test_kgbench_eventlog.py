"""Event-log fold on a tiny hand-written log.

    python3 -m pytest perfbench/tests
"""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from kgbench import eventlog  # noqa: E402

SQL = "org.apache.spark.sql.execution.ui."


def _plan(metrics, children=()):
    return {"nodeName": "X", "metrics": metrics, "children": list(children)}


def _task(stage, cpu_ns=0, gc_ms=0, spill=(0, 0), shuffle=0, accs=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"ID": i, "Update": u} for i, u in accs]},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill[0],
            "Disk Bytes Spilled": spill[1],
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


LOG = [
    {"Event": "SparkListenerLogStart"},
    {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 0,
     "sparkPlanInfo": _plan([], [_plan([
         {"name": "time to run Python workers", "accumulatorId": 101, "metricType": "timing"},
         {"name": "data sent to Python workers", "accumulatorId": 102, "metricType": "size"},
     ])])},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "g1"}},
    _task(0, cpu_ns=2_000_000_000, gc_ms=250, spill=(10, 5), shuffle=100,
          accs=[(101, 1500), (102, "2048"), (999, 7)]),
    # AQE re-plan registers a new accumulator after the job started.
    {"Event": SQL + "SparkListenerSQLAdaptiveExecutionUpdate", "executionId": 0,
     "sparkPlanInfo": _plan([
         {"name": "data returned from Python workers", "accumulatorId": 103,
          "metricType": "size"}])},
    _task(1, accs=[(103, 512)]),
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
    _task(2, cpu_ns=1_000_000_000),
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
     "Properties": {"spark.jobGroup.id": "g2"}},
]


def test_fold_charges_tasks_to_job_groups():
    folded = eventlog.fold(json.dumps(e) + "\n" for e in LOG)
    g1 = folded["g1"]
    assert g1["jobs"] == 1 and g1["tasks"] == 2
    assert g1["cpu_s"] == 2.0 and g1["gc_s"] == 0.25
    assert g1["spill_bytes"] == 15 and g1["shuffle_write_bytes"] == 100
    assert g1["python_s"] == 1.5
    assert g1["arrow_bytes"] == 2048 + 512
    assert folded[None]["jobs"] == 1 and folded[None]["cpu_s"] == 1.0
    assert folded["g2"]["jobs"] == 1 and folded["g2"]["tasks"] == 0


def test_by_name_sums_groups_of_one_span_name():
    folded = eventlog.fold(json.dumps(e) for e in LOG)
    named = eventlog.by_name(folded, {"g1": "store.merge_nodes", "g2": "store.merge_nodes"})
    assert named["store.merge_nodes"]["jobs"] == 2
    assert set(named) == {"store.merge_nodes"}


def test_blank_lines_are_ignored():
    assert eventlog.fold(["", "\n"]) == {}
