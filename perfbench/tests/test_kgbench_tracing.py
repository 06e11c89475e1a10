"""Span self-time arithmetic and patching, without Spark.

    python3 -m pytest perfbench/tests
"""

import sys
import types
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from kgbench.tracing import Span, Tracer, covered_length, self_times  # noqa: E402


def test_covered_length_merges_overlaps_and_ignores_empty():
    assert covered_length([]) == 0.0
    assert covered_length([(0, 1), (2, 3)]) == 2.0
    assert covered_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert covered_length([(0, 10), (2, 3)]) == 10.0
    assert covered_length([(4, 4), (3, 1)]) == 0.0


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("load", 0.0, 10.0, None, "g0"),
        Span("merge", 1.0, 3.0, 0, "g1"),
        Span("merge", 2.0, 5.0, 0, "g2"),
        Span("write", 2.5, 4.0, 2, "g3"),
    ]
    st = self_times(spans)
    assert st["load"] == 10.0 - 4.0  # children cover [1, 5]
    assert st["merge"] == 2.0 + (3.0 - 1.5)
    assert st["write"] == 1.5


def test_child_outside_parent_is_clipped_and_open_spans_skipped():
    spans = [
        Span("p", 0.0, 2.0, None, "g0"),
        Span("c", 1.0, 5.0, 0, "g1"),
        Span("open", 0.5, None, 0, "g2"),
    ]
    st = self_times(spans)
    assert st["p"] == 1.0
    assert st["c"] == 4.0
    assert "open" not in st


class FakeContext:
    def __init__(self):
        self.calls = []

    def setLocalProperty(self, key, value):
        self.calls.append((key, value))


def test_spans_set_and_restore_job_groups():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    groups = [v for _, v in sc.calls]
    assert groups == ["kgspan-0", "kgspan-1", "kgspan-0", None]
    assert tr.group_names() == {"kgspan-0": "outer", "kgspan-1": "inner"}
    assert tr.spans[1].parent == 0 and tr.spans[0].parent is None


def test_patch_attributes_nested_calls_and_unpatch_restores():
    mod = types.SimpleNamespace()

    def inner(x):
        return x + 1

    mod.inner = inner
    mod.outer = lambda x: mod.inner(x) * 2  # looks ``inner`` up at call time
    tr = Tracer()
    tr.patch(mod, "inner", "pkg.inner")
    tr.patch(mod, "outer", "pkg.outer")
    assert mod.outer(1) == 4
    assert [s.name for s in tr.spans] == ["pkg.outer", "pkg.inner"]
    assert tr.spans[1].parent == 0
    tr.unpatch()
    assert mod.inner is inner
    mod.outer(1)
    assert len(tr.spans) == 2


def test_exception_closes_span():
    tr = Tracer()
    try:
        with tr.span("boom"):
            raise ValueError
    except ValueError:
        pass
    assert tr.spans[0].end is not None and tr._stack == []
