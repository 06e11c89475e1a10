"""Spans around calls into the package's public functions.

The traced run wraps each measured function *where its caller looks it
up* (``Tracer.patch(module, attr, name)``), so nested calls made inside
the package are attributed too. Every span gets its own Spark job group
(``spark.jobGroup.id`` local property) while it is the innermost open
span; the event-log fold then charges each Spark job to exactly one
span. A span's self time is its duration minus the part of it that its
child spans cover (``self_times``).

Spark is lazy: a function that only builds a plan (``extract_text``,
``compile_node_updates``) has a tiny self time, and the work shows up in
the span that runs the action. Workloads that want the cost of a lazy
layer measure it as the marginal time of a longer plan prefix.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Callable


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    group: str


def covered_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: summed duration minus the union of its children's
    intervals (clipped to the parent), over every closed span."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        if s.end is None:
            continue
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children[i]
            if c.end is not None
        ]
        out[s.name] += (s.end - s.start) - covered_length(kids)
    return dict(out)


class Tracer:
    """Records spans in memory; ``sc`` (a SparkContext) is optional so the
    arithmetic can be tested without Spark."""

    def __init__(self, sc: Any = None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[Any, str, Any]] = []

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, 0.0, None, parent, f"kgspan-{idx}")
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group(sp.group)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[parent].group if parent is not None else None)

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, module: Any, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a traced wrapper until ``unpatch``."""
        orig = getattr(module, attr)
        self._patches.append((module, attr, orig))
        setattr(module, attr, self.wrap(name, orig))

    def unpatch(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)

    def group_names(self) -> dict[str, str]:
        return {s.group: s.name for s in self.spans}
