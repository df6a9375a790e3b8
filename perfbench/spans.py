"""Spans recorded around calls into the engine, and Spark SQL metrics read
from a finished plan.

Spans live in memory and are written out once, at the end of a traced run.
The plan walker reads the metrics Spark kept for each physical operator of
an executed DataFrame, going through the adaptive (AQE) final plan and its
query stages; reading them starts no job.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing.

    The parent of a span is the innermost open span of the same thread; a
    span opened on a helper thread (the report's evidence pool) hangs off
    the span open on the thread that set ``root``."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else self.root
        stack.append(sid)
        prev_root = self.root
        if root:
            self.root = sid
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            stack.pop()
            if root:
                self.root = prev_root
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.run_id))

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def covered_ms(self, spans: list[Span]) -> float:
        """Wall milliseconds covered by the union of ``spans``."""
        total, cur_s, cur_e = 0.0, None, None
        for s in sorted(spans, key=lambda s: s.start):
            if cur_e is None or s.start > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s.start, s.end
            else:
                cur_e = max(cur_e, s.end)
        if cur_e is not None:
            total += cur_e - cur_s
        return total * 1000.0

    def self_ms(self, span: Span) -> float:
        """Duration of ``span`` minus the part its child spans cover."""
        kids = [s for s in self.spans if s.parent == span.span_id]
        return span.ms - self.covered_ms(kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.__dict__, sort_keys=True) + "\n")


# ----------------------------- plan metrics -----------------------------

_STAGE_NODES = (
    "ShuffleQueryStageExec",
    "BroadcastQueryStageExec",
    "ResultQueryStageExec",
    "TableCacheQueryStageExec",
)
PYTHON_NODES = (
    "MapInPandasExec",
    "ArrowEvalPythonExec",
    "BatchEvalPythonExec",
    "FlatMapGroupsInPandasExec",
    "MapInArrowExec",
)


@dataclass
class PlanNode:
    cls: str
    metrics: dict[str, int]
    children: list["PlanNode"]

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def find(self, cls: str) -> list["PlanNode"]:
        return [n for n in self.walk() if n.cls == cls]

    def python_child(self) -> "PlanNode | None":
        """Nearest Python operator below this one."""
        for c in self.children:
            for n in c.walk():
                if n.cls in PYTHON_NODES:
                    return n
        return None


def _jchildren(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls in _STAGE_NODES:
        return [node.plan()]
    out, it = [], node.children().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _convert(node) -> PlanNode:
    metrics, it = {}, node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = int(kv._2().value())
    return PlanNode(
        node.getClass().getSimpleName(), metrics, [_convert(c) for c in _jchildren(node)]
    )


def executed_plan(df) -> PlanNode:
    """Run ``df`` once (rows counted on the executors, none collected) and
    return its final physical plan with every operator's SQL metrics."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    return _convert(qe.executedPlan())
