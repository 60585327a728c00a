"""Spans around calls into the program's layers, recorded from the
benchmark's side.

``Tracer.wrap(module, "name")`` replaces a module attribute with a wrapper
that records a span (name, start, end, parent) and runs the call under its
own Spark job group, so the Spark jobs, stages and tasks the call caused can
be counted afterwards from ``statusTracker()`` (``count_spark``).
``Tracer.restore()`` puts the original attributes back. Spans are kept in
memory and written out at exit.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the part of ``[lo, hi]`` covered by the union of
    ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it its child spans cover."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.id]
    return span.dur - covered(kids, span.start, span.end)


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str) -> "_SpanCtx":
        """Context manager recording a span named ``name``, nested under
        the innermost open one."""
        return _SpanCtx(self, name)

    def wrap(self, module, attr: str, name: str | None = None) -> None:
        orig = getattr(module, attr)
        label = name or f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(label):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def restore(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out

    def self_time(self, span: Span) -> float:
        return self_time(span, self.spans)

    def count_spark(self) -> None:
        """Fill each span's Spark job/stage/task counts. Run it once the
        traced work is over: the status tracker learns of jobs through an
        asynchronous listener bus."""
        sc = self.spark.sparkContext
        for s in self.spans:
            if s.group is not None:
                s.jobs, s.stages, s.tasks = spark_counts(sc, s.group)

    def total(self, span: Span, key: str) -> int:
        """Span's own Spark count plus its descendants'."""
        return sum(getattr(s, key) for s in [span, *self.descendants(span)])

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self) -> Span:
        t = self.t
        parent = t._stack[-1] if t._stack else None
        s = Span(id=len(t.spans), name=self.name,
                 parent=parent.id if parent else None,
                 start=time.perf_counter())
        t.spans.append(s)
        t._stack.append(s)
        if t.spark is not None:
            s.group = f"e2ebench-span-{s.id}"
            t.spark.sparkContext.setJobGroup(s.group, self.name)
        return s

    def __exit__(self, *exc) -> None:
        t = self.t
        s = t._stack.pop()
        s.end = time.perf_counter()
        if s.group is not None:
            sc = t.spark.sparkContext
            parent = t._stack[-1] if t._stack else None
            if parent is not None and parent.group is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)


def spark_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return len(jobs), stages, tasks
