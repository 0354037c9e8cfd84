"""Spans recorded from outside the program, around calls into its
modules (``session``, ``sources``, ``pipeline``, ``serving``,
``catalog``, ``plans.<module>``, ``operators``).

A span has a name (a per-layer metric name), a start, an end, its
parent span and an operation id. Spans stay in memory until the run
ends. Each span runs its own Spark job group, so the jobs, stages and
tasks it launched are read back through ``statusTracker()`` when it
closes. The untraced run uses :data:`OFF`, which records nothing and
sets no job group.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and their Spark job counts for one traced run."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._status = self._sc.statusTracker()
        self._bus = self._sc._jsc.sc().listenerBus()
        self._seen_stages: set[int] = set()
        self._ids = itertools.count()
        self._stack: list[int] = []
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None:
            op = self.spans[parent].op if parent is not None else name
        idx = len(self.spans)
        self.spans.append(Span(name, op, parent, time.perf_counter()))
        if parent is not None:
            self.spans[parent].children.append(idx)
        group = f"perfbench-{next(self._ids)}"
        outer = self._sc.getLocalProperty(JOB_GROUP)
        self._sc.setLocalProperty(JOB_GROUP, group)
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self._sc.setLocalProperty(JOB_GROUP, outer)
            self._count(self.spans[idx], group)

    def _count(self, span: Span, group: str) -> None:
        # job/stage events reach the status store through the listener
        # bus; drain it so the counts are complete and repeatable
        self._bus.waitUntilEmpty()
        for job_id in self._status.getJobIdsForGroup(group):
            span.jobs += 1
            info = self._status.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = self._status.getStageInfo(stage_id)
                # a stage reused from an earlier job counts once, where it ran
                if stage is None or stage_id in self._seen_stages:
                    continue
                ran = stage.numCompletedTasks + stage.numFailedTasks
                if ran:
                    self._seen_stages.add(stage_id)
                    span.stages += 1
                    span.tasks += ran
                    span.failed_tasks += stage.numFailedTasks

    def inclusive(self, idx: int, attr: str) -> int:
        """A count over a span and all spans under it."""
        s = self.spans[idx]
        return getattr(s, attr) + sum(self.inclusive(c, attr) for c in s.children)

    def self_seconds(self) -> dict[str, float]:
        """Per span name: duration minus the part its child spans cover."""
        out: dict[str, float] = {}
        for s in self.spans:
            own = s.seconds - sum(self.spans[c].seconds for c in s.children)
            out[s.name] = out.get(s.name, 0.0) + own
        return out

    def records(self) -> list[dict]:
        return [
            {
                "id": i, "name": s.name, "op": s.op, "parent": s.parent,
                "start": round(s.start, 6), "end": round(s.end, 6),
                "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks,
                "failed_tasks": s.failed_tasks,
            }
            for i, s in enumerate(self.spans)
        ]

    @contextmanager
    def wrap(self, targets: list[tuple[object, str, str]]):
        """While active, each ``(module, attribute, span name)`` target
        function runs inside a span of that name; a call made while a
        span of the same name is open records no second span. The
        original functions are restored on exit."""
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
        for mod, attr, name in targets:
            setattr(mod, attr, self._spanned(getattr(mod, attr), name))
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def _spanned(self, fn, name: str):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            if any(self.spans[i].name == name for i in self._stack):
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return call


def operator_targets(package: str) -> list[tuple[object, str, str]]:
    """Every binding, in any loaded module of ``package``, of a public
    function defined in ``<package>.operators``: calls from plans and
    the pipeline reach operators through these names."""
    prefix = f"{package}.operators."
    public = {
        fn
        for name, mod in list(sys.modules.items())
        if name.startswith(prefix) and mod is not None
        for attr, fn in vars(mod).items()
        if inspect.isfunction(fn) and fn.__module__ == name and not attr.startswith("_")
    }
    return [
        (mod, attr, "operators.s")
        for name, mod in list(sys.modules.items())
        if name.startswith(package) and mod is not None
        for attr, val in list(vars(mod).items())
        if inspect.isfunction(val) and val in public
    ]


class _Off:
    """The untraced run: no spans, no job groups."""
    spans: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        yield None

    @contextmanager
    def wrap(self, targets):
        yield


OFF = _Off()
