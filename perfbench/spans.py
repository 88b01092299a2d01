"""In-memory spans for the traced run.

A span records a name, start, end, its parent span and the run id. Spans
are kept in memory and written out once, when the run ends. When tracing
is off every call is a no-op, so the untraced run executes the same code
path without the bookkeeping.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Time the enclosed block as span ``name``. The parent defaults
        to the innermost open span of this thread; pass ``parent`` to
        link work that runs on another thread. Yields the attrs dict so
        the block can attach counts."""
        if not self.enabled:
            yield attrs
            return
        span_id = next(self._ids)
        stack = self._stack()
        parent = parent if parent is not None else (stack[-1] if stack else None)
        stack.append(span_id)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(name, start, end, span_id, parent, self.run_id, attrs)
                )

    def record(
        self, name: str, start: float, end: float, parent: int | None = None, **attrs
    ) -> None:
        """Add a span whose interval was measured elsewhere."""
        if not self.enabled:
            return
        parent = parent if parent is not None else self.current()
        with self._lock:
            self.spans.append(
                Span(name, start, end, next(self._ids), parent, self.run_id, attrs)
            )

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def attr(self, name: str, key: str) -> list:
        return [s.attrs[key] for s in self.spans if s.name == name and key in s.attrs]

    def total(self, name: str) -> float:
        return sum(self.seconds(name))

    def median(self, name: str) -> float:
        values = self.seconds(name)
        return statistics.median(values) if values else 0.0

    def dump(self, fh) -> None:
        for s in self.spans:
            fh.write(json.dumps(asdict(s)) + "\n")


def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs, and the stages and tasks that ran, under one job group, read
    from the status tracker (it works with the UI disabled)."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info is not None else ():
            sinfo = tracker.getStageInfo(stage)
            # a stage reused from an earlier job is listed but runs no task
            if sinfo is not None and sinfo.numCompletedTasks > 0:
                stages += 1
                tasks += sinfo.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}
