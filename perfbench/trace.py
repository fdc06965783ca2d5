"""Spans recorded around calls into the engine's layers.

A span has a name, a layer, start and end, a parent and a pass id.
With Spark counting on, each span runs under its own job group and,
when it ends, its jobs, stages and tasks are read from
``sparkContext.statusTracker()``. Jobs belong to the innermost open
span, so the counts are the span's own (self) counts. Spans stay in
memory until ``dump``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    pass_id: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    error: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part its child spans cover;
    overlapping children are counted once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


@dataclass
class Tracer:
    """Records spans while ``enabled``; ``sc`` set means Spark jobs
    are counted per span."""

    enabled: bool = True
    sc: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, layer: str, pass_id: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, pass_id, parent and parent.id, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        group = f"perfbench-{s.id}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        s.start = time.perf_counter()
        try:
            yield s
        except Exception as e:
            s.error = f"{type(e).__name__}: {e}"
            raise
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self._count(s, group)
                if parent is not None:
                    self.sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def _count(self, s: Span, group: str) -> None:
        st = self.sc.statusTracker()
        for job in st.getJobIdsForGroup(group):
            info = st.getJobInfo(job)
            if info is None:
                continue
            s.jobs += 1
            for stage in info.stageIds:
                si = st.getStageInfo(stage)
                if si is None:
                    continue
                s.stages += 1
                s.tasks += si.numTasks
                s.failed_tasks += si.numFailedTasks

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        rows = [dict(asdict(s), self_s=selfs[s.id]) for s in self.spans]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(rows, fh)
