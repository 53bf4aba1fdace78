"""In-memory spans around the benchmark's calls into each engine layer.

A span records name, layer, start, end, parent span and query id, plus
the Spark jobs submitted while it was open.  Jobs are counted by the
scheduler's job-id counter, so jobs that a layer submits from its own
threads (IndexBuilder's write pool) are included; task counts are
resolved from the status tracker when the run ends, after the listener
bus has caught up.  With tracing off every call is a plain context
manager that records nothing.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    qid: int | None
    start: float
    end: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    tasks: int = 0
    children_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return self.job_hi - self.job_lo

    @property
    def self_s(self) -> float:
        return self.wall - self.children_s


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self.overhead_s = 0.0  # time spent inside the tracer itself

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def _next_job_id(self) -> int:
        if self._sc is None:
            return 0
        nxt = self._sc._jsc.sc().dagScheduler().nextJobId()
        return int(nxt if isinstance(nxt, int) else nxt.get())

    @contextlib.contextmanager
    def span(self, name: str, qid: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, name.split(".")[0],
                  parent.sid if parent else None,
                  qid if qid is not None else (parent.qid if parent else None),
                  0.0, attrs=dict(attrs))
        sp.job_lo = self._next_job_id()
        self.spans.append(sp)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.job_hi = self._next_job_id()
            self._stack.pop()
            if parent is not None:
                parent.children_s += sp.wall
            self.overhead_s += time.perf_counter() - sp.end

    def resolve_tasks(self) -> None:
        """Completed task count per span, from the status tracker."""
        if not self.enabled or self._sc is None:
            return
        t0 = time.perf_counter()
        st = self._sc.statusTracker()
        per_job: dict[int, int] = {}
        seen: set[int] = set()  # a stage reused by a later job ran once
        hi = max((s.job_hi for s in self.spans), default=0)
        for j in range(hi):
            info = st.getJobInfo(j)
            n = 0
            for sid in (info.stageIds if info else []):
                si = None if sid in seen else st.getStageInfo(sid)
                seen.add(sid)
                n += si.numCompletedTasks if si else 0
            per_job[j] = n
        for s in self.spans:
            s.tasks = sum(per_job.get(j, 0) for j in range(s.job_lo, s.job_hi))
        self.overhead_s += time.perf_counter() - t0

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time_by_layer(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.self_s
        return out

    def dump(self) -> list[dict]:
        return [
            {"id": s.sid, "name": s.name, "parent": s.parent, "qid": s.qid,
             "start": round(s.start, 6), "end": round(s.end, 6),
             "jobs": s.jobs, "tasks": s.tasks, **s.attrs}
            for s in self.spans
        ]
