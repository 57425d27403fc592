"""In-memory spans around the benchmark's calls into each layer.

A span records name, start, end, parent and the request id shared by every
span of one request or job.  While a span is innermost, Spark jobs run
under its own job group, so the public ``statusTracker()`` attributes each
job (and its stages and tasks) to exactly one span.  Spans stay in memory
and are written out once, when the benchmark ends.

With tracing off, :meth:`Tracer.span` yields without touching Spark, so the
untraced path costs one attribute check per call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("sid", "name", "parent", "req", "start", "end", "jobs",
                 "stages", "tasks", "attrs", "children")

    def __init__(self, sid, name, parent, req):
        self.sid, self.name, self.parent, self.req = sid, name, parent, req
        self.start = self.end = 0.0
        self.jobs = self.stages = self.tasks = 0
        self.attrs: dict = {}
        self.children: list[Span] = []

    @property
    def dur(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        """Duration minus the part of it that child spans cover (children
        run sequentially on the driver thread, so their union is their sum
        clipped to this span)."""
        covered = 0.0
        for c in self.children:
            covered += max(0.0, min(c.end, self.end) - max(c.start, self.start))
        return self.dur - covered

    def total(self, field: str) -> int:
        """A job/stage/task count including every descendant span."""
        return getattr(self, field) + sum(c.total(field) for c in self.children)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_req = 0
        self.probe_s = 0.0

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, **attrs):
        """Time one call.  A span opened with no span active starts a new
        request id."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._next_req += 1
        sp = Span(len(self.spans), name, parent.sid if parent else None,
                  parent.req if parent else self._next_req)
        sp.attrs.update(attrs)
        self.spans.append(sp)
        if parent is not None:
            parent.children.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._count_jobs(sp)
            self._set_group(parent)

    @contextmanager
    def probe(self, name: str):
        """A span around an extra call that only traced runs make (a direct
        layer probe); its time is kept out of the operation's latency."""
        t0 = time.perf_counter()
        try:
            with self.span(name, probe=True) as sp:
                yield sp
        finally:
            self.probe_s += time.perf_counter() - t0

    def _group(self, sp: Span) -> str:
        return f"bench-span-{sp.sid}"

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(self._group(sp), sp.name)

    def _count_jobs(self, sp: Span) -> None:
        if self.sc is None:
            return
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(self._group(sp)):
            info = st.getJobInfo(jid)
            sp.jobs += 1
            if info is None:
                continue
            for sid in info.stageIds:
                sp.stages += 1
                stage = st.getStageInfo(sid)
                if stage is not None:
                    sp.tasks += stage.numTasks

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [{"id": s.sid, "name": s.name, "parent": s.parent, "req": s.req,
                 "start": s.start - t0, "end": s.end - t0, "dur": s.dur,
                 "self": s.self_time(), "jobs": s.jobs, "stages": s.stages,
                 "tasks": s.tasks, **s.attrs} for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f, indent=0, default=str)
