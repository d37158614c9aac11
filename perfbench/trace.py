"""Spans around the benchmark's calls into the engine's public API.

Every timed call runs inside `Tracer.span`. With tracing off a span is
two clock reads. With tracing on, each span also gets its own Spark job
group, and when it ends the tracer drains the listener bus and reads
that group's jobs and stages from the in-process status store
(`statusTracker().getJobIdsForGroup` + `statusStore()`), which works
with the UI disabled. Stages are read at span end because the store
keeps only a bounded number of jobs and stages.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# StageData fields summed per span (executorCpuTime is in ns, the
# run/GC times in ms, the rest in records or bytes).
STAGE_FIELDS = (
    "numCompleteTasks", "executorCpuTime", "executorRunTime", "jvmGcTime",
    "inputRecords", "inputBytes", "outputBytes", "shuffleReadBytes",
    "shuffleReadRecords", "shuffleWriteBytes", "memoryBytesSpilled",
    "diskBytesSpilled",
)


@dataclass
class Span:
    name: str
    op: int  # spans of one operation share this id
    parent: int | None
    sid: int
    start: float
    end: float = 0.0
    trace_s: float = 0.0  # tracer bookkeeping after `end`
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    stages: dict = field(default_factory=dict)
    job_secs: dict = field(default_factory=dict)  # job description -> s

    @property
    def secs(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it covered by its children
    (each child covering its own bookkeeping too)."""
    ivs = sorted((max(c.start, span.start), min(c.end + c.trace_s, span.end))
                 for c in children)
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivs:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.secs - covered


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.own_s = 0.0  # time spent in tracer bookkeeping
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)

    def new_op(self) -> int:
        return next(self._ops)

    @contextmanager
    def span(self, name: str, op: int = 0, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        if self.enabled:
            t = time.perf_counter()
            self.sc.setJobGroup(f"perfbench-{sid}", name)
            self.own_s += time.perf_counter() - t
        s = Span(name, op or (parent.op if parent else 0),
                 parent.sid if parent else None, sid, time.perf_counter(),
                 attrs=dict(attrs))
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if self.enabled:
                self._read_jobs(s)
                if parent is not None:
                    self.sc.setJobGroup(f"perfbench-{parent.sid}", parent.name)
                else:
                    self.sc._jsc.clearJobGroup()
                s.trace_s = time.perf_counter() - s.end
                self.own_s += s.trace_s

    def _read_jobs(self, s: Span) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        jvm = self.sc._jvm
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        totals = dict.fromkeys(STAGE_FIELDS, 0)
        seen: set[int] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(f"perfbench-{s.sid}"):
            job = store.job(jid)
            s.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                desc = job.description()
                key = desc.get() if desc.isDefined() else s.name
                s.job_secs[key] = s.job_secs.get(key, 0.0) + (
                    done.get().getTime() - sub.get().getTime()) / 1000.0
            for stage_id in jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                    job.stageIds()):
                if int(stage_id) in seen:
                    continue
                seen.add(int(stage_id))
                attempts = store.stageData(int(stage_id), False,
                                           jvm.java.util.ArrayList(), False,
                                           no_quantiles)
                for sd in jvm.scala.jdk.javaapi.CollectionConverters.asJava(attempts):
                    for f in STAGE_FIELDS:
                        totals[f] += int(getattr(sd, f)())
        s.stages = totals

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == span.sid]

    def to_json(self) -> list[dict]:
        return [
            {
                "name": s.name, "sid": s.sid, "op": s.op, "parent": s.parent,
                "start": s.start, "end": s.end, "trace_s": s.trace_s,
                "self_s": self_time(s, self.children(s)), "attrs": s.attrs,
                "jobs": s.jobs, "stages": s.stages, "job_secs": s.job_secs,
            }
            for s in self.spans
        ]
