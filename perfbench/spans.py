"""Spans recorded around the benchmark's calls into the engine, and the
Spark counters of the jobs each span ran.

A span owns the Spark jobs whose IDs the scheduler handed out while the
span was open: the next job ID is read from the DAG scheduler when the
span opens and when it closes. Job IDs are assigned in submission order
from one counter, so this catches jobs submitted from threads the
engine starts inside the call (a ``setJobGroup`` tag does not follow
those threads). With one client thread no other span can submit jobs
in between.

Counters come from the application status store, which Spark keeps
with the UI disabled. Spans stay in memory; ``Tracer.finish`` waits
for the listener bus to drain, reads the store once and attaches the
counters.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    job_lo: int = 0  # first job ID owned by the span
    job_hi: int = 0  # one past the last
    attrs: dict = field(default_factory=dict)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext._jsc.sc() if enabled else None

    def _next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(name, time.time(), self._stack[-1] if self._stack else None)
        sp.attrs.update(attrs)
        sp.job_lo = self._next_job_id()
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.job_hi = self._next_job_id()
            sp.end = time.time()
            self._stack.pop()

    def finish(self) -> list[dict]:
        """Attach Spark counters and self time to every span and return
        them as plain dicts."""
        if not self.enabled:
            return []
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        jobs: dict[int, dict] = {}
        stages: dict[int, dict] = {}
        lo = min((s.job_lo for s in self.spans), default=0)
        hi = max((s.job_hi for s in self.spans), default=0)
        for jid in range(lo, hi):
            jobs[jid] = _job(store, jid, stages)
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out = []
        for i, sp in enumerate(self.spans):
            own = [jobs[j] for j in range(sp.job_lo, sp.job_hi) if jobs.get(j)]
            stage_ids = {s for j in own for s in j["stages"]}
            st = [stages[s] for s in stage_ids if stages.get(s)]
            wall = sp.end - sp.start
            job_iv = [
                (max(j["start"], sp.start), min(j["end"], sp.end))
                for j in own
                if j["end"] > j["start"]
            ]
            kids = [(c.start, c.end) for c in children.get(i, [])]
            rec = {
                "name": sp.name,
                "parent": sp.parent,
                "start": sp.start,
                "end": sp.end,
                "wall_s": wall,
                "self_s": wall - union_length(kids),
                "driver_gap_s": wall - union_length(job_iv),
                "jobs": len(own),
                "stages": len(st),
                "tasks": sum(s["tasks"] for s in st),
                "executor_run_s": sum(s["run_ms"] for s in st) / 1e3,
                "executor_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
                "gc_s": sum(s["gc_ms"] for s in st) / 1e3,
                "input_mb": sum(s["input"] for s in st) / MB,
                "shuffle_read_mb": sum(s["sh_read"] for s in st) / MB,
                "shuffle_write_mb": sum(s["sh_write"] for s in st) / MB,
                "spill_mb": sum(s["spill"] for s in st) / MB,
            }
            rec.update(sp.attrs)
            out.append(rec)
        return out


def _ms(opt_date) -> float | None:
    """Scala ``Option[java.util.Date]`` → epoch seconds."""
    return opt_date.get().getTime() / 1e3 if opt_date.isDefined() else None


def _job(store, jid: int, stages: dict[int, dict]) -> dict | None:
    try:
        j = store.job(jid)
    except Py4JJavaError:  # evicted from the store or never registered
        return None
    ids = [int(j.stageIds().apply(k)) for k in range(j.stageIds().size())]
    for sid in ids:
        if sid not in stages:
            stages[sid] = _stage(store, sid)
    start = _ms(j.submissionTime())
    end = _ms(j.completionTime())
    return {
        "stages": ids,
        "start": start or 0.0,
        "end": end or start or 0.0,
    }


def _stage(store, sid: int) -> dict | None:
    try:
        s = store.lastStageAttempt(sid)
    except Py4JJavaError:  # skipped stages have no attempt
        return None
    if str(s.status()) == "SKIPPED":
        return None
    return {
        "tasks": int(s.numCompleteTasks()),
        "run_ms": int(s.executorRunTime()),
        "cpu_ns": int(s.executorCpuTime()),
        "gc_ms": int(s.jvmGcTime()),
        "input": int(s.inputBytes()),
        "sh_read": int(s.shuffleReadBytes()),
        "sh_write": int(s.shuffleWriteBytes()),
        "spill": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
    }
