"""Spans, Spark job accounting and process memory for the benchmark.

A span wraps one call into a library layer.  With tracing off a span
only times the call (the end-to-end numbers need the latencies).  With
tracing on it also notes the range of Spark job ids the call caused —
job ids are sequential per SparkContext and the benchmark is a single
closed-loop client, so every job submitted between a span's start and
end belongs to it (a streaming drain's micro-batch jobs included).  The
job and stage details are read from the status store once, after the
run, so the timed calls pay only two py4j round trips each.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Optional


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    job_lo: int = 0
    job_hi: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def busy_s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``dump`` writes the spans at exit."""

    def __init__(self, traced: bool) -> None:
        self.traced = traced
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None  # JVM SparkContext, once a session exists

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()

    def _next_job(self) -> int:
        if not self.traced or self._sc is None:
            return 0
        return int(self._sc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, 0.0, parent=parent, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        s.job_lo = self._next_job()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.job_hi = self._next_job()
            self._stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, i: int) -> float:
        """Span i's duration minus the time its direct children cover."""
        s = self.spans[i]
        kids = sum(c.busy_s for c in self.spans if c.parent == i)
        return s.busy_s - kids

    def dump(self, path: str, jobs: dict[int, "JobInfo"]) -> None:
        """One JSON line per span: name, start, end (s from the first span),
        parent, run id, self time, and the Spark work it caused."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                js = span_jobs(s, jobs)
                f.write(json.dumps({
                    "run_id": self.run_id,
                    "id": i,
                    "name": s.name,
                    "start": round(s.start - t0, 6),
                    "end": round(s.end - t0, 6),
                    "parent": s.parent,
                    "self_s": round(self.self_time(i), 6),
                    "jobs": len(js),
                    "stages": sum(j.stages for j in js),
                    "shuffle_read_bytes": sum(j.shuffle_read_bytes for j in js),
                    "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in js),
                    **s.attrs,
                }, default=str) + "\n")


@dataclass
class JobInfo:
    submitted_ms: int
    completed_ms: int
    stages: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    input_records: int


def harvest_jobs(spark, lo: int, hi: int) -> dict[int, JobInfo]:
    """Job and stage metrics for job ids [lo, hi) from the status store
    (populated with the UI off), after the listener bus has drained."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    out: dict[int, JobInfo] = {}
    for j in range(lo, hi):
        try:
            jd = store.job(j)
        except Exception:  # py4j error: the store evicted or never saw it
            continue
        sids = jd.stageIds()
        srb = swb = recs = n = 0
        for k in range(sids.size()):
            st = store.lastStageAttempt(sids.apply(k))
            if st.status().toString() == "SKIPPED":
                continue
            n += 1
            srb += st.shuffleReadBytes()
            swb += st.shuffleWriteBytes()
            recs += st.inputRecords()
        sub, comp = jd.submissionTime(), jd.completionTime()
        out[j] = JobInfo(
            sub.get().getTime() if sub.isDefined() else 0,
            comp.get().getTime() if comp.isDefined() else 0,
            n, srb, swb, recs,
        )
    return out


def span_jobs(span: Span, jobs: dict[int, JobInfo]) -> list[JobInfo]:
    return [jobs[j] for j in range(span.job_lo, span.job_hi) if j in jobs]


def job_busy_s(js: list[JobInfo]) -> float:
    """Wall time covered by at least one running job (interval union)."""
    iv = sorted((j.submitted_ms, j.completed_ms) for j in js if j.completed_ms)
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in iv:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """Driver Python process plus its JVM child."""
    total = vm_hwm_mb(os.getpid())
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        total += vm_hwm_mb(proc.pid)
    return total


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[Optional[float], Optional[float], int]:
    """(percentile, value, n): the highest percentile p on the nearest-rank
    grid that has at least ten samples strictly beyond it, and its value.
    None when fewer than 11 samples exist."""
    n = len(xs)
    if n < 11:
        return None, None, n
    ys = sorted(xs)
    k = n - 11  # index with exactly ten samples above it
    return round(100.0 * (k + 1) / n, 1), ys[k], n
