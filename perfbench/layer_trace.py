"""Layer spans and Spark event-log attribution for the traced run.

Spans are recorded from the benchmark's side of each layer boundary: the
benchmark either wraps its own call into a layer, or rebinds the module
attribute through which the program calls the layer (``quality.run_suite``
inside ``plans.runner.build``, for example) and restores it afterwards.
No package source is edited.

Spark jobs are attributed to spans by time window: a job belongs to every
span whose window holds its submission time. Ops run one at a time, so a
window holds only its own op's jobs. Job groups cannot do this: jobs that
builders start on helper threads carry no group.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

# the per-layer counters and their units
COUNTERS = {
    "wall_s": "s",
    "jobs": "count",
    "tasks": "count",
    "driver_only_s": "s",
    "executor_cpu_s": "s",
    "executor_wait_s": "s",
    "input_bytes": "bytes",
    "shuffle_bytes": "bytes",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    op: int | None = None


class Tracer:
    """In-memory span recorder; thread-safe, because streaming
    ``foreachBatch`` callbacks run on a py4j callback thread."""

    def __init__(self):
        self.spans: list[Span] = []
        self.op: int | None = None
        self._lock = threading.Lock()
        self._stack = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack.__dict__.setdefault("names", [])
        s = Span(name, time.time(), parent=stack[-1] if stack else None, op=self.op)
        stack.append(name)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.time()
            with self._lock:
                self.spans.append(s)

    def rebind(self, module, attr: str, name: str, wrap=None) -> None:
        """Replace ``module.attr`` with a wrapper that records a span
        named ``name`` around every call, until :meth:`unbind_all`.
        ``wrap``, if given, first wraps the original with an observer."""
        original = getattr(module, attr)
        inner = wrap(original) if wrap else original

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        self._restore.append((module, attr, original))
        setattr(module, attr, wrapper)

    def unbind_all(self) -> None:
        while self._restore:
            module, attr, original = self._restore.pop()
            setattr(module, attr, original)

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_records: int = 0
    shuffle_bytes: int = 0


def parse_event_log(log_dir: str) -> list[Job]:
    """Jobs with their summed task metrics, from the uncompressed JSON
    event log(s) under ``log_dir``."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = Job(ev["Job ID"], ev["Submission Time"], stages=ev["Stage IDs"])
                    jobs[job.id] = job
                    for sid in job.stages:
                        stage_job[sid] = job.id
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    job_id = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if job_id is None or not m:
                        continue
                    job = jobs[job_id]
                    job.tasks += 1
                    job.run_ms += m["Executor Run Time"]
                    job.cpu_ns += m["Executor CPU Time"]
                    job.input_bytes += m["Input Metrics"]["Bytes Read"]
                    job.input_records += m["Input Metrics"]["Records Read"]
                    job.output_records += m["Output Metrics"]["Records Written"]
                    job.shuffle_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    for job in jobs.values():
        job.end_ms = job.end_ms or job.submit_ms
    return sorted(jobs.values(), key=lambda j: j.submit_ms)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def jobs_in(span: Span, jobs: list[Job]) -> list[Job]:
    lo, hi = span.start * 1000.0, span.end * 1000.0
    return [j for j in jobs if lo <= j.submit_ms <= hi]


def layer_counters(spans: list[Span], jobs: list[Job]) -> dict[str, float]:
    """The eight per-layer counters, summed over ``spans``."""
    out = dict.fromkeys(COUNTERS, 0.0)
    for s in spans:
        mine = jobs_in(s, jobs)
        wall = s.end - s.start
        busy = _union_s(
            [(j.submit_ms / 1000.0, min(j.end_ms / 1000.0, s.end)) for j in mine]
        )
        out["wall_s"] += wall
        out["jobs"] += len(mine)
        out["tasks"] += sum(j.tasks for j in mine)
        out["driver_only_s"] += max(0.0, wall - busy)
        out["executor_cpu_s"] += sum(j.cpu_ns for j in mine) / 1e9
        out["executor_wait_s"] += sum(j.run_ms / 1e3 - j.cpu_ns / 1e9 for j in mine)
        out["input_bytes"] += sum(j.input_bytes for j in mine)
        out["shuffle_bytes"] += sum(j.shuffle_bytes for j in mine)
    return out
