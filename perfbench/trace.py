"""Spans recorded from the benchmark's own code, plus Spark event-log
counters attributed to them.

Spans: name, wall-clock start/end, parent span and a request id shared by
every span of one operation. They stay in memory until the run ends.

Spark jobs, stages and tasks are read from the event log after the session
stops and assigned to the span whose time window holds their submission
(or launch) time. Attribution is by time window because operations run one
at a time, and the program submits some jobs from pool threads that do not
inherit Spark job groups.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import json
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # wall clock, seconds since the epoch
    end: float
    rid: object
    parent: str | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans from any thread. A span opened inside another on the
    same thread records it as parent and inherits its request id. Spans
    stay in memory; ``dump`` writes them out when the run ends."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, rid: object = None, **attrs):
        """Record a span. Only spans of a traced operation are recorded:
        one given a request id, or nested in a span that has one."""
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if rid is None and parent is not None:
            rid = parent[1]
        if rid is None:
            yield
            return
        stack.append((name, rid))
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(name, start, end, rid, parent[0] if parent else None, attrs)
                )

    def add(self, name: str, start: float, end: float, rid: object, **attrs) -> None:
        """Record a span measured elsewhere (e.g. by the client process)."""
        with self._lock:
            self.spans.append(Span(name, start, end, rid, None, attrs))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f, default=str)


class NullTracer:
    """The timed run's tracer: records nothing."""

    enabled = False

    def span(self, name: str, rid: object = None, **attrs):
        return contextlib.nullcontext()

    def add(self, *args, **kwargs) -> None:
        pass


@dataclass
class EventLog:
    jobs: list[tuple[float, float]]  # (submit, end), seconds
    stages: list[float]  # submit
    tasks: list[tuple[float, int, int]]  # (launch, input bytes, shuffle bytes)
    batches: list[float]  # streaming progress timestamps


def read_event_log(log_dir: str) -> EventLog:
    """Parse the (uncompressed) Spark event log written under ``log_dir``."""
    paths = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
    submit: dict[int, float] = {}
    jobs, stages, tasks, batches = [], [], [], []
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                submit[ev["Job ID"]] = ev["Submission Time"] / 1000
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in submit:
                jobs.append((submit.pop(ev["Job ID"]), ev["Completion Time"] / 1000))
            elif kind == "SparkListenerStageCompleted":
                t = ev["Stage Info"].get("Submission Time")
                if t is not None:
                    stages.append(t / 1000)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                read = m.get("Shuffle Read Metrics", {})
                shuffle = (
                    read.get("Remote Bytes Read", 0)
                    + read.get("Local Bytes Read", 0)
                    + m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                )
                tasks.append(
                    (
                        ev["Task Info"]["Launch Time"] / 1000,
                        m.get("Input Metrics", {}).get("Bytes Read", 0),
                        shuffle,
                    )
                )
            elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                ts = ev["progress"]["timestamp"].replace("Z", "+00:00")
                batches.append(dt.datetime.fromisoformat(ts).timestamp())
    return EventLog(jobs, stages, tasks, batches)


def union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute(log: EventLog, lo: float, hi: float) -> dict:
    """Spark work whose start falls in the window [lo, hi]: job, stage and
    task counts, job time (union of job intervals inside the window, s),
    and input and shuffle bytes."""
    jobs = [(a, b) for a, b in log.jobs if lo <= a <= hi]
    tasks = [t for t in log.tasks if lo <= t[0] <= hi]
    return {
        "jobs": len(jobs),
        "stages": sum(1 for s in log.stages if lo <= s <= hi),
        "tasks": len(tasks),
        "job_s": union_len(jobs, lo, hi),
        "input_bytes": sum(t[1] for t in tasks),
        "shuffle_bytes": sum(t[2] for t in tasks),
        "batches": sum(1 for b in log.batches if lo <= b <= hi),
    }
