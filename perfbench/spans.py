"""In-memory spans around the program's public calls, and the Spark
event-log summary the traced run reads.

Spans are recorded only from the benchmark's own files; the package is
not modified. A disabled tracer records nothing, so the untraced run
pays one no-op context manager per call site.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float  # wall seconds (time.time), comparable with the event log
    end: float
    parent: int | None
    trace_id: str | None  # shared by the spans of one batch or query


class Tracer:
    """Spans of one run, kept in memory; a span's parent is the span
    open on the same thread when it starts."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if trace_id is None and parent is not None:
            trace_id = parent[1]
        sid = next(self._ids)
        stack.append((sid, trace_id))
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent[0] if parent else None, trace_id))

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call."""
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_time(self) -> dict[int, float]:
        """Span id -> its duration minus the time its direct children
        cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        return {s.id: max(0.0, s.end - s.start - child.get(s.id, 0.0)) for s in self.spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


# ------------------------------------------------------------- event log

def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every application logged under ``log_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not path.endswith(".inprogress.tmp"):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


@dataclass
class Task:
    stage: int
    job: int
    tag: str  # the job's ``perfbench.tag`` local property, "" if unset
    launch: float  # wall seconds
    duration_s: float
    run_s: float
    cpu_s: float
    gc_s: float
    scheduler_delay_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int
    python_s: float


TAG = "perfbench.tag"


def tasks_of(events: list[dict]) -> tuple[list[Task], dict[int, str]]:
    """Flatten task-end events, each tagged with its job's tag. Also
    returns job id -> tag."""
    stage_job: dict[int, int] = {}
    job_tag: dict[int, str] = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            job_tag[e["Job ID"]] = (e.get("Properties") or {}).get(TAG, "")
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
    out = []
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd" or not e.get("Task Metrics"):
            continue
        info, m = e["Task Info"], e["Task Metrics"]
        duration = (info["Finish Time"] - info["Launch Time"]) / 1000.0
        run = m["Executor Run Time"] / 1000.0
        overhead = (m["Executor Deserialize Time"] + m["Result Serialization Time"]
                    + info.get("Getting Result Time", 0)) / 1000.0
        sr = m.get("Shuffle Read Metrics", {})
        python_ms = sum(float(a.get("Update", 0) or 0) for a in info.get("Accumulables", [])
                        if a.get("Name") == "time to run Python workers")
        job = stage_job.get(e["Stage ID"], -1)
        out.append(Task(
            stage=e["Stage ID"], job=job, tag=job_tag.get(job, ""),
            launch=info["Launch Time"] / 1000.0, duration_s=duration, run_s=run,
            cpu_s=m["Executor CPU Time"] / 1e9,
            gc_s=m["JVM GC Time"] / 1000.0,
            scheduler_delay_s=max(0.0, duration - run - overhead),
            shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            shuffle_write=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
            spill=m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
            python_s=python_ms / 1000.0,
        ))
    return out, job_tag


def exec_summary(tasks: list[Task], jobs: set[int]) -> dict[str, float]:
    """The ``exec.*`` per-layer numbers over ``tasks``."""
    stages: dict[int, list[float]] = {}
    for t in tasks:
        stages.setdefault(t.stage, []).append(t.duration_s)
    skew = 0.0
    for durs in stages.values():
        mid = statistics.median(durs)
        if len(durs) > 1 and mid > 0:
            skew = max(skew, max(durs) / mid)
    return {
        "exec.jobs": float(len(jobs)),
        "exec.stages": float(len(stages)),
        "exec.tasks": float(len(tasks)),
        "exec.executor_run_s": sum(t.run_s for t in tasks),
        "exec.executor_cpu_s": sum(t.cpu_s for t in tasks),
        "exec.gc_s": sum(t.gc_s for t in tasks),
        "exec.scheduler_delay_s": sum(t.scheduler_delay_s for t in tasks),
        "exec.shuffle_read_bytes": float(sum(t.shuffle_read for t in tasks)),
        "exec.shuffle_write_bytes": float(sum(t.shuffle_write for t in tasks)),
        "exec.spill_bytes": float(sum(t.spill for t in tasks)),
        "exec.python_eval_s": sum(t.python_s for t in tasks),
        "exec.task_skew": skew,
    }
