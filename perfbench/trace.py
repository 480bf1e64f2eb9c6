"""Spans, Spark event-log windows and process sampling, all taken from
outside the program.

Spans are kept in memory (name, start, end, parent, iteration id) and
written out when the benchmark ends.  In a traced run each span labels the
Spark jobs it starts with ``setJobGroup(<span id>)``; the event log then
gives every job's window and its tasks' metrics, and each job becomes a
child span of the call that started it.  A span's self time is its
duration minus the part of it that its children cover.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from .stats import union_length


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    iteration: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``labeler`` (traced runs only) is called
    with each new span's id and name before the span's body runs."""

    def __init__(self, labeler=None):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.labeler = labeler
        self.iteration: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, 0.0, parent=parent,
                  iteration=self.iteration, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        if self.labeler is not None:
            self.labeler(sp.id, name)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.labeler is not None and self._stack:
                self.labeler(self._stack[-1].id, self._stack[-1].name)

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> Span:
        sp = Span(len(self.spans), name, start, end, parent,
                  self.spans[parent].iteration if parent is not None else None,
                  attrs)
        self.spans.append(sp)
        return sp

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def self_time(spans: list[Span], sp: Span) -> float:
    """``sp``'s duration minus the union of its children's intervals."""
    kids = [(c.start, c.end) for c in spans if c.parent == sp.id]
    return sp.duration - union_length(kids, sp.start, sp.end)


# ---------------------------------------------------------------- event log

@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class Task:
    stage: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int


def read_event_log(log_dir: str) -> tuple[dict[int, Job], list[Task]]:
    """Jobs (with their job group) and finished tasks from the Spark event
    log files under ``log_dir``."""
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    # Spark 4 writes rolling logs: a directory per application holding
    # events_<n>_<app> files, an appstatus marker and .crc checksums
    paths = [os.path.join(root, name)
             for root, _, names in os.walk(log_dir) for name in names
             if not name.startswith((".", "appstatus"))]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1e3,
                        stages=list(ev.get("Stage IDs") or []))
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(Task(
                        ev["Stage ID"], m.get("Executor Run Time", 0) / 1e3,
                        m.get("Executor CPU Time", 0) / 1e9,
                        m.get("JVM GC Time", 0) / 1e3,
                        int(sw.get("Shuffle Bytes Written", 0))))
    return jobs, tasks


def attach_jobs(tracer: Tracer, jobs: dict[int, Job]) -> None:
    """Add each labelled job as a ``spark.job`` child of the span that
    started it."""
    by_id = {str(s.id): s for s in tracer.spans}
    for job in sorted(jobs.values(), key=lambda j: j.id):
        parent = by_id.get(job.group or "")
        if parent is not None and job.end:
            tracer.add("spark.job", job.submit, job.end, parent.id,
                       job=job.id, stages=job.stages)


# ---------------------------------------------------------- process sampling

def _children(pid: int) -> list[int]:
    out: list[int] = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = _children(pid), []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _resident_bytes(pid: int) -> int:
    """Proportional set size: pages shared by the forked Python workers are
    split between them instead of counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime: a reaped worker's CPU stays counted
    in its parent."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in fields[11:15])
    except OSError:
        return 0


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of ``pid``'s descendants (the driver JVM and its Python
    workers) plus ``pid``'s own user and system time."""
    tick = os.sysconf("SC_CLK_TCK")
    own = os.times()
    return (sum(_cpu_ticks(p) for p in descendants(pid)) / tick
            + own.user + own.system)


class ProcSampler:
    """Samples the resident memory (PSS) of this process's descendants (the
    driver JVM and its Python workers) from a background thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = sum(_resident_bytes(p) for p in descendants(me))
            self.peak_rss = max(self.peak_rss, rss)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
