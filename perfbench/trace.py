"""Spans recorded from outside the package, and Spark jobs attributed to them.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, run id,
thread, counters) and writes them out when the run ends. Spans wrap the
public calls of each layer; ``ParquetStore`` methods are wrapped on the
class so calls made by the engine are seen too.

Each span sets the JVM thread-local property ``perfbench.span`` in the
thread that opened it, so a job submitted from that thread names its span
in the event log. A job without the property (one submitted from a pool
thread inside the package, which no span can see) goes to the innermost
span open at its submission time.

:class:`NullTracer` is the untraced stand-in: same interface, no cost.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    thread: str = ""
    counters: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class NullTracer:
    @contextmanager
    def span(self, name, **counters):
        yield None

    def add(self, span, **counters):
        pass


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self.sc = None  # SparkContext, once the session exists
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------- spans
    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_property(self, value):
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, value)

    @contextmanager
    def span(self, name: str, **counters):
        stack = self._stack()
        # a pool thread with no span of its own nests under the innermost
        # span of the main thread, which submitted the work it runs
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            s = Span(next(self._ids), name, parent.id if parent else None,
                     time.time(), thread=threading.current_thread().name,
                     counters=dict(counters))
            self.spans.append(s)
        stack.append(s)
        self._set_property(str(s.id))
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_property(str(stack[-1].id) if stack else None)

    def add_span(self, name: str, parent: Span, start: float, end: float, **counters) -> Span:
        """Record a span observed after the fact (a streaming micro-batch)."""
        with self._lock:
            s = Span(next(self._ids), name, parent.id, start, end,
                     thread="stream", counters=dict(counters))
            self.spans.append(s)
        return s

    def add(self, span: Span | None, **counters):
        if span is not None:
            for k, v in counters.items():
                span.counters[k] = span.counters.get(k, 0) + v

    # ---------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        """Replace ``owner.attr`` with a spanned version. ``before(args,
        kwargs)`` returns state handed to ``after(span, state, args,
        kwargs, result)``, which records counters."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            state = before(args, kwargs) if before else None
            with self.span(name) as s:
                result = original(*args, **kwargs)
            if after:
                after(s, state, args, kwargs, result)
            return result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unwrap_all(self):
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def dump(self, path: Path):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"run": self.run_id, **s.__dict__}, default=str) + "\n")


# ------------------------------------------------------------ event log


@dataclass
class Job:
    id: int
    submit: float
    end: float
    span: int | None
    stages: set = field(default_factory=set)
    tasks: int = 0
    task_busy_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0


def read_event_log(log_dir: Path) -> list[Job]:
    """Jobs with their task totals from a Spark JSON event log."""
    files = [p for p in Path(log_dir).iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0,
                        int(span) if span else None)
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = j.id
                jobs[j.id] = j
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev["Stage ID"]))
                if j is None:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                j.stages.add(ev["Stage ID"])
                j.tasks += 1
                j.task_busy_s += (info["Finish Time"] - info["Launch Time"]) / 1000.0
                sr = m.get("Shuffle Read Metrics") or {}
                j.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                j.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                inp = m.get("Input Metrics") or {}
                j.input_bytes += inp.get("Bytes Read", 0)
                j.input_records += inp.get("Records Read", 0)
    for j in jobs.values():
        if not j.end:  # never ended (killed stream job): clip at submit
            j.end = j.submit
    return sorted(jobs.values(), key=lambda j: j.submit)


def attribute_jobs(jobs: list[Job], spans: list[Span]) -> dict[int, list[Job]]:
    """span id -> jobs attributed to it: the span named by the job's
    property, else the innermost span open at the job's submission."""
    by_id = {s.id: s for s in spans}
    depth: dict[int, int] = {}

    def _depth(s: Span) -> int:
        if s.id not in depth:
            depth[s.id] = 0 if s.parent is None else 1 + _depth(by_id[s.parent])
        return depth[s.id]

    def _inside(s: Span, root: int) -> bool:
        while s is not None:
            if s.id == root:
                return True
            s = by_id.get(s.parent)
        return False

    out: dict[int, list[Job]] = {}
    for j in jobs:
        open_ = [s for s in spans if s.start <= j.submit <= s.end]
        if j.span in by_id:
            # the submitting thread's span, or a span opened inside it on
            # a thread the property does not reach (stream batches)
            open_ = [s for s in open_ if _inside(s, j.span)] or [by_id[j.span]]
        if open_:
            sid = max(open_, key=lambda s: (_depth(s), s.start)).id
            out.setdefault(sid, []).append(j)
    return out


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SpanTree:
    """Queries over recorded spans and their attributed jobs."""

    def __init__(self, spans: list[Span], jobs: list[Job], cores: int):
        self.spans = spans
        self.jobs = jobs
        self.cores = cores
        self.parent_of = {s.id: s.parent for s in spans}
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)
        self.by_span = attribute_jobs(jobs, spans)

    def outermost(self, spans: list[Span]) -> list[Span]:
        """The spans not nested inside another of the given spans."""
        ids = {s.id for s in spans}
        out = []
        for s in spans:
            p = s.parent
            while p is not None and p not in ids:
                p = self.parent_of.get(p)
            if p is None:
                out.append(s)
        return out

    def descendants(self, s: Span) -> list[Span]:
        out, todo = [], list(self.children.get(s.id, []))
        while todo:
            c = todo.pop()
            out.append(c)
            todo.extend(self.children.get(c.id, []))
        return out

    def jobs_under(self, s: Span) -> list[Job]:
        out = list(self.by_span.get(s.id, []))
        for d in self.descendants(s):
            out.extend(self.by_span.get(d.id, []))
        return out

    def self_time(self, s: Span) -> float:
        kids = self.children.get(s.id, [])
        return s.wall - union_length([(c.start, c.end) for c in kids], s.start, s.end)

    def driver_gap(self, spans: list[Span]) -> float:
        """Time inside any of ``spans`` (which may overlap) with no job
        running."""
        merged: list[list[float]] = []
        for a, b in sorted((s.start, s.end) for s in spans):
            if merged and a <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], b)
            else:
                merged.append([a, b])
        jobs = [(j.submit, j.end) for j in self.jobs]
        return sum(b - a - union_length(jobs, a, b) for a, b in merged)

    def totals(self, spans: list[Span]) -> dict:
        """Event-log totals over the given (top-level, non-nested) spans."""
        jobs = {j.id: j for s in spans for j in self.jobs_under(s)}.values()
        wall = sum(s.wall for s in spans)
        busy = sum(j.task_busy_s for j in jobs)
        return {
            "jobs": len(jobs),
            "stages": sum(len(j.stages) for j in jobs),
            "tasks": sum(j.tasks for j in jobs),
            "task_busy_s": busy,
            "shuffle_read_bytes": sum(j.shuffle_read_bytes for j in jobs),
            "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
            "spill_bytes": sum(j.spill_bytes for j in jobs),
            "input_bytes": sum(j.input_bytes for j in jobs),
            "input_records": sum(j.input_records for j in jobs),
            "driver_gap_s": self.driver_gap(spans),
            "utilization": busy / (wall * self.cores) if wall > 0 else 0.0,
        }
