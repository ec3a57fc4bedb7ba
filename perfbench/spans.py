"""Span recorder for the traced run.

Spans are recorded from the benchmark's side of each layer boundary: the
recorder rebinds public functions on the package's modules (and
``DataFrameWriter.parquet``) with timing wrappers, and restores them on
exit. The package itself is not edited.

Each span tags the Spark jobs it triggers with a job description
(``pb:<span id>``) set in the calling thread, so the stage metrics of the
Spark event log can be attributed to the span that caused them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import asdict, dataclass, field

DESC_PREFIX = "pb:"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    thread: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. A span opened in a thread with no open
    span of its own (a worker of the mirror's thread pool) is parented to
    the innermost open span of the thread that created the tracer."""

    def __init__(self, run: str, sc=None):
        self.run = run
        self.sc = sc
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._next = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, attrs: dict | None = None) -> Span:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = self._next
            self._next += 1
        span = Span(sid, name, 0.0, 0.0, parent.id if parent else None, self.run,
                    threading.current_thread().name, attrs or {})
        stack.append(span)
        if self.sc is not None:
            self.sc.setJobDescription(f"{DESC_PREFIX}{sid}")
        span.start = time.perf_counter()
        with self._lock:
            self.overhead_s += span.start - t0
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        if self.sc is not None:
            outer = stack[-1].id if stack else None
            self.sc.setJobDescription(None if outer is None else f"{DESC_PREFIX}{outer}")
        t1 = time.perf_counter()
        with self._lock:
            self.spans.append(span)
            self.overhead_s += t1 - span.end

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, attrs)
        try:
            yield s
        finally:
            self.close(s)

    def patch(self, owner: object, attr: str, name: str, attrs_of=None) -> None:
        """Rebind ``owner.attr`` to a wrapper recording a span ``name``;
        ``attrs_of(args, kwargs)`` names the work the call does."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            span = self.open(name, attrs_of(args, kwargs) if attrs_of else None)
            try:
                return original(*args, **kwargs)
            finally:
                self.close(span)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def children(spans: list[Span], parent: Span) -> list[Span]:
    return [s for s in spans if s.parent == parent.id]


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(spans: list[Span], span: Span) -> float:
    """Span duration minus the part of it its child spans cover."""
    kids = [(max(c.start, span.start), min(c.end, span.end)) for c in children(spans, span)]
    return span.duration - covered(kids)


def descendants(spans: list[Span], root: Span) -> set[int]:
    by_parent: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            by_parent.setdefault(s.parent, []).append(s.id)
    out, todo = set(), [root.id]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(by_parent.get(sid, []))
    return out


def job_metrics(eventlog: str) -> dict[str, dict[str, float]]:
    """Per job description, the summed task metrics of its jobs, read from
    a Spark event log: jobs, tasks, executor run/CPU/GC seconds, input,
    output and shuffle-write bytes, output records."""
    job_desc: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(desc: str) -> dict[str, float]:
        return out.setdefault(
            desc,
            dict(jobs=0, tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0, input_b=0,
                 output_b=0, output_rows=0, shuffle_write_b=0),
        )

    with open(eventlog, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                job_desc[ev["Job ID"]] = desc
                acc(desc)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                job = stage_job.get(ev["Stage ID"])
                if m is None or job is None:
                    continue
                a = acc(job_desc.get(job, ""))
                a["tasks"] += 1
                a["run_s"] += m.get("Executor Run Time", 0) / 1e3
                a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                a["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                om = m.get("Output Metrics") or {}
                a["output_b"] += om.get("Bytes Written", 0)
                a["output_rows"] += om.get("Records Written", 0)
                a["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return out
