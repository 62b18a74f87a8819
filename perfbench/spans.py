"""In-memory span recorder, self-time arithmetic and Spark event-log attribution.

A span is one call across a layer boundary: name, start, end, parent and
the thread it ran on. Spans stay in memory until the run ends.

Self time partitions wall time exactly. At every instant inside a span,
its share of that instant goes to its own self time when none of its
children is running, and is split evenly between the children that are
running otherwise. A child that runs on another thread (the runner's
per-table merge pool) therefore takes its share of the parent's interval
like a child on the same thread, and the self times of a span and all its
descendants add up to that span's duration.

Spark jobs are attributed through a local property: every span sets
``perfbench.span`` to its id on its own thread for its duration, and the
Spark event log records the property on each job and stage.
"""

from __future__ import annotations

import collections
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: int
    start: float
    end: float | None = None


class Tracer:
    """Records spans and counters. ``on_switch(span_id | None)`` is called
    on the span's own thread whenever its innermost open span changes —
    the Spark wrapper uses it to set the job-attribution property.

    A span opened on a thread with no open span of its own is parented to
    the innermost open span of the thread that created the tracer: the
    engine's worker threads run on behalf of the driver loop that waits
    for them."""

    def __init__(self, clock=time.perf_counter, on_switch=None):
        self.clock = clock
        self.on_switch = on_switch
        self.spans: list[Span] = []
        self.counters: collections.Counter = collections.Counter()
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._stacks: dict[int, list[int]] = {}

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
            with self._lock:
                self._stacks[threading.get_ident()] = st
        return st

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else None
        if parent is None:
            try:
                parent = self._stacks.get(self._main, [])[-1]
            except IndexError:  # the creating thread has no open span
                pass
        with self._lock:
            s = Span(next(self._ids), name, parent, threading.get_ident(), 0.0)
            self.spans.append(s)
        st.append(s.id)
        if self.on_switch is not None:
            self.on_switch(s.id)
        t_out = time.perf_counter()
        s.start = self.clock()
        try:
            yield s
        finally:
            s.end = self.clock()
            t_back = time.perf_counter()
            st.pop()
            if self.on_switch is not None:
                self.on_switch(st[-1] if st else None)
            with self._lock:
                self.bookkeeping_s += (t_out - t_in) + (time.perf_counter() - t_back)

    def count(self, name: str, n: int | float = 1) -> None:
        with self._lock:
            self.counters[name] += n

    # ------------------------------------------------------------------

    def by_id(self) -> dict[int, Span]:
        return {s.id: s for s in self.spans}

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = collections.defaultdict(list)
        for s in self.spans:
            out[s.parent].append(s)
        return out

    def ancestors(self, span_id: int, index: dict[int, Span] | None = None):
        """Yield the span and every ancestor, innermost first."""
        index = index or self.by_id()
        cur = index.get(span_id)
        while cur is not None:
            yield cur
            cur = index.get(cur.parent) if cur.parent is not None else None

    def self_times(self) -> dict[int, float]:
        """Self time of every closed span (see the module docstring)."""
        kids = self.children()
        out: dict[int, float] = {}

        def visit(span: Span, segments: list[tuple[float, float, float]]) -> None:
            cs = [c for c in kids.get(span.id, []) if c.end is not None]
            clipped = [(max(c.start, span.start), min(c.end, span.end), c) for c in cs]
            clipped = [x for x in clipped if x[1] > x[0]]
            cuts = sorted({p for a, b, _ in clipped for p in (a, b)})
            shares: dict[int, list[tuple[float, float, float]]] = {c.id: [] for _, _, c in clipped}
            own = 0.0
            for s0, s1, w in segments:
                pts = [s0] + [p for p in cuts if s0 < p < s1] + [s1]
                for a, b in zip(pts, pts[1:]):
                    active = [c for ca, cb, c in clipped if ca <= a and cb >= b]
                    if active:
                        for c in active:
                            shares[c.id].append((a, b, w / len(active)))
                    else:
                        own += w * (b - a)
            out[span.id] = own
            for _, _, c in clipped:
                visit(c, shares[c.id])
            for c in cs:
                if c.id not in shares:  # zero-length or outside the parent
                    out[c.id] = 0.0

        for root in kids.get(None, []):
            if root.end is not None:
                visit(root, [(root.start, root.end, 1.0)])
        return out


# ----------------------------------------------------------------------
# Spark event log


@dataclass
class StageStats:
    span: int | None = None
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class EventLog:
    job_span: dict[int, int | None] = field(default_factory=dict)
    stages: dict[tuple[int, int], StageStats] = field(default_factory=dict)


def _span_prop(props: dict | None) -> int | None:
    v = (props or {}).get(SPAN_PROPERTY)
    return int(v) if v not in (None, "") else None


def _event_log_files(path: str) -> list[str]:
    """The JSON files of one application's event log: a plain file, or a
    rolling log directory (``eventlog_v2_*/events_<n>_*``) in index order."""
    if os.path.isfile(path):
        return [path]
    names = [n for n in os.listdir(path) if not n.startswith(".")]
    rolled = sorted((n for n in names if n.startswith("events_")), key=lambda n: int(n.split("_")[1]))
    if rolled:
        return [os.path.join(path, n) for n in rolled]
    if len(names) != 1:
        raise ValueError(f"expected one application's event log in {path}, found {names}")
    return _event_log_files(os.path.join(path, names[0]))


def _lines(files: list[str]):
    for f in files:
        with open(f) as fh:
            yield from fh


def parse_event_log(path: str) -> EventLog:
    """Read a Spark JSON event log (a file, a rolling-log directory, or a
    directory holding one application's log) and attribute every job and
    stage to the span id its submitting thread carried."""
    log = EventLog()
    for line in _lines(_event_log_files(path)):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            log.job_span[ev["Job ID"]] = _span_prop(ev.get("Properties"))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            log.stages.setdefault(key, StageStats()).span = _span_prop(ev.get("Properties"))
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            st = log.stages.setdefault(key, StageStats())
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.task_s += m.get("Executor Run Time", 0) / 1e3
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return log
