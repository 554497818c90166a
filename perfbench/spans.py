"""Spans, counts, statistics and Spark event-log attribution.

The benchmark records a span around every call it makes into a layer
of the program (name, start, end, parent span, request id), plus
counts taken at the same boundaries. With tracing on, Spark's job group
is set to the innermost open span, so the stages and tasks that the
event log reports attach to the span that caused them. Spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float, int] | None:
    """The highest percentile with at least 10 samples beyond it.

    With ``n`` sorted samples the value at 1-based rank ``k`` has
    ``n - k`` samples above it, so the tail is rank ``n - 10``; returns
    ``(value, percentile, n)``, or None below 11 samples."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return None
    k = n - 10
    return s[k - 1], 100.0 * k / n, n


def quartile_spread(xs) -> float:
    """(Q3 - Q1) / median over runs, NaN below two runs."""
    xs = list(xs)
    if len(xs) < 2:
        return math.nan
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = math.nan
    parent: int | None = None
    rid: int | None = None  # request id shared by a request's spans
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    child spans cover (children may overlap each other)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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
        out[s.id] = s.dur - covered
    return out


class Tracer:
    """Collects spans; with ``enabled`` false only the timing needed
    for the end-to-end metrics is kept and Spark is not touched."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = None  # SparkContext, set once the session exists
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str):
        """Time one layer call. Yields the span so the caller can attach
        counts to it; the span is kept only when tracing is on."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        sp = Span(sid, name, layer, 0.0,
                  parent=parent.id if parent else None,
                  rid=parent.rid if parent else sid)
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(str(sid), name, False)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if self.enabled:
                if self.sc is not None:
                    if parent is not None:
                        self.sc.setJobGroup(str(parent.id), parent.name, False)
                    else:
                        self.sc.setLocalProperty("spark.jobGroup.id", None)
                with self._lock:
                    self.spans.append(sp)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class SparkWork:
    """Engine work attributed to one span (or summed over several)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    sched_delay_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    input_b: int = 0

    def add(self, o: "SparkWork") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


def parse_event_log(path: Path) -> tuple[dict[str, SparkWork], SparkWork]:
    """Per job group work from a JSON-lines event log, plus the work of
    jobs that ran without a group."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    groups: dict[str, SparkWork] = {}
    none = SparkWork()

    def bucket(stage_id: int) -> SparkWork:
        g = job_group.get(stage_job.get(stage_id, -1))
        return none if g is None else groups.setdefault(g, SparkWork())

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[jid] = g
                for sid in ev.get("Stage IDs", ()):
                    stage_job.setdefault(sid, jid)
                (none if g is None else groups.setdefault(g, SparkWork())).jobs += 1
            elif kind == "SparkListenerStageCompleted":
                bucket(ev["Stage Info"]["Stage ID"]).stages += 1
            elif kind == "SparkListenerTaskEnd":
                w = bucket(ev["Stage ID"])
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                run_ms = m.get("Executor Run Time", 0)
                wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                w.tasks += 1
                w.task_s += run_ms / 1e3
                w.sched_delay_s += max(
                    0,
                    wall_ms - run_ms
                    - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0),
                ) / 1e3
                w.gc_s += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                w.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                w.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                w.spill_b += m.get("Disk Bytes Spilled", 0)
                w.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return groups, none


def inclusive_work(spans: list[Span], groups: dict[str, SparkWork]) -> dict[int, SparkWork]:
    """Span id -> work of the span and all its descendants."""
    out = {s.id: SparkWork() for s in spans}
    by_id = {s.id: s for s in spans}
    for s in spans:
        w = groups.get(str(s.id))
        if w is None:
            continue
        cur: Span | None = s
        while cur is not None:
            out[cur.id].add(w)
            cur = by_id.get(cur.parent) if cur.parent is not None else None
    return out


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split among
    the processes that map them. Unlike RSS it does not count a forked
    child's copy-on-write view of its parent again."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _tree_bytes(root: int) -> int:
    """Resident bytes (PSS) of ``root`` and all its descendants."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    total, todo, seen = 0, [root], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _pss_bytes(pid)
        todo.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Background sampler of the process tree's peak resident memory
    (this Python, the JVM it launched, and the JVM's Python workers),
    counted as PSS."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_bytes(os.getpid()))
