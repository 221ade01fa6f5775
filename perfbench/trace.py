"""Spans recorded around calls into the engine's layers, and the Spark
event-log join that attributes jobs, tasks and their metrics to them.

Spans live in memory and are analysed once the run ends. Nesting is by
time containment, not by thread: the streaming runner calls back into
``apply_batch`` on another Python thread, and the benchmark drives one
operation at a time, so the enclosing interval is the causing span.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    compiles: int = 0  # JVM codegen compilations while the span was open
    parent: int | None = None
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``counter()`` returns a monotone count read at span
    entry and exit (the JVM's codegen compilation count)."""

    def __init__(self, counter):
        self.spans: list[Span] = []
        self.counter = counter
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        c0 = self.counter()
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            c1 = self.counter()
            with self._lock:
                self.spans.append(Span(name, t0, t1, c1 - c0))

    def wrap(self, cls, method: str, name: str, before=None, after=None) -> None:
        """Replace ``cls.method`` by a spanned call. Outside the span,
        ``before(obj)`` runs first and ``after(obj, before_value, result)``
        once the call returned."""
        orig = getattr(cls, method)

        @functools.wraps(orig)
        def spanned(obj, *a, **k):
            token = before(obj) if before is not None else None
            with self.span(name):
                out = orig(obj, *a, **k)
            if after is not None:
                after(obj, token, out)
            return out

        setattr(cls, method, spanned)
        self._patched.append((cls, method, orig))

    def unwrap_all(self) -> None:
        for cls, method, orig in reversed(self._patched):
            setattr(cls, method, orig)
        self._patched.clear()


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------


def nest(spans: list[Span]) -> list[Span]:
    """Set ``parent``/``children`` by time containment; returns the spans
    ordered by start (outer before inner on ties)."""
    order = sorted(spans, key=lambda s: (s.start, -s.end))
    stack: list[int] = []
    for i, s in enumerate(order):
        s.parent, s.children = None, []
        while stack and order[stack[-1]].end < s.end:
            stack.pop()
        if stack:
            s.parent = stack[-1]
            order[stack[-1]].children.append(i)
        stack.append(i)
    return order


def union_length(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def self_times(order: list[Span]) -> list[float]:
    """Each span's duration minus the part its children cover."""
    return [
        s.dur - union_length([(order[c].start, order[c].end) for c in s.children], s.start, s.end)
        for s in order
    ]


def innermost(order: list[Span], t: float) -> int | None:
    """Index of the innermost span open at time ``t``."""
    best = None
    for i, s in enumerate(order):
        if s.start <= t <= s.end and (best is None or s.start >= order[best].start):
            best = i
    return best


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def event_log_files(log_dir: str) -> list[str]:
    """Plain and rolling (``eventlog_v2_*/events_*``) logs under ``log_dir``."""
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(p)]
    return sorted(p for p in files if not os.path.basename(p).startswith("appstatus_"))


def parse_event_log(paths: list[str]) -> list[dict]:
    """Jobs with submit/completion time (epoch seconds) and the summed
    metrics of their tasks."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "job": jid,
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "tasks": 0,
                        "cpu_s": 0.0,
                        "gc_s": 0.0,
                        "shuffle_bytes": 0,
                        "spill_bytes": 0,
                        "input_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics") or {}
                    if j is None:
                        continue
                    j["tasks"] += 1
                    j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    j["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    j["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["submit"]
    return sorted(jobs.values(), key=lambda j: j["submit"])


JOB_FIELDS = ("tasks", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "input_bytes")


def ledger(spans: list[Span], jobs: list[dict]) -> dict[str, dict]:
    """Per span name: count, total and self seconds, codegen compiles,
    driver-only seconds (open with no Spark job running), and the jobs
    submitted inside it, with their task metrics. Job counts and metrics
    are inclusive: a job is credited to its innermost span and every
    enclosing one."""
    order = nest(spans)
    selfs = self_times(order)
    incl = [dict(jobs=0, **{k: 0 for k in JOB_FIELDS}) for _ in order]
    for j in jobs:
        i = innermost(order, j["submit"])
        while i is not None:
            incl[i]["jobs"] += 1
            for k in JOB_FIELDS:
                incl[i][k] += j[k]
            i = order[i].parent
    job_iv = [(j["submit"], j["end"]) for j in jobs]
    out: dict[str, dict] = {}
    for i, s in enumerate(order):
        r = out.setdefault(
            s.name,
            dict(n=0, total_s=0.0, self_s=0.0, compiles=0, driver_only_s=0.0, jobs=0,
                 **{k: 0 for k in JOB_FIELDS}),
        )
        r["n"] += 1
        r["total_s"] += s.dur
        r["self_s"] += selfs[i]
        r["compiles"] += s.compiles
        r["driver_only_s"] += s.dur - union_length(job_iv, s.start, s.end)
        for k, v in incl[i].items():
            r[k] += v
    return out


def coverage(spans: list[Span], windows: list[tuple[float, float]]) -> float:
    """Share of the timed ``windows`` covered by spans (= the sum of the
    spans' self times inside them)."""
    iv = [(s.start, s.end) for s in spans]
    covered = sum(union_length(iv, lo, hi) for lo, hi in windows)
    return covered / max(sum(hi - lo for lo, hi in windows), 1e-9)
