"""Spans around the calls into the engine's layers, plus Spark task metrics.

A :class:`Tracer` keeps every span (name, start, end, parent, request id)
in memory.  While a span is open its id is the Spark job group, so the
event log ties each Spark job, and through it each task, to the innermost
open span.  :func:`read_event_log` turns the log into per-job task totals
after the session stops.

With ``enabled=False`` every span and wrapper is a pass-through, so the
untraced run executes exactly the same benchmark code.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    request: str | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None  # SparkContext, once the session exists
        self._patches: list[tuple[object, str, object]] = []

    def attach(self, sc) -> None:
        self._sc = sc
        if self._stack:
            self._set_group(self._stack[-1])

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(span.sid, span.name)

    @contextlib.contextmanager
    def muted(self):
        """Run a block with span recording off (job groups stay as they are)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(f"s{len(self.spans)}", name, parent.sid if parent else None,
                 request, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a version that runs under span ``name``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis --------------------------------------------------------

    def children(self) -> dict[str | None, list[Span]]:
        out: dict[str | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[str, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids = self.children()
        out = {}
        for s in self.spans:
            covered, last = 0.0, s.start
            for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
                lo, hi = max(c.start, last), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s.sid] = s.dur - covered
        return out

    def subtree(self, sid: str) -> list[str]:
        kids = self.children()
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(c.sid for c in kids.get(cur, []))
        return out

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        rows = [
            {"id": s.sid, "name": s.name, "parent": s.parent, "request": s.request,
             "start": s.start, "end": s.end, "self_s": selfs[s.sid]}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f)


@dataclass
class JobStats:
    group: str | None
    stages: list[int]
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0
    stage_task_s: dict[int, list[float]] = field(default_factory=dict)
    stage_shuffle_read: dict[int, int] = field(default_factory=dict)


def read_event_log(log_dir: str) -> list[JobStats]:
    """Parse the (uncompressed, single-file) Spark event log under ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".crc")]
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    j = JobStats(props.get("spark.jobGroup.id"), list(e["Stage IDs"]))
                    jobs[e["Job ID"]] = j
                    for st in j.stages:
                        stage_job[st] = e["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(e["Stage ID"]))
                    m = e.get("Task Metrics")
                    if j is None or not m:
                        continue
                    info = e["Task Info"]
                    j.tasks += 1
                    j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    j.run_s += m.get("Executor Run Time", 0) / 1e3
                    j.gc_s += m.get("JVM GC Time", 0) / 1e3
                    j.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    j.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st = e["Stage ID"]
                    j.stage_task_s.setdefault(st, []).append(
                        (info["Finish Time"] - info["Launch Time"]) / 1e3)
                    j.stage_shuffle_read[st] = j.stage_shuffle_read.get(st, 0) + sr.get(
                        "Total Records Read", 0)
    return list(jobs.values())
