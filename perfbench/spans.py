"""Spans around the benchmark's calls into the engine, plus Spark's own
counters read from its status REST API.

A span records name, start, end, parent span and request id. Spans are
kept in memory and written once, when the run ends. With tracing off,
``Tracer.span`` records nothing and ``Tracer.tag`` sets no job group, so
the untraced runs pay for neither.

Spark attributes every job to the job group that was set when the job
started; tagging each request with its own group lets the traced run
attribute jobs, stages, tasks, rows read, shuffle bytes, executor run
time and GC time to single requests after the fact, from the UI's REST
API (the UI is on only in traced runs).
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from urllib.parse import urlsplit


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    request: str | None


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    self_s: float = 0.0             # time spent in the tracer's own code
    _stack: list[int] = field(default_factory=list)
    _sc: object = None              # SparkContext, once the session exists

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        sp = Span(len(self.spans), name, 0.0, None, parent, request)
        self.spans.append(sp)
        self._stack.append(sp.id)
        self.self_s += time.perf_counter() - t0
        sp.start = time.perf_counter()
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def tag(self, group: str) -> None:
        """Attribute the Spark jobs started from now on to ``group``."""
        if self.enabled and self._sc is not None:
            t0 = time.perf_counter()
            self._sc.setJobGroup(group, group)
            self.self_s += time.perf_counter() - t0

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        """Durations in seconds of the closed spans called ``name`` that
        started at or after ``since`` (a perf_counter reading)."""
        return [s.end - s.start for s in self.spans
                if s.name == name and s.end is not None and s.start >= since]

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


class SparkStatus:
    """Read-only client for the Spark UI's status REST API on localhost."""

    def __init__(self, sc):
        port = urlsplit(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout_s: float = 20.0) -> None:
        """Wait until the status store has seen every job end: events reach
        it asynchronously, after the action that caused them returned."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if all(j["status"] != "RUNNING" for j in self._get("/jobs")):
                return
            time.sleep(0.2)

    def by_group(self) -> dict[str, dict[str, float]]:
        """Per job group: jobs, stages, tasks, input rows, shuffle bytes,
        executor run ms and GC ms, summed over completed stage attempts."""
        stages = {}
        for st in self._get("/stages"):
            if st["status"] == "COMPLETE":
                stages.setdefault(st["stageId"], []).append(st)
        out: dict[str, dict[str, float]] = {}
        for job in self._get("/jobs"):
            g = out.setdefault(job.get("jobGroup") or "", {
                "jobs": 0, "stages": 0, "tasks": 0, "input_rows": 0,
                "shuffle_bytes": 0, "executor_run_ms": 0, "gc_ms": 0})
            g["jobs"] += 1
            for sid in job["stageIds"]:
                for st in stages.pop(sid, ()):   # a stage counts once, in its first job
                    g["stages"] += 1
                    g["tasks"] += st["numCompleteTasks"]
                    g["input_rows"] += st["inputRecords"]
                    g["shuffle_bytes"] += st["shuffleReadBytes"] + st["shuffleWriteBytes"]
                    g["executor_run_ms"] += st["executorRunTime"]
                    g["gc_ms"] += st["jvmGcTime"]
        return out
