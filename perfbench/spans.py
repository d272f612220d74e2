"""Span tracing from outside the program.

``Tracer.wrap(owner, attr, name)`` replaces a function or method on its
module or class with a wrapper that records one span per call: name,
start, end, parent span, request id, thread, and whether it raised.
Spans stay in memory; ``write`` dumps them as JSON when the run ends.
A layer's self time is its span time minus the part covered by its child
spans (``self_times``).

Spark work is counted per time window (``Window``): every job started
between its opening and its closing, whatever its job group, with its
stages and tasks, read from ``statusTracker()``.  Work is attributed to a
request or a pipeline entry by running it alone inside its own window; a
streaming query runs its batches in its own thread under its own job
group, and a window still counts them.
"""

from __future__ import annotations

import functools
import json
import threading
import time

import proc


def job_stats(tracker, job_ids) -> dict:
    """Jobs, stages and tasks of ``job_ids`` from a Spark status tracker."""
    stages = tasks = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        stages += len(info.stageIds)
        for sid in info.stageIds:
            si = tracker.getStageInfo(sid)
            if si is not None:
                tasks += si.numTasks
    return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}


def last_job_id(tracker, after: int = -1) -> int:
    """Highest job id the tracker knows, probing upward from ``after``.
    Job ids are dense, so 20 unknown ids in a row end the search."""
    last, probe, misses = after, after + 1, 0
    while misses < 20:
        if tracker.getJobInfo(probe) is None:
            misses += 1
        else:
            last, misses = probe, 0
        probe += 1
    return last


class Window:
    """Spark work and CPU time between ``__init__`` and ``close()``: every
    job started in between, whatever its job group (streaming queries set
    their own), with its stages and tasks, and the process tree's CPU
    seconds."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        self.last = last_job_id(self.tracker, max(self.tracker.getJobIdsForGroup(None), default=-1))
        self.cpu0 = proc.cpu_seconds()

    def close(self) -> dict:
        cpu_s = proc.cpu_seconds() - self.cpu0
        time.sleep(0.5)  # the tracker is fed by an asynchronous listener bus
        last = last_job_id(self.tracker, self.last)
        ids = [j for j in range(self.last + 1, last + 1) if self.tracker.getJobInfo(j)]
        return {"cpu_s": cpu_s, **job_stats(self.tracker, ids)}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = iter(range(1, 1 << 62))
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def request_id(self) -> str | None:
        return getattr(self._local, "request", None)

    @request_id.setter
    def request_id(self, rid: str | None) -> None:
        self._local.request = rid

    def span(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span called ``name``."""
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "request": self.request_id,
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
            "end": None,
            "error": None,
        }
        stack.append(sid)
        try:
            return fn(*args, **kwargs)
        except BaseException as ex:
            rec["error"] = type(ex).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)

    def patch(self, owner, attr: str, new) -> None:
        """Replace ``owner.attr`` with ``new`` until ``unwrap_all``."""
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr``."""
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return tracer.span(name, orig, *args, **kwargs)

        self.patch(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Total self time in seconds per span name."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)
