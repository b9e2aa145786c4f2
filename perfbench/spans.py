"""Spans recorded around calls into the library's layers.

The tracer wraps module functions from the outside (``patch``); it adds
no code to the library. Each span holds a name, start, end, the id of
the span that caused it and the thread it ran on. A span opened on a
thread with no open span of its own (a worker thread of a pool) takes
the root span as its parent.

A wrapper that is given a job group also sets it as the thread's Spark
job group for the span's duration, so the event log's stage metrics can
be attributed to the span (``eventlog.by_group``).
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover. Concurrent children count once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        clipped = [
            (max(s, sp["start"]), min(e, sp["end"]))
            for s, e in children.get(sp["id"], [])
            if e > sp["start"] and s < sp["end"]
        ]
        out[sp["id"]] = (sp["end"] - sp["start"]) - union_length(clipped)
    return out


def layer_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: call count, summed duration and summed self time."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for sp in spans:
        t = out.setdefault(sp["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        t["calls"] += 1
        t["total_s"] += sp["end"] - sp["start"]
        t["self_s"] += selfs[sp["id"]]
    return out


class Tracer:
    """Collects spans in memory; ``spans`` is read once the run ends."""

    def __init__(self, spark=None, clock=time.perf_counter):
        self.spark = spark
        self.clock = clock
        self.spans: list[dict] = []
        self.root_id: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, group: str | None = None, root: bool = False):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            sp = {
                "id": sid,
                "name": name,
                "parent": stack[-1] if stack else self.root_id,
                "thread": threading.get_ident(),
                "start": self.clock(),
                "end": None,
            }
            self.spans.append(sp)
            if root:
                self.root_id = sid
        stack.append(sid)
        prev_group = self._set_group(group) if group else None
        try:
            yield sp
        finally:
            if group:
                self._restore_group(prev_group)
            stack.pop()
            sp["end"] = self.clock()

    def _set_group(self, group: str):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        return prev

    def _restore_group(self, prev) -> None:
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", prev)
        sc.setLocalProperty("spark.job.description", prev)

    def patch(self, owner, attr: str, name, group: bool = True, after=None):
        """Replace ``owner.attr`` with a wrapper that records a span.

        ``name`` is a span name, or a function of the call's arguments
        returning one (or None to record nothing). ``after`` sees the
        call's result."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            sname = name(*args, **kwargs) if callable(name) else name
            if sname is None:
                return orig(*args, **kwargs)
            with tracer.span(sname, group=sname if group else None):
                out = orig(*args, **kwargs)
            if after is not None:
                after(out)
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
