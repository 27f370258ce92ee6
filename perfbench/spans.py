"""In-memory spans around the calls into each layer, and self time.

A span is (name, start, end, parent, request id). The parent is the
span open in the calling context when the span starts (a contextvar,
so threads of the served endpoint each carry their own). ``wrap``
patches a module or class attribute at start-up, so the engine's code
is untouched on disk.
"""

from __future__ import annotations

import contextvars
import functools
import itertools
import json
import threading
import time
from collections import defaultdict

_current = contextvars.ContextVar("perfbench_span", default=None)


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patches: list[tuple] = []

    # -- recording -------------------------------------------------------
    def add(self, name, start, end, parent=None, rid=None) -> int:
        with self._lock:
            sid = next(self._ids)
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": end, "parent": parent, "rid": rid})
        return sid

    def span(self, name, rid=None):
        return _Span(self, name, rid)

    def wrap(self, owner, attr, name: str, rid_of=None, item: bool = False,
             nested_only: bool = False) -> None:
        """Replace ``owner.attr`` (``owner[attr]`` with ``item``) by a
        wrapper that records a span named ``name`` around every call;
        ``rid_of(args, kwargs)`` gives the request id, if any. With
        ``nested_only`` a call records a span only inside another span."""
        if not self.enabled:
            return
        orig = owner[attr] if item else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if nested_only and _current.get() is None:
                return orig(*args, **kwargs)
            rid = rid_of(args, kwargs) if rid_of else None
            with tracer.span(name, rid):
                return orig(*args, **kwargs)

        self.replace(owner, attr, wrapper, item)

    def replace(self, owner, attr, new, item: bool = False) -> None:
        """Put ``new`` in place of ``owner.attr`` until ``unwrap_all``."""
        orig = owner[attr] if item else getattr(owner, attr)
        self._patches.append((owner, attr, orig, item))
        if item:
            owner[attr] = new
        else:
            setattr(owner, attr, new)

    def unwrap_all(self) -> None:
        for owner, attr, orig, item in reversed(self._patches):
            if item:
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis --------------------------------------------------------
    def durations(self, name: str, since: float = 0.0) -> list[float]:
        """Durations of the spans named ``name`` that started at or
        after ``since``."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["start"] >= since]

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_time": self_time_table(self.spans),
                       **(extra or {})}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, rid):
        self.tracer, self.name, self.rid = tracer, name, rid

    def __enter__(self):
        if not self.tracer.enabled:
            return self
        parent = _current.get()
        if self.rid is None and parent is not None:
            self.rid = parent[1]
        self.parent = parent[0] if parent else None
        self.start = time.time()
        self.sid = next(self.tracer._ids)
        self.token = _current.set((self.sid, self.rid))
        return self

    def __exit__(self, *exc):
        if not self.tracer.enabled:
            return False
        end = time.time()
        _current.reset(self.token)
        with self.tracer._lock:
            self.tracer.spans.append({"id": self.sid, "name": self.name,
                                      "start": self.start, "end": end,
                                      "parent": self.parent, "rid": self.rid})
        return False


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans) -> dict[int, float]:
    """Span id -> its duration minus the part of it that its child
    spans cover (overlapping children count once)."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(children[s["id"]], s["start"], s["end"])
            for s in spans}


def self_time_table(spans) -> dict[str, dict]:
    """Per span name: count, total and self seconds. The layer is the
    part of the name before the first dot."""
    st = self_times(spans)
    table: dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += s["end"] - s["start"]
        row["self_s"] += st[s["id"]]
    return dict(sorted(table.items()))
