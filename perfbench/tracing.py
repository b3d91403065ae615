"""In-memory spans around the benchmark's calls into the engine.

A span has an id, a parent, a name, the engine layer it calls into (None
for the benchmark's own structure), the query id it serves, and start/end
times in seconds from the tracer's start. Spans are kept in memory and
written out once, when the run ends. With tracing off, `span` returns one
shared no-op context manager.
"""

from __future__ import annotations

import contextvars
import itertools
import json
import threading
import time
from contextlib import contextmanager, nullcontext

# (span id, query id) of the innermost open span in this context
_CURRENT: contextvars.ContextVar[tuple[int | None, object]] = (
    contextvars.ContextVar("perfbench_span", default=(None, None))
)
_NULL = nullcontext()


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0  # time spent recording spans
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()

    def now(self) -> float:
        return time.perf_counter() - self._t0

    def span(self, name: str, layer: str | None = None, qid=None):
        if not self.enabled:
            return _NULL
        return self._span(name, layer, qid)

    @contextmanager
    def _span(self, name, layer, qid):
        b0 = time.perf_counter()
        parent, parent_qid = _CURRENT.get()
        sid = next(self._ids)
        qid = parent_qid if qid is None else qid
        token = _CURRENT.set((sid, qid))
        start = self.now()
        b1 = time.perf_counter()
        try:
            yield
        finally:
            end = self.now()
            b2 = time.perf_counter()
            _CURRENT.reset(token)
            rec = {"id": sid, "parent": parent, "name": name, "layer": layer,
                   "qid": qid, "start": start, "end": end}
            with self._lock:
                self.spans.append(rec)
                self.bookkeeping_s += (b1 - b0) + (time.perf_counter() - b2)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
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
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = _union(
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in kids.get(s["id"], [])
            if min(b, s["end"]) > max(a, s["start"])
        )
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_self_seconds(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        if s["layer"]:
            out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def coverage(spans: list[dict], start: float, end: float) -> float:
    """Share of [start, end] that spans into engine layers cover."""
    if end <= start:
        return 0.0
    cov = _union(
        (max(s["start"], start), min(s["end"], end))
        for s in spans
        if s["layer"] and min(s["end"], end) > max(s["start"], start)
    )
    return cov / (end - start)
