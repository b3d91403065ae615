"""Answer gate: every checked operation is counted, and a wrong answer or
an exception counts it as failed.

A top-k page is a list of (doc_id, score, rank). Two pages agree when they
hold the same doc_ids in the same order and every score is within `tol`.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

SCORE_TOL = 1e-9


def page_of(rows) -> list[tuple[int, float]]:
    """(doc_id, score) in rank order, from Spark Rows or serve tuples."""
    out = []
    for r in rows:
        if hasattr(r, "asDict"):
            r = (r["doc_id"], r["score"], r["rank"])
        out.append((int(r[2]), int(r[0]), float(r[1])))
    return [(d, s) for _, d, s in sorted(out)]


def pages_match(got, want, tol: float = SCORE_TOL) -> bool:
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    return all(abs(a - b) <= tol for (_, a), (_, b) in zip(got, want))


class _Op:
    def __init__(self) -> None:
        self.ok = True
        self.why = ""

    def check(self, got, want, what: str = "page") -> bool:
        if not pages_match(got, want):
            self.ok = False
            self.why = f"{what} mismatch: {got[:3]} vs {want[:3]}"
        return self.ok


class Gate:
    """Thread-safe attempted/failed counters over checked operations."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    @contextmanager
    def op(self, what: str):
        """Count one operation. An exception inside the block is recorded
        as a failure and swallowed, so the run goes on."""
        op = _Op()
        try:
            yield op
        except Exception as e:  # noqa: BLE001 - every failure is counted
            op.ok = False
            op.why = f"{type(e).__name__}: {e}"
        with self._lock:
            self.attempted += 1
            if not op.ok:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(f"{what}: {op.why}")

    @property
    def fail_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
