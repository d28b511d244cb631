"""Spans and summary statistics for the benchmark runner.

A span is one timed interval at a layer boundary: name, start, end and
the id of the span that caused it. Spans stay in memory and are written
out once, when the run ends. A span's self time is its duration minus
the part of its interval that its child spans cover.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager

#: Percentile ladder for tail reporting.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing and
    costs one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record a span measured elsewhere (``start``/``end`` on this
        tracer's clock, e.g. a streaming progress phase)."""
        if self.enabled:
            rec = {"id": len(self.spans), "name": name, "parent": parent,
                   "start": start, "end": end}
            rec.update(attrs)
            self.spans.append(rec)

    def now(self) -> float:
        return time.perf_counter() - self._t0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": with_self_time(self.spans)}, f, indent=1)


def with_self_time(spans: list[dict]) -> list[dict]:
    """Copies of ``spans`` with ``self_s``: duration minus the union of
    the intervals its direct children cover (clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for s in spans:
        r = dict(s)
        if s["end"] is not None:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
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
            r["self_s"] = (s["end"] - s["start"]) - covered
        out.append(r)
    return out


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """The highest ladder percentile with at least ten samples beyond it,
    as (percentile, value, sample count), or None when no ladder step
    qualifies (fewer than 20 samples). Nearest-rank percentiles."""
    n = len(samples)
    xs = sorted(samples)
    for p in reversed(TAIL_LADDER):
        rank = math.ceil(round(p * n / 100.0, 9))
        if rank >= 1 and n - rank >= 10:
            return p, xs[rank - 1], n
    return None


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def slope(ys: list[float]) -> float:
    """Least-squares slope of ``ys`` against their index (growth per step)."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2.0
    my = sum(ys) / n
    den = sum((i - mx) ** 2 for i in range(n))
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / den
