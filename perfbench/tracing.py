"""Spans and statistics for the benchmark.

Spans are recorded only by the benchmark's own code, around calls into
the library's public functions; nothing inside the library is changed.
A span records name, start, end and the span that was open when it
began.  All spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import functools
import json
import math
import time
from contextlib import contextmanager


class Tracer:
    """Collects spans.  A disabled tracer records nothing: the untraced
    run pays one no-op context manager per span site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "parent": parent,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span around
        every call.  Nested calls of the same span name inside one
        another (a lineage helper calling another) record only the
        outermost one."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if any(tracer.spans[i]["name"] == name for i in tracer._stack):
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def total(self, name: str) -> float:
        """Summed duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_time(spans: list[dict], idx: int) -> float:
    """A span's duration minus the part of it its child spans cover."""
    s = spans[idx]
    kids = [(c["start"], c["end"]) for c in spans if c["parent"] == idx]
    return (s["end"] - s["start"]) - covered(kids, s["start"], s["end"])


def median(values: list[float]) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no values")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def tail(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest nearest-rank percentile with at least ``beyond``
    samples above it, as ``(percentile, value)``; None when the sample
    has ``beyond`` values or fewer."""
    xs = sorted(values)
    k = len(xs) - 1 - beyond
    if k < 0:
        return None
    return 100.0 * (k + 1) / len(xs), xs[k]


def slope(ys: list[float]) -> float:
    """Least-squares growth of ``ys`` per index step (0 for < 2 points)."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(ys) / n
    num = sum((i - mx) * (y - my) for i, y in enumerate(ys))
    den = sum((i - mx) ** 2 for i in range(n))
    return num / den


def quartile_spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median (the statistic
    the benchmark's bounds are set against)."""
    import statistics

    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return math.inf if m == 0 else (q3 - q1) / m
