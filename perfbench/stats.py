"""Pure arithmetic behind the benchmark's metrics: the tail
percentile rule, span self time, and the in-memory span recorder.

Nothing here touches Spark, so the rules are unit-tested on their own
(``perfbench/tests/test_stats.py``).
"""

from __future__ import annotations

import math
import re
import statistics
import time
from dataclasses import dataclass, field

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

# A tail percentile is reported only with at least this many samples
# beyond it.
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile p with at least ``TAIL_MIN_BEYOND``
    of ``n`` samples beyond it, i.e. the largest p with
    ``n * (100 - p) / 100 >= 10``; None when ``n`` is too small for
    any percentile above the median to qualify."""
    if n < 2 * TAIL_MIN_BEYOND:
        return None
    return min(99, math.floor(100 - 100 * TAIL_MIN_BEYOND / n))


def tail_value(values: list[float]) -> tuple[float, int, int]:
    """(value, percentile, sample count) of the tail latency.

    The value is the nearest-rank percentile: the smallest sample with
    at least p% of the samples at or below it. With too few samples
    for any tail the median is returned at p=50."""
    n = len(values)
    if n == 0:
        raise ValueError("tail of no values")
    p = tail_percentile(n)
    if p is None:
        return median(values), 50, n
    ordered = sorted(values)
    rank = max(1, math.ceil(p * n / 100))
    return float(ordered[rank - 1]), p, n


def self_times(spans: list["Span"]) -> dict[int, float]:
    """Self time of every span: its duration minus the durations of
    its direct children. The Tracer is single-threaded and stack-based,
    so children are nested in their parent and never overlap."""
    out = {s.span_id: s.end - s.start for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.end - s.start
    return out


def self_time_by_layer(spans: list["Span"]) -> dict[str, float]:
    """Sum of self time per span name (the layer)."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.span_id]
    return out


@dataclass
class Span:
    span_id: int
    name: str
    trace_id: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory; written out by the caller at the end.

    ``enabled=False`` makes ``span`` a no-op context manager so the
    timed (untraced) passes share the code path without recording."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def span(self, name: str, trace_id: str | None = None, **attrs):
        return _SpanCtx(self, name, trace_id, attrs)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, trace_id: str | None, attrs: dict):
        self.tracer, self.name, self.trace_id, self.attrs = tracer, name, trace_id, attrs
        self.span: Span | None = None

    def __enter__(self):
        t = self.tracer
        if not t.enabled:
            return None
        parent = t._stack[-1] if t._stack else None
        self.span = Span(
            span_id=len(t.spans),
            name=self.name,
            trace_id=self.trace_id or (parent.trace_id if parent else "run"),
            parent=parent.span_id if parent else None,
            start=time.perf_counter(),
            attrs=dict(self.attrs),
        )
        t.spans.append(self.span)
        t._stack.append(self.span)
        return self.span

    def __exit__(self, *exc):
        if self.span is not None:
            self.span.end = time.perf_counter()
            self.tracer._stack.pop()
        return False
