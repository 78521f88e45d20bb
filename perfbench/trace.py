"""In-memory spans, self time, and the statistics the report uses.

Spans are recorded by the harness around the calls it makes into the
engine, plus wrappers it installs from outside on a few engine
functions (no engine file changes). Each span has a name, start, end,
parent and run id; they stay in memory and are written out when the
run ends. A disabled tracer records nothing, so the untraced run pays
only a context-manager enter/exit per call.
"""

from __future__ import annotations

import functools
import json
import math
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), math.nan, parent, self.run_id, attrs))
        self._stack.append(idx)
        try:
            yield attrs
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> list[float]:
        return self_times(self.spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (children may overlap; their union counts
    once, clipped to the parent)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(i, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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
        out.append(s.duration - covered)
    return out


def tail_percentile(samples: list[float], target: float = 95.0) -> tuple[float, float]:
    """(percentile, value): the highest percentile up to ``target`` that
    leaves at least ten samples above it, and its value (linear
    interpolation between order statistics)."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    pct = min(target, 100.0 * (1.0 - 10.0 / n)) if n > 10 else 50.0
    pct = max(pct, 50.0)
    xs = sorted(samples)
    pos = pct / 100.0 * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return pct, xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
