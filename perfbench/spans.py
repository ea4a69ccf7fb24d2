"""In-memory spans around the program's public functions, plus the Spark
job accounting that turns them into per-layer metrics.

A traced run installs wrappers on module attributes of
``od_database_spark`` (the program's own code is untouched): each wrapped
call opens a span, sets a Spark job group unique to that span, and on exit
restores the caller's group.  Spans hold name, start, end, parent and the
run id; they stay in memory until the run ends.  Jobs are attributed to the
innermost active span through their job group, read once at the end from
Spark's in-process status store (it works with the UI disabled).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Spans of one run.  ``span(name)`` is a context manager; ``patch``
    wraps a module or class attribute so every call becomes a span;
    ``unpatch_all`` restores the originals."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._ids = itertools.count()
        self.counts: dict[str, float] = {}
        self.active = True  # paused while the benchmark checks outputs
        self.book_s = 0.0  # time spent in span bookkeeping (tracing overhead)

    # --- spans -----------------------------------------------------------

    def group_of(self, sid: int) -> str:
        return f"{self.run_id}:{sid}"

    def _set_group(self, sid: int | None) -> None:
        group = self.group_of(sid) if sid is not None else "timed"
        self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, parent, self.run_id, time.time())
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(sp.sid)
        self._stack.append(sp.sid)
        self._set_group(sp.sid)
        self.book_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t0 = time.perf_counter()
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.book_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def paused(self):
        """Context in which wrapped calls run untraced (output checks)."""
        was, self.active = self.active, False
        try:
            yield
        finally:
            self.active = was

    def in_count(self) -> bool:
        """True while the innermost open span is a counting span."""
        return bool(self._stack) and self.counting(self.spans[self._stack[-1]])

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + float(value)

    # --- wrapping --------------------------------------------------------

    def patch(self, owner, attr: str, name: str, after=None, is_classmethod=False) -> None:
        """Wrap ``owner.attr`` in a span called ``name``.  ``after(args,
        kwargs, result)`` runs inside the span's ``trace.count`` child, so
        the counting work it does is visible as tracing overhead and never
        lands on the wrapped layer.  Wrapped calls made while counting open
        no span: their work belongs to the ``trace.count`` span."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = raw.__func__ if is_classmethod else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active or tracer.in_count():
                return fn(*args, **kwargs)
            with tracer.span(name):
                result = fn(*args, **kwargs)
                if after is not None:
                    with tracer.span("trace.count"):
                        after(args, kwargs, result)
                return result

        setattr(owner, attr, classmethod(wrapper) if is_classmethod else wrapper)
        self._patches.append((owner, attr, raw))

    def unpatch_all(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    # --- accounting ------------------------------------------------------

    def self_seconds(self, sp: Span) -> float:
        kids = [(self.spans[c].start, self.spans[c].end) for c in sp.children]
        return sp.wall - covered(kids, sp.start, sp.end)

    def counting(self, sp: Span) -> bool:
        """True for a trace.count span or any span below one."""
        while sp is not None:
            if sp.name == "trace.count":
                return True
            sp = self.spans[sp.parent] if sp.parent is not None else None
        return False

    def layer_metrics(self, jobs: list[dict], units: int) -> dict[str, float]:
        """Per-span-name totals divided by ``units`` (traced operations):
        calls, self_s, jobs, shuffle_write_bytes and driver_s (span wall
        not covered by any Spark job)."""
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j["group"], []).append(j)
        intervals = [(j["start"], j["end"]) for j in jobs]
        out: dict[str, float] = {}

        def acc(key, v):
            out[key] = out.get(key, 0.0) + v

        for sp in self.spans:
            own = by_group.get(self.group_of(sp.sid), [])
            acc(f"{sp.name}.calls", 1)
            acc(f"{sp.name}.self_s", self.self_seconds(sp))
            acc(f"{sp.name}.jobs", len(own))
            acc(f"{sp.name}.shuffle_write_bytes", sum(j["shuffle_write_bytes"] for j in own))
            acc(f"{sp.name}.driver_s", sp.wall - covered(intervals, sp.start, sp.end))
        return {k: v / units for k, v in out.items()}

    def overhead_s(self) -> float:
        """Wall time tracing added: bookkeeping plus counting spans."""
        counting = sum(s.wall for s in self.spans if s.name == "trace.count"
                       and (s.parent is None or not self.counting(self.spans[s.parent])))
        return self.book_s + counting

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "run_id": sp.run_id, "sid": sp.sid, "name": sp.name,
                    "parent": sp.parent, "start": sp.start, "end": sp.end,
                }) + "\n")


def no_span(_name: str):
    """Stand-in for ``Tracer.span`` in untraced runs."""
    return contextlib.nullcontext()
