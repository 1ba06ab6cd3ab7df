"""In-memory spans and counts recorded from the benchmark's own files.

A span is (name, start, end, parent, op id). Layer spans also set the
Spark job group of the calling thread to ``<layer>@<op>``, so the event
log's task metrics can be folded back onto the layer and op that caused
them (PySpark pins each Python thread to its own JVM thread, so the
concurrent ``nodes``/``edges`` commits stay apart).

Nothing here edits the program: ``Patches`` swaps a module or class
attribute for a wrapper and puts the original back on ``restore``.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Callable, Iterator

JOB_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    layer: bool = False

    @property
    def wall(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
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


def self_time(span: Span, children: list[Span]) -> float:
    """The span's wall minus the part of it its children cover (children
    may overlap each other, e.g. concurrent nodes/edges commits)."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return span.wall - union_length(clipped)


class Tracer:
    """Collects spans and per-op counts; a disabled tracer records nothing
    and leaves job groups alone, so the same workload code runs untraced."""

    def __init__(self, spark_context=None, enabled: bool = True) -> None:
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.op: int = -1
        self._op_root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, *, layer: bool = False) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else self._op_root
        sp = Span(sid, name, self.op, parent, 0.0, layer=layer)
        prev_group = None
        if layer and self.sc is not None:
            prev_group = self.sc.getLocalProperty(JOB_GROUP_KEY)
            self.sc.setLocalProperty(JOB_GROUP_KEY, f"{name}@{self.op}")
        stack.append(sid)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if layer and self.sc is not None:
                self.sc.setLocalProperty(JOB_GROUP_KEY, prev_group)
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def op_span(self, op: int, name: str = "op") -> Iterator[Span | None]:
        """Root span of one benchmark op; spans opened in other threads
        during the op (the pipeline's thread pool) hang off it."""
        self.op = op
        with self.span(name) as root:
            self._op_root = root.sid if root is not None else None
            try:
                yield root
            finally:
                self._op_root = None

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts[self.op][name] += value

    def wrap(self, fn: Callable, name: str, *, layer: bool = False,
             name_of: Callable[..., str | None] | None = None) -> Callable:
        """``fn`` inside a span; ``name_of(*args, **kwargs)`` may pick the
        span name per call (None: call through without a span)."""
        tracer = self

        def wrapper(*args, **kwargs):
            span_name = name_of(*args, **kwargs) if name_of is not None else name
            if span_name is None:
                return fn(*args, **kwargs)
            with tracer.span(span_name, layer=layer):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", name)
        return wrapper

    # -- per-op views ------------------------------------------------------

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def op_summary(self, op: int) -> dict[str, float]:
        """Per-op walls: each span name's summed wall, plus the op's
        driver time (op wall minus the union of its layer spans) and the
        overlap between concurrent layer spans. By construction
        sum(layer walls) - overlap + driver == op wall."""
        spans = self.op_spans(op)
        root = next((s for s in spans if s.parent is None), None)
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            if s is not root:
                out[s.name] += s.wall
        if root is None:
            return dict(out)
        layers = [s for s in spans if s.layer]
        out["op"] = root.wall
        out["driver"] = self_time(root, layers)
        out["layer_sum"] = sum(s.wall for s in layers)
        out["overlap"] = out["layer_sum"] - (root.wall - out["driver"])
        return dict(out)


class Patches:
    """Attribute swaps that ``restore`` undoes in reverse order."""

    def __init__(self) -> None:
        self._undo: list[tuple[Any, str, Any]] = []

    def swap(self, owner: Any, attr: str, make: Callable[[Callable], Callable]) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)
