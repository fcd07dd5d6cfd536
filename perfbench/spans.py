"""Span recorder for the traced run.

Spans are recorded from the benchmark's own code, around calls into the
engine's public surface: ``plans.build``, ``plans.run``, each actor's
``run``, the lakehouse modules' commit and read functions, and (added
after the op from Spark's status store) each Spark job. Every span
carries the op id and its parent; spans stay in memory and are written
out once, at the end of the run.

A span's self time is its duration minus the part of its interval that
its children cover (:func:`self_time`).
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    id: int
    op: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the union of its children's intervals,
    each clipped to the span."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return span.duration - union_length(clipped)


def layer_time(spans: list[Span], layer: str) -> float:
    """Wall time covered by spans of ``layer`` — nested spans of the same
    layer (a commit function calling another) count once."""
    return union_length([(s.start, s.end) for s in spans if s.layer == layer])


def ancestors(span: Span, by_id: dict[int, Span]):
    p = span.parent
    while p is not None:
        yield by_id[p]
        p = by_id[p].parent


class Tracer:
    """Records spans of the current op. Each thread keeps its own span
    stack; a span opened on a thread with an empty stack (an engine worker
    thread) hangs off the op's root span."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = -1
        self.root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, layer: str, parent: int | None) -> Span:
        with self._lock:
            sp = Span(len(self.spans), self.op, parent, name, layer, time.time())
            self.spans.append(sp)
        return sp

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        sp = self._open(name, layer, parent)
        if self.root is None:
            self.root = sp.id
        stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    @contextmanager
    def op_span(self, op: int, name: str):
        self.op = op
        self.root = None
        with self.span(name, "op") as sp:
            yield sp
        self.root = None

    def add(self, name: str, layer: str, start: float, end: float) -> Span:
        """Attach a span measured elsewhere (a Spark job) under the deepest
        span of this op whose interval contains its start."""
        parent = None
        best = None
        for s in self.spans:
            if s.op == self.op and s.layer != "spark" and s.start <= start <= s.end:
                if best is None or s.start >= best.start:
                    best = s
        if best is not None:
            parent = best.id
        sp = self._open(name, layer, parent)
        sp.start, sp.end = start, end
        return sp

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)

        return traced

    def patch(self, owner, attr: str, name: str, layer: str) -> None:
        """Replace ``owner.attr`` by a traced wrapper until :meth:`restore`."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name, layer))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def dump(self, path: Path) -> None:
        by_parent: dict[int | None, list[Span]] = {}
        for s in self.spans:
            by_parent.setdefault(s.parent, []).append(s)
        rows = [
            {**asdict(s), "self": self_time(s, by_parent.get(s.id, []))}
            for s in self.spans
        ]
        path.write_text("\n".join(json.dumps(r) for r in rows) + "\n")


class CacheSampler:
    """Polls the JVM's RDD storage registry while an op runs: how many
    relations are persisted, how many bytes they hold, and the smallest
    partition count among cached relations."""

    def __init__(self, spark, period_s: float = 0.05) -> None:
        self._jsc = spark.sparkContext._jsc
        self._period = period_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.persisted_peak = 0
        self.cached_bytes_peak = 0
        self.min_partitions = 0

    def sample(self) -> None:
        persisted = self._jsc.getPersistentRDDs().size()
        cached = 0
        for info in self._jsc.sc().getRDDStorageInfo():
            if info.numCachedPartitions() > 0:
                cached += info.memSize() + info.diskSize()
                n = info.numPartitions()
                self.min_partitions = n if not self.min_partitions else min(self.min_partitions, n)
        self.persisted_peak = max(self.persisted_peak, persisted)
        self.cached_bytes_peak = max(self.cached_bytes_peak, cached)

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            self.sample()

    def __enter__(self) -> "CacheSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
