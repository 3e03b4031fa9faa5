"""Span recorder for the traced run.

A span is one call into a layer, timed from the benchmark's own files:
``Tracer.span`` is used directly around the calls the benchmark makes,
and ``Tracer.patch`` wraps a layer's public function on every module
attribute bound to it, so calls made inside the program are spanned
too. Each span gets its own Spark job group, so the jobs, stages and
tasks it ran are read back from ``sc.statusTracker()`` when it ends.

Spans are kept in memory and written out by ``Tracer.dump`` when the
run ends. Only calls on the thread that created the tracer are
spanned: a job group is a thread-local property, and calls made on a
streaming callback thread must keep the job group the stream set.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# The local properties ``setJobGroup`` sets; a span restores them on exit.
_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of ``[lo, hi]`` that the union of
    ``intervals`` covers."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.id: s.duration - covered(children[s.id], s.start, s.end) for s in spans
    }


def inclusive_counts(spans: list[Span]) -> dict[int, dict[str, int]]:
    """Each span's job/stage/task counts including its descendants'
    (a span's own group holds only the jobs run outside its children)."""
    by_parent: dict[int | None, list[Span]] = defaultdict(list)
    for s in spans:
        by_parent[s.parent].append(s)
    out: dict[int, dict[str, int]] = {}

    def visit(s: Span) -> dict[str, int]:
        acc = {k: getattr(s, k) for k in ("jobs", "stages", "tasks", "failed_tasks")}
        for c in by_parent[s.id]:
            for k, v in visit(c).items():
                acc[k] += v
        out[s.id] = acc
        return acc

    ids = {s.id for s in spans}
    for s in spans:
        if s.parent is None or s.parent not in ids:
            visit(s)
    return out


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self._thread = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []
        # time spent opening and closing spans (job groups and status
        # reads): the tracing overhead, which a span's parent takes in
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if threading.get_ident() != self._thread:
            yield None
            return
        opened = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(self._next, name, parent.id if parent else None, 0.0, attrs=attrs)
        self._next += 1
        group = f"perfbench-{s.id}"
        prev = [self.sc.getLocalProperty(k) for k in _GROUP_PROPS]
        self.sc.setJobGroup(group, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - opened
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._read_status(s, group)
            for k, v in zip(_GROUP_PROPS, prev):
                self.sc.setLocalProperty(k, v)
            self.spans.append(s)
            self.overhead_s += time.perf_counter() - s.end

    def _read_status(self, s: Span, group: str) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            s.jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is None:  # skipped: its output was reused
                    continue
                s.stages += 1
                s.tasks += stage.numTasks
                s.failed_tasks += stage.numFailedTasks

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def patch(self, fn, name: str, prefix: str) -> int:
        """Replace ``fn`` by a spanning wrapper on every attribute of
        every loaded module under ``prefix`` that is bound to it (call
        sites import these functions by name, so patching the defining
        module alone would miss them). Returns the number of bindings
        replaced."""
        wrapper = self.wrap(fn, name)
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(prefix):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, wrapper)
                    n += 1
        return n

    def patch_method(self, cls, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]
        self._patches.append((cls, attr, orig))
        setattr(cls, attr, self.wrap(orig, name))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                row = asdict(s)
                row["self_s"] = selfs[s.id]
                f.write(json.dumps(row, default=str) + "\n")
