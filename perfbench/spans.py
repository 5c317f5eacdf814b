"""Spans and Spark job counts for the traced benchmark run.

Spans are recorded around calls into the engine's public functions from
the benchmark's own files; nothing inside the engine is instrumented.
They are kept in memory and written once, when the run ends. A span's
self time is its duration minus the part of it its child spans cover.

A traced run alternates traced and untraced operations, so the tracing
overhead is the difference of their median latencies within one run.
Job and task counts come from Spark job groups: in a traced run every
operation runs its jobs under a group of its own, and after the run the
status tracker is read for the jobs of the untraced groups and the tasks
their stages completed. Traced operations materialize lazy outputs
inside their spans, which adds jobs of the benchmark's own, so their
groups are left out of the counts.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# the engine's top-level modules a span can be named after
# ("<layer>.<call>"); time outside every layer span is "other"
LAYERS = ("functions", "index", "plans", "streaming")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    children: list = field(default_factory=list)


class Tracer:
    """Span recorder. ``active`` marks a traced run; spans are recorded
    only inside operations opened with ``traced=True`` and inside
    :meth:`setup`."""

    def __init__(self, active: bool):
        self.active = active
        self.spans: dict[int, Span] = {}
        self.groups: list[str] = []  # job groups of untraced operations
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.recording = False
        self._owner: int | None = None  # thread of the operation in flight
        self._anchor: int | None = None
        self.current_group: str | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.recording:
            yield None
            return
        stack = self._stack()
        # a span opened on another thread (the HTTP handler, the stream's
        # foreachBatch) attaches to the innermost span open on the
        # operation's own thread
        parent = stack[-1] if stack else self._anchor
        sp = Span(next(self._ids), name, parent, time.perf_counter())
        with self._lock:
            self.spans[sp.sid] = sp
            if parent is not None:
                self.spans[parent].children.append(sp.sid)
        owner = threading.get_ident() == self._owner
        stack.append(sp.sid)
        if owner:
            self._anchor = sp.sid
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if owner:
                self._anchor = sp.parent

    @contextmanager
    def _root(self, name: str, group: str | None):
        self.recording = True
        self._owner, self.current_group = threading.get_ident(), group
        try:
            with self.span(name):
                yield
        finally:
            self.recording = False
            self._owner = self.current_group = None

    @contextmanager
    def setup(self):
        """Set-up work of a traced run: spans recorded, no operation."""
        if not self.active:
            yield
            return
        with self._root("setup", None):
            yield

    @contextmanager
    def op(self, sc, name: str, traced: bool):
        """One workload operation; in a traced run it gets a job group of
        its own, and with ``traced`` a root span."""
        if not self.active:
            yield
            return
        group = f"perfbench-{next(self._ids)}"
        sc.setJobGroup(group, name)
        try:
            if traced:
                with self._root(name, group):
                    yield
            else:
                self.groups.append(group)
                self.current_group = group
                try:
                    yield
                finally:
                    self.current_group = None
        finally:
            # later jobs of this thread belong to no operation
            sc.setJobGroup("perfbench-idle", "idle")

    def join_group(self, sc) -> None:
        """Run this thread's next jobs under the operation's job group."""
        if self.active and self.current_group is not None:
            sc.setJobGroup(self.current_group, self.current_group)

    # -- summaries -------------------------------------------------------

    def self_time(self, sp: Span) -> float:
        covered = 0.0
        last = sp.start
        for c in sorted((self.spans[i] for i in sp.children), key=lambda s: s.start):
            lo, hi = max(c.start, last), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return (sp.end - sp.start) - covered

    def ops(self) -> list[Span]:
        return [s for s in self.spans.values() if s.parent is None and s.name != "setup"]

    def _under_op(self, sp: Span) -> bool:
        while sp.parent is not None:
            sp = self.spans[sp.parent]
        return sp.name != "setup"

    def layer_ms(self) -> dict[str, float]:
        """Self time per layer in ms: per traced operation (``<layer>``,
        plus ``other`` for operation time outside every layer span) and
        in total over set-up (``setup.<layer>``)."""
        ops = self.ops()
        out = {name: 0.0 for name in (*LAYERS, "other")}
        out.update({f"setup.{name}": 0.0 for name in LAYERS})
        for s in self.spans.values():
            layer = s.name.split(".", 1)[0]
            if self._under_op(s):
                out[layer if layer in LAYERS else "other"] += self.self_time(s)
            elif layer in LAYERS:
                out[f"setup.{layer}"] += self.self_time(s)
        return {
            k: 1e3 * v / (1 if k.startswith("setup.") else max(1, len(ops)))
            for k, v in out.items()
        }

    def per_op(self) -> list[dict[str, float]]:
        """Self ms per layer of each traced operation, in run order."""
        out = []
        for op in sorted(self.ops(), key=lambda s: s.start):
            row = {name: 0.0 for name in (*LAYERS, "other")}
            todo = [op.sid]
            while todo:
                s = self.spans[todo.pop()]
                todo.extend(s.children)
                layer = s.name.split(".", 1)[0]
                row[layer if layer in LAYERS else "other"] += 1e3 * self.self_time(s)
            out.append(row)
        return out

    def calls(self) -> dict[str, dict]:
        """Per span name: count, total ms and self ms."""
        out: dict[str, dict] = {}
        for s in self.spans.values():
            d = out.setdefault(s.name, {"n": 0, "ms": 0.0, "self_ms": 0.0})
            d["n"] += 1
            d["ms"] += 1e3 * (s.end - s.start)
            d["self_ms"] += 1e3 * self.self_time(s)
        return out

    def write(self, path: str, extra: dict) -> None:
        """Write ``extra``, the per-call summary and every span as JSON."""
        t0 = min((s.start for s in self.spans.values()), default=0.0)
        doc = {
            **extra,
            "calls": self.calls(),
            "per_op_ms": self.per_op(),
            "spans": [
                {
                    "id": s.sid,
                    "name": s.name,
                    "parent": s.parent,
                    "start_ms": 1e3 * (s.start - t0),
                    "ms": 1e3 * (s.end - s.start),
                    "self_ms": 1e3 * self.self_time(s),
                }
                for s in self.spans.values()
            ],
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


def job_counts(sc, groups: list[str]) -> dict[str, list[list[tuple[str, int]]]]:
    """Per job group, its jobs in id order, each as the (name, completed
    tasks) of its stages."""
    # the status store is fed asynchronously: drain the listener bus so
    # every job of the run is in the counts
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    out = {}
    for g in groups:
        jobs = out[g] = []
        for jid in sorted(st.getJobIdsForGroup(g)):
            info = st.getJobInfo(jid)
            stages = [st.getStageInfo(sid) for sid in (info.stageIds if info else [])]
            jobs.append([(x.name, x.numCompletedTasks) for x in stages if x is not None])
    return out
