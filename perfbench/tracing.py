"""Spans and Spark status-store counters for the traced benchmark run.

A span records a name (``<layer>.<function>``), start, end, parent
span, operation id and, when asked for, the deltas of the session's
task, stage and job counters and of the driver JVM's JIT-compilation
time and loaded-class count over the span.  Spans are kept in memory
and written as JSON once the run ends.

The program under test is not instrumented.  Spans come from the
benchmark's own calls into each layer, and from wrappers that the
benchmark binds in place of a layer's public functions for the length
of the run (``patched``); the layer's code is untouched.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Counters summed over the stages that ran inside a span.
STAGE_FIELDS = (
    "task_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "tasks",
    "failed_tasks",
    "stages",
)
# Cumulative counters of the driver JVM: milliseconds its JIT compilers
# have spent, classes it has loaded (Spark's generated code among them).
JVM_FIELDS = ("jit_ms", "classes_loaded")
COUNTER_FIELDS = STAGE_FIELDS + ("jobs",) + JVM_FIELDS


def stage_totals(stages) -> dict[str, int]:
    """Sum the per-stage rows (dicts keyed like STAGE_FIELDS minus
    ``stages``) into one counter dict."""
    out = dict.fromkeys(STAGE_FIELDS, 0)
    for s in stages:
        for k in STAGE_FIELDS:
            out[k] += 1 if k == "stages" else s[k]
    return out


def add(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0) + b.get(k, 0) for k in COUNTER_FIELDS}


def delta(before: dict, after: dict) -> dict:
    """Counters accrued between two cumulative readings."""
    return {k: after[k] - before[k] for k in COUNTER_FIELDS}


class StatusCounters:
    """Cumulative counters of a live session, read from its status
    store.  Each ``read`` drains the listener bus, then adds the stages
    and jobs created since the previous read; a stage is read once it
    has ended, so readings taken between actions are exact."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        dag = self._sc.dagScheduler()
        self._next_stage = dag.nextStageId()
        self._next_job = dag.nextJobId()
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._jit, self._classes = mf.getCompilationMXBean(), mf.getClassLoadingMXBean()
        self._totals = dict.fromkeys(COUNTER_FIELDS, 0)

    def _stage_row(self, store, stage_id: int) -> dict | None:
        try:
            s = store.lastStageAttempt(stage_id)
        except Exception:  # py4j error: stage created but never registered
            return None
        return {
            "task_ms": s.executorRunTime(),
            "gc_ms": s.jvmGcTime(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.diskBytesSpilled(),
            "tasks": s.numCompleteTasks() + s.numFailedTasks(),
            "failed_tasks": s.numFailedTasks(),
        }

    def read(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        dag, store = self._sc.dagScheduler(), self._sc.statusStore()
        next_stage, next_job = dag.nextStageId(), dag.nextJobId()
        rows = [
            r
            for r in (self._stage_row(store, i) for i in range(self._next_stage, next_stage))
            if r is not None
        ]
        new = stage_totals(rows)
        new["jobs"] = next_job - self._next_job
        self._next_stage, self._next_job = next_stage, next_job
        self._totals = add(self._totals, new)
        self._totals["jit_ms"] = self._jit.getTotalCompilationTime()
        self._totals["classes_loaded"] = self._classes.getTotalLoadedClassCount()
        return dict(self._totals)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    counters: dict | None = None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans while ``enabled``; a disabled tracer is a no-op, so
    one code path serves the traced and the untraced cycles."""

    counters: StatusCounters | None = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _op: int | None = None

    @contextmanager
    def span(self, name: str, op: int | None = None, counters: bool = False):
        if not self.enabled:
            yield None
            return
        before = self.counters.read() if counters and self.counters else None
        parent = self._stack[-1] if self._stack else None
        if op is not None:
            self._op = op
        s = Span(name, time.perf_counter(), 0.0, parent, self._op)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if before is not None:
                s.counters = delta(before, self.counters.read())
            if op is not None:
                self._op = None

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path) -> None:
        spans = [dict(asdict(s), layer=s.layer) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "self_s": self_times(self.spans)}, f)


def self_times(spans: list[Span], roots: set[int] | None = None) -> dict[str, float]:
    """Seconds per layer spent in a span and not in any of its child
    spans (children overlapping each other count once).  ``roots``
    restricts the sum to the trees under those span indexes."""
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)
    keep = None
    if roots is not None:
        keep, todo = set(), list(roots)
        while todo:
            i = todo.pop()
            keep.add(i)
            todo.extend(children.get(i, ()))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        if keep is not None and i not in keep:
            continue
        covered, frontier = 0.0, s.start
        for c in sorted((spans[j] for j in children.get(i, ())), key=lambda c: c.start):
            lo, hi = max(c.start, frontier), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                frontier = hi
        out[s.layer] = out.get(s.layer, 0.0) + s.duration - covered
    return out


@contextmanager
def patched(targets):
    """Bind ``wrapper_for(original)`` in place of ``module.attr`` for
    each ``(module, attr, wrapper_for)`` target, and of every other
    module attribute bound to the same original (``from x import f``
    copies the binding); restore all of them on exit."""
    undo = []
    try:
        for module, attr, wrapper_for in targets:
            original = getattr(module, attr)
            wrapper = wrapper_for(original)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("golang_etl_spark") and getattr(
                    mod, attr, None
                ) is original:
                    setattr(mod, attr, wrapper)
                    undo.append((mod, attr, original))
        yield
    finally:
        for mod, attr, original in reversed(undo):
            setattr(mod, attr, original)
