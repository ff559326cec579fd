"""Per-layer spans for the benchmark's traced runs.

:meth:`Tracer.install` wraps every public function and every public
method of the classes defined in each layer module (``LAYERS``), then
rebinds the names other engine modules imported directly (for example
``namespace.descendants`` or ``blockmap.group_argmax``) and the entries
of the query registry, so a call reaches the wrapper however the caller
spelled it.

A span opens when a call crosses INTO a layer from another layer (a call
from a layer into itself runs unwrapped).  Each span gets its own Spark
job group, so every job is attributed to the innermost span that
submitted it; self time is the span's duration minus its child spans.
Spans are kept in memory and folded into per-layer totals; the Spark
side (jobs, tasks, job wall time) is read from the status store after
each op, outside the op's timed window.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from contextlib import contextmanager

LAYERS: dict[str, tuple[str, ...]] = {
    "namespace": ("adfs_spark.namespace",),
    "filesystem": ("adfs_spark.filesystem",),
    "blockmap": ("adfs_spark.blockmap",),
    "storage": ("adfs_spark.storage",),
    "backend": ("adfs_spark.backend",),
    "operators.hierarchy": ("adfs_spark.operators.hierarchy",),
    "operators": tuple(
        f"adfs_spark.operators.{m}"
        for m in ("find", "joins", "aggregates", "windows", "delta", "skew")
    ),
    "catalog": ("adfs_spark.catalog",),
    "queries": ("adfs_spark.queries",),
    "functions.dedup": ("adfs_spark.functions.dedup",),
    "functions.text": ("adfs_spark.functions.text",),
    "functions.similarity": ("adfs_spark.functions.similarity",),
}

# commit-plane verbs whose False return is a lost compare-and-swap
CAS_VERBS = frozenset({"put_if_absent", "replace_if_value", "delete_if_value"})

_GROUP_KEY = "spark.jobGroup.id"

# the installed tracer; wrappers pass straight through while it is None
_ACTIVE: "Tracer | None" = None


class _Span:
    __slots__ = ("layer", "gid", "child")

    def __init__(self, layer: str, gid: str) -> None:
        self.layer = layer
        self.gid = gid
        self.child = 0.0


class Tracer:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc
        self._store = self._jsc.sc().statusStore()
        self._stack: list[_Span] = []
        self._groups: list[tuple[str, str]] = []
        self._n = 0
        self._patches: list[tuple[object, str, object]] = []
        self.calls = {layer: 0 for layer in LAYERS}
        self.self_s = {layer: 0.0 for layer in LAYERS}
        self.jobs = {layer: 0 for layer in LAYERS}
        self.op_jobs = 0
        self.tasks = 0
        self.failed_tasks = 0
        self.job_wall_s = 0.0
        self.cas_failed = 0
        self.overhead_s = 0.0
        self.wrapped: dict[object, object] = {}

    # -- patching ----------------------------------------------------------

    def install(self) -> None:
        global _ACTIVE
        for layer, mods in LAYERS.items():
            for modname in mods:
                self._wrap_module(importlib.import_module(modname), layer)
        # names imported by value into other engine modules
        for mname, mod in list(sys.modules.items()):
            if mname != "adfs_spark" and not mname.startswith("adfs_spark."):
                continue
            for name, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in self.wrapped:
                    self._set(mod, name, self.wrapped[obj])
        # the query registry holds (fn, oracle) pairs
        registry = importlib.import_module("adfs_spark.queries").QUERIES
        for qname, (fn, sql) in list(registry.items()):
            if fn not in self.wrapped:
                self.wrapped[fn] = _wrap(fn, "queries", False)
            registry[qname] = (self.wrapped[fn], sql)
            self._patches.append((registry, qname, (fn, sql)))
        _ACTIVE = self

    def uninstall(self) -> None:
        global _ACTIVE
        _ACTIVE = None
        for owner, name, original in reversed(self._patches):
            if isinstance(owner, dict):
                owner[name] = original
            else:
                setattr(owner, name, original)
        self._patches.clear()

    def _set(self, owner, name: str, value) -> None:
        self._patches.append((owner, name, owner.__dict__[name]))
        setattr(owner, name, value)

    def _wrap_module(self, mod, layer: str) -> None:
        for name, obj in list(vars(mod).items()):
            if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                continue
            if inspect.isfunction(obj):
                self.wrapped[obj] = _wrap(obj, layer, False)
                self._set(mod, name, self.wrapped[obj])
            elif inspect.isclass(obj) and not issubclass(obj, BaseException):
                for attr, val in list(vars(obj).items()):
                    if attr.startswith("_"):
                        continue
                    cas = attr in CAS_VERBS
                    if isinstance(val, (classmethod, staticmethod)):
                        self._set(obj, attr, type(val)(_wrap(val.__func__, layer, cas)))
                    elif inspect.isfunction(val):
                        self.wrapped[val] = _wrap(val, layer, cas)
                        self._set(obj, attr, self.wrapped[val])

    # -- spans -------------------------------------------------------------

    @contextmanager
    def op(self):
        """Root span of one op: jobs the harness submits itself land in
        the root group, outside every layer."""
        self._groups = []
        self._push("op")
        try:
            yield
        finally:
            self._stack.clear()
            self._jsc.setLocalProperty(_GROUP_KEY, None)

    def _push(self, layer: str) -> _Span:
        self._n += 1
        span = _Span(layer, f"perfbench-{self._n}")
        self._jsc.setLocalProperty(_GROUP_KEY, span.gid)
        self._stack.append(span)
        self._groups.append((layer, span.gid))
        return span

    def call(self, layer: str, cas: bool, fn, args, kwargs):
        t0 = time.perf_counter()
        parent = self._stack[-1]
        span = self._push(layer)
        t1 = time.perf_counter()
        result = None
        try:
            result = fn(*args, **kwargs)
            return result
        finally:
            t2 = time.perf_counter()
            self._stack.pop()
            self._jsc.setLocalProperty(_GROUP_KEY, parent.gid)
            parent.child += t2 - t1
            self.calls[layer] += 1
            self.self_s[layer] += t2 - t1 - span.child
            if cas and result is False:
                self.cas_failed += 1
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def harvest(self, start: float, end: float) -> int:
        """Fold the last op's Spark jobs into the totals; returns the
        op's job count.  ``start``/``end`` are the op's wall-clock
        bounds (epoch seconds) for the job wall-time share."""
        tracker = self._sc.statusTracker()
        intervals = []
        n_jobs = 0
        for layer, gid in self._groups:
            for jid in tracker.getJobIdsForGroup(gid):
                job = self._store.job(jid)
                n_jobs += 1
                if layer in self.jobs:
                    self.jobs[layer] += 1
                self.tasks += job.numTasks()
                self.failed_tasks += job.numFailedTasks()
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                    )
        self.op_jobs += n_jobs
        self.job_wall_s += _covered(intervals, start, end)
        self._groups = []
        return n_jobs


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


def _wrap(fn, layer: str, cas: bool):
    # functools.wraps keeps __module__/__qualname__, so a wrapper that
    # ends up inside a pickled UDF closure pickles by reference and an
    # executor worker imports the plain engine function instead
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        tracer = _ACTIVE
        if tracer is None or not tracer._stack or tracer._stack[-1].layer == layer:
            return fn(*args, **kwargs)
        return tracer.call(layer, cas, fn, args, kwargs)

    return traced
