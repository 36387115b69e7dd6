"""Layer tracing from outside the package.

``Tracer.install()`` wraps the public entry points of the engine's
modules (and the few router methods that decide a route) with functions
that record a span: layer name, start, end, parent span, request id and
the benchmark phase it ran in. Spans are kept in memory and written out
by ``dump``. A layer's self time is its span minus the part covered by
its child spans.

Spark work per request is read from Spark itself: each request runs
under its own job group, and the group's jobs and stages are looked up
in the status store (``lastStageAttempt``), which is kept even with the
UI disabled.

The wrappers check ``Tracer.active`` on every call, so a traced run can
alternate traced and untraced requests and report the tracing overhead.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import threading
import time
from dataclasses import dataclass

PKG = "approximate_query_engine_spark"

#: (module, attribute, layer). ``Class.method`` attributes wrap the
#: method; plain functions are also replaced wherever another package
#: module imported them by name.
TARGETS = [
    ("engine", "AQEngine.query", "engine"),
    ("engine", "AQEngine._route_overlap_sql", "overlap.route"),
    ("engine", "AQEngine._route_rollup", "rollup.route"),
    ("engine", "AQEngine._route_partitioned", "partitioning.route"),
    ("engine", "AQEngine.create_rollup", "rollup.build"),
    ("engine", "AQEngine.refresh_rollup", "rollup.refresh"),
    ("engine", "AQEngine.partition_table", "partitioning.build"),
    ("engine", "AQEngine.analyze_table", "stats.build"),
    ("planner", "Planner.plan", "planner"),
    ("optimizer", "MLOptimizer.optimize_query", "optimizer"),
    ("executor", "execute_plan", "executor"),
    ("executor", "dual_execute_exact", "executor.dual"),
    ("sqlparser", "parse", "sqlparser"),
    ("sqlparser", "try_parse", "sqlparser"),
    ("sqlparser", "parse_join", "sqlparser"),
    ("sqlparser", "try_parse_join", "sqlparser"),
    ("sqlparser", "parse_overlap", "sqlparser"),
    ("sqlparser", "try_parse_overlap", "sqlparser"),
    ("maintenance", "run_maintenance", "maintenance"),
    ("sampler", "Sampler.create_uniform_sample", "sampler.build"),
    ("sampler", "Sampler.create_stratified_sample", "sampler.build"),
    ("sampler", "Sampler.refresh_sample", "sampler.refresh"),
    ("sketches", "SketchManager.create", "sketches.build"),
    ("catalog", "Catalog.save", "catalog.save"),
]


@dataclass
class Span:
    sid: int
    parent: int | None
    req: int | None
    layer: str
    phase: str
    start: float
    end: float = 0.0
    info: str = ""

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.active = False
        #: label stamped on every span begun from now on
        self.phase = "setup"
        self.missing: list[str] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._undo: list[tuple[object, str, object]] = []

    # -- span recording ------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, layer: str, req: int | None = None) -> Span:
        st = self._stack()
        with self._lock:
            self._next += 1
            sid = self._next
        parent = st[-1] if st else None
        span = Span(sid, parent.sid if parent else None,
                    req if req is not None else (parent.req if parent else None),
                    layer, self.phase, time.perf_counter())
        st.append(span)
        return span

    def end(self, span: Span, info: str = "") -> None:
        span.end = time.perf_counter()
        span.info = info
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        with self._lock:
            self.spans.append(span)

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            span = tracer.begin(layer)
            info = ""
            try:
                out = fn(*args, **kwargs)
                info = _describe(layer, args, out)
                return out
            finally:
                tracer.end(span, info)

        return traced

    # -- installation --------------------------------------------------
    def install(self) -> None:
        pkg_modules = [m for n, m in list(sys.modules.items())
                       if n == PKG or n.startswith(PKG + ".")]
        for mod_name, attr, layer in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner, name = mod, attr
            if "." in attr:
                cls_name, name = attr.split(".", 1)
                owner = getattr(mod, cls_name, None)
            fn = getattr(owner, name, None) if owner is not None else None
            if fn is None:
                self.missing.append(f"{mod_name}.{attr}")
                continue
            wrapped = self._wrap(fn, layer)
            self._patch(owner, name, fn, wrapped)
            if owner is mod:  # also rebind `from module import fn` copies
                for other in pkg_modules:
                    if other is not mod and getattr(other, name, None) is fn:
                        self._patch(other, name, fn, wrapped)

    def _patch(self, owner, name, original, wrapped) -> None:
        setattr(owner, name, wrapped)
        self._undo.append((owner, name, original))

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._undo):
            setattr(owner, name, original)
        self._undo.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.sid, "parent": s.parent, "req": s.req,
                    "layer": s.layer, "phase": s.phase, "start": s.start,
                    "end": s.end, "info": s.info,
                }) + "\n")


def spark_group_metrics(sc, group: str) -> dict[str, int]:
    """Jobs, tasks, input bytes, shuffle bytes (read + write) and
    executor run time of the Spark jobs run under job group ``group``."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    m = {"jobs": 0, "tasks": 0, "input_bytes": 0, "shuffle_bytes": 0,
         "executor_run_ms": 0}
    for jid in tracker.getJobIdsForGroup(group):
        m["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            try:
                st = store.lastStageAttempt(int(sid))
            except Exception:  # noqa: BLE001 - stage skipped or evicted
                continue
            m["tasks"] += int(st.numTasks())
            m["input_bytes"] += int(st.inputBytes())
            m["shuffle_bytes"] += int(st.shuffleReadBytes()) + int(st.shuffleWriteBytes())
            m["executor_run_ms"] += int(st.executorRunTime())
    return m


def _describe(layer: str, args, out) -> str:
    """A short decision label for the span: the plan type chosen, whether
    a router answered, or the kinds of action a maintenance pass took."""
    if layer == "planner" and isinstance(out, dict):
        return str(out.get("type", ""))
    if layer == "executor" and args and isinstance(args[-1], dict):
        return str(args[-1].get("type", ""))
    if layer.endswith(".route"):
        return "hit" if out else "declined"
    if layer == "maintenance" and isinstance(out, dict):
        return ",".join(sorted(a.get("kind", "?") for a in out.get("refreshed", [])))
    return ""


def self_ms(span: Span, children: list[Span], exclude: set[str] | None = None) -> float:
    """``span``'s duration minus its children's (children of one span
    never overlap: a request runs on one thread). With ``exclude``, only
    children whose layer is NOT in it are subtracted, so their time
    stays in the parent's self time."""
    return span.ms - sum(
        c.ms for c in children if exclude is None or c.layer not in exclude
    )
