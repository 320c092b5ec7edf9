"""Tracing for the per-layer run: spans, py4j round-trips, Spark job metrics.

Nothing here edits the program. Spans come from wrapping, at runtime, the
public module-level functions of the package's layer modules; py4j
round-trips from wrapping py4j's connection ``send_command``; Spark job,
task, shuffle and spill figures from the application status store, read
once after the timed region and attributed to spans by job group and job
description (the request id).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import sys
import time
from contextlib import contextmanager

PKG = "vectordb_similarity_search_spark"

# module prefix (relative to PKG) → layer name, first match wins
LAYERS = [
    ("session", "session"),
    ("plans", "plans"),
    ("functions", "functions"),
    ("operators.topk", "operators.topk"),
    ("operators.ann", "operators.ann"),
    ("operators.merge", "operators.merge"),
    ("operators.sketches", "operators.sketches"),
    ("operators", "operators"),
    ("ml", "ml"),
    ("sources", "sources"),
    ("streaming.events", "streaming.events"),
    ("streaming", "streaming"),
    ("util", "util"),
]


def layer_of(module: str) -> str | None:
    rel = module[len(PKG) + 1:] if module.startswith(PKG + ".") else None
    if rel is None:
        return None
    for prefix, layer in LAYERS:
        if rel == prefix or rel.startswith(prefix + "."):
            return layer
    return None


class Span:
    __slots__ = ("sid", "name", "layer", "start", "end", "parent", "req", "py4j", "child")

    def __init__(self, sid, name, layer, start, parent, req):
        self.sid, self.name, self.layer = sid, name, layer
        self.start, self.end, self.parent, self.req = start, None, parent, req
        self.py4j = 0  # round-trips made while this span was innermost
        self.child = 0.0  # wall time covered by direct children

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__ if k != "child"}


class Tracer:
    """Span recorder. ``on`` toggles recording so one run can interleave
    traced and untraced requests and measure the tracing overhead."""

    def __init__(self) -> None:
        self.on = False
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.req: str | None = None
        self.py4j_total = 0

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str):
        if not self.on:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), name, layer, time.perf_counter(),
                 parent.sid if parent else None, self.req)
        self.spans.append(s)
        self.stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                parent.child += s.end - s.start

    @contextmanager
    def request(self, sc, workload: str, op: str, req_id: str):
        """Root span of one request, run under job group
        ``bench:<workload>:<op>`` with the request id as job description."""
        sc.setJobGroup(f"bench:{workload}:{op}", req_id)
        self.req = req_id
        try:
            with self.span(op, "bench"):
                yield
        finally:
            self.req = None

    # -- instrumentation ---------------------------------------------
    def install(self) -> None:
        """Wrap py4j's send_command and every public function of the
        package's layer modules (in every module namespace that holds it,
        so ``from x import f`` call sites are covered too)."""
        self._wrap_py4j()
        pkg = importlib.import_module(PKG)
        for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
            importlib.import_module(info.name)  # lazily imported layers too
        wrappers: dict[int, object] = {}  # id(original) -> wrapper
        mods = [m for n, m in list(sys.modules.items())
                if m is not None and (n == PKG or n.startswith(PKG + "."))]
        for mod in mods:
            layer = layer_of(mod.__name__)
            if layer is None:
                continue
            for name, fn in list(vars(mod).items()):
                if (name.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__):
                    continue
                wrappers[id(fn)] = self._wrap_fn(fn, layer)
        for mod in mods:
            for name, fn in list(vars(mod).items()):
                w = wrappers.get(id(fn))
                if w is not None and inspect.isfunction(fn):
                    setattr(mod, name, w)

    def _wrap_fn(self, fn, layer: str):
        label = f"{fn.__module__[len(PKG) + 1:]}.{fn.__name__}"
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not tracer.on:
                return fn(*a, **kw)
            with tracer.span(label, layer):
                return fn(*a, **kw)

        return wrapper

    def _wrap_py4j(self) -> None:
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection

        tracer = self
        for cls in (ClientServerConnection, GatewayConnection):
            orig = cls.send_command

            def send_command(self, command, *a, _orig=orig, **kw):
                tracer.py4j_total += 1
                if tracer.on and tracer.stack:
                    tracer.stack[-1].py4j += 1
                return _orig(self, command, *a, **kw)

            cls.send_command = send_command

    # -- reductions ----------------------------------------------------
    def finished(self) -> list[Span]:
        return [s for s in self.spans if s.end is not None]

    def self_time_by_layer(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.finished():
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start - s.child)
        return out

    def py4j_by_req(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for s in self.finished():
            if s.req is not None:
                out[s.req] = out.get(s.req, 0) + s.py4j
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.as_dict() for s in self.finished()], fh)


def status_by_request(sc) -> dict[str, dict[str, float]]:
    """Reduce the application status store to per-request totals of jobs,
    tasks, shuffle bytes (read + write) and spill bytes (memory + disk).

    The store is serialized JVM-side with the same Jackson mapper Spark's
    REST API uses: two py4j calls instead of several per job and stage."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(
        getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        .__getattr__("MODULE$")
    )
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = json.loads(mapper.writeValueAsString(
        store.stageList(None, False, False, no_quantiles, None)))
    by_stage: dict[int, dict] = {}
    for st in stages:  # one entry per attempt; keep the totals of all
        d = by_stage.setdefault(st["stageId"], {"tasks": 0, "shuffle": 0, "spill": 0})
        d["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
        d["shuffle"] += st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0)
        d["spill"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
    out: dict[str, dict[str, float]] = {}
    seen: set[int] = set()  # a stage reused by a later job counts once
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        group = j.get("jobGroup") or ""
        if not group.startswith("bench:"):
            continue
        req = j.get("description") or group
        d = out.setdefault(req, {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0})
        d["jobs"] += 1
        for sid in j.get("stageIds", []):
            st = by_stage.get(sid)
            if st is not None and sid not in seen:
                seen.add(sid)
                d["tasks"] += st["tasks"]
                d["shuffle_bytes"] += st["shuffle"]
                d["spill_bytes"] += st["spill"]
    return out
