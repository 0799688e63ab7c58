"""Per-layer tracing from outside the package.

`Tracer.install()` wraps each layer's public entry point (module
attribute or class method) so a call records a span: name, start, end,
parent span, op id and a few counts. Spans stay in memory until the run
ends (`layer_values`, `dump`). Every span also sets its own Spark job group
(thread-local, so it holds in the HTTP server's handler threads too);
`statusTracker()` reads the groups back after the run, which attributes
each Spark job to the span that was active when it was submitted.

Nothing is wrapped unless `install()` runs, so an untraced run executes
the engine's own functions.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from urllib.parse import parse_qsl, urlparse

OP_PARAM = "pb_op"  # query parameter that carries the op id to the server


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current_op(self):
        st = self._stack()
        return st[-1]["op"] if st else None

    def _open(self, name: str, op) -> dict:
        st = self._stack()
        span = {
            "id": next(self._ids),
            "parent": st[-1]["id"] if st else None,
            "op": op,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        span["group"] = f"pb-{op}-{span['id']}"
        self.sc.setJobGroup(span["group"], name)
        st.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        st = self._stack()
        st.pop()
        self.sc.setJobGroup(st[-1]["group"] if st else "pb-idle", "idle")
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def op(self, name: str, op_id):
        """One client operation (the root span)."""
        span = self._open(name, op_id)
        try:
            yield span
        finally:
            self._close(span)

    # --------------------------------------------------------- wrappers
    def wrap(self, owner, attr: str, name: str, outermost: bool = False,
             count=None) -> None:
        """Replace `owner.attr` by a span-recording wrapper. `outermost`
        records only the outermost of nested calls; `count(result)`
        returns extra fields stored on the span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            op = tracer.current_op()
            if op is None or (outermost and any(
                    s["name"] == name for s in tracer._stack())):
                return fn(*args, **kwargs)
            with tracer.op(name, op) as span:
                out = fn(*args, **kwargs)
                if count is not None:
                    span.update(count(out))
                return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, fn))

    def wrap_handler(self, handler_cls) -> None:
        """Spans for the HTTP server's GET handler: the op id rides the
        request's `pb_op` query parameter into the handler thread."""
        orig = handler_cls.do_GET
        tracer = self

        @functools.wraps(orig)
        def do_GET(handler):
            params = dict(parse_qsl(urlparse(handler.path).query))
            op = params.get(OP_PARAM)
            if op is None:
                return orig(handler)
            with tracer.op("server.handler", op):
                return orig(handler)

        handler_cls.do_GET = do_GET
        self._undo.append((handler_cls, "do_GET", orig))

    def install(self) -> None:
        from tachyon_spark import connection, promapi, server
        from tachyon_spark.catalog import Catalog
        from tachyon_spark.plans.builder import PlanBuilder
        from tachyon_spark.plans.range_eval import RangeEvaluator
        from tachyon_spark.sources import (
            line_protocol, openmetrics, otlp, remote_write, series_resolve,
        )

        self.wrap(connection, "parse", "promql.parse")
        self.wrap(PlanBuilder, "build", "plans.build", outermost=True)
        self.wrap(RangeEvaluator, "build", "plans.build", outermost=True)
        self.wrap(Catalog, "resolve", "catalog.resolve",
                  count=lambda out: {"series": len(out)})
        self.wrap(Catalog, "resolve_df", "catalog.resolve")
        # the concrete DataFrame class the session hands out
        self.wrap(type(self.spark.range(0)), "collect", "exec")
        self.wrap(promapi, "prometheus_envelope", "promapi",
                  count=lambda out: {"points": _points(out)})
        self.wrap(connection.Connection, "bulk_load", "connection.bulk_load")
        self.wrap(series_resolve, "resolve_series_mapping", "series_resolve")
        self.wrap(remote_write, "ingest_remote_write", "sources.remote_write")
        self.wrap(otlp, "ingest_otlp", "sources.otlp")
        self.wrap(openmetrics, "ingest_openmetrics", "sources.openmetrics")
        self.wrap(line_protocol, "ingest_line_protocol",
                  "sources.line_protocol")
        self.wrap_handler(server._Handler)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ---------------------------------------------------------- results
    def jobs(self) -> None:
        """Fill each span's Spark jobs/stages/tasks from its job group."""
        st = self.sc.statusTracker()
        for span in self.spans:
            jobs = stages = tasks = 0
            for jid in st.getJobIdsForGroup(span["group"]):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None and si.numTasks:
                        stages += 1
                        tasks += si.numTasks
            span.update(jobs=jobs, stages=stages, tasks=tasks)

    def self_times(self) -> None:
        """span["self"] = duration minus the time its children cover."""
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            covered = sum(c["end"] - c["start"] for c in kids.get(s["id"], ()))
            s["self"] = (s["end"] - s["start"]) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, default=str) + "\n")


def _points(envelope: dict) -> int:
    res = envelope.get("data", {}).get("result", [])
    if isinstance(res, list):
        return sum(len(r.get("values", ())) or 1 for r in res)
    return 1


FORMATS = ("remote_write", "otlp", "openmetrics", "line_protocol")


def per_op_layers(spans: list[dict]) -> dict:
    """{metric: [per-op value, ...]} over the ops the spans belong to; an
    op contributes to a layer metric only if it entered that layer."""
    ops: dict = {}
    for s in spans:
        ops.setdefault(s["op"], []).append(s)
    out: dict = {}

    def add(metric, value):
        out.setdefault(metric, []).append(value)

    for ss in ops.values():
        roots = [s for s in ss if s["parent"] is None and s["name"] != "server.handler"]
        if len(roots) != 1:
            continue
        root = roots[0]
        by: dict = {}
        for s in ss:
            by.setdefault(s["name"], []).append(s)

        def total(name, key):
            return sum(s.get(key, 0) for s in by[name])

        for s in ss:
            s["dur"] = s["end"] - s["start"]
        if "promql.parse" in by:
            add("promql.parse_s", total("promql.parse", "dur"))
        if "plans.build" in by:
            add("plans.build_s", total("plans.build", "self"))
            add("plans.build_jobs", total("plans.build", "jobs"))
        if "catalog.resolve" in by:
            add("catalog.resolve_s", total("catalog.resolve", "dur"))
            add("catalog.resolved_series", total("catalog.resolve", "series"))
        if "exec" in by:
            add("exec.s", total("exec", "dur"))
        add("exec.jobs", sum(s.get("jobs", 0) for s in ss))
        add("exec.stages", sum(s.get("stages", 0) for s in ss))
        add("exec.tasks", sum(s.get("tasks", 0) for s in ss))
        if "promapi" in by:
            add("promapi.render_s", total("promapi", "self"))
            add("promapi.points", total("promapi", "points"))
        if "server.handler" in by:
            h = by["server.handler"][0]
            inner = sum(s["dur"] for s in ss if s["parent"] == h["id"])
            add("server.overhead_s", root["dur"] - inner)
            add("server.response_bytes", root.get("bytes", 0))
        for f in FORMATS:
            if f"sources.{f}" in by:
                add(f"sources.{f}.decode_s", total(f"sources.{f}", "self"))
                add(f"sources.{f}.jobs", total(f"sources.{f}", "jobs"))
        if "series_resolve" in by:
            add("series_resolve.s", total("series_resolve", "dur"))
            add("series_resolve.new_series", root.get("new_series", 0))
        if "connection.bulk_load" in by:
            add("connection.bulk_load_s", total("connection.bulk_load", "dur"))
            if "files" in root:
                add("connection.files_written", root["files"])
                add("connection.bytes_per_sample",
                    root["bytes_written"] / max(1, root.get("samples", 0)))
        add("op.unattributed_s", root["dur"] - sum(
            s["self"] for s in ss if s is not root))
    return out


def layer_values(loop: list[dict], probe: list[dict]) -> dict:
    """{metric: per-op values} over the timed loop's ops; a layer the loop
    never entered takes the probe ops' values instead."""
    a, b = per_op_layers(loop), per_op_layers(probe)
    return {m: a.get(m) or b[m] for m in {*a, *b}}
