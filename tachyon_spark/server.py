"""HTTP query shell — parity with the reference web backend.

Reference (tachyon_web_backend/src/main.rs:10-88): axum server exposing
`POST /query {path, query, start, end}` → `{value_type, timestamps[],
values[]}` and `GET /health`. Same contract here on the stdlib http.server —
no extra dependencies — one Connection per database path, cached so repeated
queries reuse the SparkSession. Beyond the reference: `POST /query_range`
adds Prometheus-style step-aligned evaluation (`{path, query, start, end,
step[, lookback]}`, plans/range_eval.py) — the endpoint Grafana-style
dashboards poll; the reference cannot serve it (its engine has no steps) —
and `POST /record {path, name, query, start, end[, step, lookback]}`
persists a recording rule (Connection.record) and returns the stream ids.

This is a thin shell for parity/testing, not the scale path: at scale the
engine is used as a library (Connection API) or through Spark SQL directly.
"""

from __future__ import annotations

import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_connections: dict[str, object] = {}
_lock = threading.Lock()
# a malformed request: a bad value (PromQLError and TooManyPoints are
# ValueErrors), a missing parameter, a mistyped one
_CLIENT_ERRORS = (ValueError, KeyError, TypeError)


def _get_connection(path: str):
    from tachyon_spark.connection import Connection

    with _lock:
        if path not in _connections:
            _connections[path] = Connection(path)
        return _connections[path]


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *args):  # quiet
        pass

    def _json(self, code: int, obj) -> None:
        body = json.dumps(obj).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _api_error(self, exc: Exception) -> None:
        """Prometheus error envelope for a failed /api/v1 request, by
        cause: a result over the serving cap is 422 `execution` (what
        Prometheus returns past --query.max-samples); a malformed request
        (ValueError, PromQLError included; a missing or mistyped
        parameter) is 400 `bad_data`; anything else is the engine's own
        failure (a Spark error, an OOM, a bug) and is 500 `internal`, so
        clients never retry it as their mistake."""
        from tachyon_spark.promapi import TooManyPoints

        if isinstance(exc, TooManyPoints):
            code, kind = 422, "execution"
        elif isinstance(exc, _CLIENT_ERRORS):
            code, kind = 400, "bad_data"
        else:
            code, kind = 500, "internal"
        self._json(code, {"status": "error", "errorType": kind, "error": str(exc)})

    def _error(self, exc: Exception) -> None:
        """A failed request outside the /api/v1 read handlers: /api/v1
        paths (the admin endpoints, an unparsable POST body) answer with
        the Prometheus envelope of _api_error; the rest with
        `{"error": ...}`, 400 for a malformed request and 500 for the
        engine's own failure."""
        if self.path.startswith("/api/v1/"):
            self._api_error(exc)
        else:
            code = 400 if isinstance(exc, _CLIENT_ERRORS) else 500
            self._json(code, {"error": str(exc)})

    def do_GET(self):
        if self.path == "/health":
            self._json(200, {"status": "ok"})
            return
        # GET form of the /api/v1 endpoints (the shape Prometheus clients
        # actually issue): query params instead of a JSON body. Numeric
        # params parse as ints (native-unit clocks are integers).
        from urllib.parse import parse_qsl, urlparse

        parsed = urlparse(self.path)
        if parsed.path == "/federate":
            # Prometheus federation: /federate?match[]=<selector>&... —
            # the same latest-sample exposition, restricted to the union
            # of the match[] selectors (required, like Prometheus)
            pairs = parse_qsl(parsed.query)
            req = dict(pairs)
            matchers = [v for k, v in pairs if k in ("match[]", "match")]
            try:
                if not matchers:
                    raise ValueError(
                        "federation requires at least one match[] selector"
                    )
                from tachyon_spark.promapi import openmetrics_text

                conn = _get_connection(req["path"])
                start = int(req["start"]) if "start" in req else None
                end = int(req["end"]) if "end" in req else None
                ns_clock = req.get("ns_clock") not in ("0", "false", "")
                body = openmetrics_text(
                    conn, start, end, ns_clock=ns_clock, match=matchers
                ).encode()
                self.send_response(200)
                self.send_header(
                    "Content-Type",
                    "application/openmetrics-text; version=1.0.0; "
                    "charset=utf-8",
                )
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            except Exception as exc:
                self._error(exc)
            return
        if parsed.path == "/metrics":
            # OpenMetrics text exposition (promapi.openmetrics_text):
            # latest sample per stream, scrapeable by a real Prometheus
            req = dict(parse_qsl(parsed.query))
            try:
                from tachyon_spark.promapi import openmetrics_text

                conn = _get_connection(req["path"])
                # start/end arrive as strings from the query params —
                # convert so the ts filter compares long-to-long instead
                # of via implicit cast; ns_clock mirrors the /api/v1 form
                start = int(req["start"]) if "start" in req else None
                end = int(req["end"]) if "end" in req else None
                ns_clock = req.get("ns_clock") not in ("0", "false", "")
                body = openmetrics_text(
                    conn, start, end, ns_clock=ns_clock
                ).encode()
                self.send_response(200)
                self.send_header(
                    "Content-Type",
                    "application/openmetrics-text; version=1.0.0; "
                    "charset=utf-8",
                )
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            except Exception as exc:
                self._error(exc)
            return
        if parsed.path == "/api/v1/status/buildinfo":
            # Grafana probes this on datasource setup to pick its
            # Prometheus feature set; answer with the envelope shape it
            # expects. The version string advertises the 2.x API
            # surface this shell implements (exemplars, remote read/
            # write); application/engine identity is this package.
            self._json(
                200,
                {"status": "success",
                 "data": {
                     "version": "2.54.0",
                     "application": "tachyon-spark",
                     "features": {
                         "exemplar-storage": "true",
                         "remote-write-receiver": "true",
                     },
                 }},
            )
            return
        if parsed.path == "/api/v1/status/tsdb":
            req = dict(parse_qsl(parsed.query))
            try:
                conn = _get_connection(req["path"])
                self._json(
                    200,
                    {"status": "success",
                     "data": conn.tsdb_status(int(req.get("top", 10)))},
                )
            except Exception as exc:
                self._api_error(exc)
            return
        if parsed.path == "/api/v1/labels" or parsed.path.startswith(
            "/api/v1/label/"
        ) or parsed.path == "/api/v1/series":
            # the REAL Prometheus metadata endpoint paths + envelopes
            # (r14): GET /api/v1/labels, /api/v1/label/<name>/values,
            # /api/v1/series — repeated match[] params union their
            # selectors' streams, exactly like Prometheus; /series
            # REQUIRES at least one match[] (Prometheus does too).
            import re as _re

            pairs = parse_qsl(parsed.query)
            req = dict(pairs)
            matches = [v for k, v in pairs if k in ("match[]", "match")]
            try:
                conn = _get_connection(req["path"])
                if parsed.path == "/api/v1/labels":
                    if matches:
                        names: set[str] = set()
                        for m in matches:
                            names.update(conn.label_names(m))
                        data = sorted(names)
                    else:
                        data = conn.label_names()
                elif parsed.path == "/api/v1/series":
                    if not matches:
                        raise ValueError(
                            "series requires at least one match[] "
                            "selector"
                        )
                    st = int(req["start"]) if "start" in req else None
                    en = int(req["end"]) if "end" in req else None
                    seen: dict[tuple, dict] = {}
                    for m in matches:
                        for lset in conn.series(m, st, en):
                            seen[tuple(sorted(lset.items()))] = lset
                    data = [seen[k] for k in sorted(seen)]
                else:
                    lm = _re.fullmatch(
                        r"/api/v1/label/([^/]+)/values", parsed.path
                    )
                    if lm is None:
                        self._json(404, {"error": "not found"})
                        return
                    label = lm.group(1)
                    if matches:
                        vals: set[str] = set()
                        for m in matches:
                            vals.update(conn.label_values(label, m))
                        data = sorted(vals)
                    else:
                        data = conn.label_values(label)
                self._json(200, {"status": "success", "data": data})
            except Exception as exc:
                self._api_error(exc)
            return
        if parsed.path in ("/labels", "/label_values", "/series"):
            # GET forms of the metadata endpoints (what Prometheus
            # clients issue; POST JSON remains for parity with the rest)
            req = dict(parse_qsl(parsed.query))
            try:
                conn = _get_connection(req["path"])
                if parsed.path == "/labels":
                    self._json(
                        200, {"labels": conn.label_names(req.get("match"))}
                    )
                elif parsed.path == "/label_values":
                    self._json(
                        200,
                        {"values": conn.label_values(
                            req["label"], req.get("match")
                        )},
                    )
                else:
                    st = int(req["start"]) if "start" in req else None
                    en = int(req["end"]) if "end" in req else None
                    self._json(
                        200,
                        {"series": conn.series(req["selector"], st, en)},
                    )
            except Exception as exc:
                self._error(exc)
            return
        if parsed.path in ("/api/v1/query", "/api/v1/query_range"):
            req = dict(parse_qsl(parsed.query))
            for k in ("start", "end", "step", "lookback", "time"):
                if k in req:
                    req[k] = int(req[k])
            if "ns_clock" in req:
                req["ns_clock"] = req["ns_clock"] not in ("0", "false", "")
            self.path = parsed.path
            self._handle_api(req)
            return
        if parsed.path == "/api/v1/query_exemplars":
            req = dict(parse_qsl(parsed.query))
            for k in ("start", "end"):
                if k in req:
                    req[k] = int(req[k])
            if "ns_clock" in req:
                req["ns_clock"] = req["ns_clock"] not in ("0", "false", "")
            self._handle_query_exemplars(req)
            return
        self._json(404, {"error": "not found"})

    def _handle_query_exemplars(self, req: dict) -> None:
        """/api/v1/query_exemplars (r15 second wave): selector-scoped
        exemplar read (tachyon_spark/exemplars.py), the endpoint
        Grafana's datapoint-to-trace links call. Prometheus envelope:
        data = [{seriesLabels, exemplars: [{labels, value,
        timestamp}]}]."""
        from tachyon_spark.promapi import DEFAULT_MAX_POINTS, exemplars_envelope

        try:
            conn = _get_connection(req["path"])
            data = exemplars_envelope(
                conn, req["query"], int(req["start"]), int(req["end"]),
                req.get("ns_clock", True),
                min(
                    int(req.get("max_points", DEFAULT_MAX_POINTS)),
                    DEFAULT_MAX_POINTS,
                ),
            )
            self._json(200, {"status": "success", "data": data})
        except Exception as exc:
            self._api_error(exc)

    def _handle_api(self, req: dict) -> None:
        """Prometheus API response shape (promapi.py): what Grafana-style
        clients poll, via GET query params or POST JSON. ns_clock
        (default True) renders native-ns timestamps as unix seconds."""
        from tachyon_spark.promapi import DEFAULT_MAX_POINTS, prometheus_envelope

        try:
            conn = _get_connection(req["path"])
            instant = False
            if self.path.endswith("query_range"):
                # fill=null|previous|linear|value:N (r14): Grafana-style
                # gap filling of the step grid, operators/gapfill.py
                q = conn.query_range(
                    req["query"], req["start"], req["end"], req["step"],
                    req.get("lookback"), fill=req.get("fill"),
                )
            elif "time" in req:
                # Prometheus instant query: `time=T` evaluates at T with
                # lookback semantics. A bare m[R] is the raw-sample
                # export (matrix of samples in (T-R, T], what Grafana's
                # query inspector issues); anything else is a one-step
                # grid evaluation rendered as an instant VECTOR.
                from tachyon_spark.plans.builder import PlanBuilder
                from tachyon_spark.promql import ast as _ast
                from tachyon_spark.promql import parse as _parse

                t = int(req["time"])
                expr = _parse(req["query"])
                if isinstance(expr, _ast.MatrixSelector):
                    from tachyon_spark.connection import Query as _Q

                    plan = PlanBuilder(
                        conn, t - expr.range_ + 1, t
                    ).build(expr.selector)
                    q = _Q(plan)
                else:
                    q = conn.query_range(
                        req["query"], t, t, 1, req.get("lookback")
                    )
                    instant = True
            else:
                q = conn.query(req["query"], req.get("start"), req.get("end"))
            # max_points: clients may LOWER the serving cap, never raise or
            # disable it (the cap protects the server's memory, so a
            # client-controllable escape hatch would defeat it). Absent or
            # JSON null -> the server-side default; 0/negative/garbage ->
            # bad_data.
            mp = req.get("max_points")
            if mp is None:
                cap = DEFAULT_MAX_POINTS
            else:
                cap = int(mp)  # ValueError -> 400 bad_data below
                if cap <= 0:
                    raise ValueError(
                        "max_points must be a positive integer"
                    )
                cap = min(cap, DEFAULT_MAX_POINTS)
            self._json(
                200,
                prometheus_envelope(
                    q, req.get("ns_clock", True), cap, instant
                ),
            )
        except Exception as exc:
            self._api_error(exc)

    def do_POST(self):
        from urllib.parse import parse_qs, urlparse

        rw = urlparse(self.path)
        if rw.path == "/api/v1/write":
            # Prometheus remote_write receiver (r15): the body is a
            # snappy-compressed protobuf WriteRequest (remote-write 1.0)
            # — binary, so the db path and clock options ride the query
            # string instead of the JSON-body convention. Decode runs
            # DISTRIBUTED (sources/remote_write.parse_remote_write,
            # mapInPandas); the handler only wraps the body bytes into a
            # 1-row frame. Success replies 204 like Prometheus itself.
            qs = {k: v[-1] for k, v in parse_qs(rw.query).items()}
            try:
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length)
                if not qs.get("path"):
                    self._json(400, {"error": "missing ?path= query param"})
                    return
                conn = _get_connection(qs["path"])
                from tachyon_spark.sources.remote_write import (
                    ingest_remote_write,
                )

                compressed = (
                    self.headers.get("Content-Encoding", "snappy").lower()
                    != "identity"
                )
                # remote-write 2.0 negotiation (r15 second wave): the
                # spec selects the message by the Content-Type proto=
                # parameter, never by payload sniffing
                ctype = self.headers.get("Content-Type", "").lower()
                proto = (
                    "2"
                    if "proto=io.prometheus.write.v2.request" in ctype
                    else "1"
                )
                n = ingest_remote_write(
                    conn,
                    body,
                    ts_unit=qs.get("ts_unit", "ms"),
                    value_type=qs.get("value_type", "f64"),
                    compressed=compressed,
                    proto=proto,
                )
                ex_written = 0
                if qs.get("exemplars") not in (None, "0", "false"):
                    # opt-in exemplar retention (?exemplars=1): second
                    # decode pass AFTER the sample ingest registered
                    # the series (tachyon_spark/exemplars.py). Its OWN
                    # try: the samples above are already durably
                    # written, so an exemplar-store failure must NOT
                    # turn this reply into an error — a spec-compliant
                    # sender would retry and double-ingest every
                    # sample. Exemplars are secondary; the written
                    # count (0 on failure) tells the sender the truth.
                    from tachyon_spark.exemplars import (
                        extract_remote_write_exemplars,
                    )

                    try:
                        ex_written = extract_remote_write_exemplars(
                            conn, body,
                            ts_unit=qs.get("ts_unit", "ms"),
                            compressed=compressed, proto=proto,
                        )
                    except Exception:
                        ex_written = 0
                self.send_response(204)
                if proto == "2":
                    # 2.0 REQUIRES written-stats headers (samples-only
                    # receiver: histograms are always 0; exemplars
                    # report what ?exemplars=1 actually stored)
                    self.send_header(
                        "X-Prometheus-Remote-Write-Samples-Written",
                        str(n),
                    )
                    self.send_header(
                        "X-Prometheus-Remote-Write-Histograms-Written",
                        "0",
                    )
                    self.send_header(
                        "X-Prometheus-Remote-Write-Exemplars-Written",
                        str(ex_written),
                    )
                self.send_header("Content-Length", "0")
                self.end_headers()
            except Exception as e:  # malformed body -> client error
                msg = str(e)
                code = (
                    400
                    if any(
                        s in msg
                        for s in ("snappy", "remote_write", "varint",
                                  "ts_unit", "ValueError")
                    )
                    else 500
                )
                self._json(code, {"error": msg[:500]})
            return
        if rw.path == "/api/v1/read":
            # Prometheus remote_read server (r15 second wave): the
            # serving complement of /api/v1/write — a Prometheus with a
            # remote_read URL federates historical queries out of this
            # engine. Body: snappy+proto ReadRequest; reply: snappy+
            # proto ReadResponse (SAMPLES type). Selection runs the
            # engine's own partition-pruned selector plan
            # (sources/remote_read.serve_remote_read); the driver only
            # materializes through the serving point cap.
            qs = {k: v[-1] for k, v in parse_qs(rw.query).items()}
            try:
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length)
                if not qs.get("path"):
                    self._json(400, {"error": "missing ?path= query param"})
                    return
                conn = _get_connection(qs["path"])
                from tachyon_spark.promapi import DEFAULT_MAX_POINTS
                from tachyon_spark.sources.remote_read import (
                    serve_remote_read,
                )

                compressed = (
                    self.headers.get("Content-Encoding", "snappy").lower()
                    != "identity"
                )
                # clients may LOWER the serving cap, never raise or
                # disable it (same invariant as every other endpoint)
                resp = serve_remote_read(
                    conn,
                    body,
                    ts_unit=qs.get("ts_unit", "ms"),
                    compressed=compressed,
                    max_points=min(
                        int(qs.get("max_points", DEFAULT_MAX_POINTS)),
                        DEFAULT_MAX_POINTS,
                    ),
                )
                self.send_response(200)
                self.send_header(
                    "Content-Type", "application/x-protobuf"
                )
                if compressed:
                    self.send_header("Content-Encoding", "snappy")
                self.send_header("Content-Length", str(len(resp)))
                self.end_headers()
                self.wfile.write(resp)
            except Exception as e:  # malformed body -> client error
                msg = str(e)
                code = (
                    400
                    if any(
                        s in msg
                        for s in ("snappy", "remote_read", "varint",
                                  "ts_unit", "matcher", "selector",
                                  "exceeds")
                    )
                    else 500
                )
                self._json(code, {"error": msg[:500]})
            return
        if rw.path == "/v1/metrics":
            # OTLP/HTTP metrics receiver (r15 second wave): the standard
            # OTLP path; body is a protobuf ExportMetricsServiceRequest,
            # optionally gzip (Content-Encoding) — decode + Prometheus
            # translation run DISTRIBUTED (sources/otlp.parse_otlp_metrics,
            # mapInPandas); the handler only wraps the body bytes.
            # Success replies 200 with an empty
            # ExportMetricsServiceResponse (zero-length protobuf), the
            # OTLP/HTTP full-success shape.
            qs = {k: v[-1] for k, v in parse_qs(rw.query).items()}
            try:
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length)
                if not qs.get("path"):
                    self._json(400, {"error": "missing ?path= query param"})
                    return
                conn = _get_connection(qs["path"])
                from tachyon_spark.sources.otlp import ingest_otlp

                enc = self.headers.get("Content-Encoding", "").lower()
                ingest_otlp(
                    conn,
                    body,
                    ts_unit=qs.get("ts_unit", "ns"),
                    value_type=qs.get("value_type", "f64"),
                    encoding="gzip" if enc == "gzip" else "auto",
                )
                if qs.get("exemplars") not in (None, "0", "false"):
                    from tachyon_spark.exemplars import (
                        extract_otlp_exemplars,
                    )

                    # own try — the samples are already committed, an
                    # exemplar failure must not trigger a sender retry
                    # (which would double-ingest the batch)
                    try:
                        extract_otlp_exemplars(
                            conn, body,
                            ts_unit=qs.get("ts_unit", "ns"),
                            encoding="gzip" if enc == "gzip" else "auto",
                        )
                    except Exception:
                        pass
                self.send_response(200)
                self.send_header(
                    "Content-Type", "application/x-protobuf"
                )
                self.send_header("Content-Length", "0")
                self.end_headers()
            except Exception as e:  # malformed body -> client error
                msg = str(e)
                code = (
                    400
                    if any(
                        s in msg
                        for s in ("otlp", "varint", "gzip", "ts_unit",
                                  "truncated")
                    )
                    else 500
                )
                self._json(code, {"error": msg[:500]})
            return
        if self.path not in (
            "/query", "/query_range", "/record", "/alerts",
            "/labels", "/label_values", "/series",
            "/api/v1/query", "/api/v1/query_range",
            "/api/v1/query_exemplars",
            "/api/v1/admin/tsdb/delete_series",
            "/api/v1/admin/tsdb/snapshot",
        ):
            self._json(404, {"error": "not found"})
            return
        try:
            length = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(length) or b"{}"
            # JSON stays the native body shape; form-urlencoded (the
            # shape real Prometheus clients POST, r14) is detected by
            # BODY content, not Content-Type alone — urllib and friends
            # default the header to form-urlencoded even for JSON
            # payloads, so a JSON-looking body always parses as JSON
            if body.lstrip()[:1] in (b"{", b"["):
                req = json.loads(body)
            else:
                from urllib.parse import parse_qsl

                req = dict(parse_qsl(body.decode()))
                for k in ("start", "end", "step", "lookback", "time",
                          "max_points", "for", "keep_firing_for"):
                    if k in req:
                        req[k] = int(req[k])
                if "ns_clock" in req:
                    req["ns_clock"] = req["ns_clock"] not in (
                        "0", "false", "")
            conn = _get_connection(req["path"])
            # Prometheus metadata API parity (beyond the reference):
            # {path} -> labels; {path, label} -> values; {path, selector}
            # -> full matching label sets
            if self.path == "/labels":
                self._json(
                    200, {"labels": conn.label_names(req.get("match"))}
                )
                return
            if self.path == "/label_values":
                self._json(
                    200,
                    {"values": conn.label_values(
                        req["label"], req.get("match")
                    )},
                )
                return
            if self.path == "/series":
                self._json(
                    200,
                    {"series": conn.series(
                        req["selector"], req.get("start"), req.get("end")
                    )},
                )
                return
            if self.path in ("/api/v1/query", "/api/v1/query_range"):
                self._handle_api(req)
                return
            if self.path == "/api/v1/query_exemplars":
                self._handle_query_exemplars(req)
                return
            if self.path == "/api/v1/admin/tsdb/delete_series":
                # Prometheus admin API: {path, match[, start, end]} ->
                # targeted sample deletion (Prometheus replies 204; the
                # deleted count is returned here for operability)
                n = conn.delete_series(
                    req["match"], req.get("start"), req.get("end")
                )
                self._json(200, {"status": "success", "deleted": n})
                return
            if self.path == "/api/v1/admin/tsdb/snapshot":
                # Prometheus admin API: {path[, name]} -> snapshot dir
                # (Prometheus returns {"name": ...}; the full path is
                # included for operability)
                dest = conn.snapshot(req.get("name"))
                self._json(
                    200,
                    {"status": "success",
                     "data": {"name": os.path.basename(dest),
                              "path": dest}},
                )
                return
            if self.path == "/alerts":
                # alerting-rule backfill: {path, query, start, end, step
                # [, for, keep_firing_for, lookback, max_points]} ->
                # lifecycle rows. Collected through the SAME serving cap
                # as the /api/v1 paths (promapi.DEFAULT_MAX_POINTS) — a
                # month-long backfill at 1-minute step over many firing
                # series must not materialize unbounded on the driver
                # inside the HTTP handler. orderBy + limit plans as
                # TakeOrdered, so Spark stops at the cap. Clients may
                # LOWER the cap, never raise it; past the cap the
                # response carries the first `cap` rows plus
                # truncated=true so backfill tooling can re-request a
                # narrower window.
                from tachyon_spark.promapi import DEFAULT_MAX_POINTS

                mp = req.get("max_points")
                if mp is None:
                    cap = DEFAULT_MAX_POINTS
                else:
                    cap = int(mp)
                    if cap <= 0:
                        raise ValueError(
                            "max_points must be a positive integer"
                        )
                    cap = min(cap, DEFAULT_MAX_POINTS)
                out = conn.alert_rule(
                    req["query"],
                    req["start"],
                    req["end"],
                    req["step"],
                    for_=req.get("for", 0),
                    lookback=req.get("lookback"),
                    keep_firing_for=req.get("keep_firing_for", 0),
                )
                cols = out.columns
                rows = out.orderBy(
                    *[c for c in cols if c != "value"]
                ).limit(cap + 1).collect()
                truncated = len(rows) > cap
                self._json(
                    200,
                    {"columns": cols,
                     "alerts": [list(r) for r in rows[:cap]],
                     "truncated": truncated},
                )
                return
            if self.path == "/record":
                # recording rule: {path, name, query, start, end[, step,
                # lookback]} -> {streams: [ids]}
                ids = conn.record(
                    req["name"],
                    req["query"],
                    req["start"],
                    req["end"],
                    step=req.get("step"),
                    lookback=req.get("lookback"),
                )
                self._json(200, {"streams": ids})
                return
            if self.path == "/query_range":
                # the reference's request shape (main.rs:27-76) + step:
                # {path, query, start, end, step[, lookback, fill]}
                q = conn.query_range(
                    req["query"],
                    req["start"],
                    req["end"],
                    req["step"],
                    req.get("lookback"),
                    fill=req.get("fill"),
                )
            else:
                q = conn.query(req["query"], req.get("start"), req.get("end"))
            if q.return_type == "vector":
                # same serving cap as /api/v1 and /alerts — this mirrors
                # the reference's buffer-everything endpoint
                # (tachyon_web_backend/src/main.rs:27-76) in SHAPE, but a
                # year-long query_range over many series must not
                # materialize unbounded on the driver inside the handler.
                # Clients may lower the cap via max_points, never raise
                # it; past the cap the response is a 400 TooManyPoints.
                from tachyon_spark.promapi import (
                    DEFAULT_MAX_POINTS, _bounded_collect,
                )

                mp = req.get("max_points")
                if mp is None:
                    cap = DEFAULT_MAX_POINTS
                else:
                    cap = int(mp)
                    if cap <= 0:
                        raise ValueError(
                            "max_points must be a positive integer"
                        )
                    cap = min(cap, DEFAULT_MAX_POINTS)
                rows = _bounded_collect(q.df(), cap)
                payload = {
                    "value_type": q.value_type,
                    "timestamps": [r.ts for r in rows],
                    "values": [r.value for r in rows],
                }
            else:
                payload = {"value_type": q.value_type, "values": q.rows()}
            self._json(200, payload)
        except Exception as exc:  # mirror the reference's error JSON
            self._error(exc)


def serve(host: str = "127.0.0.1", port: int = 8080) -> ThreadingHTTPServer:
    """Start the server on a daemon thread; returns the server object
    (call .shutdown() to stop)."""
    srv = ThreadingHTTPServer((host, port), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv


if __name__ == "__main__":
    import sys

    port = int(sys.argv[1]) if len(sys.argv) > 1 else 8080
    server = serve(port=port)
    print(f"tachyon_spark http server on :{port}")
    try:
        threading.Event().wait()
    except KeyboardInterrupt:
        server.shutdown()
