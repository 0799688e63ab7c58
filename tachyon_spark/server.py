"""HTTP query shell — parity with the reference web backend.

Reference (tachyon_web_backend/src/main.rs:10-88): axum server exposing
`POST /query {path, query, start, end}` → `{value_type, timestamps[],
values[]}` and `GET /health`. Same contract here on the stdlib http.server —
no extra dependencies — one Connection per database path, cached so repeated
queries reuse the SparkSession.

Every request takes one path (`_Handler._dispatch`): the route table
`_ROUTES`, keyed by (method, path), plus the `/api/v1/label/<name>/values`
pattern, picks the handler; `_params` decodes the query string or form
body (a JSON body is taken as sent); `_cap` is the one serving point cap;
and one `try` classifies a failure (`_Handler._fail`). The routes, in the
table's groups:

- the reference's shape (JSON or form body): POST `/query`,
  `/query_range` (`{path, query, start, end, step[, lookback, fill]}`,
  the step-aligned evaluation Grafana-style dashboards poll; the
  reference cannot serve it), `/record` (persist a recording rule,
  Connection.record), `/alerts` (alerting-rule backfill); GET `/health`.
- metadata, GET and POST: `/labels`, `/label_values`, `/series`.
- the Prometheus HTTP API: `/api/v1/query`, `/api/v1/query_range`,
  `/api/v1/query_exemplars` (GET and POST); GET `/api/v1/labels`,
  `/api/v1/label/<name>/values`, `/api/v1/series`,
  `/api/v1/status/tsdb`, `/api/v1/status/buildinfo`; POST
  `/api/v1/admin/tsdb/delete_series`, `/api/v1/admin/tsdb/snapshot`.
- OpenMetrics exposition, GET: `/metrics`, `/federate`.
- binary receivers, POST, options in the query string: `/api/v1/write`
  (remote_write), `/api/v1/read` (remote_read), `/v1/metrics` (OTLP).

Anything else is 404. A failure is 400 for a malformed request
(`_CLIENT_ERRORS`), 422 `execution` for an /api/v1 result over the
serving cap, and 500 for the engine's own failure; /api/v1 paths answer
with the Prometheus envelope, the rest with `{"error": ...}`.

This is a thin shell for parity/testing, not the scale path: at scale the
engine is used as a library (Connection API) or through Spark SQL directly.
"""

from __future__ import annotations

import json
import os
import re
import threading
from functools import partial
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, urlparse

_connections: dict[str, object] = {}
_lock = threading.Lock()
# a malformed request: a bad value (PromQLError and TooManyPoints are
# ValueErrors), a missing parameter, a mistyped one
_CLIENT_ERRORS = (ValueError, KeyError, TypeError)
# query-string and form params that parse as ints (native-unit clocks
# are integers) and as flags
_INT_PARAMS = ("start", "end", "step", "lookback", "time", "max_points",
               "for", "keep_firing_for", "top")
_FLAG_PARAMS = ("ns_clock", "exemplars")
# binary bodies: the options ride the query string, a failure answers
# {"error": <message, truncated>}
_RECEIVERS = ("/api/v1/write", "/api/v1/read", "/v1/metrics")
_LABEL_VALUES = re.compile(r"/api/v1/label/([^/]+)/values")


def _get_connection(path: str):
    from tachyon_spark.connection import Connection

    with _lock:
        if path not in _connections:
            _connections[path] = Connection(path)
        return _connections[path]


def _params(pairs: list[tuple[str, str]]) -> dict:
    """A query string's or form body's params: the last value of a key
    wins, ints and flags are parsed, and `match[]` lists every `match[]`
    and `match` value (repeated selectors union, as in Prometheus)."""
    p = dict(pairs)
    for k in _INT_PARAMS:
        if k in p:
            p[k] = int(p[k])
    for k in _FLAG_PARAMS:
        if k in p:
            p[k] = p[k] not in ("0", "false", "")
    p["match[]"] = [v for k, v in pairs if k in ("match[]", "match")]
    return p


def _body_params(body: bytes):
    """A POST body's params. JSON is the native shape; form-urlencoded
    (what real Prometheus clients POST) is told by the body, not by
    Content-Type: urllib and friends default the header to
    form-urlencoded even for JSON payloads."""
    if body.lstrip()[:1] in (b"{", b"["):
        return json.loads(body)
    return _params(parse_qsl(body.decode()))


def _cap(p: dict) -> int:
    """The serving point cap of a request. Clients may LOWER it, never
    raise or disable it (the cap protects the server's memory, so a
    client-controllable escape hatch would defeat it): absent or JSON
    null is the default, 0/negative/garbage a malformed request."""
    from tachyon_spark.promapi import DEFAULT_MAX_POINTS

    mp = p.get("max_points")
    if mp is None:
        return DEFAULT_MAX_POINTS
    cap = int(mp)
    if cap <= 0:
        raise ValueError("max_points must be a positive integer")
    return min(cap, DEFAULT_MAX_POINTS)


def _evaluate(conn, p: dict, grid: bool):
    """The Query of a `{query, start, end[, step, lookback, fill]}`
    request: a step grid (`fill=null|previous|linear|value:N`,
    operators/gapfill.py) or a raw evaluation."""
    if grid:
        return conn.query_range(
            p["query"], p["start"], p["end"], p["step"], p.get("lookback"),
            fill=p.get("fill"),
        )
    return conn.query(p["query"], p.get("start"), p.get("end"))


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *args):  # quiet
        pass

    def do_GET(self):
        self._dispatch("GET")

    def do_POST(self):
        self._dispatch("POST")

    def _dispatch(self, method: str) -> None:
        url = urlparse(self.path)
        handler = _ROUTES.get((method, url.path))
        m = _LABEL_VALUES.fullmatch(url.path) if method == "GET" else None
        if m:
            handler = partial(_Handler._api_labels, label=m.group(1))
        if handler is None:
            self._json(404, {"error": "not found"})
            return
        try:
            self.body = self.rfile.read(
                int(self.headers.get("Content-Length", 0))
            )
            if method == "POST" and url.path not in _RECEIVERS:
                p = _body_params(self.body)
            else:
                p = _params(parse_qsl(url.query))
            handler(self, p)
        except Exception as exc:
            self._fail(url.path, exc)

    def _fail(self, path: str, exc: Exception) -> None:
        """Answer a failed request by cause: a malformed request
        (_CLIENT_ERRORS) is 400, anything else is the engine's own
        failure (a Spark error, an OOM, a bug) and is 500, so clients
        never retry it as their mistake. /api/v1 paths use the Prometheus
        envelope, where a result over the serving cap is 422 `execution`
        (what Prometheus returns past --query.max-samples)."""
        from tachyon_spark.promapi import TooManyPoints

        client = isinstance(exc, _CLIENT_ERRORS)
        if path in _RECEIVERS:
            self._json(400 if client else 500, {"error": str(exc)[:500]})
        elif path.startswith("/api/v1/"):
            code, kind = (
                (422, "execution") if isinstance(exc, TooManyPoints)
                else (400, "bad_data") if client else (500, "internal")
            )
            self._json(
                code, {"status": "error", "errorType": kind, "error": str(exc)}
            )
        else:
            self._json(400 if client else 500, {"error": str(exc)})

    def _reply(self, code: int, body: bytes = b"", headers=()) -> None:
        self.send_response(code)
        for name, value in headers:
            self.send_header(name, value)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _json(self, code: int, obj) -> None:
        self._reply(
            code, json.dumps(obj).encode(),
            [("Content-Type", "application/json")],
        )

    # ------------------------------------------------ the reference's shape
    def _health(self, p: dict) -> None:
        self._json(200, {"status": "ok"})

    def _query(self, p: dict, grid: bool = False) -> None:
        """/query and /query_range (main.rs:27-76, plus step): a vector
        result is collected through the serving cap, so a year-long
        query_range over many series never materializes unbounded on
        the driver inside the handler; past the cap the answer is a 400
        TooManyPoints."""
        conn = _get_connection(p["path"])
        q = _evaluate(conn, p, grid)
        if q.return_type == "vector":
            from tachyon_spark.promapi import _bounded_collect

            rows = _bounded_collect(q.df(), _cap(p))
            payload = {
                "value_type": q.value_type,
                "timestamps": [r.ts for r in rows],
                "values": [r.value for r in rows],
            }
        else:
            payload = {"value_type": q.value_type, "values": q.rows()}
        self._json(200, payload)

    def _record(self, p: dict) -> None:
        """Recording rule: {path, name, query, start, end[, step,
        lookback]} -> {streams: [ids]}."""
        conn = _get_connection(p["path"])
        ids = conn.record(
            p["name"], p["query"], p["start"], p["end"],
            step=p.get("step"), lookback=p.get("lookback"),
        )
        self._json(200, {"streams": ids})

    def _alerts(self, p: dict) -> None:
        """Alerting-rule backfill: {path, query, start, end, step[, for,
        keep_firing_for, lookback, max_points]} -> lifecycle rows,
        collected through the serving cap: orderBy + limit plans as
        TakeOrdered, so Spark stops at the cap, and past it the answer
        carries the first `cap` rows plus truncated=true so backfill
        tooling can re-request a narrower window."""
        conn = _get_connection(p["path"])
        cap = _cap(p)
        out = conn.alert_rule(
            p["query"], p["start"], p["end"], p["step"],
            for_=p.get("for", 0), lookback=p.get("lookback"),
            keep_firing_for=p.get("keep_firing_for", 0),
        )
        cols = out.columns
        rows = out.orderBy(
            *[c for c in cols if c != "value"]
        ).limit(cap + 1).collect()
        self._json(
            200,
            {"columns": cols, "alerts": [list(r) for r in rows[:cap]],
             "truncated": len(rows) > cap},
        )

    # ------------------------------------------------------------ metadata
    def _labels(self, p: dict) -> None:
        conn = _get_connection(p["path"])
        self._json(200, {"labels": conn.label_names(p.get("match"))})

    def _label_values(self, p: dict) -> None:
        conn = _get_connection(p["path"])
        self._json(
            200, {"values": conn.label_values(p["label"], p.get("match"))}
        )

    def _series(self, p: dict) -> None:
        conn = _get_connection(p["path"])
        self._json(
            200,
            {"series": conn.series(p["selector"], p.get("start"), p.get("end"))},
        )

    # -------------------------------------------------- Prometheus HTTP API
    def _api_query(self, p: dict, grid: bool = False) -> None:
        """/api/v1/query(_range) in the Prometheus response shape
        (promapi.py). ns_clock (default True) renders native-ns
        timestamps as unix seconds."""
        from tachyon_spark.promapi import prometheus_envelope

        conn = _get_connection(p["path"])
        instant = False
        if grid or "time" not in p:
            q = _evaluate(conn, p, grid)
        else:
            # Prometheus instant query: `time=T` evaluates at T with
            # lookback semantics. A bare m[R] is the raw-sample export
            # (matrix of samples in (T-R, T], what Grafana's query
            # inspector issues); anything else is a one-step grid
            # evaluation rendered as an instant VECTOR.
            from tachyon_spark.connection import Query
            from tachyon_spark.plans.builder import PlanBuilder
            from tachyon_spark.promql import ast, parse

            t = int(p["time"])  # _params decodes no JSON body
            expr = parse(p["query"])
            if isinstance(expr, ast.MatrixSelector):
                plan = PlanBuilder(conn, t - expr.range_ + 1, t)
                q = Query(plan.build(expr.selector))
            else:
                q = conn.query_range(p["query"], t, t, 1, p.get("lookback"))
                instant = True
        self._json(
            200,
            prometheus_envelope(q, p.get("ns_clock", True), _cap(p), instant),
        )

    def _query_exemplars(self, p: dict) -> None:
        """Selector-scoped exemplar read (tachyon_spark/exemplars.py), the
        endpoint Grafana's datapoint-to-trace links call: data =
        [{seriesLabels, exemplars: [{labels, value, timestamp}]}]."""
        from tachyon_spark.promapi import exemplars_envelope

        conn = _get_connection(p["path"])
        data = exemplars_envelope(
            conn, p["query"], int(p["start"]), int(p["end"]),
            p.get("ns_clock", True), _cap(p),
        )
        self._json(200, {"status": "success", "data": data})

    def _api_labels(self, p: dict, label: str | None = None) -> None:
        """/api/v1/labels (label=None) and /api/v1/label/<label>/values;
        repeated match[] params union their selectors' results."""
        conn = _get_connection(p["path"])
        get = conn.label_names if label is None else partial(
            conn.label_values, label
        )
        if p["match[]"]:
            data = sorted(set().union(*map(get, p["match[]"])))
        else:
            data = get()
        self._json(200, {"status": "success", "data": data})

    def _api_series(self, p: dict) -> None:
        """/api/v1/series: the union of the match[] selectors' label sets
        (at least one match[] is required, as in Prometheus)."""
        conn = _get_connection(p["path"])
        if not p["match[]"]:
            raise ValueError("series requires at least one match[] selector")
        seen: dict[tuple, dict] = {}
        for m in p["match[]"]:
            for lset in conn.series(m, p.get("start"), p.get("end")):
                seen[tuple(sorted(lset.items()))] = lset
        self._json(
            200, {"status": "success", "data": [seen[k] for k in sorted(seen)]}
        )

    def _tsdb_status(self, p: dict) -> None:
        conn = _get_connection(p["path"])
        self._json(
            200,
            {"status": "success", "data": conn.tsdb_status(p.get("top", 10))},
        )

    def _buildinfo(self, p: dict) -> None:
        """Grafana probes this on datasource setup to pick its Prometheus
        feature set. The version string advertises the 2.x API surface
        this shell implements (exemplars, remote read/write)."""
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

    def _delete_series(self, p: dict) -> None:
        """{path, match[, start, end]} -> targeted sample deletion
        (Prometheus replies 204; the deleted count is returned here for
        operability)."""
        conn = _get_connection(p["path"])
        n = conn.delete_series(p["match"], p.get("start"), p.get("end"))
        self._json(200, {"status": "success", "deleted": n})

    def _snapshot(self, p: dict) -> None:
        """{path[, name]} -> snapshot dir (Prometheus returns {"name":
        ...}; the full path is included for operability)."""
        dest = _get_connection(p["path"]).snapshot(p.get("name"))
        self._json(
            200,
            {"status": "success",
             "data": {"name": os.path.basename(dest), "path": dest}},
        )

    # -------------------------------------------------------- exposition
    def _exposition(self, p: dict, federate: bool = False) -> None:
        """/metrics: the latest sample per stream as OpenMetrics text
        (promapi.openmetrics_text), scrapeable by a real Prometheus.
        /federate: the same, restricted to the union of the match[]
        selectors (required, as in Prometheus federation)."""
        if federate and not p["match[]"]:
            raise ValueError(
                "federation requires at least one match[] selector"
            )
        from tachyon_spark.promapi import openmetrics_text

        conn = _get_connection(p["path"])
        text = openmetrics_text(
            conn, p.get("start"), p.get("end"),
            ns_clock=p.get("ns_clock", True),
            match=p["match[]"] if federate else None,
        )
        self._reply(
            200, text.encode(),
            [("Content-Type",
              "application/openmetrics-text; version=1.0.0; charset=utf-8")],
        )

    # --------------------------------------------------- binary receivers
    def _receiver(self, p: dict):
        """(connection, snappy-compressed?) of a binary receiver's
        request: the db path rides the query string, and
        `Content-Encoding: identity` turns snappy off."""
        if not p.get("path"):
            raise ValueError("missing ?path= query param")
        compressed = (
            self.headers.get("Content-Encoding", "snappy").lower()
            != "identity"
        )
        return _get_connection(p["path"]), compressed

    def _remote_write(self, p: dict) -> None:
        """Prometheus remote_write receiver: a snappy-compressed protobuf
        WriteRequest, decoded DISTRIBUTED
        (sources/remote_write.parse_remote_write). Success is 204, as in
        Prometheus itself."""
        from tachyon_spark.sources.remote_write import ingest_remote_write

        conn, compressed = self._receiver(p)
        ts_unit = p.get("ts_unit", "ms")
        # remote-write 2.0 negotiation: the spec selects the message by
        # the Content-Type proto= parameter, never by payload sniffing
        ctype = self.headers.get("Content-Type", "").lower()
        proto = "2" if "proto=io.prometheus.write.v2.request" in ctype else "1"
        n = ingest_remote_write(
            conn, self.body, ts_unit=ts_unit,
            value_type=p.get("value_type", "f64"), compressed=compressed,
            proto=proto,
        )
        ex_written = 0
        if p.get("exemplars"):
            # opt-in exemplar retention (?exemplars=1): a second decode
            # pass AFTER the sample ingest registered the series. Its own
            # try: the samples are already durably written, so an
            # exemplar-store failure must NOT turn this reply into an
            # error — a spec-compliant sender would retry and
            # double-ingest every sample. The written count (0 on
            # failure) tells the sender the truth.
            from tachyon_spark.exemplars import extract_remote_write_exemplars

            try:
                ex_written = extract_remote_write_exemplars(
                    conn, self.body, ts_unit=ts_unit, compressed=compressed,
                    proto=proto,
                )
            except Exception:
                ex_written = 0
        # 2.0 REQUIRES written-stats headers. Native histograms are
        # stored as classic _bucket/_sum/_count series and counted in
        # Samples-Written, so Histograms-Written is 0 by design
        stats = [
            ("X-Prometheus-Remote-Write-Samples-Written", str(n)),
            ("X-Prometheus-Remote-Write-Histograms-Written", "0"),
            ("X-Prometheus-Remote-Write-Exemplars-Written", str(ex_written)),
        ]
        self._reply(204, headers=stats if proto == "2" else ())

    def _remote_read(self, p: dict) -> None:
        """Prometheus remote_read server: a snappy+proto ReadRequest
        answered with a ReadResponse (SAMPLES type) from the engine's own
        partition-pruned selector plan (sources/remote_read), collected
        through the serving cap."""
        from tachyon_spark.sources.remote_read import serve_remote_read

        conn, compressed = self._receiver(p)
        resp = serve_remote_read(
            conn, self.body, ts_unit=p.get("ts_unit", "ms"),
            compressed=compressed, max_points=_cap(p),
        )
        headers = [("Content-Type", "application/x-protobuf")]
        if compressed:
            headers.append(("Content-Encoding", "snappy"))
        self._reply(200, resp, headers)

    def _otlp(self, p: dict) -> None:
        """OTLP/HTTP metrics receiver: a protobuf
        ExportMetricsServiceRequest, optionally gzip (Content-Encoding),
        decoded and translated DISTRIBUTED (sources/otlp). Success is
        200 with an empty ExportMetricsServiceResponse."""
        from tachyon_spark.sources.otlp import ingest_otlp

        conn, _ = self._receiver(p)
        ts_unit = p.get("ts_unit", "ns")
        gzip = self.headers.get("Content-Encoding", "").lower() == "gzip"
        encoding = "gzip" if gzip else "auto"
        ingest_otlp(
            conn, self.body, ts_unit=ts_unit,
            value_type=p.get("value_type", "f64"), encoding=encoding,
        )
        if p.get("exemplars"):
            from tachyon_spark.exemplars import extract_otlp_exemplars

            # own try, as in _remote_write: the samples are committed
            try:
                extract_otlp_exemplars(
                    conn, self.body, ts_unit=ts_unit, encoding=encoding
                )
            except Exception:
                pass
        self._reply(200, headers=[("Content-Type", "application/x-protobuf")])


_ROUTES = {
    (method, path): handler
    for methods, path, handler in (
        # the reference's shape
        ("GET", "/health", _Handler._health),
        ("POST", "/query", _Handler._query),
        ("POST", "/query_range", partial(_Handler._query, grid=True)),
        ("POST", "/record", _Handler._record),
        ("POST", "/alerts", _Handler._alerts),
        # metadata
        ("GET POST", "/labels", _Handler._labels),
        ("GET POST", "/label_values", _Handler._label_values),
        ("GET POST", "/series", _Handler._series),
        # the Prometheus HTTP API (and _LABEL_VALUES)
        ("GET POST", "/api/v1/query", _Handler._api_query),
        ("GET POST", "/api/v1/query_range",
         partial(_Handler._api_query, grid=True)),
        ("GET POST", "/api/v1/query_exemplars", _Handler._query_exemplars),
        ("GET", "/api/v1/labels", _Handler._api_labels),
        ("GET", "/api/v1/series", _Handler._api_series),
        ("GET", "/api/v1/status/tsdb", _Handler._tsdb_status),
        ("GET", "/api/v1/status/buildinfo", _Handler._buildinfo),
        ("POST", "/api/v1/admin/tsdb/delete_series", _Handler._delete_series),
        ("POST", "/api/v1/admin/tsdb/snapshot", _Handler._snapshot),
        # exposition
        ("GET", "/metrics", _Handler._exposition),
        ("GET", "/federate", partial(_Handler._exposition, federate=True)),
        # binary receivers
        ("POST", "/api/v1/write", _Handler._remote_write),
        ("POST", "/api/v1/read", _Handler._remote_read),
        ("POST", "/v1/metrics", _Handler._otlp),
    )
    for method in methods.split()
}


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
