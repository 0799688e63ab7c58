import json
import urllib.error
import urllib.request

import pytest

from tachyon_spark.cli import _ascii_chart, main as cli_main
from tachyon_spark.server import serve


def test_cli_end_to_end(tmp_path, spark, capsys):
    db = str(tmp_path / "clidb")
    assert cli_main([db, "create-stream", 'cpu{host="a"}', "f64"]) == 0
    csv = tmp_path / "in.csv"
    csv.write_text("Timestamp,Value\n10,1.0\n20,2.0\n")
    assert cli_main([db, "import-csv", 'cpu{host="a"}', str(csv)]) == 0
    assert cli_main([db, "insert", 'cpu{host="a"}', "30", "3.0"]) == 0
    assert cli_main([db, "list-all-streams"]) == 0
    assert cli_main([db, "query", 'cpu{host="a"}', "--start", "0", "--end", "100"]) == 0
    assert cli_main([db, "query", "sum(cpu)", "--start", "0", "--end", "100"]) == 0
    assert cli_main([db, "parse-headers"]) == 0
    out = capsys.readouterr().out
    assert "created stream" in out
    assert "imported 2 samples" in out
    assert "(10, 1.0)" in out and "(30, 3.0)" in out
    assert "6.0" in out  # sum
    assert "cpu{'host': 'a'}" in out


def test_cli_check_stream_exists(tmp_path, spark, capsys):
    db = str(tmp_path / "existsdb")
    cli_main([db, "create-stream", 'up{host="a"}', "f64"])
    assert cli_main([db, "check-stream-exists", 'up{host="a"}']) == 0
    assert cli_main([db, "check-stream-exists", 'down{host="a"}']) == 1
    out = capsys.readouterr().out
    assert "exists" in out and "does not exist" in out


def test_cli_repl(tmp_path, spark, capsys, monkeypatch):
    """readline -> query loop: good query prints rows, bad query prints an
    error and keeps the loop alive, exit leaves (main.rs:298-327)."""
    db = str(tmp_path / "repldb")
    cli_main([db, "create-stream", 'mem{host="a"}', "f64"])
    cli_main([db, "insert", 'mem{host="a"}', "10", "1.5"])
    cli_main([db, "insert", 'mem{host="a"}', "20", "2.5"])
    capsys.readouterr()
    lines = iter(["mem", "sum(", "sum(mem)", "exit"])
    monkeypatch.setattr("builtins.input", lambda _: next(lines))
    assert cli_main([db, "repl", "--start", "0", "--end", "100"]) == 0
    out = capsys.readouterr().out
    assert "(10, 1.5)" in out and "(20, 2.5)" in out  # vector rows
    assert "error:" in out  # parse error survived
    assert "4.0" in out  # scalar after the error


def test_ascii_chart():
    chart = _ascii_chart([(0, 1.0), (10, 5.0), (20, 1.0)], width=20, height=5)
    assert "*" in chart and "n=3" in chart
    assert _ascii_chart([]) == "(empty)"


def test_http_server(tmp_path, spark):
    from tachyon_spark.connection import Connection

    db = str(tmp_path / "webdb")
    conn = Connection(db, spark)
    conn.create_stream('web{k="1"}', "f64")
    ins = conn.prepare_insert('web{k="1"}')
    ins.insert(10, 1.5)
    ins.insert(20, 2.5)
    ins.flush()

    import tachyon_spark.server as srv_mod

    srv_mod._connections[db] = conn  # reuse the test session
    srv = serve(port=0)
    port = srv.server_address[1]
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/health") as r:
            assert json.load(r)["status"] == "ok"
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/query",
            data=json.dumps(
                {"path": db, "query": 'web{k="1"}', "start": 0, "end": 100}
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            body = json.load(r)
        assert body["timestamps"] == [10, 20]
        assert body["values"] == [1.5, 2.5]
        # scalar query
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/query",
            data=json.dumps(
                {"path": db, "query": 'sum(web{k="1"})', "start": 0, "end": 100}
            ).encode(),
        )
        with urllib.request.urlopen(req) as r:
            assert json.load(r)["values"] == [4.0]
        # step-aligned range endpoint (beyond the reference's backend)
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/query_range",
            data=json.dumps(
                {
                    "path": db,
                    "query": 'web{k="1"}',
                    "start": 0,
                    "end": 40,
                    "step": 10,
                    "lookback": 10,
                }
            ).encode(),
        )
        with urllib.request.urlopen(req) as r:
            body = json.load(r)
        assert body["timestamps"] == [10, 20, 30]
        assert body["values"] == [1.5, 2.5, 2.5]  # 40 is stale (20+10<40)
    finally:
        srv.shutdown()


def test_cli_query_range(tmp_path, spark, capsys):
    db = str(tmp_path / "qrdb")
    cli_main([db, "create-stream", 'qr{host="a"}', "f64"])
    cli_main([db, "insert", 'qr{host="a"}', "10", "1.5"])
    cli_main([db, "insert", 'qr{host="a"}', "25", "2.5"])
    capsys.readouterr()
    assert cli_main(
        [db, "query-range", "qr", "--start", "0", "--end", "40",
         "--step", "10", "--lookback", "10"]
    ) == 0
    out = capsys.readouterr().out
    assert "(10, 1.5)" in out and "(20, 1.5)" in out and "(30, 2.5)" in out
    assert "(40," not in out  # stale


def test_cli_record(tmp_path, spark, capsys):
    db = str(tmp_path / "recdb")
    cli_main([db, "create-stream", "m", "f64"])
    cli_main([db, "insert", "m", "10", "5.0"])
    cli_main([db, "insert", "m", "20", "9.0"])
    assert cli_main([
        db, "record", "m_inc", "increase(m[20])",
        "--start", "0", "--end", "40", "--step", "10",
    ]) == 0
    assert cli_main([db, "query", "m_inc", "--start", "0", "--end", "100"]) == 0
    out = capsys.readouterr().out
    assert "recorded 1 stream(s)" in out
    assert "(20, 4.0)" in out


def test_http_record(tmp_path, spark):
    from tachyon_spark.connection import Connection

    db = str(tmp_path / "recwebdb")
    conn = Connection(db, spark)
    conn.create_stream("hm", "f64")
    ins = conn.prepare_insert("hm")
    ins.insert(10, 5.0)
    ins.insert(20, 9.0)
    ins.flush()

    import tachyon_spark.server as srv_mod

    srv_mod._connections[db] = conn
    srv = serve(port=0)
    port = srv.server_address[1]
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/record",
            data=json.dumps(
                {"path": db, "name": "hm_inc", "query": "increase(hm[20])",
                 "start": 0, "end": 40, "step": 10}
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            assert len(json.load(r)["streams"]) == 1
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/query",
            data=json.dumps(
                {"path": db, "query": "hm_inc", "start": 0, "end": 100}
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            body = json.load(r)
        assert body["timestamps"] == [20] and body["values"] == [4.0]
    finally:
        srv.shutdown()


def test_metadata_api_and_endpoints(tmp_path, spark):
    """Prometheus metadata-API parity: label_names / label_values / series
    on the Connection, plus the /labels /label_values /series endpoints."""
    from tachyon_spark.connection import Connection

    db = str(tmp_path / "metadb")
    conn = Connection(db, spark)
    conn.create_stream('reqs{service="web",tier="gold"}', "f64")
    conn.create_stream('reqs{service="db"}', "u64")
    conn.create_stream('errs{service="web"}', "i64")

    assert conn.label_names() == ["__name__", "service", "tier"]
    assert conn.label_values("__name__") == ["errs", "reqs"]
    assert conn.label_values("service") == ["db", "web"]
    assert conn.label_values("nope") == []
    got = conn.series('reqs{service=~"w.*"}')
    assert got == [{"__name__": "reqs", "service": "web", "tier": "gold"}]
    # series start/end (Prometheus parity): only streams WITH samples in
    # the window survive
    ins = conn.prepare_insert('reqs{service="web"}')
    ins.insert(50, 1.0)
    ins.flush()
    assert conn.series("reqs", 0, 100) == [
        {"__name__": "reqs", "service": "web", "tier": "gold"}]
    assert conn.series("reqs", 200, 300) == []
    assert len(conn.series("reqs")) == 2  # no window: catalog-only
    # match[] filtering (round 9): restrict the pool to a selector
    assert conn.label_names(match="errs") == ["__name__", "service"]
    assert conn.label_values("service", match='reqs{tier="gold"}') == ["web"]
    assert conn.label_values("__name__", match='{service="db"}') == ["reqs"]

    import tachyon_spark.server as srv_mod
    from tachyon_spark.server import serve

    srv_mod._connections[db] = conn
    srv = serve(port=0)
    port = srv.server_address[1]

    def post(path, payload):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}{path}",
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            return json.load(r)

    try:
        assert post("/labels", {"path": db})["labels"] == [
            "__name__", "service", "tier"]
        assert post("/label_values", {"path": db, "label": "service"})[
            "values"] == ["db", "web"]
        assert post("/labels", {"path": db, "match": "errs"})["labels"] == [
            "__name__", "service"]
        assert post(
            "/label_values",
            {"path": db, "label": "service", "match": 'reqs{tier="gold"}'},
        )["values"] == ["web"]
        # GET forms (the shape Prometheus clients issue)
        from urllib.parse import quote

        def get(endpoint, **params):
            qs = "&".join(f"{k}={quote(v)}" for k, v in params.items())
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}{endpoint}?{qs}"
            ) as r:
                return json.load(r)

        assert get("/labels", path=db)["labels"] == [
            "__name__", "service", "tier"]
        assert get("/label_values", path=db, label="service",
                   match="errs")["values"] == ["web"]
        assert get("/series", path=db,
                   selector='{__name__="errs"}')["series"] == [
            {"__name__": "errs", "service": "web"}]
        # start/end filtering (Prometheus /api/v1/series parity): only
        # the stream with samples in the window survives; a disjoint
        # window empties the result
        assert get("/series", path=db, selector="reqs",
                   start="0", end="100")["series"] == [
            {"__name__": "reqs", "service": "web", "tier": "gold"}]
        assert get("/series", path=db, selector="reqs",
                   start="200", end="300")["series"] == []
        assert post("/series", {"path": db, "selector": "reqs"})["series"] == [
            {"__name__": "reqs", "service": "db"},
            {"__name__": "reqs", "service": "web", "tier": "gold"},
        ]
    finally:
        srv.shutdown()


def test_cli_metadata_verbs(tmp_path, capsys):
    db = str(tmp_path / "climeta")
    cli_main([db, "create-stream", 'm{service="web"}', "f64"])
    cli_main([db, "create-stream", 'm{service="db"}', "f64"])
    capsys.readouterr()
    assert cli_main([db, "labels"]) == 0
    assert capsys.readouterr().out.split() == ["__name__", "service"]
    assert cli_main([db, "label-values", "service"]) == 0
    assert capsys.readouterr().out.split() == ["db", "web"]
    assert cli_main([db, "series", 'm{service="web"}']) == 0
    assert json.loads(capsys.readouterr().out) == {
        "__name__": "m", "service": "web"}


def test_cli_alerts_verb(tmp_path, capsys):
    db = str(tmp_path / "clialert")
    cli_main([db, "create-stream", "m", "f64"])
    for ts, v in [(10, 50.0), (20, 60.0), (30, 70.0), (40, 1.0)]:
        cli_main([db, "insert", "m", str(ts), str(v)])
    capsys.readouterr()
    assert cli_main([
        db, "alerts", "m > 40", "--start", "0", "--end", "40",
        "--step", "10", "--for", "20", "--lookback", "10",
    ]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    # run 10..30: pending, pending, firing (30 - 10 >= 20); 40 inactive
    states = [line.split(",")[-1].strip(" ')") for line in lines]
    assert states == ["'pending'", "'pending'", "'firing'"] or [
        s.strip("'") for s in states] == ["pending", "pending", "firing"]


def test_instant_query_time_param(tmp_path, spark):
    """/api/v1/query?time=T: true Prometheus instant semantics — a
    one-step grid evaluation rendered as resultType 'vector', and a bare
    m[R] becomes the raw-sample matrix export (T-R, T]."""
    from tachyon_spark.connection import Connection

    db = str(tmp_path / "instdb")
    conn = Connection(db, spark)
    for svc, pts in (("web", [(10, 1.0), (20, 2.0)]), ("db", [(10, 5.0)])):
        conn.create_stream(f'reqs{{service="{svc}"}}', "f64")
        ins = conn.prepare_insert(f'reqs{{service="{svc}"}}')
        for ts, v in pts:
            ins.insert(ts, v)
        ins.flush()

    import tachyon_spark.server as srv_mod
    from tachyon_spark.server import serve

    srv_mod._connections[db] = conn
    srv = serve(port=0)
    port = srv.server_address[1]

    def get(**params):
        from urllib.parse import quote

        qs = "&".join(f"{k}={quote(str(v))}" for k, v in params.items())
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/v1/query?{qs}"
        ) as r:
            return json.load(r)

    try:
        # instant vector at T=25 (lookback 10 covers the ts-20 sample of
        # web but not db's ts-10): one series, value 2
        got = get(path=db, query="reqs", time=25, lookback=10,
                  ns_clock=0)["data"]
        assert got["resultType"] == "vector"
        assert len(got["result"]) == 1
        assert got["result"][0]["metric"]["service"] == "web"
        assert got["result"][0]["value"] == [25, "2.0"]
        # grouped instant: sum by (service) at T=25 -> vector of groups
        got = get(path=db, query="sum by (service) (reqs)", time=25,
                  lookback=10, ns_clock=0)["data"]
        assert got["resultType"] == "vector"
        assert [(r["metric"], r["value"]) for r in got["result"]] == [
            ({"service": "web"}, [25, "2.0"])]
        # raw-sample matrix export: reqs[20] at T=25 -> samples in (5, 25]
        got = get(path=db, query="reqs[20]", time=25, ns_clock=0)["data"]
        assert got["resultType"] == "matrix"
        by_svc = {r["metric"]["service"]: r["values"] for r in got["result"]}
        assert by_svc["web"] == [[10, "1.0"], [20, "2.0"]]
        assert by_svc["db"] == [[10, "5.0"]]
    finally:
        srv.shutdown()


def test_alerts_endpoint(tmp_path, spark):
    """POST /alerts: the alerting-rule backfill over HTTP."""
    from tachyon_spark.connection import Connection

    db = str(tmp_path / "alertdb")
    conn = Connection(db, spark)
    conn.create_stream("m", "f64")
    ins = conn.prepare_insert("m")
    for ts, v in [(10, 50.0), (20, 60.0), (30, 70.0), (40, 1.0)]:
        ins.insert(ts, v)
    ins.flush()

    import tachyon_spark.server as srv_mod
    from tachyon_spark.server import serve

    srv_mod._connections[db] = conn
    srv = serve(port=0)
    port = srv.server_address[1]
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/alerts",
            data=json.dumps({
                "path": db, "query": "m > 40", "start": 0, "end": 40,
                "step": 10, "for": 20, "lookback": 10,
            }).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            got = json.load(r)
        states = [row[-1] for row in got["alerts"]]
        assert states == ["pending", "pending", "firing"]
        assert "active_since" in got["columns"]
        assert got["truncated"] is False

        # serving cap: a backfill response larger than max_points comes
        # back capped with truncated=true — the handler must never
        # materialize an unbounded lifecycle frame on the driver
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/alerts",
            data=json.dumps({
                "path": db, "query": "m > 40", "start": 0, "end": 40,
                "step": 10, "for": 20, "lookback": 10, "max_points": 2,
            }).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            got = json.load(r)
        assert len(got["alerts"]) == 2
        assert got["truncated"] is True

        # clients may lower the cap, never disable it: 0 -> 400
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/alerts",
            data=json.dumps({
                "path": db, "query": "m > 40", "start": 0, "end": 40,
                "step": 10, "max_points": 0,
            }).encode(),
            headers={"Content-Type": "application/json"},
        )
        try:
            urllib.request.urlopen(req)
            assert False, "max_points=0 must be rejected"
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.shutdown()


def test_prometheus_api_endpoints(tmp_path, spark):
    """/api/v1/query(_range): Prometheus response envelope — per-series
    matrix with label sets, grouped instants as vectors, scalars, and the
    Prometheus-style error envelope."""
    from tachyon_spark.connection import Connection

    db = str(tmp_path / "promdb")
    conn = Connection(db, spark)
    for svc, pts in (("web", [(10, 1.0), (20, 2.0)]), ("db", [(10, 5.0)])):
        conn.create_stream(f'reqs{{service="{svc}"}}', "f64")
        ins = conn.prepare_insert(f'reqs{{service="{svc}"}}')
        for t, v in pts:
            ins.insert(t, v)
        ins.flush()

    import tachyon_spark.server as srv_mod
    from tachyon_spark.server import serve

    srv_mod._connections[db] = conn
    srv = serve(port=0)
    port = srv.server_address[1]

    def post(path, payload, expect_err=False):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}{path}",
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req) as r:
                return json.load(r)
        except urllib.error.HTTPError as e:
            assert expect_err
            return json.load(e)

    try:
        # per-series matrix with full label sets (raw native ts: ns_clock off)
        body = post("/api/v1/query", {
            "path": db, "query": "reqs", "start": 0, "end": 100,
            "ns_clock": False})
        assert body["status"] == "success"
        data = body["data"]
        assert data["resultType"] == "matrix"
        by_svc = {s["metric"]["service"]: s["values"] for s in data["result"]}
        assert by_svc["db"] == [[10, "5.0"]]
        assert by_svc["web"] == [[10, "1.0"], [20, "2.0"]]
        assert all(s["metric"]["__name__"] == "reqs" for s in data["result"])
        # grouped instant -> Prometheus vector
        body = post("/api/v1/query", {
            "path": db, "query": "sum by (service) (reqs)",
            "start": 0, "end": 100})
        assert body["data"]["resultType"] == "vector"
        got = {r["metric"]["service"]: r["value"][1]
               for r in body["data"]["result"]}
        assert got == {"db": "5.0", "web": "3.0"}
        # scalar — timestamp is the eval instant (end=100 ns -> 1e-7 s)
        body = post("/api/v1/query", {
            "path": db, "query": "sum(reqs)", "start": 0, "end": 100})
        assert body["data"]["resultType"] == "scalar"
        ts, val = body["data"]["result"]
        assert val == "8.0" and ts == pytest.approx(1e-07)
        # query_range matrix (step grid), native units
        body = post("/api/v1/query_range", {
            "path": db, "query": 'reqs{service="web"}', "start": 0,
            "end": 30, "step": 10, "lookback": 10, "ns_clock": False})
        vals = body["data"]["result"][0]["values"]
        assert vals == [[10, "1.0"], [20, "2.0"], [30, "2.0"]]
        # error envelope
        body = post("/api/v1/query", {
            "path": db, "query": "not a query ((", "start": 0, "end": 1},
            expect_err=True)
        assert body["status"] == "error" and body["error"]
        # max_points semantics (ADVICE r6): a client may LOWER the cap
        # (tripping it -> 422 execution), but 0/negative is bad_data and
        # JSON null falls back to the server default instead of disabling
        # the guard
        body = post("/api/v1/query", {
            "path": db, "query": "reqs", "start": 0, "end": 100,
            "max_points": 1}, expect_err=True)
        assert body["status"] == "error" and body["errorType"] == "execution"
        body = post("/api/v1/query", {
            "path": db, "query": "reqs", "start": 0, "end": 100,
            "max_points": 0}, expect_err=True)
        assert body["status"] == "error" and body["errorType"] == "bad_data"
        body = post("/api/v1/query", {
            "path": db, "query": "reqs", "start": 0, "end": 100,
            "max_points": None, "ns_clock": False})
        assert body["status"] == "success"
        assert len(body["data"]["result"]) == 2
    finally:
        srv.shutdown()


def test_prometheus_api_get_form(tmp_path, spark):
    from urllib.parse import quote

    from tachyon_spark.connection import Connection

    db = str(tmp_path / "promget")
    conn = Connection(db, spark)
    conn.create_stream('g{a="1"}', "f64")
    ins = conn.prepare_insert('g{a="1"}')
    ins.insert(10, 1.0)
    ins.flush()

    import tachyon_spark.server as srv_mod
    from tachyon_spark.server import serve

    srv_mod._connections[db] = conn
    srv = serve(port=0)
    port = srv.server_address[1]
    try:
        url = (f"http://127.0.0.1:{port}/api/v1/query?path={quote(db)}"
               f"&query={quote('g')}&start=0&end=100&ns_clock=0")
        with urllib.request.urlopen(url) as r:
            body = json.load(r)
        assert body["status"] == "success"
        assert body["data"]["result"][0]["values"] == [[10, "1.0"]]
        # GET error -> Prometheus error envelope
        bad = (f"http://127.0.0.1:{port}/api/v1/query?path={quote(db)}"
               f"&query={quote('((')}&start=0&end=1")
        try:
            urllib.request.urlopen(bad)
            assert False, "expected HTTPError"
        except urllib.error.HTTPError as e:
            assert json.load(e)["status"] == "error"
    finally:
        srv.shutdown()


def test_tsdb_status(tmp_path, spark):
    from urllib.parse import quote

    from tachyon_spark.connection import Connection

    db = str(tmp_path / "statusdb")
    conn = Connection(db, spark)
    conn.create_stream('m1{service="web"}', "f64")
    conn.create_stream('m1{service="db"}', "f64")
    conn.create_stream('m2{service="web",tier="gold"}', "f64")
    st = conn.tsdb_status()
    assert st["numSeries"] == 3
    assert st["seriesCountByMetricName"][0] == {"name": "m1", "value": 2}
    assert {d["name"]: d["value"] for d in st["labelValueCountByLabelName"]} == {
        "service": 2, "tier": 1}
    assert {d["name"]: d["value"] for d in st["seriesCountByLabelValuePair"]} == {
        "service=web": 2, "service=db": 1, "tier=gold": 1}

    import tachyon_spark.server as srv_mod
    from tachyon_spark.server import serve

    srv_mod._connections[db] = conn
    srv = serve(port=0)
    port = srv.server_address[1]
    try:
        url = f"http://127.0.0.1:{port}/api/v1/status/tsdb?path={quote(db)}"
        with urllib.request.urlopen(url) as r:
            body = json.load(r)
        assert body["status"] == "success"
        assert body["data"]["numSeries"] == 3
        # Grafana's datasource probe (no ?path= needed — static)
        url = f"http://127.0.0.1:{port}/api/v1/status/buildinfo"
        with urllib.request.urlopen(url) as r:
            info = json.load(r)
        assert info["status"] == "success"
        assert info["data"]["application"] == "tachyon-spark"
        assert info["data"]["features"]["remote-write-receiver"] == "true"
    finally:
        srv.shutdown()


def test_openmetrics_exposition(tmp_path, spark):
    from urllib.parse import quote

    from tachyon_spark.connection import Connection
    from tachyon_spark.promapi import openmetrics_text

    db = str(tmp_path / "omdb")
    conn = Connection(db, spark)
    conn.create_stream('cpu{host="a"}', "f64")
    conn.create_stream('cpu{host="b"}', "f64")
    conn.create_stream('up', "i64")
    for sel, pts in (('cpu{host="a"}', [(10, 1.5), (20, 2.5)]),
                     ('cpu{host="b"}', [(15, 9.0)])):
        ins = conn.prepare_insert(sel)
        for t, v in pts:
            ins.insert(t, v)
        ins.flush()
    ins = conn.prepare_insert("up")
    ins.insert(30, 1)
    ins.flush()

    text = openmetrics_text(conn, ns_clock=False)
    lines = text.strip().splitlines()
    assert lines[-1] == "# EOF"
    assert 'cpu{host="a"} 2.5 20' in lines  # LATEST sample only
    assert 'cpu{host="b"} 9.0 15' in lines
    assert any(l.startswith("up 1 ") for l in lines)  # bare metric, int value
    # time-range cap: end=12 sees only the first cpu{a} sample
    assert 'cpu{host="a"} 1.5 10' in openmetrics_text(conn, end=12,
                                                      ns_clock=False)
    # default exposition is OpenMetrics-conformant unix SECONDS (ADVICE r5):
    # native ns 20 -> 2e-08 s, so a real scraper places samples correctly
    assert 'cpu{host="a"} 2.5 2e-08' in openmetrics_text(conn)

    import tachyon_spark.server as srv_mod
    from tachyon_spark.server import serve

    srv_mod._connections[db] = conn
    srv = serve(port=0)
    port = srv.server_address[1]
    try:
        url = f"http://127.0.0.1:{port}/metrics?path={quote(db)}"
        with urllib.request.urlopen(url) as r:
            assert "openmetrics-text" in r.headers["Content-Type"]
            body = r.read().decode()
        assert 'cpu{host="a"} 2.5 2e-08' in body and body.endswith("# EOF\n")
        # ADVICE r6: GET start/end convert to ints (long-to-long ts filter)
        # and ns_clock=0 is reachable over HTTP (native-unit timestamps)
        url2 = (f"http://127.0.0.1:{port}/metrics?path={quote(db)}"
                f"&start=0&end=12&ns_clock=0")
        with urllib.request.urlopen(url2) as r:
            body2 = r.read().decode()
        assert 'cpu{host="a"} 1.5 10' in body2
    finally:
        srv.shutdown()


def test_cli_query_explain(tmp_path, capsys):
    db = str(tmp_path / "expdb")
    cli_main([db, "create-stream", 'e{h="a"}', "f64"])
    cli_main([db, "insert", 'e{h="a"}', "10", "1.5"])
    capsys.readouterr()
    assert cli_main([db, "query", "e", "--start", "0", "--end", "100",
                     "--explain"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "PushedFilters" in out


def test_prometheus_api_grouped_grid_matrix(tmp_path, spark):
    """Grouped query_range -> one labeled matrix per group (the Grafana
    `sum by (service)` panel shape)."""
    from tachyon_spark.connection import Connection
    from tachyon_spark.promapi import prometheus_data

    db = str(tmp_path / "promgrid")
    conn = Connection(db, spark)
    for svc, pts in (("web", [(10, 1.0), (20, 2.0)]), ("db", [(10, 5.0)])):
        conn.create_stream(f'r{{service="{svc}"}}', "f64")
        ins = conn.prepare_insert(f'r{{service="{svc}"}}')
        for t, v in pts:
            ins.insert(t, v)
        ins.flush()
    q = conn.query_range("sum by (service) (r)", 0, 30, 10, lookback=30)
    data = prometheus_data(q, ns_clock=False)
    assert data["resultType"] == "matrix"
    by = {s["metric"]["service"]: s["values"] for s in data["result"]}
    assert by["db"] == [[10, "5.0"], [20, "5.0"], [30, "5.0"]]
    assert by["web"] == [[10, "1.0"], [20, "2.0"], [30, "2.0"]]


def test_api_topk_renders_all_values(tmp_path, spark):
    """Raw-path topk(k, m) through the Prometheus envelope yields a
    VECTOR with k entries at the eval ts — it used to collapse to a
    single scalar (the reference's ReturnType::Scalar declaration leaked
    into the response shape)."""
    from tachyon_spark.connection import Connection
    from tachyon_spark.promapi import prometheus_envelope

    conn = Connection(str(tmp_path / "tkdb"), spark)
    conn.create_stream("m", "f64")
    ins = conn.prepare_insert("m")
    for t, v in [(10, 1.0), (20, 5.0), (30, 3.0)]:
        ins.insert(t, v)
    ins.flush()
    got = prometheus_envelope(conn.query("topk(2, m)", 0, 100),
                              ns_clock=False)["data"]
    assert got["resultType"] == "vector"
    assert [r["value"][1] for r in got["result"]] == ["5.0", "3.0"]


def test_delete_series_endpoint_and_cli(tmp_path, spark, capsys):
    """POST /api/v1/admin/tsdb/delete_series + the delete-series CLI verb."""
    from tachyon_spark.connection import Connection

    db = str(tmp_path / "deldb")
    conn = Connection(db, spark)
    conn.create_stream('m{host="a"}', "f64")
    ins = conn.prepare_insert('m{host="a"}')
    for t, v in [(10, 1.0), (20, 2.0), (30, 3.0)]:
        ins.insert(t, v)
    ins.flush()

    import tachyon_spark.server as srv_mod
    from tachyon_spark.server import serve

    srv_mod._connections[db] = conn
    srv = serve(port=0)
    port = srv.server_address[1]
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/v1/admin/tsdb/delete_series",
            data=json.dumps({
                "path": db, "match": 'm{host="a"}', "start": 15, "end": 25,
            }).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            got = json.load(r)
        assert got == {"status": "success", "deleted": 1}
        assert conn.query('m{host="a"}', 0, 100).rows() == [
            (10, 1.0), (30, 3.0)]
    finally:
        srv.shutdown()

    from tachyon_spark.cli import main as cli_main

    assert cli_main([db, "delete-series", 'm{host="a"}', "--end", "10"]) == 0
    assert "deleted 1 samples" in capsys.readouterr().out
    assert conn.query('m{host="a"}', 0, 100).rows() == [(30, 3.0)]


def test_federate_endpoint(tmp_path, spark):
    """GET /federate?match[]=...: the exposition restricted to the union
    of the match selectors; match[] is required; ids push to the scan."""
    from urllib.parse import quote

    from tachyon_spark.connection import Connection
    from tachyon_spark.promapi import openmetrics_text

    db = str(tmp_path / "feddb")
    conn = Connection(db, spark)
    for sel, pts in (('cpu{host="a"}', [(10, 1.5)]),
                     ('cpu{host="b"}', [(15, 9.0)]),
                     ('mem{host="a"}', [(20, 4.0)])):
        conn.create_stream(sel, "f64")
        ins = conn.prepare_insert(sel)
        for t, v in pts:
            ins.insert(t, v)
        ins.flush()

    # library form: single selector, list-of-selectors union
    t1 = openmetrics_text(conn, ns_clock=False, match='cpu{host="a"}')
    assert 'cpu{host="a"} 1.5 10' in t1 and "mem" not in t1
    t2 = openmetrics_text(
        conn, ns_clock=False, match=['cpu{host="a"}', "mem"]
    )
    assert 'cpu{host="a"}' in t2 and 'mem{host="a"}' in t2
    assert 'cpu{host="b"}' not in t2
    assert openmetrics_text(conn, ns_clock=False, match="nope") == "# EOF\n"

    import tachyon_spark.server as srv_mod
    from tachyon_spark.server import serve

    srv_mod._connections[db] = conn
    srv = serve(port=0)
    port = srv.server_address[1]
    try:
        url = (f"http://127.0.0.1:{port}/federate?path={quote(db)}"
               f"&match[]={quote('cpu')}&ns_clock=0")
        with urllib.request.urlopen(url) as r:
            assert "openmetrics-text" in r.headers["Content-Type"]
            body = r.read().decode()
        assert 'cpu{host="a"} 1.5 10' in body
        assert 'cpu{host="b"} 9.0 15' in body
        assert "mem" not in body
        # match[] required
        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/federate?path={quote(db)}"
            )
            assert False, "missing match[] must 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.shutdown()


def test_snapshot_endpoint_and_cli(tmp_path, spark, capsys):
    from tachyon_spark.connection import Connection

    db = str(tmp_path / "snapwebdb")
    conn = Connection(db, spark)
    conn.create_stream("sm", "f64")
    ins = conn.prepare_insert("sm")
    ins.insert(10, 1.0)
    ins.flush()

    import tachyon_spark.server as srv_mod
    from tachyon_spark.server import serve

    srv_mod._connections[db] = conn
    srv = serve(port=0)
    port = srv.server_address[1]
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/v1/admin/tsdb/snapshot",
            data=json.dumps({"path": db, "name": "websnap"}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            got = json.load(r)
        assert got["status"] == "success"
        assert got["data"]["name"] == "websnap"
        restored = Connection(got["data"]["path"], spark)
        assert restored.query("sm", 0, 100).rows() == [(10, 1.0)]
    finally:
        srv.shutdown()

    from tachyon_spark.cli import main as cli_main

    assert cli_main([db, "snapshot", "--name", "clisnap"]) == 0
    assert "snapshot at" in capsys.readouterr().out


def test_legacy_query_cap_and_cli_alert_limit(tmp_path, spark, capsys):
    """Round 11: the legacy reference-shape POST /query_range handler is
    backed by the SAME serving cap as /api/v1 (promapi._bounded_collect)
    — the last unbounded driver collect in the serving surface — and the
    CLI alerts verb takes --limit."""
    from tachyon_spark.connection import Connection

    db = str(tmp_path / "legacycap")
    conn = Connection(db, spark)
    conn.create_stream("m", "f64")
    ins = conn.prepare_insert("m")
    for ts, v in [(10, 50.0), (20, 60.0), (30, 70.0), (40, 1.0)]:
        ins.insert(ts, v)
    ins.flush()

    import tachyon_spark.server as srv_mod

    srv_mod._connections[db] = conn
    srv = serve(port=0)
    port = srv.server_address[1]

    def post(payload):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/query_range",
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            return json.load(r)

    base = {"path": db, "query": "m", "start": 0, "end": 40, "step": 10,
            "lookback": 10}
    try:
        got = post(base)
        assert len(got["values"]) == 4
        # result larger than the client-lowered cap -> 400 TooManyPoints,
        # never an unbounded driver materialization
        try:
            post({**base, "max_points": 2})
            assert False, "over-cap legacy query_range must 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert "exceeds" in json.load(e)["error"]
        # cap can be lowered, never disabled
        try:
            post({**base, "max_points": 0})
            assert False, "max_points=0 must be rejected"
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.shutdown()

    # CLI alerts --limit: bounded TakeOrdered collect + truncation marker
    capsys.readouterr()
    assert cli_main([
        db, "alerts", "m > 40", "--start", "0", "--end", "40",
        "--step", "10", "--for", "20", "--lookback", "10", "--limit", "2",
    ]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 3 and out[-1].startswith("... (truncated")
    with pytest.raises(SystemExit):
        cli_main([
            db, "alerts", "m > 40", "--start", "0", "--end", "40",
            "--step", "10", "--limit", "0",
        ])


def test_http_query_range_fill_modes(tmp_path, spark):
    """r14 (VERDICT r13 item 5): Grafana-style `fill=` on
    /api/v1/query_range, including the lookback interplay — steps the
    evaluator resolved via lookback keep their values; only the
    staleness-dropped steps synthesize. Samples at ts 10 (1.0) and 50
    (5.0), step 10, lookback 10: steps 20/60 resolve by LOOKBACK, steps
    0/30/40/70 are holes for fill to handle."""
    from tachyon_spark.connection import Connection

    db = str(tmp_path / "filldb")
    conn = Connection(db, spark)
    conn.create_stream("fm", "f64")
    ins = conn.prepare_insert("fm")
    ins.insert(10, 1.0)
    ins.insert(50, 5.0)
    ins.flush()

    import tachyon_spark.server as srv_mod

    srv_mod._connections[db] = conn
    srv = serve(port=0)
    port = srv.server_address[1]
    from urllib.parse import urlencode

    def rng(**extra):
        qs = urlencode({
            "path": db, "query": "fm", "start": 0, "end": 70,
            "step": 10, "lookback": 10, "ns_clock": 0, **extra,
        })
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/v1/query_range?{qs}"
        ) as r:
            body = json.load(r)
        assert body["status"] == "success"
        res = body["data"]["result"]
        assert len(res) == 1
        return {t: v for t, v in res[0]["values"]}

    try:
        # no fill: the staleness rule drops 0/30/40/70
        assert rng() == {10: "1.0", 20: "1.0", 50: "5.0", 60: "5.0"}
        grid = list(range(0, 80, 10))
        null_fill = rng(fill="null")
        assert sorted(null_fill) == grid
        assert null_fill[30] is None and null_fill[0] is None
        assert null_fill[20] == "1.0"  # lookback-resolved, NOT a fill
        prev = rng(fill="previous")
        assert prev == {
            0: None, 10: "1.0", 20: "1.0", 30: "1.0", 40: "1.0",
            50: "5.0", 60: "5.0", 70: "5.0",
        }
        lin = rng(fill="linear")
        # linear interpolates between the RESOLVED neighbors 20 and 50
        assert lin[30] == repr(1.0 + 4.0 * (10.0 / 30.0))
        assert lin[40] == repr(1.0 + 4.0 * (20.0 / 30.0))
        assert lin[0] is None and lin[70] is None  # outside observations
        val = rng(fill="value:0")
        assert val[30] == "0.0" and val[60] == "5.0"
        # bad fill -> Prometheus bad_data envelope
        qs = urlencode({
            "path": db, "query": "fm", "start": 0, "end": 70,
            "step": 10, "fill": "bogus",
        })
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/api/v1/query_range?{qs}"
            )
        assert ei.value.code == 400
        assert "fill" in json.load(ei.value)["error"]
        # legacy POST /query_range carries fill too
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/query_range",
            data=json.dumps({
                "path": db, "query": "fm", "start": 0, "end": 70,
                "step": 10, "lookback": 10, "fill": "previous",
            }).encode(),
        )
        with urllib.request.urlopen(req) as r:
            body = json.load(r)
        assert body["timestamps"] == grid
        assert body["values"][3] == 1.0 and body["values"][0] is None
    finally:
        srv.shutdown()


def test_http_api_v1_metadata_endpoints(tmp_path, spark):
    """r14: the REAL Prometheus metadata paths — GET /api/v1/labels,
    /api/v1/label/<name>/values, /api/v1/series — with the
    {status, data} envelope and repeated match[] union semantics;
    /series requires at least one match[]."""
    from urllib.parse import urlencode

    from tachyon_spark.connection import Connection

    db = str(tmp_path / "metadb")
    conn = Connection(db, spark)
    conn.create_streams([
        ('m1{env="prod",dc="a"}', "f64"),
        ('m1{env="dev"}', "f64"),
        ('m2{region="eu"}', "f64"),
    ])
    ins = conn.prepare_insert('m1{env="prod",dc="a"}')
    ins.insert(10, 1.0)
    ins.flush()

    import tachyon_spark.server as srv_mod

    srv_mod._connections[db] = conn
    srv = serve(port=0)
    port = srv.server_address[1]

    def get(path, *pairs):
        qs = urlencode([("path", db), *pairs])
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}{path}?{qs}"
        ) as r:
            body = json.load(r)
        assert body["status"] == "success"
        return body["data"]

    try:
        assert get("/api/v1/labels") == [
            "__name__", "dc", "env", "region"]
        # match[] restricts; repeated match[] unions
        assert get("/api/v1/labels", ("match[]", "m2")) == [
            "__name__", "region"]
        assert get(
            "/api/v1/labels", ("match[]", "m2"), ("match[]", 'm1{env="dev"}')
        ) == ["__name__", "env", "region"]
        assert get("/api/v1/label/__name__/values") == ["m1", "m2"]
        assert get("/api/v1/label/env/values") == ["dev", "prod"]
        assert get(
            "/api/v1/label/env/values", ("match[]", 'm1{dc="a"}')
        ) == ["prod"]
        series = get("/api/v1/series", ("match[]", "m1"))
        assert series == [
            {"__name__": "m1", "dc": "a", "env": "prod"},
            {"__name__": "m1", "env": "dev"},
        ]
        both = get(
            "/api/v1/series", ("match[]", "m1"), ("match[]", "m2"))
        assert len(both) == 3
        # start/end keep only streams with samples in the window
        lively = get(
            "/api/v1/series", ("match[]", "m1"),
            ("start", "0"), ("end", "100"),
        )
        assert lively == [{"__name__": "m1", "dc": "a", "env": "prod"}]
        # /series without match[] -> bad_data
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/api/v1/series?path="
                + urllib.request.quote(db)
            )
        assert ei.value.code == 400
        assert json.load(ei.value)["errorType"] == "bad_data"
    finally:
        srv.shutdown()


def test_cli_import_wire_formats_and_fill(tmp_path, spark, capsys):
    """r14: import-lp / import-graphite CLI verbs and --fill on
    query-range."""
    db = str(tmp_path / "wiredb")
    lp = tmp_path / "in.lp"
    lp.write_text("cpu,host=a usage=1.5,msg=\"skip\" 10\n"
                  "cpu,host=a usage=2.5 50\n")
    assert cli_main([db, "import-lp", str(lp)]) == 0
    gr = tmp_path / "in.gr"
    gr.write_text("mem.free;host=a 12 10\n")
    assert cli_main([db, "import-graphite", str(gr), "--ts-unit", "ns"]) == 0
    assert cli_main([
        db, "query-range", 'cpu_usage{host="a"}',
        "--start", "0", "--end", "70", "--step", "10",
        "--lookback", "10", "--fill", "previous",
    ]) == 0
    out = capsys.readouterr().out
    assert "imported 2 samples (1 string fields skipped)" in out
    assert "imported 1 samples" in out
    assert "(0, None)" in out          # leading hole stays null
    assert "(30, 1.5)" in out          # filled by previous
    assert "(20, 1.5)" in out          # lookback-resolved
    assert "(70, 2.5)" in out


def test_http_post_form_encoded(tmp_path, spark):
    """r14: POST with application/x-www-form-urlencoded bodies — the
    shape real Prometheus clients send to /api/v1/query(_range) —
    normalizes to the same handling as JSON bodies."""
    from urllib.parse import urlencode

    from tachyon_spark.connection import Connection

    db = str(tmp_path / "formdb")
    conn = Connection(db, spark)
    conn.create_stream("fq", "f64")
    ins = conn.prepare_insert("fq")
    ins.insert(10, 1.5)
    ins.insert(20, 2.5)
    ins.flush()

    import tachyon_spark.server as srv_mod

    srv_mod._connections[db] = conn
    srv = serve(port=0)
    port = srv.server_address[1]
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/v1/query_range",
            data=urlencode({
                "path": db, "query": "fq", "start": 0, "end": 30,
                "step": 10, "lookback": 10, "ns_clock": "0",
            }).encode(),
            headers={
                "Content-Type": "application/x-www-form-urlencoded"},
        )
        with urllib.request.urlopen(req) as r:
            body = json.load(r)
        assert body["status"] == "success"
        vals = body["data"]["result"][0]["values"]
        assert vals == [[10, "1.5"], [20, "2.5"], [30, "2.5"]]
        # instant form: time= param
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/v1/query",
            data=urlencode({
                "path": db, "query": "fq", "time": 25,
                "lookback": 10, "ns_clock": "0",
            }).encode(),
            headers={
                "Content-Type": "application/x-www-form-urlencoded"},
        )
        with urllib.request.urlopen(req) as r:
            body = json.load(r)
        assert body["data"]["resultType"] == "vector"
        assert body["data"]["result"][0]["value"] == [25, "2.5"]
    finally:
        srv.shutdown()


def test_api_error_classification(tmp_path, spark, monkeypatch):
    """Prometheus-envelope handlers classify a failure by cause: a
    malformed request is 400 bad_data, an engine failure is 500
    internal (not a client error), on every /api/v1 read endpoint."""
    from urllib.parse import urlencode

    import tachyon_spark.promapi as promapi
    import tachyon_spark.server as srv_mod
    from tachyon_spark.connection import Connection

    db = str(tmp_path / "errdb")
    conn = Connection(db, spark)
    conn.create_stream('m{k="1"}', "f64")
    srv_mod._connections[db] = conn
    srv = serve(port=0)
    port = srv.server_address[1]

    def get(path, **params):
        qs = urlencode({"path": db, **params})
        try:
            with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}?{qs}") as r:
                return r.status, json.load(r)
        except urllib.error.HTTPError as e:
            return e.code, json.load(e)

    def boom(*args, **kwargs):
        raise RuntimeError("engine failure")

    try:
        code, body = get("/api/v1/query", query="not a query ((", start=0, end=1)
        assert (code, body["errorType"]) == (400, "bad_data")
        monkeypatch.setattr(conn, "query", boom)
        monkeypatch.setattr(conn, "tsdb_status", boom)
        monkeypatch.setattr(conn, "label_names", boom)
        monkeypatch.setattr(promapi, "exemplars_envelope", boom)
        for path, params in (
            ("/api/v1/query", {"query": 'm{k="1"}', "start": 0, "end": 1}),
            ("/api/v1/status/tsdb", {}),
            ("/api/v1/labels", {}),
            ("/api/v1/query_exemplars", {"query": "m", "start": 0, "end": 1}),
        ):
            code, body = get(path, **params)
            assert (code, body["status"], body["errorType"]) == (
                500, "error", "internal"
            ), path
            assert body["error"] == "engine failure"
    finally:
        srv.shutdown()


def test_endpoint_error_classification(tmp_path, spark, monkeypatch):
    """Endpoints outside the /api/v1 query handlers classify a failure
    the same way: a malformed request stays 400, an engine failure is
    500. /api/v1 paths keep the Prometheus envelope, the others answer
    {"error": ...}."""
    from urllib.parse import quote

    import tachyon_spark.promapi as promapi
    import tachyon_spark.server as srv_mod
    from tachyon_spark.connection import Connection

    db = str(tmp_path / "errdb2")
    conn = Connection(db, spark)
    conn.create_stream('m{k="1"}', "f64")
    srv_mod._connections[db] = conn
    srv = serve(port=0)
    port = srv.server_address[1]

    def call(path, body=None):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}{path}",
            data=None if body is None else json.dumps(body).encode(),
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, json.load(r)
        except urllib.error.HTTPError as e:
            return e.code, json.load(e)

    def boom(*args, **kwargs):
        raise RuntimeError("engine failure")

    q = quote(db)
    try:
        # malformed requests stay client errors
        assert call(f"/federate?path={q}")[0] == 400
        assert call("/metrics")[0] == 400  # no ?path=
        code, body = call(
            "/api/v1/admin/tsdb/delete_series", {"path": db}
        )  # no match
        assert (code, body["errorType"]) == (400, "bad_data")
        monkeypatch.setattr(promapi, "openmetrics_text", boom)
        monkeypatch.setattr(conn, "delete_series", boom)
        monkeypatch.setattr(conn, "label_names", boom)
        for path in (
            f"/federate?path={q}&match[]=m", f"/metrics?path={q}",
            f"/labels?path={q}",
        ):
            assert call(path) == (500, {"error": "engine failure"}), path
        assert call(
            "/api/v1/admin/tsdb/delete_series", {"path": db, "match": "m"}
        ) == (500, {"status": "error", "errorType": "internal",
                    "error": "engine failure"})
        assert call("/labels", {"path": db}) == (
            500, {"error": "engine failure"}
        )
    finally:
        srv.shutdown()


def test_receiver_error_classification(tmp_path, spark, monkeypatch):
    """The binary receivers classify a failure by its class, like every
    other route: an engine failure is 500 even when its message names
    the wire format (a malformed body stays 400, see the receivers' own
    tests)."""
    from urllib.parse import quote

    import tachyon_spark.server as srv_mod
    from tachyon_spark.connection import Connection
    from tachyon_spark.sources import otlp, remote_read, remote_write

    db = str(tmp_path / "rxdb")
    srv_mod._connections[db] = Connection(db, spark)

    def boom(name):
        def fail(*args, **kwargs):
            raise RuntimeError(f"{name}: injected")

        return fail

    monkeypatch.setattr(remote_write, "ingest_remote_write", boom("remote_write"))
    monkeypatch.setattr(remote_read, "serve_remote_read", boom("remote_read"))
    monkeypatch.setattr(otlp, "ingest_otlp", boom("otlp"))
    srv = serve(port=0)
    port = srv.server_address[1]
    try:
        for path, name in (
            ("/api/v1/write", "remote_write"),
            ("/api/v1/read", "remote_read"),
            ("/v1/metrics", "otlp"),
        ):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}{path}?path={quote(db)}",
                data=b"payload", method="POST",
            )
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(req)
            assert (ei.value.code, json.load(ei.value)) == (
                500, {"error": f"{name}: injected"}
            ), path
    finally:
        srv.shutdown()


def test_receiver_malformed_body_is_400(tmp_path, spark):
    """A body the decoders cannot read is the client's fault whatever
    the decoder raises on it (invalid UTF-8 in a label, a body that is
    not gzip or is cut short): 400, never a 5xx a sender would retry."""
    from urllib.parse import quote

    import tachyon_spark.server as srv_mod
    from tachyon_spark.connection import Connection
    from tests.test_ingest_pipeline import MALFORMED

    db = str(tmp_path / "malformed_db")
    srv_mod._connections[db] = Connection(db, spark)
    srv = serve(port=0)
    port = srv.server_address[1]
    path = {"remote_write": "/api/v1/write", "otlp": "/v1/metrics"}
    try:
        for fmt, body, kwargs in MALFORMED:
            headers = {"Content-Encoding": kwargs.get("encoding", "")}
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}{path[fmt]}?path={quote(db)}"
                "&ts_unit=ns",
                data=body, method="POST",
                headers={k: v for k, v in headers.items() if v},
            )
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(req)
            assert ei.value.code == 400, (fmt, kwargs)
            assert json.load(ei.value)["error"].startswith(
                f"{fmt}: malformed payload: "
            )
    finally:
        srv.shutdown()


def test_json_body_int_params(tmp_path, spark):
    """A JSON body's `time` (/api/v1/query) and `start`/`end`
    (/api/v1/query_exemplars) are taken as ints, as in a query string:
    a string or a float is converted, not passed on."""
    from tachyon_spark.connection import Connection

    db = str(tmp_path / "json_int_db")
    conn = Connection(db, spark)
    conn.create_stream('ji{h="a"}', "f64")
    ins = conn.prepare_insert('ji{h="a"}')
    ins.insert(20, 1.5)
    ins.flush()
    srv = serve(port=0)
    port = srv.server_address[1]

    def post(path, payload):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}{path}",
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            return json.load(r)

    try:
        for t in ("25", 25.9):
            out = post("/api/v1/query", {
                "path": db, "query": 'ji{h="a"}', "time": t,
                "ns_clock": False,
            })
            assert out["status"] == "success", t
            assert out["data"]["result"][0]["value"] == [25, "1.5"], t
        out = post("/api/v1/query_exemplars", {
            "path": db, "query": "ji", "start": "0", "end": "100",
        })
        assert out == {"status": "success", "data": []}
    finally:
        srv.shutdown()


# every (method, path) the HTTP shell serves; /api/v1/label/job/values
# stands for the /api/v1/label/<name>/values pattern
SERVED = {
    *(("GET", p) for p in (
        "/health", "/metrics", "/federate", "/api/v1/labels",
        "/api/v1/label/job/values", "/api/v1/series", "/api/v1/status/tsdb",
        "/api/v1/status/buildinfo",
    )),
    *(("POST", p) for p in (
        "/query", "/query_range", "/record", "/alerts",
        "/api/v1/admin/tsdb/delete_series", "/api/v1/admin/tsdb/snapshot",
        "/api/v1/write", "/api/v1/read", "/v1/metrics",
    )),
    *((m, p) for m in ("GET", "POST") for p in (
        "/labels", "/label_values", "/series", "/api/v1/query",
        "/api/v1/query_range", "/api/v1/query_exemplars",
    )),
}
NO_DB = {"/health", "/api/v1/status/buildinfo"}


@pytest.fixture(scope="module")
def bare_port():
    srv = serve(port=0)
    yield srv.server_address[1]
    srv.shutdown()


@pytest.mark.parametrize("method,path", [
    (m, p)
    for p in sorted({p for _, p in SERVED} | {"/", "/nope", "/api/v1/nope"})
    for m in ("GET", "POST")
])
def test_route_table(bare_port, method, path):
    """A served (method, path) without a `path` param is a malformed
    request (400), except the two that need no db (200); any other
    method or path is 404. Pins the route table against a dropped or
    an extra route."""
    req = urllib.request.Request(
        f"http://127.0.0.1:{bare_port}{path}",
        data=b"{}" if method == "POST" else None, method=method,
    )
    try:
        with urllib.request.urlopen(req) as r:
            code, body = r.status, json.load(r)
    except urllib.error.HTTPError as e:
        code, body = e.code, json.load(e)
    if (method, path) not in SERVED:
        assert (code, body) == (404, {"error": "not found"})
    elif path in NO_DB:
        assert code == 200
    else:
        assert code == 400 and body["error"]
