"""OTLP/HTTP metrics receiver (r15 second wave).

The codec is hand-rolled from the public opentelemetry-proto schema
(metrics/v1 + common/v1 + collector/metrics/v1), so the tests pin a
hand-built wire vector (decoder independence from our own encoder),
forward-compatibility skips, the Prometheus translation rules
(cumulative `le` buckets, summary quantiles, service.* -> job/instance),
then the Spark surface: distributed parse with gzip auto-detection,
ingest-and-read-back through the shared series-resolution machinery,
int64 exactness on the as_int channel, the /v1/metrics HTTP endpoint,
and the streaming drop-dir arm.
"""

import gzip
import struct

import pytest

from tachyon_spark.sources.otlp import (
    decode_export_metrics,
    encode_export_metrics,
    ingest_otlp,
    parse_otlp_metrics,
    render_otlp_metrics,
)


def _ld(fno, body):
    assert len(body) < 128
    return bytes([fno << 3 | 2, len(body)]) + body


def _hand_request() -> bytes:
    """ExportMetricsServiceRequest built byte-by-byte (not via
    encode_export_metrics): resource{service.name=api}, one gauge metric
    "up" with a point {env=prod} as_double=1.5 @ ts=1000ns and a point
    (no attrs) as_int=-7 @ ts=2000ns."""
    kv = _ld(1, b"service.name") + _ld(2, _ld(1, b"api"))
    resource = _ld(1, _ld(1, kv))  # ResourceMetrics.resource{attrs=[kv]}
    p1 = (
        bytes([3 << 3 | 1]) + struct.pack("<Q", 1000)
        + bytes([4 << 3 | 1]) + struct.pack("<d", 1.5)
        + _ld(7, _ld(1, b"env") + _ld(2, _ld(1, b"prod")))
    )
    p2 = (
        bytes([3 << 3 | 1]) + struct.pack("<Q", 2000)
        + bytes([6 << 3 | 1]) + struct.pack("<q", -7)
    )
    gauge = _ld(1, p1) + _ld(1, p2)
    metric = _ld(1, b"up") + _ld(5, gauge)
    scope_metrics = _ld(2, metric)
    rm = resource + _ld(2, scope_metrics)
    return _ld(1, rm)


def test_decode_hand_built_request():
    out, _ = decode_export_metrics(_hand_request())
    assert out == [
        ("up", {"job": "api", "env": "prod"}, 1000, 1.5, None),
        ("up", {"job": "api"}, 2000, None, -7),
    ]


def test_decode_skips_unknown_fields():
    # schema_url (ResourceMetrics 3), a fake varint field, and an
    # exemplar-bearing point must not break the decode (a newer SDK's
    # additions skip by wire type)
    kv = _ld(1, b"service.name") + _ld(2, _ld(1, b"v"))
    exemplar = _ld(5, bytes([3 << 3 | 1]) + struct.pack("<Q", 5))
    pt = (
        bytes([3 << 3 | 1]) + struct.pack("<Q", 10)
        + bytes([4 << 3 | 1]) + struct.pack("<d", 2.0)
        + exemplar
        + bytes([8 << 3 | 0, 1])  # flags
    )
    metric = _ld(1, b"m") + _ld(5, _ld(1, pt))
    rm = (
        _ld(1, _ld(1, kv))
        + _ld(2, _ld(2, metric) + _ld(3, b"https://schema"))
        + _ld(3, b"https://schema")
    )
    req = bytes([7 << 3 | 0, 42]) + _ld(1, rm)
    out, _ = decode_export_metrics(req)
    assert out == [("m", {"job": "v"}, 10, 2.0, None)]


def test_round_trip_all_kinds():
    req = encode_export_metrics(
        [
            (
                {"service.name": "api", "service.instance.id": "i-1",
                 "service.namespace": "prod"},
                [
                    ("cpu", "gauge", [({"core": "0"}, 1000, 0.5)]),
                    ("reqs", "sum", [({"code": "200"}, 2000, 1 << 60)]),
                    ("lat", "histogram",
                     [({"r": "/x"}, 3000, 10, 12.5, [0.1, 1.0],
                       [3, 4, 3])]),
                    ("rt", "summary",
                     [({}, 4000, 9, 4.5, [(0.5, 0.7), (0.99, 2.0)])]),
                ],
            )
        ]
    )
    out, _ = decode_export_metrics(req)
    base = {"job": "prod/api", "instance": "i-1"}
    assert ("cpu", {**base, "core": "0"}, 1000, 0.5, None) in out
    # int64 sums stay exact past 2^53
    assert ("reqs", {**base, "code": "200"}, 2000, None, 1 << 60) in out
    # histogram: CUMULATIVE le buckets + +Inf + sum + count
    buckets = [
        (s[1]["le"], s[4]) for s in out if s[0] == "lat_bucket"
    ]
    assert buckets == [("0.1", 3), ("1.0", 7), ("+Inf", 10)]
    assert ("lat_sum", {**base, "r": "/x"}, 3000, 12.5, None) in out
    assert ("lat_count", {**base, "r": "/x"}, 3000, None, 10) in out
    # summary: quantile series + sum + count
    assert ("rt", {**base, "quantile": "0.5"}, 4000, 0.7, None) in out
    assert ("rt_sum", dict(base), 4000, 4.5, None) in out
    assert ("rt_count", dict(base), 4000, None, 9) in out


def test_point_attrs_win_over_resource():
    req = encode_export_metrics(
        [({"service.name": "svc"},
          [("m", "gauge", [({"job": "override"}, 1, 2.0)])])]
    )
    assert decode_export_metrics(req)[0] == [
        ("m", {"job": "override"}, 1, 2.0, None)
    ]


def test_any_value_kinds():
    # bool / int / double / bytes / array all render as canonical label
    # strings — no attribute silently vanishes
    kvs = [
        _ld(1, b"b") + _ld(2, bytes([2 << 3 | 0, 1])),
        _ld(1, b"i") + _ld(2, bytes([3 << 3 | 0, 42])),
        _ld(1, b"d")
        + _ld(2, bytes([4 << 3 | 1]) + struct.pack("<d", 2.5)),
        _ld(1, b"y") + _ld(2, _ld(7, b"\xde\xad")),
        _ld(1, b"a")
        + _ld(
            2,
            _ld(5, _ld(1, _ld(1, b"x")) + _ld(1, bytes([3 << 3 | 0, 7]))),
        ),
    ]
    pt = bytes([3 << 3 | 1]) + struct.pack("<Q", 1) + bytes(
        [4 << 3 | 1]
    ) + struct.pack("<d", 0.0)
    for kv in kvs:
        pt += _ld(7, kv)
    metric = _ld(1, b"m") + _ld(5, _ld(1, pt))
    req = _ld(1, _ld(2, _ld(2, metric)))
    (sample,), _ = decode_export_metrics(req)
    assert sample[1] == {
        "b": "true", "i": "42", "d": "2.5", "y": "dead", "a": "[x,7]"
    }


def test_histogram_bucket_mismatch_raises():
    # 3 bucket_counts require 2 bounds; give 0 bounds
    p = bytearray()
    p += bytes([3 << 3 | 1]) + struct.pack("<Q", 1)
    p += bytes([4 << 3 | 1]) + struct.pack("<Q", 10)
    p += _ld(6, struct.pack("<QQQ", 1, 2, 7))
    metric = _ld(1, b"h") + _ld(9, _ld(1, bytes(p)))
    req = _ld(1, _ld(2, _ld(2, metric)))
    with pytest.raises(ValueError, match="length mismatch"):
        decode_export_metrics(req)


def test_metric_without_name_raises():
    pt = bytes([3 << 3 | 1]) + struct.pack("<Q", 1) + bytes(
        [4 << 3 | 1]
    ) + struct.pack("<d", 1.0)
    metric = _ld(5, _ld(1, pt))  # no name field
    req = _ld(1, _ld(2, _ld(2, metric)))
    with pytest.raises(ValueError, match="without a name"):
        decode_export_metrics(req)


# --------------------------------------------------------- spark parse

def test_parse_otlp_distributed_gzip_auto(spark):
    body = encode_export_metrics(
        [({}, [("cpu", "gauge",
                [({"host": "a"}, 10, 0.5), ({"host": "a"}, 20, 0.7)])])]
    )
    blobs = spark.createDataFrame(
        [(gzip.compress(body, mtime=0),), (body,)], "content binary"
    )  # one gzip, one plain — auto-detect must handle both
    rows = parse_otlp_metrics(blobs, ts_unit="ns").collect()
    assert len(rows) == 4
    r = {(x.series_key, x.ts): x.value for x in rows}
    assert r[('cpu{host="a"}', 10)] == 0.5
    assert all(x.labels == {"host": "a"} for x in rows)


def test_render_parse_round_trip(spark):
    df = spark.createDataFrame(
        [
            ("cpu", {"host": "a", "dc": "x"}, 0.5, 10),
            ("cpu", {"host": "b"}, 1.5, 20),
            ("mem", {}, 9.0, 10),
        ],
        "name string, labels map<string,string>, value double, ts long",
    )
    blobs = render_otlp_metrics(df, ts_unit="ns")
    back = parse_otlp_metrics(blobs, ts_unit="ns").collect()
    got = {(r.series_key, r.ts, r.value) for r in back}
    assert got == {
        ('cpu{dc="x",host="a"}', 10, 0.5),
        ('cpu{host="b"}', 20, 1.5),
        ("mem{}", 10, 9.0),
    }


# --------------------------------------------------------- full ingest

def test_ingest_otlp_end_to_end(db):
    body = encode_export_metrics(
        [({"service.name": "api"},
          [("ot_cpu", "gauge",
            [({"host": "a"}, 10, 0.5), ({"host": "a"}, 20, 0.7),
             ({"host": "b"}, 10, 1.0)])])]
    )
    n = ingest_otlp(db, body, ts_unit="ns")
    assert n == 3
    assert db.query('ot_cpu{host="a"}', 0, 100).rows() == [
        (10, 0.5), (20, 0.7)]
    # re-ingest resolves the EXISTING streams — no duplicate catalog rows
    n2 = ingest_otlp(
        db,
        encode_export_metrics(
            [({"service.name": "api"},
              [("ot_cpu", "gauge", [({"host": "a"}, 30, 0.9)])])]
        ),
        ts_unit="ns",
    )
    assert n2 == 1
    assert len([s for s in db.catalog.all_streams()
                if s.name == "ot_cpu"]) == 2
    assert db.query('ot_cpu{host="a"}', 0, 100).rows() == [
        (10, 0.5), (20, 0.7), (30, 0.9)]


def test_ingest_otlp_histogram_series(db):
    body = encode_export_metrics(
        [({}, [("ot_lat", "histogram",
                [({}, 50, 10, 12.5, [0.1, 1.0], [3, 4, 3])])])]
    )
    n = ingest_otlp(db, body, ts_unit="ns")
    assert n == 5  # 3 buckets + sum + count
    assert db.query('ot_lat_bucket{le="1.0"}', 0, 100).rows() == [
        (50, 7.0)]
    assert db.query('ot_lat_bucket{le="+Inf"}', 0, 100).rows() == [
        (50, 10.0)]
    assert db.query("ot_lat_sum", 0, 100).rows() == [(50, 12.5)]
    assert db.query("ot_lat_count", 0, 100).rows() == [(50, 10.0)]


def test_ingest_otlp_atomic_on_bad_blob(db):
    before = {s.name for s in db.catalog.all_streams()}
    good = encode_export_metrics(
        [({}, [("ot_ok", "gauge", [({}, 1, 1.0)])])]
    )
    blobs = db.spark.createDataFrame(
        [(good,), (b"\xff\xff\xff\xff truncated",)], "content binary"
    )
    with pytest.raises(Exception):
        ingest_otlp(db, blobs, ts_unit="ns")
    assert {s.name for s in db.catalog.all_streams()} == before


def test_ingest_otlp_integer_exactness(db):
    # as_int channel: 2^60 + 1 is NOT representable as f64 — the int
    # channel must carry it exactly into an i64-typed stream
    big = (1 << 60) + 1
    body = encode_export_metrics(
        [({}, [("ot_big", "sum", [({}, 5, big)])])]
    )
    ingest_otlp(db, body, ts_unit="ns", value_type="i64")
    assert db.query("ot_big", 0, 100).rows() == [(5, big)]


# ---------------------------------------------------------------- HTTP

def test_http_v1_metrics(spark, tmp_path):
    import threading
    from urllib.error import HTTPError
    from urllib.request import Request, urlopen

    from tachyon_spark.connection import Connection
    from tachyon_spark import server as srv

    conn = Connection(str(tmp_path / "otdb"), spark)
    httpd = srv.serve(port=0)
    try:
        port = httpd.server_address[1]
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        body = encode_export_metrics(
            [({"service.name": "poster"},
              [("http_ot", "gauge",
                [({}, 100, 3.5), ({}, 200, 4.5)])])]
        )
        req = Request(
            f"http://127.0.0.1:{port}/v1/metrics"
            f"?path={tmp_path / 'otdb'}&ts_unit=ns",
            data=gzip.compress(body, mtime=0),
            headers={
                "Content-Encoding": "gzip",
                "Content-Type": "application/x-protobuf",
            },
            method="POST",
        )
        with urlopen(req, timeout=120) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"] == (
                "application/x-protobuf"
            )
        assert conn.query('http_ot{job="poster"}', 0, 1000).rows() == [
            (100, 3.5), (200, 4.5)]
        # malformed body -> 400, catalog untouched
        before = {s.name for s in conn.catalog.all_streams()}
        bad = Request(
            f"http://127.0.0.1:{port}/v1/metrics"
            f"?path={tmp_path / 'otdb'}&ts_unit=ns",
            data=b"\xfagarbage",
            method="POST",
        )
        with pytest.raises(HTTPError) as ei:
            urlopen(bad, timeout=120)
        assert ei.value.code == 400
        assert {s.name for s in conn.catalog.all_streams()} == before
    finally:
        httpd.shutdown()


# ----------------------------------------------------------- streaming

def test_streaming_otlp_ingest(spark, tmp_path):
    """Drop-dir tail of OTLP blobs: two drops, a series first seen in
    drop 2 registers mid-stream, checkpoint prevents re-ingestion —
    the same contract as the four sibling streaming arms."""
    from tachyon_spark.connection import Connection
    from tachyon_spark.streaming.ingest import start_otlp_ingest

    src = tmp_path / "otdrops"
    src.mkdir()
    (src / "d1.pb").write_bytes(
        encode_export_metrics(
            [({}, [("sot", "gauge",
                    [({"h": "a"}, 10, 1.0), ({"h": "a"}, 20, 2.0)])])]
        )
    )
    (src / "d2.pb").write_bytes(
        gzip.compress(
            encode_export_metrics(
                [({}, [("sot", "gauge", [({"h": "a"}, 30, 3.0)]),
                       ("sot_new", "gauge", [({}, 30, 9.0)])])]
            ),
            mtime=0,
        )
    )
    conn = Connection(str(tmp_path / "sotdb"), spark)
    q = start_otlp_ingest(
        conn, str(src), trigger_once=True, max_files_per_trigger=1,
        ts_unit="ns",
    )
    q.awaitTermination(180)
    assert conn.query('sot{h="a"}', 0, 100).rows() == [
        (10, 1.0), (20, 2.0), (30, 3.0)]
    assert conn.query("sot_new", 0, 100).rows() == [(30, 9.0)]
    q2 = start_otlp_ingest(
        conn, str(src), trigger_once=True, ts_unit="ns",
    )
    q2.awaitTermination(180)
    assert conn.query("sot_new", 0, 100).rows() == [(30, 9.0)]


def test_cli_import_otlp(spark, tmp_path):
    from tachyon_spark import cli

    blob_dir = tmp_path / "blobs"
    blob_dir.mkdir()
    (blob_dir / "m.pb").write_bytes(
        encode_export_metrics(
            [({}, [("cli_ot", "gauge", [({}, 7, 2.5)])])]
        )
    )
    rc = cli.main(
        [
            str(tmp_path / "clidb"), "import-otlp",
            str(blob_dir / "m.pb"), "--ts-unit", "ns",
        ]
    )
    assert rc == 0
    from tachyon_spark.connection import Connection

    conn = Connection(str(tmp_path / "clidb"), spark)
    assert conn.query("cli_ot", 0, 100).rows() == [(7, 2.5)]


# ------------------------------------- exponential histograms (r15)

def test_exponential_histogram_translation():
    # scale=0 (base 2): pos offset=1 -> (2,4](4,8] counts 3,2;
    # neg offset=0 -> [-2,-1)[-4,-2) counts 1,1; zero bucket 4 @ 1e-9
    req = encode_export_metrics(
        [({}, [("eh", "exponential_histogram",
                [({"r": "/x"}, 100, 11, 25.5, 0, 4, 1e-9,
                  (1, [3, 2]), (0, [1, 1]))])])]
    )
    out, _ = decode_export_metrics(req)
    buckets = [(s[1]["le"], s[4]) for s in out if s[0] == "eh_bucket"]
    # ascending le: most-negative first, zero bucket, positives, +Inf
    assert buckets == [
        ("-2.0", 1), ("-1.0", 2), ("1e-09", 6), ("4.0", 9),
        ("8.0", 11), ("+Inf", 11),
    ]
    assert ("eh_sum", {"r": "/x"}, 100, 25.5, None) in out
    assert ("eh_count", {"r": "/x"}, 100, None, 11) in out


def test_exponential_histogram_negative_scale_and_offset():
    # scale=-1 (base 4), offset=-2: bucket 0 covers (4^-2, 4^-1] ->
    # le = 0.25; empty buckets skip but still cumulate correctly
    req = encode_export_metrics(
        [({}, [("eh2", "exponential_histogram",
                [({}, 5, 7, 1.0, -1, 0, 0.0,
                  (-2, [5, 0, 2]), (0, []))])])]
    )
    out, _ = decode_export_metrics(req)
    buckets = [(s[1]["le"], s[4]) for s in out if s[0] == "eh2_bucket"]
    assert buckets == [("0.25", 5), ("4.0", 7), ("+Inf", 7)]


def test_ingest_exponential_histogram(db):
    req = encode_export_metrics(
        [({}, [("ot_eh", "exponential_histogram",
                [({}, 50, 5, 9.0, 0, 0, 0.0, (0, [3, 2]), (0, []))])])]
    )
    n = ingest_otlp(db, req, ts_unit="ns")
    assert n == 5  # 2 buckets + Inf + sum + count
    assert db.query('ot_eh_bucket{le="2.0"}', 0, 100).rows() == [
        (50, 3.0)]
    assert db.query('ot_eh_bucket{le="+Inf"}', 0, 100).rows() == [
        (50, 5.0)]
    # histogram_quantile over the translated le series works unchanged
    q = db.query("histogram_quantile(0.5, ot_eh_bucket)", 0, 100)
    assert len(q.rows()) == 1
