"""Prometheus remote_write receiver (r15, VERDICT r14 task 1).

Codec halves are hand-rolled from the public specs (snappy block
format_description.txt; prometheus/prompb remote.proto + types.proto),
so the tests pin both hand-built wire vectors (decoder independence
from our own encoder) and full round trips, then the Spark surface:
distributed parse, ingest-and-read-back through the shared
series-resolution machinery, the /api/v1/write HTTP endpoint, and the
streaming drop-dir arm.
"""

import struct

import pytest

from tachyon_spark.sources.remote_write import (
    decode_write_request,
    encode_write_request,
    ingest_remote_write,
    parse_remote_write,
    render_remote_write,
    snappy_compress,
    snappy_decompress,
)


# ------------------------------------------------------------- snappy

def test_snappy_hand_built_vectors():
    # literal only: len-1=4 in tag (<60)
    assert snappy_decompress(bytes([5, 4 << 2]) + b"hello") == b"hello"
    # copy2: "abcd" then copy(offset=4, len=4) -> "abcdabcd"
    blob = bytes([8, 3 << 2]) + b"abcd" + bytes([(4 - 1) << 2 | 2, 4, 0])
    assert snappy_decompress(blob) == b"abcdabcd"
    # copy1 with OVERLAP: "ab" + copy(offset=2, len=6) -> "abababab"
    blob = bytes([8, 1 << 2]) + b"ab" + bytes([((6 - 4) << 2) | 1, 2])
    assert snappy_decompress(blob) == b"abababab"
    # copy4: offset in 4 LE bytes
    blob = (
        bytes([8, 3 << 2]) + b"wxyz"
        + bytes([(4 - 1) << 2 | 3]) + (4).to_bytes(4, "little")
    )
    assert snappy_decompress(blob) == b"wxyzwxyz"
    # extended literal lengths: tag 60 (1 extra byte) and 61 (2 LE bytes)
    body = bytes(range(100))
    blob = bytes([100, 60 << 2, 99]) + body
    assert snappy_decompress(blob) == body
    body2 = bytes(range(256)) * 2  # 512 bytes
    blob2 = bytes([0x80, 4, 61 << 2, 0xFF, 0x01]) + body2
    assert snappy_decompress(blob2) == body2


def test_snappy_malformed_raises():
    with pytest.raises(ValueError):
        snappy_decompress(bytes([5, 4 << 2]) + b"hi")  # truncated literal
    with pytest.raises(ValueError):  # offset beyond output
        snappy_decompress(bytes([4, 0]) + b"a" + bytes([(4 - 1) << 2 | 2, 9, 0]))
    with pytest.raises(ValueError):  # declared length mismatch
        snappy_decompress(bytes([9, 4 << 2]) + b"hello")


@pytest.mark.parametrize(
    "payload",
    [
        b"",
        b"x",
        b"hello world " * 50,  # copy-heavy
        bytes(range(256)) * 300,  # long literals + long matches
        b"ab" * 5000,  # overlap-friendly
        struct.pack("<1000d", *[float(i) for i in range(1000)]),
    ],
)
def test_snappy_round_trip(payload):
    enc = snappy_compress(payload)
    assert snappy_decompress(enc) == payload


def test_snappy_compresses_repetitive_input():
    data = b"metric_name_prefix_" * 500
    assert len(snappy_compress(data)) < len(data) // 4


# ------------------------------------------------------------ protobuf

def _hand_write_request() -> bytes:
    """WriteRequest built byte-by-byte (not via encode_write_request):
    one TimeSeries{labels: __name__=up, job=api; samples: (1.0, 1000),
    (-2.5, -5)} — negative value AND negative timestamp."""
    def ld(fno, body):
        return bytes([fno << 3 | 2, len(body)]) + body

    lab1 = ld(1, b"__name__") + ld(2, b"up")
    lab2 = ld(1, b"job") + ld(2, b"api")
    s1 = bytes([0x09]) + struct.pack("<d", 1.0) + bytes([0x10, 0xE8, 0x07])
    neg_ts = (-5) & 0xFFFFFFFFFFFFFFFF
    enc_ts = bytearray([0x10])
    v = neg_ts
    while v >= 0x80:
        enc_ts.append((v & 0x7F) | 0x80)
        v >>= 7
    enc_ts.append(v)
    s2 = bytes([0x09]) + struct.pack("<d", -2.5) + bytes(enc_ts)
    ts_msg = ld(1, lab1) + ld(1, lab2) + ld(2, s1) + ld(2, s2)
    return ld(1, ts_msg)


def _samples(decoded):
    """The (labels, samples) halves of decode_write_request's series."""
    return [(labels, samples) for labels, samples, _, _ in decoded]


def test_decode_hand_built_write_request():
    series = _samples(decode_write_request(_hand_write_request()))
    assert len(series) == 1
    labels, samples = series[0]
    assert labels == {"__name__": "up", "job": "api"}
    assert samples == [(1000, 1.0), (-5, -2.5)]


def test_decode_skips_unknown_fields():
    # prepend a fake varint field 7 and a fake len-delimited field 3
    # (metadata) — a 2.0 sender must not break a 1.0 receiver
    extra = bytes([7 << 3 | 0, 42]) + bytes([3 << 3 | 2, 2, 0xAA, 0xBB])
    series = decode_write_request(extra + _hand_write_request())
    assert len(series) == 1 and series[0][0]["job"] == "api"


def test_proto_round_trip_signed_timestamps():
    series = [
        ({"__name__": "m", "dc": "x"}, [(-1234567890123, 3.5), (0, -0.0)]),
        ({"__name__": "n"}, [(1 << 40, 7.0)]),
    ]
    assert _samples(decode_write_request(encode_write_request(series))) == (
        series
    )


# --------------------------------------------------------- spark parse

def test_parse_remote_write_distributed(spark):
    body = snappy_compress(
        encode_write_request(
            [
                ({"__name__": "cpu", "host": "a"}, [(10, 0.5), (20, 0.7)]),
                ({"__name__": "mem"}, [(10, 99.0)]),
            ]
        )
    )
    blobs = spark.createDataFrame([(body,), (body,)], "content binary")
    rows = parse_remote_write(blobs, ts_unit="ns").collect()
    assert len(rows) == 6  # 3 samples x 2 blobs
    r = {(x.series_key, x.ts): x.value for x in rows}
    assert r[('cpu{host="a"}', 10)] == 0.5
    assert r[("mem{}", 10)] == 99.0
    assert all(x.labels == {"host": "a"} for x in rows if x.name == "cpu")


def test_parse_remote_write_requires_name_label(spark):
    body = snappy_compress(
        encode_write_request([({"job": "x"}, [(1, 1.0)])])
    )
    blobs = spark.createDataFrame([(body,)], "content binary")
    with pytest.raises(Exception, match="__name__"):
        parse_remote_write(blobs, ts_unit="ns").collect()


def test_render_parse_round_trip(spark):
    df = spark.createDataFrame(
        [
            ("cpu", {"host": "a", "dc": "x"}, 0.5, 10),
            ("cpu", {"host": "b"}, 1.5, 20),
            ("mem", {}, 9.0, 10),
        ],
        "name string, labels map<string,string>, value double, ts long",
    )
    blobs = render_remote_write(df, ts_unit="ns")
    back = parse_remote_write(blobs, ts_unit="ns").collect()
    got = {(r.series_key, r.ts, r.value) for r in back}
    assert got == {
        ('cpu{dc="x",host="a"}', 10, 0.5),
        ('cpu{host="b"}', 20, 1.5),
        ("mem{}", 10, 9.0),
    }


# --------------------------------------------------------- full ingest

def test_ingest_remote_write_end_to_end(db):
    body = snappy_compress(
        encode_write_request(
            [
                ({"__name__": "rw_cpu", "host": "a"}, [(10, 0.5), (20, 0.7)]),
                ({"__name__": "rw_cpu", "host": "b"}, [(10, 1.0)]),
            ]
        )
    )
    n = ingest_remote_write(db, body, ts_unit="ns")
    assert n == 3
    assert db.query('rw_cpu{host="a"}', 0, 100).rows() == [
        (10, 0.5), (20, 0.7)]
    # re-ingest resolves the EXISTING streams — no duplicate catalog rows
    n2 = ingest_remote_write(
        db,
        snappy_compress(
            encode_write_request(
                [({"__name__": "rw_cpu", "host": "a"}, [(30, 0.9)])]
            )
        ),
        ts_unit="ns",
    )
    assert n2 == 1
    assert len([s for s in db.catalog.all_streams()
                if s.name == "rw_cpu"]) == 2
    assert db.query('rw_cpu{host="a"}', 0, 100).rows() == [
        (10, 0.5), (20, 0.7), (30, 0.9)]


def test_ingest_remote_write_atomic_on_bad_blob(db):
    before = {s.name for s in db.catalog.all_streams()}
    good = snappy_compress(
        encode_write_request([({"__name__": "rw_ok"}, [(1, 1.0)])])
    )
    blobs = db.spark.createDataFrame(
        [(good,), (b"\x99not snappy at all",)], "content binary"
    )
    with pytest.raises(Exception):
        ingest_remote_write(db, blobs, ts_unit="ns")
    assert {s.name for s in db.catalog.all_streams()} == before


def test_ingest_remote_write_integer_streams(db):
    body = snappy_compress(
        encode_write_request([({"__name__": "rw_int"}, [(5, 42.0)])])
    )
    ingest_remote_write(db, body, ts_unit="ns", value_type="i64")
    assert db.query("rw_int", 0, 100).rows() == [(5, 42)]


# ---------------------------------------------------------------- HTTP

def test_http_api_v1_write(spark, tmp_path):
    import threading
    from urllib.request import Request, urlopen

    from tachyon_spark.connection import Connection
    from tachyon_spark import server as srv

    conn = Connection(str(tmp_path / "rwdb"), spark)
    httpd = srv.serve(port=0)
    try:
        port = httpd.server_address[1]
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        body = snappy_compress(
            encode_write_request(
                [({"__name__": "http_rw", "src": "post"},
                  [(100, 3.5), (200, 4.5)])]
            )
        )
        req = Request(
            f"http://127.0.0.1:{port}/api/v1/write"
            f"?path={tmp_path / 'rwdb'}&ts_unit=ns",
            data=body,
            headers={
                "Content-Encoding": "snappy",
                "Content-Type": "application/x-protobuf",
                "X-Prometheus-Remote-Write-Version": "0.1.0",
            },
            method="POST",
        )
        with urlopen(req, timeout=120) as resp:
            assert resp.status == 204
        assert conn.query('http_rw{src="post"}', 0, 1000).rows() == [
            (100, 3.5), (200, 4.5)]
        # malformed body -> 400, catalog untouched
        before = {s.name for s in conn.catalog.all_streams()}
        bad = Request(
            f"http://127.0.0.1:{port}/api/v1/write"
            f"?path={tmp_path / 'rwdb'}&ts_unit=ns",
            data=b"\x00garbage",
            method="POST",
        )
        from urllib.error import HTTPError

        with pytest.raises(HTTPError) as ei:
            urlopen(bad, timeout=120)
        assert ei.value.code == 400
        assert {s.name for s in conn.catalog.all_streams()} == before
    finally:
        httpd.shutdown()


# ----------------------------------------------------------- streaming

def test_streaming_remote_write_ingest(spark, tmp_path):
    """Drop-dir tail of .pb blobs: two drops, a series first seen in
    drop 2 registers mid-stream, checkpoint prevents re-ingestion —
    the same contract as the LP/graphite streaming arms."""
    from tachyon_spark.connection import Connection
    from tachyon_spark.streaming.ingest import start_remote_write_ingest

    src = tmp_path / "rwdrops"
    src.mkdir()
    (src / "d1.pb").write_bytes(
        snappy_compress(
            encode_write_request(
                [({"__name__": "srw", "h": "a"}, [(10, 1.0), (20, 2.0)])]
            )
        )
    )
    (src / "d2.pb").write_bytes(
        snappy_compress(
            encode_write_request(
                [
                    ({"__name__": "srw", "h": "a"}, [(30, 3.0)]),
                    ({"__name__": "srw_new"}, [(30, 9.0)]),
                ]
            )
        )
    )
    conn = Connection(str(tmp_path / "srwdb"), spark)
    q = start_remote_write_ingest(
        conn, str(src), trigger_once=True, max_files_per_trigger=1,
        ts_unit="ns",
    )
    q.awaitTermination(180)
    assert conn.query('srw{h="a"}', 0, 100).rows() == [
        (10, 1.0), (20, 2.0), (30, 3.0)]
    assert conn.query("srw_new", 0, 100).rows() == [(30, 9.0)]
    q2 = start_remote_write_ingest(
        conn, str(src), trigger_once=True, ts_unit="ns",
    )
    q2.awaitTermination(180)
    assert conn.query("srw_new", 0, 100).rows() == [(30, 9.0)]


def test_cli_import_remote_write(spark, tmp_path):
    from tachyon_spark import cli
    from tachyon_spark.connection import Connection

    blob_dir = tmp_path / "blobs"
    blob_dir.mkdir()
    (blob_dir / "w.pb").write_bytes(
        snappy_compress(
            encode_write_request(
                [({"__name__": "cli_rw"}, [(7, 2.5)])]
            )
        )
    )
    rc = cli.main([
        str(tmp_path / "clidb"), "import-remote-write",
        str(blob_dir / "w.pb"), "--ts-unit", "ns",
    ])
    assert rc == 0
    conn = Connection(str(tmp_path / "clidb"), spark)
    assert conn.query("cli_rw", 0, 100).rows() == [(7, 2.5)]


# ------------------------------------------- remote-write 2.0 (v2)

def _hand_v2_request() -> bytes:
    """io.prometheus.write.v2.Request built byte-by-byte: symbols
    ["", "__name__", "up", "job", "api"], one TimeSeries with packed
    labels_refs [1,2,3,4] and one sample (1.5 @ ts=7)."""
    import struct

    def ld(fno, body):
        return bytes([fno << 3 | 2, len(body)]) + body

    req = b"".join(
        ld(4, s) for s in (b"", b"__name__", b"up", b"job", b"api")
    )
    smp = bytes([0x09]) + struct.pack("<d", 1.5) + bytes([0x10, 0x07])
    ts_msg = ld(1, bytes([1, 2, 3, 4])) + ld(2, smp)
    # metadata (field 5) present and skipped
    ts_msg += ld(5, bytes([1 << 3 | 0, 1]))
    return req + ld(5, ts_msg)


def test_decode_v2_hand_built():
    assert _samples(decode_write_request(_hand_v2_request(), "2")) == [
        ({"__name__": "up", "job": "api"}, [(7, 1.5)])
    ]


def test_v2_round_trip():
    series = [
        ({"__name__": "m", "dc": "x"}, [(-12345, 3.5), (0, -0.0)]),
        ({"__name__": "m", "dc": "y"}, [(1 << 40, 7.0)]),  # dc interned once
        ({"__name__": "n"}, [(5, 2.0)]),
    ]
    enc = encode_write_request(series, proto="2")
    assert _samples(decode_write_request(enc, proto="2")) == series
    # interning actually dedups: "dc" and "m" appear once in the wire
    assert enc.count(b"dc") == 1 and enc.count(b"\x01m") == 1


def test_v2_spec_violations_raise():
    def ld(fno, body):
        return bytes([fno << 3 | 2, len(body)]) + body

    # symbols[0] not empty
    bad0 = ld(4, b"x") + ld(5, ld(1, bytes([0, 0])))
    with pytest.raises(ValueError, match="symbols\\[0\\]"):
        decode_write_request(bad0, proto="2")
    # odd labels_refs arity
    odd = ld(4, b"") + ld(4, b"a") + ld(5, ld(1, bytes([1])))
    with pytest.raises(ValueError, match="pairs"):
        decode_write_request(odd, proto="2")
    # ref out of range
    oor = ld(4, b"") + ld(5, ld(1, bytes([0, 9])))
    with pytest.raises(ValueError, match="out of range"):
        decode_write_request(oor, proto="2")
    # the 1.0 decoder is NOT an acceptable fallback for v2 bytes (the
    # spec forbids sniffing): v2 payloads simply decode to zero series
    # under the 1.0 walk, and parse_remote_write(proto=...) selects
    assert decode_write_request(
        encode_write_request([({"__name__": "m"}, [(1, 1.0)])], proto="2")
    ) == []


def test_ingest_v2_end_to_end(db):
    body = snappy_compress(
        encode_write_request(
            [
                ({"__name__": "rw2_cpu", "host": "a"},
                 [(10, 0.5), (20, 0.7)]),
                ({"__name__": "rw2_cpu", "host": "b"}, [(10, 1.0)]),
            ],
            proto="2",
        )
    )
    n = ingest_remote_write(db, body, ts_unit="ns", proto="2")
    assert n == 3
    assert db.query('rw2_cpu{host="a"}', 0, 100).rows() == [
        (10, 0.5), (20, 0.7)]


def test_http_v2_content_type_negotiation(spark, tmp_path):
    import threading
    from urllib.request import Request, urlopen

    from tachyon_spark.connection import Connection
    from tachyon_spark import server as srv

    conn = Connection(str(tmp_path / "rw2db"), spark)
    httpd = srv.serve(port=0)
    try:
        port = httpd.server_address[1]
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        body = snappy_compress(
            encode_write_request(
                [({"__name__": "http_rw2"}, [(100, 3.5), (200, 4.5)])],
                proto="2",
            )
        )
        req = Request(
            f"http://127.0.0.1:{port}/api/v1/write"
            f"?path={tmp_path / 'rw2db'}&ts_unit=ns",
            data=body,
            headers={
                "Content-Encoding": "snappy",
                "Content-Type": "application/x-protobuf;"
                "proto=io.prometheus.write.v2.Request",
                "X-Prometheus-Remote-Write-Version": "2.0.0",
            },
            method="POST",
        )
        with urlopen(req, timeout=120) as resp:
            assert resp.status == 204
            # 2.0 REQUIRES the written-stats headers
            assert resp.headers[
                "X-Prometheus-Remote-Write-Samples-Written"] == "2"
            assert resp.headers[
                "X-Prometheus-Remote-Write-Histograms-Written"] == "0"
        assert conn.query("http_rw2", 0, 1000).rows() == [
            (100, 3.5), (200, 4.5)]
    finally:
        httpd.shutdown()


# --------------------------------------------------- staleness markers

def test_stale_markers_dropped_by_default(db):
    import struct as _s

    from tachyon_spark.sources.remote_write import STALE_NAN_BITS

    stale = _s.unpack("<d", _s.pack("<Q", STALE_NAN_BITS))[0]
    real_nan = float("nan")
    body = snappy_compress(
        encode_write_request(
            [({"__name__": "rw_stale"},
              [(10, 1.0), (20, stale), (30, real_nan), (40, 2.0)])]
        )
    )
    n = ingest_remote_write(db, body, ts_unit="ns")
    # the marker (liveness delimiter) drops; REAL NaN data (0/0) stays
    assert n == 3
    rows = db.query("rw_stale", 0, 100).rows()
    assert [t for t, _ in rows] == [10, 30, 40]
    v = rows[1][1]  # real NaN survives ingest (rows() surfaces NaN as
    # None via pandas' NaN->null normalization; either spelling is "not
    # a number", and crucially the ROW is present where the marker's is
    # not)
    assert v is None or v != v


def test_render_parse_round_trip_v2(spark):
    df = spark.createDataFrame(
        [
            ("cpu", {"host": "a", "dc": "x"}, 0.5, 10),
            ("cpu", {"host": "b"}, 1.5, 20),
        ],
        "name string, labels map<string,string>, value double, ts long",
    )
    blobs = render_remote_write(df, ts_unit="ns", proto="2")
    back = parse_remote_write(blobs, ts_unit="ns", proto="2").collect()
    got = {(r.series_key, r.ts, r.value) for r in back}
    assert got == {
        ('cpu{dc="x",host="a"}', 10, 0.5),
        ('cpu{host="b"}', 20, 1.5),
    }


# ------------------------------------------------- native histograms

def _ld(fno, body):
    return bytes([fno << 3 | 2, len(body)]) + body


def _native_histogram(schema: int = 0) -> bytes:
    """A native Histogram message: count=9, sum=5.5, zero_count=2
    (thr 0), positive span offset 0 len 2 with int deltas [3, 1]
    (counts 3, 4) @ ts=7; `schema` 0 is base 2."""
    zz = (schema << 1) ^ (schema >> 31)  # sint32 zigzag
    return (
        bytes([1 << 3 | 0, 9])
        + bytes([3 << 3 | 1]) + struct.pack("<d", 5.5)
        + bytes([4 << 3 | 0, zz])
        + bytes([6 << 3 | 0, 2])
        + _ld(11, bytes([1 << 3 | 0, 0, 2 << 3 | 0, 2]))  # the span
        + _ld(12, bytes([6, 2]))  # zigzag(3)=6, zigzag(1)=2
        + bytes([15 << 3 | 0, 7])
    )


def _native_histogram_ts(schema: int = 0) -> bytes:
    """TimeSeries{__name__=nh} with ONE native histogram: schema 0
    (base 2), count=9, sum=5.5, zero_count=2 (thr 0), positive span
    offset 0 len 2 with int deltas [3, 1] (counts 3, 4) @ ts=7."""
    lab = _ld(1, _ld(1, b"__name__") + _ld(2, b"nh"))
    return _ld(1, lab + _ld(4, _native_histogram(schema)))


def _histograms(decoded):
    """The (labels, histograms) of decode_write_request's series that
    carry native histograms."""
    return [(labels, hists) for labels, _, hists, _ in decoded if hists]


def test_decode_native_histograms():
    out = _histograms(decode_write_request(_native_histogram_ts()))
    assert out == [
        ({"__name__": "nh"},
         # ladder: zero bucket (le=0.0, cum 2), idx0 -> le base^0=1.0
         # cum 5, idx1 -> le base^1=2.0 cum 9
         [(7, 9.0, 5.5, [(0.0, 2.0), (1.0, 5.0), (2.0, 9.0)])])
    ]


def test_ingest_native_histograms_classic(db):
    body = snappy_compress(_native_histogram_ts())
    n = ingest_remote_write(db, body, ts_unit="ns")
    assert n == 6  # 3 ladder buckets + Inf + sum + count
    assert db.query('nh_bucket{le="1.0"}', 0, 100).rows() == [(7, 5.0)]
    assert db.query('nh_bucket{le="+Inf"}', 0, 100).rows() == [(7, 9.0)]
    assert db.query("nh_sum", 0, 100).rows() == [(7, 5.5)]
    assert db.query("nh_count", 0, 100).rows() == [(7, 9.0)]
    # histogram_quantile works over the translated ladder
    assert len(db.query(
        "histogram_quantile(0.5, nh_bucket)", 0, 100).rows()) == 1


def test_decode_native_histograms_v2():
    def ld(fno, body):
        return bytes([fno << 3 | 2, len(body)]) + body

    # extract the Histogram bytes from the v1 fixture (field 4 of its
    # TimeSeries) and re-wrap as a v2 Request (field 3 of v2 TimeSeries)
    v1_ts = _native_histogram_ts()
    # v1_ts = ld(1, lab + ld(4, hist)); peel two levels
    inner = v1_ts[2:]
    lab_len = inner[1]
    hist = inner[2 + lab_len + 2:]
    req = (
        ld(4, b"") + ld(4, b"__name__") + ld(4, b"nh2")
        + ld(5, ld(1, bytes([1, 2])) + ld(3, hist))
    )
    out = _histograms(decode_write_request(req, proto="2"))
    assert out == [
        ({"__name__": "nh2"},
         [(7, 9.0, 5.5, [(0.0, 2.0), (1.0, 5.0), (2.0, 9.0)])])
    ]


# ------------------------------------------- one series, all three kinds

_SAMPLE = bytes([0x09]) + struct.pack("<d", 0.5) + bytes([0x10, 7])
# an Exemplar's value (2) and timestamp (3); its labels (1) go first
_EXEMPLAR_VALUE_TS = bytes([0x11]) + struct.pack("<d", 3.0) + bytes([0x18, 7])
ALL_KINDS = [(
    {"__name__": "nhx"},
    [(7, 0.5)],
    [(7, 9.0, 5.5, [(0.0, 2.0), (1.0, 5.0), (2.0, 9.0)])],
    [({"trace_id": "t1"}, 7, 3.0)],
)]


def _all_kinds_v1() -> bytes:
    """v1 WriteRequest: one TimeSeries{__name__=nhx} carrying a sample
    (field 2), a native histogram (4) and an exemplar (3), the exemplar
    last on the wire."""
    ex = _ld(1, _ld(1, b"trace_id") + _ld(2, b"t1")) + _EXEMPLAR_VALUE_TS
    ts = (
        _ld(1, _ld(1, b"__name__") + _ld(2, b"nhx"))
        + _ld(2, _SAMPLE) + _ld(4, _native_histogram()) + _ld(3, ex)
    )
    return _ld(1, ts)


def _all_kinds_v2() -> bytes:
    """The same series as a v2 Request (symbols 4, series 5; histograms
    3, exemplars 4; labels as symbol-ref pairs)."""
    syms = b"".join(
        _ld(4, s) for s in (b"", b"__name__", b"nhx", b"trace_id", b"t1")
    )
    ex = _ld(1, bytes([3, 4])) + _EXEMPLAR_VALUE_TS
    ts = (
        _ld(1, bytes([1, 2])) + _ld(2, _SAMPLE)
        + _ld(3, _native_histogram()) + _ld(4, ex)
    )
    return syms + _ld(5, ts)


def test_decode_series_with_all_three_kinds():
    assert decode_write_request(_all_kinds_v1()) == ALL_KINDS
    assert decode_write_request(_all_kinds_v2(), proto="2") == ALL_KINDS


@pytest.mark.parametrize("proto", ["1", "2"])
def test_parse_series_with_all_three_kinds(spark, proto):
    body = _all_kinds_v1() if proto == "1" else _all_kinds_v2()
    blobs = spark.createDataFrame([(snappy_compress(body),)], "content binary")
    rows = parse_remote_write(blobs, ts_unit="ns", proto=proto).collect()
    # the sample, then the histogram's 3 ladder buckets, +Inf, sum, count
    got = sorted(
        (r.name, r.labels.get("le", ""), r.ts, r.value) for r in rows
    )
    assert got == [
        ("nhx", "", 7, 0.5),
        ("nhx_bucket", "+Inf", 7, 9.0),
        ("nhx_bucket", "0.0", 7, 2.0),
        ("nhx_bucket", "1.0", 7, 5.0),
        ("nhx_bucket", "2.0", 7, 9.0),
        ("nhx_count", "", 7, 9.0),
        ("nhx_sum", "", 7, 5.5),
    ]


def test_histogram_schema_out_of_range_raises():
    # -53 is the custom-bucket schema Prometheus 3 sends; its buckets
    # are not exponential
    for schema in (-53, -5, 9):
        with pytest.raises(ValueError, match="schema .* outside"):
            decode_write_request(_native_histogram_ts(schema))


def test_histogram_span_lengths_checked_before_expansion():
    # a span claiming 2^40 buckets with no counts is refused at once,
    # not expanded bucket by bucket
    span = _ld(11, bytes([1 << 3 | 0, 0, 2 << 3 | 0]) + bytes(
        [0x80, 0x80, 0x80, 0x80, 0x80, 0x20]))  # length 2^40 (varint)
    ts = _ld(1, _ld(1, b"__name__") + _ld(2, b"nh")) + _ld(4, span)
    with pytest.raises(ValueError, match="span lengths disagree"):
        decode_write_request(_ld(1, ts))
