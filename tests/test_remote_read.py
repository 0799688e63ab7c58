"""Prometheus remote_read server side (r15 second wave).

The wire walk and snappy codec are shared with the remote_write
receiver (one handwritten codec, two protocols — QueryResult is the
WriteRequest shape), so these tests pin the request decoder against a
hand-built ReadRequest (decoder independence), matcher-type
translation incl. regex/negative forms, the matches-nothing-succeeds
contract, the SAMPLES-only negotiation, the engine round trip
(write via remote_write ingest, read back via serve_remote_read), and
the live /api/v1/read HTTP endpoint.
"""

import struct

import pytest

from tachyon_spark.sources.remote_read import (
    decode_read_request,
    decode_read_response,
    encode_read_response,
    serve_remote_read,
)
from tachyon_spark.sources.remote_write import (
    encode_write_request,
    ingest_remote_write,
    snappy_compress,
    snappy_decompress,
)


def _ld(fno, body):
    assert len(body) < 128
    return bytes([fno << 3 | 2, len(body)]) + body


def _vi(fno, val):
    out = bytearray([fno << 3 | 0])
    while val >= 0x80:
        out.append((val & 0x7F) | 0x80)
        val >>= 7
    out.append(val)
    return bytes(out)


def _matcher(mtype, name, value):
    body = b""
    if mtype:  # proto3 default 0 omitted
        body += _vi(1, mtype)
    return _ld(3, body + _ld(2, name) + _ld(3, value))


def _hand_read_request() -> bytes:
    """ReadRequest built byte-by-byte: one Query [1000, 2000] with
    __name__ EQ "up" and job NRE "tmp.*"."""
    q = (
        _vi(1, 1000) + _vi(2, 2000)
        + _matcher(0, b"__name__", b"up")
        + _matcher(3, b"job", b"tmp.*")
    )
    return _ld(1, q)


def test_decode_hand_built_read_request():
    assert decode_read_request(_hand_read_request()) == [
        (1000, 2000, [("=", "__name__", "up"), ("!~", "job", "tmp.*")])
    ]


def test_decode_read_request_response_types():
    # explicit SAMPLES accepted -> fine; STREAMED-only -> raises
    req = _hand_read_request() + _vi(2, 0)
    assert len(decode_read_request(req)) == 1
    with pytest.raises(ValueError, match="SAMPLES"):
        decode_read_request(_hand_read_request() + _vi(2, 1))
    # packed enum form [1, 0] still contains SAMPLES
    packed = _ld(2, bytes([1, 0]))
    assert len(decode_read_request(_hand_read_request() + packed)) == 1


def test_decode_read_request_unknown_matcher_type():
    bad = _ld(1, _vi(1, 1) + _vi(2, 2) + _matcher(9, b"x", b"y"))
    with pytest.raises(ValueError, match="matcher type"):
        decode_read_request(bad)


def test_read_response_round_trip():
    results = [
        [({"__name__": "up", "job": "a"}, [(10, 1.0), (20, 0.0)])],
        [],  # empty QueryResult survives
        [({"__name__": "mem"}, [(5, 2.5)])],
    ]
    back = decode_read_response(encode_read_response(results))
    assert back == results


# ------------------------------------------------------------- serving

@pytest.fixture()
def read_db(db):
    ingest_remote_write(
        db,
        snappy_compress(
            encode_write_request(
                [
                    ({"__name__": "rr_cpu", "host": "a", "env": "prod"},
                     [(10, 1.0), (20, 2.0), (500, 9.0)]),
                    ({"__name__": "rr_cpu", "host": "b", "env": "dev"},
                     [(10, 3.0)]),
                    ({"__name__": "rr_mem", "host": "a"}, [(15, 5.0)]),
                ]
            )
        ),
        ts_unit="ns",
    )
    return db


def _request(queries) -> bytes:
    out = b""
    for start, end, matchers in queries:
        q = _vi(1, start) + _vi(2, end)
        for mtype, name, value in matchers:
            q += _matcher(mtype, name.encode(), value.encode())
        out += _ld(1, q)
    return snappy_compress(out)


def test_serve_remote_read_end_to_end(read_db):
    body = _request([(0, 100, [(0, "__name__", "rr_cpu")])])
    resp = decode_read_response(
        snappy_decompress(serve_remote_read(read_db, body, ts_unit="ns"))
    )
    assert resp == [
        [
            ({"__name__": "rr_cpu", "env": "dev", "host": "b"},
             [(10, 3.0)]),
            ({"__name__": "rr_cpu", "env": "prod", "host": "a"},
             [(10, 1.0), (20, 2.0)]),  # ts 500 outside [0, 100]
        ]
    ]


def test_serve_remote_read_matcher_forms(read_db):
    # regex on a label + NEQ, plus a second query in the same request
    body = _request(
        [
            (0, 1000, [(0, "__name__", "rr_cpu"), (2, "env", "pr.*")]),
            (0, 1000, [(2, "__name__", "rr_.*"), (1, "host", "b")]),
        ]
    )
    r1, r2 = decode_read_response(
        snappy_decompress(serve_remote_read(read_db, body, ts_unit="ns"))
    )
    assert [s[0]["host"] for s in r1] == ["a"]
    assert r1[0][1] == [(10, 1.0), (20, 2.0), (500, 9.0)]
    # regex __name__ rides the bare-selector branch: both metrics, host b
    # excluded
    assert {s[0]["__name__"] for s in r2} == {"rr_cpu", "rr_mem"}
    assert all(s[0].get("host") != "b" for s in r2)


def test_serve_remote_read_no_match_succeeds(read_db):
    body = _request([(0, 100, [(0, "__name__", "absent_metric")])])
    assert decode_read_response(
        snappy_decompress(serve_remote_read(read_db, body, ts_unit="ns"))
    ) == [[]]


def test_serve_remote_read_point_cap(read_db):
    from tachyon_spark.promapi import TooManyPoints

    body = _request([(0, 1000, [(0, "__name__", "rr_cpu")])])
    with pytest.raises(TooManyPoints):
        serve_remote_read(read_db, body, ts_unit="ns", max_points=2)


def test_serve_remote_read_rejects_empty_matchers(read_db):
    # a matcher set that would full-scan the catalog must raise (the
    # nonempty-selector guard is on this path too)
    body = _request([(0, 100, [(2, "env", ".*")])])
    with pytest.raises(ValueError, match="non-empty"):
        serve_remote_read(read_db, body, ts_unit="ns")


# ---------------------------------------------------------------- HTTP

def test_http_api_v1_read(spark, tmp_path):
    import threading
    from urllib.error import HTTPError
    from urllib.request import Request, urlopen

    from tachyon_spark.connection import Connection
    from tachyon_spark import server as srv

    conn = Connection(str(tmp_path / "rrdb"), spark)
    ingest_remote_write(
        conn,
        snappy_compress(
            encode_write_request(
                [({"__name__": "http_rr", "src": "w"},
                  [(100, 3.5), (200, 4.5)])]
            )
        ),
        ts_unit="ns",
    )
    httpd = srv.serve(port=0)
    try:
        port = httpd.server_address[1]
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        body = _request([(0, 1000, [(0, "__name__", "http_rr")])])
        req = Request(
            f"http://127.0.0.1:{port}/api/v1/read"
            f"?path={tmp_path / 'rrdb'}&ts_unit=ns",
            data=body,
            headers={
                "Content-Encoding": "snappy",
                "Content-Type": "application/x-protobuf",
                "X-Prometheus-Remote-Read-Version": "0.1.0",
            },
            method="POST",
        )
        with urlopen(req, timeout=120) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Encoding"] == "snappy"
            payload = resp.read()
        assert decode_read_response(snappy_decompress(payload)) == [
            [({"__name__": "http_rr", "src": "w"},
              [(100, 3.5), (200, 4.5)])]
        ]
        # malformed body -> 400
        bad = Request(
            f"http://127.0.0.1:{port}/api/v1/read"
            f"?path={tmp_path / 'rrdb'}&ts_unit=ns",
            data=b"\x00garbage",
            method="POST",
        )
        with pytest.raises(HTTPError) as ei:
            urlopen(bad, timeout=120)
        assert ei.value.code == 400
    finally:
        httpd.shutdown()


def test_serve_remote_read_ns_native_big_timestamps(db):
    # real-epoch ns timestamps exceed 2^53: the ns->ms wire conversion
    # must be integer division, not double division (which shifts
    # boundary samples by a millisecond)
    ts_ns = 1_700_000_000_001 * 1_000_000 + 999_999  # not /4-divisible
    db.create_stream("rr_big", "f64")
    ins = db.prepare_insert("rr_big")
    ins.insert(ts_ns, 1.5)
    ins.flush()
    body = _request(
        [(1_700_000_000_000, 1_700_000_000_002,
          [(0, "__name__", "rr_big")])]
    )
    resp = decode_read_response(
        snappy_decompress(serve_remote_read(db, body, ts_unit="ms"))
    )
    assert resp == [
        [({"__name__": "rr_big"}, [(1_700_000_000_001, 1.5)])]
    ]


@pytest.mark.parametrize("max_points", ["-4", "0", "-1"])
def test_http_max_points_must_be_positive(read_db, max_points):
    """/api/v1/read and /api/v1/query_exemplars check a client's
    max_points like /api/v1/query does: 0 or negative is a malformed
    request (400), not a 422 over a cap of 0 or a Spark error on a
    negative LIMIT."""
    import json
    from urllib.error import HTTPError
    from urllib.parse import quote
    from urllib.request import Request, urlopen

    from tachyon_spark import server as srv

    path = quote(read_db.db_dir)
    srv._connections[read_db.db_dir] = read_db
    httpd = srv.serve(port=0)
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        read = Request(
            f"{base}/api/v1/read?path={path}&ts_unit=ns"
            f"&max_points={max_points}",
            data=_request([(0, 1000, [(0, "__name__", "rr_cpu")])]),
            method="POST",
        )
        with pytest.raises(HTTPError) as ei:
            urlopen(read, timeout=120)
        assert ei.value.code == 400
        assert "max_points" in json.load(ei.value)["error"]
        with pytest.raises(HTTPError) as ei:
            urlopen(
                f"{base}/api/v1/query_exemplars?path={path}&query=rr_cpu"
                f"&start=0&end=1000&max_points={max_points}",
                timeout=120,
            )
        assert ei.value.code == 400
        assert json.load(ei.value)["errorType"] == "bad_data"
    finally:
        httpd.shutdown()
