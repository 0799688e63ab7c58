"""Exemplar pipeline (r15 second wave): wire decode (remote_write v1 +
v2, OTLP incl. histogram-bucket attribution), the per-db store with
catalog-join series association, the selector-scoped query, and the
/api/v1/query_exemplars endpoint."""

import struct

import pytest

from tachyon_spark.exemplars import (
    extract_otlp_exemplars,
    extract_remote_write_exemplars,
    query_exemplars,
)
from tachyon_spark.sources.remote_write import (
    decode_write_request,
    encode_write_request,
    ingest_remote_write,
    snappy_compress,
)


def _ld(fno, body):
    out = bytearray([fno << 3 | 2])
    n = len(body)
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out) + body


def _label(k, v):
    return _ld(1, _ld(1, k) + _ld(2, v))


def _v1_with_exemplar() -> bytes:
    """WriteRequest: series up{job=api} with one sample and one
    exemplar {trace_id=abc} value 7.5 @ ts 42."""
    smp = bytes([0x09]) + struct.pack("<d", 1.0) + bytes([0x10, 0x0A])
    ex = (
        _label(b"trace_id", b"abc")
        + bytes([0x11]) + struct.pack("<d", 7.5)
        + bytes([0x18, 42])
    )
    ts_msg = (
        _label(b"__name__", b"up") + _label(b"job", b"api")
        + _ld(2, smp) + _ld(3, ex)
    )
    return _ld(1, ts_msg)


def _exemplars(decoded):
    """The (labels, exemplars) of decode_write_request's series that
    carry exemplars."""
    return [(labels, exs) for labels, _, _, exs in decoded if exs]


def test_decode_v1_exemplars():
    assert _exemplars(decode_write_request(_v1_with_exemplar())) == [
        ({"__name__": "up", "job": "api"},
         [({"trace_id": "abc"}, 42, 7.5)])
    ]
    # series without exemplars are omitted entirely
    plain = encode_write_request([({"__name__": "m"}, [(1, 1.0)])])
    assert _exemplars(decode_write_request(plain)) == []


def test_decode_v2_exemplars():
    # symbols ["", "__name__", "up", "trace_id", "abc"]; series refs
    # [1,2]; exemplar refs [3,4] value 2.5 @ ts 9
    req = b"".join(
        _ld(4, s) for s in (b"", b"__name__", b"up", b"trace_id", b"abc")
    )
    ex = (
        _ld(1, bytes([3, 4]))
        + bytes([0x11]) + struct.pack("<d", 2.5)
        + bytes([0x18, 9])
    )
    ts_msg = _ld(1, bytes([1, 2])) + _ld(4, ex)
    req += _ld(5, ts_msg)
    assert _exemplars(decode_write_request(req, proto="2")) == [
        ({"__name__": "up"}, [({"trace_id": "abc"}, 9, 2.5)])
    ]


def test_decode_otlp_exemplars_number_and_histogram():
    from tachyon_spark.sources.otlp import decode_export_metrics

    # gauge point with an exemplar carrying trace/span ids
    ex = (
        bytes([2 << 3 | 1]) + struct.pack("<Q", 5)
        + bytes([3 << 3 | 1]) + struct.pack("<d", 0.42)
        + _ld(4, b"\x01\x02\x03\x04\x05\x06\x07\x08")
        + _ld(5, b"\xaa" * 16)
    )
    pt = (
        bytes([3 << 3 | 1]) + struct.pack("<Q", 10)
        + bytes([4 << 3 | 1]) + struct.pack("<d", 1.0)
        + _ld(5, ex)
        + _ld(7, _ld(1, b"h") + _ld(2, _ld(1, b"a")))
    )
    metric = _ld(1, b"g") + _ld(5, _ld(1, pt))
    # histogram point, bounds [1.0, 10.0], exemplar value 3.0 -> le=10.0
    hex_ = (
        bytes([2 << 3 | 1]) + struct.pack("<Q", 6)
        + bytes([3 << 3 | 1]) + struct.pack("<d", 3.0)
    )
    hpt = (
        bytes([3 << 3 | 1]) + struct.pack("<Q", 20)
        + bytes([4 << 3 | 1]) + struct.pack("<Q", 4)
        + _ld(6, struct.pack("<QQQ", 1, 2, 1))
        + _ld(7, struct.pack("<dd", 1.0, 10.0))
        + _ld(8, hex_)
    )
    hmetric = _ld(1, b"lat") + _ld(9, _ld(1, hpt))
    req = _ld(1, _ld(2, _ld(2, metric) + _ld(2, hmetric)))
    _, out = decode_export_metrics(req)
    assert ("g", {"h": "a"},
            [({"span_id": "0102030405060708", "trace_id": "aa" * 16},
              5, 0.42)]) in out
    assert ("lat_bucket", {"le": "10.0"}, [({}, 6, 3.0)]) in out


# -------------------------------------------------------- store + query

def test_remote_write_exemplar_pipeline(db):
    body = snappy_compress(_v1_with_exemplar())
    ingest_remote_write(db, body, ts_unit="ns")
    n = extract_remote_write_exemplars(db, body, ts_unit="ns")
    assert n == 1
    rows = query_exemplars(db, 'up{job="api"}', 0, 100).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.name, r.labels, r.ts, r.value, r.ex_labels) == (
        "up", {"job": "api"}, 42, 7.5, {"trace_id": "abc"})
    # time-range scoping
    assert query_exemplars(db, "up", 50, 100).count() == 0
    # exemplars for series the catalog does not know are dropped
    orphan = snappy_compress(
        _ld(
            1,
            _label(b"__name__", b"never_ingested")
            + _ld(
                3,
                bytes([0x11]) + struct.pack("<d", 1.0)
                + bytes([0x18, 1]),
            ),
        )
    )
    assert extract_remote_write_exemplars(db, orphan, ts_unit="ns") == 0


def test_otlp_exemplar_pipeline(db):
    from tachyon_spark.sources.otlp import encode_export_metrics, ingest_otlp

    # ingest the gauge series first so the catalog knows it
    ingest_otlp(
        db,
        encode_export_metrics(
            [({}, [("ot_ex", "gauge", [({"h": "a"}, 10, 1.0)])])]
        ),
        ts_unit="ns",
    )
    # hand-build the same series with an exemplar attached
    ex = (
        bytes([2 << 3 | 1]) + struct.pack("<Q", 7)
        + bytes([3 << 3 | 1]) + struct.pack("<d", 0.9)
        + _ld(5, b"\xbb" * 16)
    )
    pt = (
        bytes([3 << 3 | 1]) + struct.pack("<Q", 10)
        + bytes([4 << 3 | 1]) + struct.pack("<d", 1.0)
        + _ld(5, ex)
        + _ld(7, _ld(1, b"h") + _ld(2, _ld(1, b"a")))
    )
    metric = _ld(1, b"ot_ex") + _ld(5, _ld(1, pt))
    blob = _ld(1, _ld(2, _ld(2, metric)))
    assert extract_otlp_exemplars(db, blob, ts_unit="ns") == 1
    rows = query_exemplars(db, 'ot_ex{h="a"}', 0, 100).collect()
    assert len(rows) == 1
    assert rows[0].ex_labels == {"trace_id": "bb" * 16}


def test_query_exemplars_rejects_non_selector(db):
    with pytest.raises(ValueError, match="vector selector"):
        query_exemplars(db, "sum(up)", 0, 100)


def test_http_query_exemplars(spark, tmp_path):
    import json
    import threading
    from urllib.request import Request, urlopen

    from tachyon_spark.connection import Connection
    from tachyon_spark import server as srv

    conn = Connection(str(tmp_path / "exdb"), spark)
    httpd = srv.serve(port=0)
    try:
        port = httpd.server_address[1]
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        # write WITH ?exemplars=1 -> retained in one POST
        req = Request(
            f"http://127.0.0.1:{port}/api/v1/write"
            f"?path={tmp_path / 'exdb'}&ts_unit=ns&exemplars=1",
            data=snappy_compress(_v1_with_exemplar()),
            headers={"Content-Encoding": "snappy"},
            method="POST",
        )
        with urlopen(req, timeout=120) as resp:
            assert resp.status == 204
        q = Request(
            f"http://127.0.0.1:{port}/api/v1/query_exemplars"
            f"?path={tmp_path / 'exdb'}&query=up&start=0&end=100"
            f"&ns_clock=0"
        )
        with urlopen(q, timeout=120) as resp:
            payload = json.loads(resp.read())
        assert payload["status"] == "success"
        assert payload["data"] == [
            {
                "seriesLabels": {"__name__": "up", "job": "api"},
                "exemplars": [
                    {"labels": {"trace_id": "abc"}, "value": "7.5",
                     "timestamp": 42}
                ],
            }
        ]
    finally:
        httpd.shutdown()


def test_openmetrics_exemplar_pipeline(db):
    from tachyon_spark.exemplars import extract_openmetrics_exemplars
    from tachyon_spark.sources.openmetrics import ingest_openmetrics

    text = "\n".join(
        [
            'om_ex{h="a"} 1.5 10 # {trace_id="t1"} 0.25 11',
            'om_ex{h="a"} 2.5 20 # {trace_id="t2"} 0.75',  # no ex ts ->
            # attaches at the SAMPLE's timestamp
            'om_ex{h="b"} 3.5 30',  # no exemplar at all
        ]
    )
    ingest_openmetrics(db, text, ns_clock=False)
    lines = db.spark.createDataFrame(
        [(ln,) for ln in text.split("\n")], "value string"
    )
    n = extract_openmetrics_exemplars(db, lines, ns_clock=False)
    assert n == 2
    rows = {
        r.ts: r
        for r in query_exemplars(db, 'om_ex{h="a"}', 0, 100).collect()
    }
    assert rows[11].value == 0.25
    assert rows[11].ex_labels == {"trace_id": "t1"}
    assert rows[20].value == 0.75  # fell back to sample ts 20
    # the h="b" series has no exemplars
    assert query_exemplars(db, 'om_ex{h="b"}', 0, 100).count() == 0


def test_cli_query_exemplars(db, capsys):
    import json

    from tachyon_spark import cli

    body = snappy_compress(_v1_with_exemplar())
    ingest_remote_write(db, body, ts_unit="ns")
    extract_remote_write_exemplars(db, body, ts_unit="ns")
    rc = cli.main(
        [db.db_dir, "query-exemplars", "up", "--start", "0",
         "--end", "100"]
    )
    assert rc == 0
    out = [json.loads(ln) for ln in
           capsys.readouterr().out.strip().splitlines()]
    assert out == [
        {"seriesLabels": {"__name__": "up", "job": "api"},
         "exemplars": [{"labels": {"trace_id": "abc"},
                        "value": "7.5", "timestamp": 42}]}
    ]


def test_streaming_remote_write_with_exemplars(spark, tmp_path):
    from tachyon_spark.connection import Connection
    from tachyon_spark.streaming.ingest import start_remote_write_ingest

    src = tmp_path / "exdrops"
    src.mkdir()
    (src / "d1.pb").write_bytes(snappy_compress(_v1_with_exemplar()))
    conn = Connection(str(tmp_path / "exsdb"), spark)
    q = start_remote_write_ingest(
        conn, str(src), trigger_once=True, ts_unit="ns",
        store_exemplars=True,
    )
    q.awaitTermination(180)
    assert conn.query('up{job="api"}', 0, 100).rows() == [(10, 1.0)]
    rows = query_exemplars(conn, "up", 0, 100).collect()
    assert len(rows) == 1 and rows[0].ex_labels == {"trace_id": "abc"}


def test_streaming_exemplar_failure_warns_and_keeps_samples(
    spark, tmp_path, monkeypatch
):
    """A failed exemplar pass must not re-fire the committed batch
    through a foreachBatch retry, and must not vanish silently either."""
    import tachyon_spark.exemplars as ex
    from tachyon_spark.connection import Connection
    from tachyon_spark.streaming.ingest import start_remote_write_ingest

    def broken(*_a, **_k):
        raise RuntimeError("exemplar store down")

    monkeypatch.setattr(ex, "extract_remote_write_exemplars", broken)
    src = tmp_path / "exdrops"
    src.mkdir()
    (src / "d1.pb").write_bytes(snappy_compress(_v1_with_exemplar()))
    conn = Connection(str(tmp_path / "exwdb"), spark)
    with pytest.warns(RuntimeWarning, match="exemplar store down"):
        q = start_remote_write_ingest(
            conn, str(src), trigger_once=True, ts_unit="ns",
            store_exemplars=True,
        )
        q.awaitTermination(180)
    assert q.exception() is None
    assert conn.query('up{job="api"}', 0, 100).rows() == [(10, 1.0)]
