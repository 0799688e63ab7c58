"""The one ingest pipeline (sources/series_resolve._ingest_parsed)
across all five wire formats: every parser must render the same
canonical `series_key` for the same (name, labels), or an ingest
re-registers an existing stream as a duplicate."""

import gzip

import pytest

from tachyon_spark.sources.line_protocol import (
    ingest_graphite,
    ingest_line_protocol,
)
from tachyon_spark.sources.openmetrics import ingest_openmetrics
from tachyon_spark.sources.otlp import encode_export_metrics, ingest_otlp
from tachyon_spark.sources.remote_write import (
    encode_write_request,
    ingest_remote_write,
    snappy_compress,
)

# `host` / `host1` is a prefix-key pair: a raw `k="v"` string sort puts
# host1 first ('1' < '='), the canonical (key, value) sort puts host first
LABELS = {"host": "a.b", "host1": "c"}
VALUE = -1.25
BIG = 2**53 + 1  # not representable as a double


def test_same_series_through_all_five_formats(db):
    db.create_stream('xf_count{host="a.b",host1="c"}', "i64")
    ingest_remote_write(
        db,
        snappy_compress(encode_write_request(
            [({"__name__": "xf_gauge", **LABELS}, [(1000, VALUE)])]
        )),
        ts_unit="ns",
    )
    ingest_otlp(db, encode_export_metrics([({}, [
        ("xf_gauge", "gauge", [(LABELS, 2000, VALUE)]),
        ("xf_count", "gauge", [(LABELS, 2001, BIG)]),
    ])]))
    ingest_openmetrics(
        db, f'xf_gauge{{host1="c",host="a.b"}} {VALUE} 3000\n',
        ns_clock=False,
    )
    ingest_line_protocol(
        db,
        f"xf,host1=c,host=a.b gauge={VALUE} 4000\n"
        f"xf,host=a.b,host1=c count={BIG}i 4001\n",
    )
    ingest_graphite(
        db,
        f"xf_gauge;host1=c;host=a.b {VALUE} 5000\n"
        f"xf_count;host=a.b;host1=c {BIG} 5001\n",
        ts_unit="ns",
    )

    streams = sorted(
        (s.name, tuple(sorted(s.labels.items())), s.value_type)
        for s in db.catalog.all_streams()
    )
    labels = tuple(sorted(LABELS.items()))
    assert streams == [
        ("xf_count", labels, "i64"),
        ("xf_gauge", labels, "f64"),
    ]
    gauge = db.query('xf_gauge{host="a.b",host1="c"}', 0, 10_000).rows()
    assert gauge == [(ts, VALUE) for ts in (1000, 2000, 3000, 4000, 5000)]
    count = db.query('xf_count{host="a.b",host1="c"}', 0, 10_000).rows()
    assert count == [(2001, BIG), (4001, BIG), (5001, BIG)]
    assert all(type(v) is int for _, v in count)


def test_malformed_blob_is_value_error(db):
    """A decode kernel's ValueError raised in a Python worker reaches the
    caller as a ValueError carrying the kernel's message (not a
    PythonException), and the catalog is unchanged: a bad payload is
    the client's fault, and the HTTP receivers answer it with 400."""
    ingest_remote_write(
        db,
        snappy_compress(encode_write_request([({"__name__": "ok"}, [(1, 1.0)])])),
        ts_unit="ns",
    )
    before = sorted(s.name for s in db.catalog.all_streams())
    with pytest.raises(ValueError, match="^snappy: copy offset out of range"):
        ingest_remote_write(db, b"\x00garbage")
    with pytest.raises(ValueError, match="^remote_write: truncated field"):
        ingest_otlp(db, b"\xfagarbage")
    # what the bytes make a decoder raise besides a plain ValueError
    # (invalid UTF-8, a body that is not gzip or is cut short) is one too
    for fmt, body, kwargs in MALFORMED:
        with pytest.raises(ValueError, match=f"^{fmt}: malformed payload: "):
            INGEST[fmt](db, body, **kwargs)
    assert sorted(s.name for s in db.catalog.all_streams()) == before


def _bad_utf8(blob: bytes) -> bytes:
    """`blob` with its one "zz" label value turned into invalid UTF-8
    (same length, so every protobuf length prefix still holds)."""
    assert blob.count(b"zz") == 1
    return blob.replace(b"zz", b"\xff\xff")


_OTLP_BODY = encode_export_metrics(
    [({}, [("bad_utf8", "gauge", [({"k": "zz"}, 1, 1.0)])])]
)
INGEST = {"remote_write": ingest_remote_write, "otlp": ingest_otlp}
# (format, body, ingest kwargs) of a malformed body each
MALFORMED = [
    ("remote_write", snappy_compress(_bad_utf8(encode_write_request(
        [({"__name__": "bad_utf8", "k": "zz"}, [(1, 1.0)])]
    ))), {}),
    ("otlp", _bad_utf8(_OTLP_BODY), {}),
    ("otlp", _OTLP_BODY, {"encoding": "gzip"}),  # not gzip
    ("otlp", gzip.compress(_OTLP_BODY, mtime=0)[:-4], {}),  # cut short
]


def test_worker_value_error_behind_jvm_stacktrace(db, spark):
    """The worker's ValueError is still told apart, with its message
    alone, when Spark appends the JVM stack trace to the error text (the
    trace repeats the worker's traceback, and its last line is a JVM
    frame)."""
    conf = "spark.sql.pyspark.jvmStacktrace.enabled"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        with pytest.raises(ValueError) as ei:
            ingest_remote_write(db, b"\x00garbage")
    finally:
        spark.conf.set(conf, old)
    assert str(ei.value) == "snappy: copy offset out of range"


@pytest.mark.parametrize("tail,msg", [
    ("ValueError: two\nlines\n", "two\nlines"),
    ("UnicodeDecodeError: 'utf-8' codec can't decode byte 0xff\n", None),
    ("StopIteration\n", None),
])
def test_worker_value_error_message(spark, tail, msg):
    """Only a worker's own ValueError is read as one, with the whole of
    a message that spans lines."""
    from pyspark.errors.exceptions.captured import PythonException

    from tachyon_spark.sources.series_resolve import _worker_value_error

    desc = (
        "\n  An exception was thrown from the Python worker. Please see "
        "the stack trace below.\nTraceback (most recent call last):\n"
        '  File "kernel.py", line 1, in kernel\n    raise X\n' + tail
    )
    e = PythonException(desc=desc, stackTrace="org.apache.spark.SparkException")
    assert _worker_value_error(e) == msg
