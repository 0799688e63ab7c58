"""The one ingest pipeline (sources/series_resolve._ingest_parsed)
across all five wire formats: every parser must render the same
canonical `series_key` for the same (name, labels), or an ingest
re-registers an existing stream as a duplicate."""

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
