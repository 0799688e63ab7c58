"""InfluxDB line-protocol source (sources/line_protocol.py): grammar
coverage (escapes, quoted strings, all field types, precisions),
FAILFAST on malformed lines, series fan-out, and end-to-end ingest
through the Connection catalog + query path."""

import pytest
from pyspark.sql import functions as F

from tachyon_spark.sources.line_protocol import (
    ingest_line_protocol,
    parse_line_protocol,
)


def _parse(spark, lines, **kw):
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    return parse_line_protocol(df, **kw).collect()


def test_grammar_field_types_and_escapes(spark):
    rows = _parse(spark, [
        'cpu,host=a,region=us\\ west usage=0.5,idle=99i,n=12u,'
        'up=true,down=F,msg="hello, \\"world\\"" 1700000000000000000',
    ])
    by_field = {r["field"]: r for r in rows}
    assert set(by_field) == {"usage", "idle", "n", "up", "down", "msg"}
    r = by_field["usage"]
    assert r["measurement"] == "cpu"
    assert dict(r["tags"]) == {"host": "a", "region": "us west"}
    assert (r["ftype"], r["value"]) == ("float", 0.5)
    assert r["ts"] == 1700000000000000000
    assert (by_field["idle"]["ftype"], by_field["idle"]["value"]) == ("int", 99.0)
    assert (by_field["n"]["ftype"], by_field["n"]["value"]) == ("uint", 12.0)
    assert (by_field["up"]["ftype"], by_field["up"]["value"]) == ("bool", 1.0)
    assert (by_field["down"]["ftype"], by_field["down"]["value"]) == ("bool", 0.0)
    m = by_field["msg"]
    assert (m["ftype"], m["value"], m["value_str"]) == (
        "string", None, 'hello, "world"'
    )
    # series key: measurement_field{sorted tags}
    assert r["series_key"] == 'cpu_usage{host="a",region="us west"}'


def test_tag_order_comments_blanks_and_default_ts(spark):
    rows = _parse(spark, [
        "m,b=2,a=1 x=1 7",
        "m,a=1,b=2 x=2 8",
        "# comment line",
        "   ",
        "m x=3",
    ], default_ts=99)
    keys = {r["ts"]: r["series_key"] for r in rows}
    # sorted-tag canonicalization: both spellings -> one series key
    assert keys[7] == keys[8] == 'm_x{a="1",b="2"}'
    assert keys[99] == "m_x{}"
    assert len(rows) == 3


@pytest.mark.parametrize("precision,mult", [
    ("ns", 1), ("us", 1_000), ("ms", 1_000_000), ("s", 1_000_000_000),
])
def test_precision_scaling(spark, precision, mult):
    rows = _parse(spark, ["m x=1 123"], precision=precision)
    assert rows[0]["ts"] == 123 * mult


def test_malformed_line_raises_at_first_action(spark):
    df = spark.createDataFrame(
        [("cpu usage=1 1",), ("not a valid line at all",)],
        "value string",
    )
    out = parse_line_protocol(df)
    with pytest.raises(Exception, match="unparseable line-protocol"):
        out.collect()
    with pytest.raises(ValueError, match="precision"):
        parse_line_protocol(df, precision="m")


def test_escaped_measurement_and_field_key(spark):
    rows = _parse(spark, ["my\\ meas,t\\=k=v\\,1 f\\ 1=2 5"])
    r = rows[0]
    assert r["measurement"] == "my meas"
    assert dict(r["tags"]) == {"t=k": "v,1"}
    assert r["field"] == "f 1"
    assert r["value"] == 2.0


def test_ingest_end_to_end(spark, tmp_path):
    from tachyon_spark.connection import Connection

    conn = Connection(str(tmp_path / "db"), spark)
    text = "\n".join([
        "cpu,host=a usage=1.5,idle=90i 1000",
        "cpu,host=a usage=2.5,msg=\"skip me\" 2000",
        "cpu,host=b usage=9.0 1000",
    ])
    n, skipped = ingest_line_protocol(conn, text, precision="ns")
    assert (n, skipped) == (4, 1)
    streams = {
        s.name + str(sorted(s.labels.items())): s
        for s in conn.get_all_streams()
    }
    assert len(streams) == 3  # cpu_usage{a}, cpu_idle{a}, cpu_usage{b}
    rows = conn.query('cpu_usage{host="a"}', 0, 10_000).rows()
    assert [(t, v) for t, v in rows] == [(1000, 1.5), (2000, 2.5)]
    # re-ingest resolves the existing catalog entries (no duplicates);
    # a one-line blob has no newline so it needs an explicit literal=True
    n2, _ = ingest_line_protocol(conn, "cpu,host=b usage=4.0 3000",
                                 literal=True)
    assert n2 == 1
    assert len(conn.get_all_streams()) == 3


def test_ingest_line_without_timestamp_raises_atomically(db):
    """A ts-less line with no default_ts raises the documented
    ValueError before the catalog changes: its sample would be
    invisible to every ts-range query."""
    before = {s.name for s in db.catalog.all_streams()}
    with pytest.raises(ValueError, match="without a timestamp"):
        ingest_line_protocol(db, "cpu,host=a usage=1 1000\ncpu usage=2\n")
    assert {s.name for s in db.catalog.all_streams()} == before
    # the same line with a default_ts ingests
    n, _ = ingest_line_protocol(db, "cpu usage=2", default_ts=7,
                                literal=True)
    assert n == 1


def test_render_round_trips_through_parse(spark):
    from tachyon_spark.sources.line_protocol import render_line_protocol

    rows = [
        ("cpu load", {"host x": "a,b", "z=k": "v"}, "u 1", 0.125, 7),
        ("mem", {}, "free", -3.5, 8),
    ]
    df = spark.createDataFrame(
        rows,
        "measurement string, tags map<string,string>, field string, "
        "value double, ts long",
    )
    lines = render_line_protocol(df)
    text = sorted(r["value"] for r in lines.collect())
    assert text[0] == 'cpu\\ load,host\\ x=a\\,b,z\\=k=v u\\ 1=0.125 7'
    assert text[1] == "mem free=-3.5 8"
    back = {
        (r["measurement"], r["field"]): r
        for r in parse_line_protocol(lines).collect()
    }
    r = back[("cpu load", "u 1")]
    assert dict(r["tags"]) == {"host x": "a,b", "z=k": "v"}
    assert (r["value"], r["ts"]) == (0.125, 7)
    assert back[("mem", "free")]["value"] == -3.5


def test_streaming_line_protocol_ingest(spark, tmp_path):
    """Live drop ingestion: two line-protocol text drops through the
    streaming reader; a measurement first seen in drop 2 registers its
    streams mid-stream; the checkpoint prevents re-ingestion."""
    from tachyon_spark.connection import Connection
    from tachyon_spark.streaming.ingest import start_line_protocol_ingest

    src_dir = tmp_path / "drops"
    src_dir.mkdir()
    (src_dir / "t1.lp").write_text(
        "cpu,host=a usage=0.5 10\ncpu,host=a usage=0.6 20\n"
    )
    (src_dir / "t2.lp").write_text(
        "cpu,host=a usage=0.7 30\nmem free=12i 30\n"
    )
    conn = Connection(str(tmp_path / "lpdb"), spark)
    q = start_line_protocol_ingest(
        conn, str(src_dir), trigger_once=True, max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert conn.query('cpu_usage{host="a"}', 0, 100).rows() == [
        (10, 0.5), (20, 0.6), (30, 0.7)]
    assert conn.query("mem_free", 0, 100).rows() == [(30, 12.0)]
    q2 = start_line_protocol_ingest(
        conn, str(src_dir), trigger_once=True,
    )
    q2.awaitTermination(120)
    assert conn.query('cpu_usage{host="a"}', 0, 100).rows() == [
        (10, 0.5), (20, 0.6), (30, 0.7)]


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_ident = st.text(
    alphabet=st.characters(codec="ascii", min_codepoint=33,
                           max_codepoint=126) | st.just(" "),
    min_size=1, max_size=10,
).filter(lambda s: s.strip() == s and not s.startswith("#")
         and "\\" not in s and '"' not in s)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    meas=_ident,
    tags=st.dictionaries(_ident, _ident, max_size=3),
    fields=st.dictionaries(_ident, st.floats(
        allow_nan=False, allow_infinity=False, width=32,
    ), min_size=1, max_size=3),
    ts=st.integers(min_value=-10**15, max_value=10**15),
)
def test_render_parse_round_trip_fuzz(spark, meas, tags, fields, ts):
    # arbitrary printable identifiers (incl. , = and interior spaces)
    # must survive render -> parse exactly
    rows = [(meas, tags, k, float(v), ts) for k, v in fields.items()]
    df = spark.createDataFrame(
        rows,
        "measurement string, tags map<string,string>, field string, "
        "value double, ts long",
    )
    from tachyon_spark.sources.line_protocol import render_line_protocol

    back = parse_line_protocol(render_line_protocol(df)).collect()
    got = {
        (r["measurement"], tuple(sorted(r["tags"].items())),
         r["field"]): (r["value"], r["ts"])
        for r in back
    }
    exp = {
        (meas, tuple(sorted(tags.items())), k): (float(v), ts)
        for k, v in fields.items()
    }
    assert got == exp


def test_graphite_plaintext_and_tagged(spark):
    from tachyon_spark.sources.line_protocol import parse_graphite

    df = spark.createDataFrame([
        ("servers.web1.cpu.load 0.75 1700000000",),
        ("disk.used;host=web1;mount=/ 42 1700000001",),
        ("# comment",),
        ("   ",),
    ], "value string")
    rows = {r["name"]: r for r in parse_graphite(df).collect()}
    r = rows["servers.web1.cpu.load"]
    assert dict(r["tags"]) == {}
    assert (r["value"], r["ts"]) == (0.75, 1700000000 * 10**9)
    assert r["series_key"] == "servers.web1.cpu.load{}"
    t = rows["disk.used"]
    assert dict(t["tags"]) == {"host": "web1", "mount": "/"}
    assert t["series_key"] == 'disk.used{host="web1",mount="/"}'
    assert t["value"] == 42.0
    # tag order canonicalizes
    df2 = spark.createDataFrame([
        ("m;b=2;a=1 1 5",), ("m;a=1;b=2 2 6",),
    ], "value string")
    keys = {r["ts"]: r["series_key"]
            for r in parse_graphite(df2, ts_unit="ns").collect()}
    assert keys[5] == keys[6] == 'm{a="1",b="2"}'
    # malformed line FAILFASTs; bad unit validates
    bad = spark.createDataFrame([("no_value_or_ts",)], "value string")
    import pytest as _pt
    with _pt.raises(Exception, match="unparseable graphite"):
        parse_graphite(bad).collect()
    with _pt.raises(ValueError, match="ts_unit"):
        parse_graphite(df, ts_unit="h")


def test_graphite_ingest_end_to_end(spark, tmp_path):
    """r14 (VERDICT r13 item 3): graphite is ingest-complete — catalog
    registration + bulk load + read-back, tag-order canonicalization,
    and the prefix-tag-key set ('a', 'a-b') whose raw ';k=v' string sort
    diverges from sorted(labels.items()) — re-ingest must RESOLVE the
    existing streams, never register duplicates."""
    from tachyon_spark.connection import Connection
    from tachyon_spark.sources.line_protocol import ingest_graphite

    conn = Connection(str(tmp_path / "gdb"), spark)
    text = "\n".join([
        "servers.web1.load 0.75 100",
        "disk.used;host=w;mount=/ 42 100",
        "disk.used;mount=/;host=w 43 200",  # tag order canonicalizes
        "# comment",
    ])
    n = ingest_graphite(conn, text, ts_unit="ns")
    assert n == 3
    assert len(conn.get_all_streams()) == 2
    assert conn.query(
        '{__name__="disk.used",host="w"}', 0, 1_000
    ).rows() == [(100, 42.0), (200, 43.0)]
    # prefix tag keys: 'a-b=...' < 'a=...' as raw strings ('-' < '='),
    # but ('a',...) < ('a-b',...) as sorted items — both spellings and
    # both ingest calls must land on ONE stream
    ingest_graphite(conn, "m;a=1;a-b=2 5 300", ts_unit="ns",
                    literal=True)
    ingest_graphite(conn, "m;a-b=2;a=1 6 400", ts_unit="ns",
                    literal=True)
    assert len(conn.get_all_streams()) == 3
    assert conn.query('{__name__="m",a="1"}', 0, 1_000).rows() == [
        (300, 5.0), (400, 6.0)]
    # blob-shaped nonexistent path fails helpfully
    with pytest.raises(ValueError, match="literal=True"):
        ingest_graphite(conn, "m;a=1 7 500")
    # integer-typed registration routes through value_int
    conn2 = Connection(str(tmp_path / "gidb"), spark)
    ingest_graphite(conn2, "c 9 10", ts_unit="ns", value_type="i64",
                    literal=True)
    assert conn2.query("c", 0, 100).rows() == [(10, 9)]


def test_streaming_graphite_ingest(spark, tmp_path):
    """r14: graphite drop-dir tail mirrors the line-protocol streaming
    arm — two drops, a metric first seen in drop 2 registers
    mid-stream, checkpoint prevents re-ingestion."""
    from tachyon_spark.connection import Connection
    from tachyon_spark.streaming.ingest import start_graphite_ingest

    src_dir = tmp_path / "gdrops"
    src_dir.mkdir()
    (src_dir / "t1.txt").write_text(
        "servers.a.cpu 0.5 10\nservers.a.cpu 0.6 20\n"
    )
    (src_dir / "t2.txt").write_text(
        "servers.a.cpu;dc=x 0.7 30\nmem.free 12 30\n"
    )
    conn = Connection(str(tmp_path / "gsdb"), spark)
    q = start_graphite_ingest(
        conn, str(src_dir), trigger_once=True, max_files_per_trigger=1,
        ts_unit="ns",
    )
    q.awaitTermination(120)
    assert sorted(conn.query('{__name__="servers.a.cpu"}', 0, 100
                             ).rows()) == [(10, 0.5), (20, 0.6), (30, 0.7)]
    assert conn.query('{__name__="servers.a.cpu",dc="x"}', 0, 100
                      ).rows() == [(30, 0.7)]
    assert conn.query('{__name__="mem.free"}', 0, 100).rows() == [
        (30, 12.0)]
    q2 = start_graphite_ingest(
        conn, str(src_dir), trigger_once=True, ts_unit="ns",
    )
    q2.awaitTermination(120)
    assert conn.query('{__name__="mem.free"}', 0, 100).rows() == [
        (30, 12.0)]


def test_review_fixes_keys_failfast_i64_render(spark, tmp_path):
    from tachyon_spark.connection import Connection
    from tachyon_spark.sources.line_protocol import render_line_protocol

    # (1) prefix-key tag ordering + special chars: re-ingest must NOT
    # register duplicate streams
    conn = Connection(str(tmp_path / "kdb"), spark)
    line = 'm,host=a,host1=b x=1 5'
    ingest_line_protocol(conn, line, literal=True)
    ingest_line_protocol(conn, line, literal=True)
    assert len(conn.get_all_streams()) == 1
    # (2) a malformed field token FAILFASTs instead of dropping
    bad = spark.createDataFrame([("m x=1,y= 5",)], "value string")
    with pytest.raises(Exception, match="unparseable line-protocol fields"):
        parse_line_protocol(bad).collect()
    # (3) full-precision i64 survives the typed path
    big = 9007199254740993  # 2^53 + 1
    conn2 = Connection(str(tmp_path / "idb"), spark)
    n, _ = ingest_line_protocol(
        conn2, f"m x={big}i 5", value_type="i64", literal=True
    )
    assert n == 1
    assert conn2.query("m_x", 0, 10).rows() == [(5, big)]
    # (4) a backslash identifier raises at render (unrepresentable)
    df = spark.createDataFrame(
        [("m", {"t": "a\\"}, "f", 1.0, 7)],
        "measurement string, tags map<string,string>, field string, "
        "value double, ts long",
    )
    with pytest.raises(Exception, match="cannot contain a backslash"):
        render_line_protocol(df).collect()
    # (5) a path with a space is treated as a path (not literal text)
    with pytest.raises(Exception, match="PATH_NOT_FOUND|Path does not"):
        ingest_line_protocol(conn2, str(tmp_path / "no such dir" / "x.lp"))


def test_render_graphite_round_trips_and_rejects(spark):
    """r14: render_graphite completes the third format's write side —
    canonical sorted tags, exact value/ts round-trip through
    parse_graphite, unrepresentable identifiers raise."""
    from tachyon_spark.sources.line_protocol import (
        parse_graphite,
        render_graphite,
    )

    df = spark.createDataFrame(
        [
            ("servers.web1.load", {"dc": "eu", "az": "a"}, 0.125,
             7_000_000_000),
            ("mem.free", {}, -3.5, 8_000_000_000),
        ],
        "name string, tags map<string,string>, value double, ts long",
    )
    lines = sorted(
        r["value"] for r in render_graphite(df, ts_unit="s").collect()
    )
    assert lines[0] == "mem.free -3.5 8"
    assert lines[1] == "servers.web1.load;az=a;dc=eu 0.125 7"
    back = {
        r["name"]: r
        for r in parse_graphite(
            render_graphite(df, ts_unit="s"), ts_unit="s"
        ).collect()
    }
    r = back["servers.web1.load"]
    assert dict(r["tags"]) == {"dc": "eu", "az": "a"}
    assert (r["value"], r["ts"]) == (0.125, 7_000_000_000)
    assert back["mem.free"]["value"] == -3.5
    # unrepresentable: the grammar has no escaping
    bad = spark.createDataFrame(
        [("a b", {}, 1.0, 0)],
        "name string, tags map<string,string>, value double, ts long",
    )
    with pytest.raises(Exception, match="no escaping"):
        render_graphite(bad).collect()
    badtag = spark.createDataFrame(
        [("m", {"k;x": "v"}, 1.0, 0)],
        "name string, tags map<string,string>, value double, ts long",
    )
    with pytest.raises(Exception, match="no escaping"):
        render_graphite(badtag).collect()
    with pytest.raises(ValueError, match="ts_unit"):
        render_graphite(df, ts_unit="h")
