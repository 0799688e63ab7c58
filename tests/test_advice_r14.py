"""Round-15 advisor regressions (ADVICE.md r14).

1. gapfill's grid join must be null-SAFE on the group keys: a grouped
   query_range (`sum by (k)`) over series missing the by-label carries
   NULL group values, and a null-unsafe key orphaned every one of their
   data rows off the grid, tripping the off-grid raise and failing the
   whole query_range(..., fill=...) call.
2. Catalog.resolve_df must validate matcher regexes BEFORE the
   nonempty-selector check (matching resolve()): a nameless selector
   with a bad regex raises the documented ValueError, not re.error.
3. ingest_graphite must store integer-typed streams from the raw value
   TEXT (full 64-bit range), not through the double `value` column
   (silent truncation past 2^53); fractional values fall back to the
   same double cast ingest_line_protocol uses.
4. ingest_openmetrics / ingest_graphite / ingest_line_protocol must
   fail ATOMICALLY on a malformed line anywhere in the batch: the
   documented ValueError, raised before any stream registration
   mutates the catalog.
"""

import pytest

from tests.conftest import make_stream


# --- 1. null-safe group keys in gapfill / fill_grid_plan --------------------

def test_gapfill_null_group_values_fill_not_raise(spark):
    from tachyon_spark.operators.gapfill import gapfill

    df = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 20, 3.0), (None, 0, 5.0), (None, 20, 9.0)],
        "k string, ts long, value double",
    )
    rows = gapfill(
        df, "ts", "value", 10, group_cols=["k"], method="linear"
    ).collect()
    got = {(r.k, r.ts): (r.value, r.filled) for r in rows}
    # both groups — including the NULL one — get the 3-step grid
    assert got[("a", 10)] == (2.0, True)
    assert got[(None, 10)] == (7.0, True)
    assert got[(None, 0)] == (5.0, False)
    assert len(rows) == 6


def test_query_range_fill_grouped_missing_by_label(db):
    """sum by (service) with one series missing the label: fill= must
    fill that NULL-labelled group instead of raising off-grid."""
    make_stream(db, 'fgm{service="web"}', "f64", [(0, 1.0), (20, 3.0)])
    # second series lacks the by-label `service`
    make_stream(db, 'fgm{other="x"}', "f64", [(0, 10.0), (20, 30.0)])
    g = db.query_range(
        "sum by (service) (fgm)", 0, 20, 10, lookback=5, fill="linear"
    ).df()
    got = {(r["service"], r["ts"]): r["value"] for r in g.collect()}
    assert got[("web", 10)] == 2.0
    assert got[(None, 10)] == 20.0
    assert len(got) == 6


# --- 2. resolve_df regex validation order ------------------------------------

def test_resolve_df_nameless_bad_regex_raises_valueerror(db):
    """`(?P<` is both a Python-only construct (documented ValueError
    from check_matcher_regexes) and an invalid pattern (re.error from
    re.fullmatch) — with the old order, check_nonempty_selector's
    empty-matcher probe hit re.fullmatch first and leaked re.error."""
    from tachyon_spark.promql import ast

    make_stream(db, 'rdx{job="a"}', "f64", [(1, 1.0)])
    bad = ast.Matcher("job", "=~", "(?P<")
    with pytest.raises(ValueError, match="Python-only"):
        db.catalog.resolve_df("", matchers=[bad])
    # parity: resolve() raises the same documented error
    with pytest.raises(ValueError, match="Python-only"):
        db.catalog.resolve("", matchers=[bad])


# --- 3. graphite integer ingest exactness ------------------------------------

def test_ingest_graphite_i64_full_range_exact(db):
    from tachyon_spark.sources.line_protocol import ingest_graphite

    big = (1 << 60) + 3  # not representable as a double
    n = ingest_graphite(
        db, f"giantcounter {big} 100", ts_unit="ns", value_type="i64",
        literal=True,
    )
    assert n == 1
    rows = db.query("giantcounter", 0, 1000).rows()
    assert rows == [(100, big)]


def test_ingest_graphite_fractional_into_i64_truncates_like_lp(db):
    from tachyon_spark.sources.line_protocol import ingest_graphite

    ingest_graphite(
        db, "fraccounter 3.9 100", ts_unit="ns", value_type="i64",
        literal=True,
    )
    rows = db.query("fraccounter", 0, 1000).rows()
    assert rows == [(100, 3)]


# --- 4. atomic ingest failure on malformed lines ------------------------------

def _catalog_names(conn):
    return {s.name for s in conn.catalog.all_streams()}


def test_ingest_openmetrics_malformed_line_atomic(db):
    from tachyon_spark.sources.openmetrics import ingest_openmetrics

    before = _catalog_names(db)
    text = "good_metric 1 5\nthis is !! not exposition ??\n"
    with pytest.raises(ValueError, match="unparseable OpenMetrics line"):
        ingest_openmetrics(db, text)
    assert _catalog_names(db) == before  # no partial registration


def test_ingest_graphite_malformed_line_atomic(db):
    from tachyon_spark.sources.line_protocol import ingest_graphite

    before = _catalog_names(db)
    text = "ok.metric 1 5\n!!bad line with no value\n"
    with pytest.raises(ValueError, match="unparseable graphite line"):
        ingest_graphite(db, text, ts_unit="ns")
    assert _catalog_names(db) == before


@pytest.mark.parametrize("text,error", [
    ("cpu usage=1 5\nthis is not line protocol\n",
     "unparseable line-protocol line"),
    ("cpu usage=1 5\nm x=1,y= 5\n", "unparseable line-protocol fields"),
], ids=["line", "fields"])
def test_ingest_line_protocol_malformed_line_atomic(db, text, error):
    from tachyon_spark.sources.line_protocol import ingest_line_protocol

    before = _catalog_names(db)
    with pytest.raises(ValueError, match=error):
        ingest_line_protocol(db, text)
    assert _catalog_names(db) == before
