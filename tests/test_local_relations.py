"""Driver-known plan frames are JVM-local relations.

Plan build turns small driver-side maps (by/without label columns,
vector-matching keys, include labels, le bounds, fused-match membership)
into frames. A Python list handed to createDataFrame becomes a pickled
PythonRDD whose rows Python workers re-read, in a Spark job of their own,
every time the frame executes. `plans.builder.local_df` ships the rows
through Arrow instead and serves them from the JVM.

The first half builds the served query shapes (the four dashboard panels
of perfbench/check.py, copied here, plus the other map-building arms) in
raw and step-grid mode while a spy watches createDataFrame, and checks
that no plan-build site hands it a list, that no plan scans a Python RDD,
and that the answers are the ones the existing tests expect. The second
half pins the helper's type edge cases.
"""

from __future__ import annotations

import contextlib
import io
import sys

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from tachyon_spark.functions.histogram import le_series_frame
from tachyon_spark.plans.builder import inline_ids_df
from tachyon_spark.plans.range_eval import RangeEvaluator
from tachyon_spark.promapi import prometheus_data

ARROW_FALLBACK = "spark.sql.execution.arrow.pyspark.fallback.enabled"


@pytest.fixture()
def list_fed(spark, monkeypatch):
    """The call sites under tachyon_spark/plans/ or in le_series_frame
    that hand createDataFrame a list or tuple while the test runs. Arrow
    fallback is off meanwhile, so an Arrow conversion that fails raises
    instead of quietly taking the list path."""
    seen = []
    real = SparkSession.createDataFrame

    def spy(self, data, *args, **kwargs):
        caller = sys._getframe(1).f_code
        where = caller.co_filename.replace("\\", "/")
        if isinstance(data, (list, tuple)) and (
            "tachyon_spark/plans/" in where
            or caller.co_name == "le_series_frame"
        ):
            seen.append(f"{where}:{caller.co_name}")
        return real(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    old = spark.conf.get(ARROW_FALLBACK)
    spark.conf.set(ARROW_FALLBACK, "false")
    try:
        yield seen
    finally:
        spark.conf.set(ARROW_FALLBACK, old)


def _plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _built(list_fed, build):
    """Build a query under the spy; no plan leaf may scan a Python RDD (a
    list-fed frame's leaf reads `... at applySchemaToPythonRDD`)."""
    q = build()
    assert list_fed == [], list_fed
    assert "applySchemaToPythonRDD" not in _plan_text(q.df())
    return q


# ------------------------------------------------- the dashboard panels
PANELS = {
    "req_by_job": "sum by (job) (rate(http_requests_total[5m]))",
    "latency_p90": (
        "histogram_quantile(0.9, sum by (le) "
        "(rate(http_request_duration_seconds_bucket[5m])))"
    ),
    "top5xx": (
        'topk(5, sum by (instance) '
        '(rate(http_requests_total{status=~"5.."}[5m])))'
    ),
    "error_ratio": (
        "rate(errors_total[5m]) / on(job) group_left "
        'rate(http_requests_total{instance=~".+-0",method="GET",status="200"}[5m])'
    ),
}

SCRAPE_NS = 15 * 10**9
T0_NS = 1_699_999_980 * 10**9
SCRAPES = 40


@pytest.fixture(scope="module")
def panel_db(spark, tmp_path_factory):
    """16 linear counters: series i reads (i + 1) * k at scrape k, so its
    rate over any full window is (i + 1) per scrape interval."""
    from tachyon_spark.connection import Connection

    conn = Connection(str(tmp_path_factory.mktemp("panels") / "db"), spark)
    specs = []
    for job in ("api", "web"):
        inst = f"{job}-0"
        for method in ("GET", "POST"):
            for status in ("200", "500"):
                specs.append(
                    f'http_requests_total{{job="{job}",instance="{inst}",'
                    f'method="{method}",status="{status}"}}'
                )
        specs.append(f'errors_total{{job="{job}",instance="{inst}"}}')
        for le in ("0.1", "0.5", "+Inf"):
            specs.append(
                f'http_request_duration_seconds_bucket{{instance="{inst}",'
                f'le="{le}"}}'
            )
    ids = conn.create_streams([(s, "f64") for s in specs])
    rows = [
        (sid, T0_NS + k * SCRAPE_NS, float((i + 1) * k), None)
        for i, sid in enumerate(ids)
        for k in range(SCRAPES)
    ]
    conn.bulk_load(
        spark.createDataFrame(
            rows, "stream_id string, ts long, value double, value_int long"
        )
    )
    return conn


def _rate(i: int) -> float:
    return (i + 1) / SCRAPE_NS  # per unit of the store's ns clock


# series index -> spec order of panel_db: per job 4 request counters
# (GET 200, GET 500, POST 200, POST 500), 1 error counter, 3 buckets
PANEL_EXPECTED = {
    "req_by_job": {
        (("job", "api"),): sum(_rate(i) for i in (0, 1, 2, 3)),
        (("job", "web"),): sum(_rate(i) for i in (8, 9, 10, 11)),
    },
    # summed bucket rates 20, 22, 24 (per scrape): rank 0.9 * 24 = 21.6 lands in
    # (0.1, 0.5] at 1.6 / 2 of its width
    "latency_p90": {(): 0.1 + 0.4 * 0.8},
    "top5xx": {
        (("instance", "api-0"),): _rate(1) + _rate(3),
        (("instance", "web-0"),): _rate(9) + _rate(11),
    },
    "error_ratio": {
        (("instance", "api-0"), ("job", "api")): _rate(4) / _rate(0),
        (("instance", "web-0"), ("job", "web")): _rate(12) / _rate(8),
    },
}


@pytest.mark.parametrize("panel", sorted(PANELS))
def test_panels_build_no_python_rdd(panel_db, list_fed, panel):
    start = T0_NS + 20 * SCRAPE_NS
    end = T0_NS + (SCRAPES - 1) * SCRAPE_NS
    step = 4 * SCRAPE_NS
    q = _built(
        list_fed, lambda: panel_db.query_range(PANELS[panel], start, end, step)
    )
    # the many side of group_left stays keyed by stream_id
    labels = {s.stream_id: s.labels for s in panel_db.catalog.resolve("errors_total")}
    got = {}
    for s in prometheus_data(q, max_points=None)["result"]:
        metric = dict(s["metric"])
        metric.pop("__name__", None)
        if "stream_id" in metric:
            metric.update(labels[metric.pop("stream_id")])
        metric = tuple(sorted(metric.items()))
        assert [t for t, _ in s["values"]] == list(range(
            start // 10**9, end // 10**9 + 1, step // 10**9
        )), s
        got[metric] = [float(v) for _, v in s["values"]]
    want = PANEL_EXPECTED[panel]
    assert set(got) == set(want)
    for key, vals in got.items():  # full windows of linear counters: flat
        assert vals == pytest.approx([want[key]] * len(vals), rel=1e-9), key


# --------------------------------------- the other map-building arms
def test_group_left_include_no_python_rdd(golden_db, list_fed):
    q = _built(list_fed, lambda: golden_db.query(
        "vm_multi * on(service) group_left(tier) vm_lim2", 0, 100
    ))
    rows = [tuple(r) for r in q.df().collect()]
    assert all(r[-1] == "gold" for r in rows), rows
    assert sorted(v for _, _, _, v, _ in rows) == [100.0, 200.0, 300.0]
    q = _built(list_fed, lambda: golden_db.query_range(
        "vm_multi * on(service) group_left(tier) vm_lim2", 0, 20, 10,
        lookback=10,
    ))
    rows = q.df().collect()
    assert rows and all(r["tier"] == "gold" for r in rows)


def test_histogram_quantile_no_python_rdd(golden_db, list_fed):
    # hq buckets: ts10 counts [1,2,4] les [.5,1,+Inf]; ts20 [2,5,5]
    q = _built(list_fed, lambda: golden_db.query(
        "histogram_quantile(0.5, hq)", 0, 100
    ))
    rows = q.rows()
    assert rows[0] == (10, 1.0)
    assert rows[1][0] == 20 and abs(rows[1][1] - (0.5 + 0.5 * 0.5 / 3)) < 1e-9
    q = _built(list_fed, lambda: golden_db.query_range(
        "histogram_quantile(0.5, hq)", 0, 30, 10, lookback=10
    ))
    got = dict(q.rows())
    assert set(got) == {10, 20, 30}
    assert got[10] == 1.0
    assert abs(got[20] - (0.5 + 0.5 * 0.5 / 3)) < 1e-9
    assert got[30] == got[20]


def test_by_and_without_no_python_rdd(golden_db, list_fed):
    # vm_req: web 10/20/30, mobile 4/8/12 at ts 10/20/30;
    # vm_multi{service="web"}: host a 1@10 2@20, host b 3@10
    q = _built(list_fed, lambda: golden_db.query_range(
        "sum without (service) (sum by (service) (vm_req))",
        0, 30, 10, lookback=10,
    ))
    assert dict(q.rows()) == {10: 14.0, 20: 28.0, 30: 42.0}
    # raw aggregates collapse time; the grid keeps one row per step
    q = _built(list_fed, lambda: golden_db.query(
        "sum by (service) (vm_req)", 0, 100
    ))
    assert sorted(tuple(r) for r in q.df().collect()) == [
        ("mobile", 24.0), ("web", 60.0)
    ]
    q = _built(list_fed, lambda: golden_db.query_range(
        "sum by (service) (vm_req)", 10, 30, 10, lookback=10
    ))
    assert sorted(tuple(r) for r in q.df().collect()) == [
        ("mobile", 10, 4.0), ("mobile", 20, 8.0), ("mobile", 30, 12.0),
        ("web", 10, 10.0), ("web", 20, 20.0), ("web", 30, 30.0),
    ]
    for build, without, by in (
        (lambda e: golden_db.query(e, 0, 100),
         [("service=web", 6.0)], [("web", 6.0)]),
        (lambda e: golden_db.query_range(e, 10, 20, 10, lookback=5),
         [("service=web", 10, 4.0), ("service=web", 20, 2.0)],
         [("web", 10, 4.0), ("web", 20, 2.0)]),
    ):
        q = _built(list_fed, lambda: build("sum without (host) (vm_multi)"))
        assert sorted(tuple(r) for r in q.df().collect()) == without
        # by (...) over the without-keyed series re-keys driver-side
        q = _built(list_fed, lambda: build(
            "sum by (service) (sum without (host) (vm_multi))"
        ))
        assert sorted(tuple(r) for r in q.df().collect()) == by


BIG_A, BIG_B = 1_100, 1_000  # 2,100 map rows: past the packed-literal cap


@pytest.fixture(scope="module")
def big_match_db(spark, tmp_path_factory):
    from tachyon_spark.connection import Connection

    conn = Connection(str(tmp_path_factory.mktemp("bigmatch") / "db"), spark)
    ids = conn.create_streams(
        [(f'big_a{{k="{i}"}}', "f64") for i in range(BIG_A)]
        + [(f'big_b{{k="{i}"}}', "f64") for i in range(BIG_B)]
    )
    rows = [
        (sid, 10, float(i % BIG_A), None) for i, sid in enumerate(ids)
    ]
    conn.bulk_load(
        spark.createDataFrame(
            rows, "stream_id string, ts long, value double, value_int long"
        )
    )
    return conn


def test_large_match_map_no_python_rdd(big_match_db, list_fed):
    want = [float(i) for i in range(BIG_B, BIG_A)]
    q = _built(list_fed, lambda: big_match_db.query_range(
        "big_a unless on(k) big_b", 10, 10, 10, lookback=10
    ))
    assert sorted(r["value"] for r in q.df().collect()) == want
    q = _built(list_fed, lambda: big_match_db.query(
        "big_a unless on(k) big_b", 0, 100
    ))
    assert sorted(r["value"] for r in q.df().collect()) == want


# ------------------------------------------------ helper edge cases
def _python_rdd_free(df) -> bool:
    return "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize(
    "rows, fields, want",
    [
        # empty rows keep every column's type
        ([], [("s", T.StringType()), ("d", T.DoubleType()),
              ("i", T.IntegerType())], []),
        # None label values stay null, also when a column is all null
        ([("a", None), ("b", "x")],
         [("s", T.StringType()), ("l", T.StringType())],
         [("a", None), ("b", "x")]),
        ([("a", None)], [("s", T.StringType()), ("l", T.StringType())],
         [("a", None)]),
        # infinities stay doubles
        ([("a", float("inf")), ("b", 0.5)],
         [("s", T.StringType()), ("d", T.DoubleType())],
         [("a", float("inf")), ("b", 0.5)]),
        ([("a", 1), ("b", 0)],
         [("s", T.StringType()), ("i", T.IntegerType())],
         [("a", 1), ("b", 0)]),
    ],
    ids=["empty", "null-label", "all-null", "inf", "int"],
)
def test_local_df_types(spark, rows, fields, want):
    from tachyon_spark.plans.builder import local_df

    schema = T.StructType([T.StructField(n, t, True) for n, t in fields])
    df = local_df(spark, rows, schema)
    assert df.schema == schema
    assert sorted((tuple(r) for r in df.collect()), key=str) == want
    assert _python_rdd_free(df)
    # the optimizer's size estimate stays unknown, as for a list-fed
    # frame, so joins above the map plan as they did
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    assert int(stats.sizeInBytes()) == 2**63 - 1


@pytest.mark.parametrize("mode", ["raw", "grid"])
def test_missing_by_label_omitted_from_metric(golden_db, mode):
    expr = "sum by (nolabel) (vm_req)"
    if mode == "raw":
        q = golden_db.query(expr, 0, 100)
    else:
        q = golden_db.query_range(expr, 0, 30, 10, lookback=10)
    assert q.df().where("nolabel is not null").count() == 0
    result = prometheus_data(q, max_points=None)["result"]
    assert [s["metric"] for s in result] == [{}]
    if mode == "raw":  # raw aggregates collapse time
        assert float(result[0]["value"][1]) == 84.0
    else:
        assert [float(v) for _, v in result[0]["values"]] == [14.0, 28.0, 42.0]


def test_le_inf_is_double_inf(spark, golden_db):
    streams = golden_db.catalog.resolve("hq", (), ())
    frame, multi, _ = le_series_frame(spark, streams)
    assert dict(frame.dtypes)["__le"] == "double"
    assert sorted(r["__le"] for r in frame.collect()) == [0.5, 1.0, float("inf")]
    assert not multi and _python_rdd_free(frame)


@pytest.mark.parametrize(
    "ids",
    [["a", "b"], ["a\x1fb", "c"]],
    ids=["packed", "separator-fallback"],
)
def test_inline_ids_df(spark, ids):
    df = inline_ids_df(spark, ids)
    assert df.dtypes == [("stream_id", "string")]
    assert sorted(r["stream_id"] for r in df.collect()) == ids
    assert _python_rdd_free(df)


@pytest.mark.parametrize(
    "n, key",
    [(3, "x"), (3, "x\x1fy"), (2_001, "x")],
    ids=["packed", "separator-fallback", "large-fallback"],
)
def test_map_side_df_side_is_int(golden_db, n, key):
    ev = RangeEvaluator(golden_db, 0, 10, 10, 10)
    rows = [(f"s{i}", key, i % 2) for i in range(n)]
    df = ev._map_side_df(rows, ["k"])
    assert df.dtypes == [
        ("stream_id", "string"), ("k", "string"), ("__side", "int")
    ]
    assert sorted(tuple(r) for r in df.collect()) == sorted(rows)
    assert _python_rdd_free(df)
