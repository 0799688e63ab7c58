"""Plan shape of the served dashboard panels.

The four panel expressions of the dashboard benchmark
(perfbench/check.py PANELS, copied here) are built with
`Connection.query_range` on a small multi-series store with le-labelled
histogram buckets, and the physical plan of each is pinned by node
counts read from `explain("formatted")`: hash-partitioned exchanges,
broadcast exchanges, Window operators and Python nodes. A refactor of
the evaluator that re-shapes a served plan (an extra shuffle, a lost
broadcast, a Python UDF on the hot path) fails here instead of showing
up only as a slower benchmark.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

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

# (hash exchanges, BroadcastExchange, Window, Python nodes) per panel
EXPECTED = {
    "req_by_job": (2, 1, 1, 0),
    "latency_p90": (3, 1, 1, 0),
    "top5xx": (3, 1, 2, 0),
    "error_ratio": (4, 2, 2, 0),
}

SCRAPE_NS = 15 * 10**9
T0_NS = 1_699_999_980 * 10**9
SCRAPES = 40


@pytest.fixture(scope="module")
def panel_db(spark, tmp_path_factory):
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


def _shape(df) -> tuple[int, int, int, int]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    return (
        text.count("Arguments: hashpartitioning("),
        len(re.findall(r"\bBroadcastExchange \(\d+\)", text)),
        len(re.findall(r"\bWindow \(\d+\)", text)),
        len(re.findall(
            r"\b(?:ArrowEvalPython|FlatMapGroupsInPandas|BatchEvalPython)"
            r" \(\d+\)",
            text,
        )),
    )


@pytest.mark.parametrize("panel", sorted(PANELS))
def test_panel_plan_shape(panel_db, panel):
    start = T0_NS + 20 * SCRAPE_NS
    end = T0_NS + (SCRAPES - 1) * SCRAPE_NS
    q = panel_db.query_range(PANELS[panel], start, end, 4 * SCRAPE_NS)
    assert _shape(q.df()) == EXPECTED[panel]
