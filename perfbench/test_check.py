"""Tests of the benchmark's answer checker (no Spark needed):

    python3 -m pytest perfbench/test_check.py -q
"""

from __future__ import annotations

import copy
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
from data import REQ, SCRAPE_NS, T0_NS, Store, grid_rate  # noqa: E402

STEP = 4 * SCRAPE_NS
STEPS = np.arange(100, 161, 4)


@pytest.fixture(scope="module")
def store():
    return Store(3, 1)


def envelope(expected: dict) -> dict:
    """A Prometheus matrix response carrying exactly `expected`."""
    start = T0_NS + int(STEPS[0]) * SCRAPE_NS
    result = []
    for key, vals in expected.items():
        result.append({
            "metric": dict(key),
            "values": [[(start + j * STEP) / 1e9, repr(float(v))]
                       for j, v in enumerate(vals)],
        })
    return {"status": "success", "data": {"resultType": "matrix", "result": result}}


def run_check(expected, env, panel):
    return check.check_panel(expected, env, panel,
                             T0_NS + int(STEPS[0]) * SCRAPE_NS, STEP,
                             len(STEPS), {})


def naive_rate(store, i, k_end, r):
    """The engine's native rate, sample by sample: reset-adjusted
    increase over the window's samples / their time span."""
    ks = list(range(k_end - r + 1, k_end + 1))
    vs = [float(store.values([i], [k])[0, 0]) for k in ks]
    inc = sum(b - a if b >= a else b for a, b in zip(vs, vs[1:]))
    return inc / ((ks[-1] - ks[0]) * SCRAPE_NS)


def test_grid_rate_matches_sample_by_sample_model(store):
    idx = store.select(REQ)[:5]
    got = grid_rate(store, idx, STEPS, check.RANGE_SCRAPES)
    for row, i in enumerate(idx):
        for j, k in enumerate(STEPS):
            assert got[row, j] == pytest.approx(
                naive_rate(store, i, int(k), check.RANGE_SCRAPES), rel=1e-12)


def test_resets_are_in_the_data(store):
    v = store.values(store.select(REQ), np.arange(0, 1300))
    assert (np.diff(v, axis=1) < 0).any()


@pytest.mark.parametrize("panel", sorted(check.PANELS))
def test_right_answer_passes(store, panel):
    expected = check.expect_panel(store, panel, STEPS)
    env = top5(expected) if panel == "top5xx" else envelope(expected)
    assert run_check(expected, env, panel) is None


def top5(expected):
    """Keep each series only at the steps where it ranks in the top 5."""
    keys = list(expected)
    table = np.stack([expected[k] for k in keys])
    out = {}
    for j in range(table.shape[1]):
        for r in np.argsort(-table[:, j], kind="stable")[:5]:
            out.setdefault(keys[r], {})[j] = table[r, j]
    start = T0_NS + int(STEPS[0]) * SCRAPE_NS
    return {"status": "success", "data": {"resultType": "matrix", "result": [
        {"metric": dict(k), "values": [[(start + j * STEP) / 1e9, repr(float(v))]
                                       for j, v in sorted(pts.items())]}
        for k, pts in out.items()]}}


def test_perturbed_value_is_flagged(store):
    expected = check.expect_panel(store, "req_by_job", STEPS)
    env = envelope(expected)
    env["data"]["result"][0]["values"][3][1] = repr(
        float(env["data"]["result"][0]["values"][3][1]) * (1 + 1e-6))
    assert "step 3" in run_check(expected, env, "req_by_job")


def test_missing_point_and_series_are_flagged(store):
    expected = check.expect_panel(store, "req_by_job", STEPS)
    env = envelope(expected)
    short = copy.deepcopy(env)
    short["data"]["result"][1]["values"].pop()
    assert "points" in run_check(expected, short, "req_by_job")
    env["data"]["result"].pop()
    assert "series" in run_check(expected, env, "req_by_job")


def test_error_response_is_flagged(store):
    expected = check.expect_panel(store, "latency_p90", STEPS)
    env = {"status": "error", "errorType": "bad_data", "error": "boom"}
    assert "malformed" in run_check(expected, env, "latency_p90")


def test_topk_wrong_member_is_flagged(store):
    expected = check.expect_panel(store, "top5xx", STEPS)
    env = top5(expected)
    # swap the lowest-ranked member at step 0 for a series outside the top 5
    keys = list(expected)
    inside = {tuple(sorted(r["metric"].items())) for r in env["data"]["result"]
              if r["values"][0][0] == env["data"]["result"][0]["values"][0][0]}
    outside = next(k for k in keys if k not in inside and
                   expected[k][0] < np.sort([expected[x][0] for x in keys])[-5])
    env["data"]["result"].append({"metric": dict(outside), "values": [
        [(T0_NS + int(STEPS[0]) * SCRAPE_NS) / 1e9, repr(float(expected[outside][0]))]]})
    assert run_check(expected, env, "top5xx") is not None


def test_group_left_series_named_by_stream_id(store):
    expected = check.expect_panel(store, "error_ratio", STEPS)
    env = envelope(expected)
    ids = {}
    for n, r in enumerate(env["data"]["result"]):
        ids[f"id{n}"] = dict(r["metric"])
        r["metric"] = {"job": r["metric"]["job"], "stream_id": f"id{n}"}
    assert check.check_panel(expected, env, "error_ratio",
                             T0_NS + int(STEPS[0]) * SCRAPE_NS, STEP,
                             len(STEPS), ids) is None


def test_rows_checker():
    want = [(10, 1.0), (20, 2.0)]
    assert check.check_rows([(20, 2.0), (10, 1.0)], want) is None
    assert check.check_rows([(10, 1.0), (20, 2.5)], want) is not None
    assert check.check_rows([(10, 1.0)], want) is not None
