"""Reference answers and the answer checker.

Expected results come from the closed-form store model (data.py), never
from the engine. Each `check_*` returns None when the answer is right and
a one-line reason when it is wrong; the workloads count a reason as a
failed operation.
"""

from __future__ import annotations

import numpy as np

from data import ERR, HIST, LE, REQ, SCRAPE_NS, Store, grid_rate, bucket_quantile

RTOL = 1e-9

# Grid panels of the dashboard workload: name -> PromQL.
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
RANGE_SCRAPES = 300 * 10**9 // SCRAPE_NS  # the panels' [5m]


def _close(got: float, want: float) -> bool:
    return abs(got - want) <= RTOL * max(abs(want), 1e-300)


def expect_panel(store: Store, panel: str, steps_k: np.ndarray) -> dict:
    """{label tuple: expected values over `steps_k`} for one grid panel."""
    def rates(idx):
        return grid_rate(store, idx, steps_k, RANGE_SCRAPES)

    if panel == "req_by_job":
        out = {}
        for job in sorted({s.labels["job"] for s in store.series if s.name == REQ}):
            r = rates(store.select(REQ, job=job))
            out[(("job", job),)] = r.sum(axis=0)
        return out
    if panel == "latency_p90":
        counts = np.stack(
            [rates(store.select(HIST, le=le)).sum(axis=0) for le in LE]
        )
        les = [float("inf") if le == "+Inf" else float(le) for le in LE]
        return {(): bucket_quantile(0.9, les, counts)}
    if panel == "top5xx":
        out = {}
        for inst in sorted({s.labels["instance"] for s in store.series
                            if s.name == REQ}):
            idx = store.select(REQ, instance=inst, status=lambda v: v[0] == "5")
            out[(("instance", inst),)] = rates(idx).sum(axis=0)
        return out
    if panel == "error_ratio":
        out = {}
        for i in store.select(ERR):
            s = store.series[i]
            den = store.select(REQ, job=s.labels["job"],
                               instance=s.labels["job"] + "-0",
                               method="GET", status="200")
            num = rates([i])[0]
            out[tuple(sorted(s.labels.items()))] = num / rates(den)[0]
        return out
    raise KeyError(panel)


def _series_of(envelope: dict, start_ns: int, step_ns: int, n_steps: int,
               id_labels: dict):
    """Prometheus matrix JSON -> {label tuple: {step index: value}}. A
    series the engine keys by `stream_id` (the many side of group_left)
    is named by that stream's labels."""
    if envelope.get("status") != "success":
        raise ValueError(f"status {envelope.get('status')}: {envelope.get('error')}")
    data = envelope["data"]
    if data["resultType"] != "matrix":
        raise ValueError(f"resultType {data['resultType']}")
    out = {}
    for r in data["result"]:
        metric = dict(r["metric"])
        metric.pop("__name__", None)
        sid = metric.pop("stream_id", None)
        if sid is not None:
            metric.update(id_labels[sid])
        labels = tuple(sorted(metric.items()))
        pts = {}
        for ts_s, val in r["values"]:
            j = round((ts_s * 1e9 - start_ns) / step_ns)
            if not 0 <= j < n_steps:
                raise ValueError(f"point at {ts_s} is off the grid")
            pts[j] = float(val)
        out[labels] = pts
    return out


def check_panel(expected: dict, envelope: dict, panel: str, start_ns: int,
                step_ns: int, n_steps: int, id_labels: dict) -> str | None:
    try:
        got = _series_of(envelope, start_ns, step_ns, n_steps, id_labels)
    except (KeyError, TypeError, ValueError) as e:
        return f"{panel}: malformed response ({e})"
    if panel == "top5xx":
        return _check_topk(expected, got, 5, n_steps)
    if set(got) != set(expected):
        return f"{panel}: series {sorted(got)[:3]} != {sorted(expected)[:3]}"
    for key, want in expected.items():
        pts = got[key]
        if len(pts) != n_steps:
            return f"{panel}{dict(key)}: {len(pts)} points, want {n_steps}"
        for j, v in pts.items():
            if not _close(v, want[j]):
                return f"{panel}{dict(key)} step {j}: {v!r} != {want[j]!r}"
    return None


def _check_topk(expected: dict, got: dict, k: int, n_steps: int) -> str | None:
    """Per step: min(k, n) series, each with its expected value, none
    below the k-th largest expected value (ties may pick either)."""
    if not set(got) <= set(expected):
        return f"top5xx: unknown series {sorted(set(got) - set(expected))[:2]}"
    keys = list(expected)
    table = np.stack([expected[key] for key in keys])
    for j in range(n_steps):
        picked = [(key, pts[j]) for key, pts in got.items() if j in pts]
        want_n = min(k, len(keys))
        if len(picked) != want_n:
            return f"top5xx step {j}: {len(picked)} series, want {want_n}"
        kth = np.sort(table[:, j])[::-1][want_n - 1]
        for key, v in picked:
            want = expected[key][j]
            if not _close(v, want) or want < kth * (1 - RTOL):
                return f"top5xx{dict(key)} step {j}: {v!r} (want {want!r}, kth {kth!r})"
    return None


def check_instant(envelope: dict, t_ns: int, want: float) -> str | None:
    """A one-step grid read of one series: exactly the point (t, want)."""
    try:
        got = _series_of(envelope, t_ns, SCRAPE_NS, 1, {})
    except (KeyError, TypeError, ValueError) as e:
        return f"malformed response ({e})"
    pts = [p for series in got.values() for p in series.items()]
    if len(pts) != 1 or not _close(pts[0][1], want):
        return f"points {pts} != [(0, {want!r})]"
    return None


def check_rows(got, want) -> str | None:
    """Raw-mode rows: the same (ts, value) multiset, values exact."""
    g = sorted((int(ts), float(v)) for ts, v in got)
    w = sorted((int(ts), float(v)) for ts, v in want)
    if len(g) != len(w):
        return f"{len(g)} rows, want {len(w)}"
    for a, b in zip(g, w):
        if a[0] != b[0] or not _close(a[1], b[1]):
            return f"row {a} != {b}"
    return None
