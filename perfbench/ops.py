"""The operations the workloads time: a dashboard panel over HTTP, a
wire-format ingest batch, and a raw-mode read-your-writes query. Each
returns what the checker needs; none of them checks its own answer."""

from __future__ import annotations

import http.client
import json
from urllib.parse import urlencode

import numpy as np

from data import JOBS, REQ, SCRAPE_NS, Store, T0_NS, ts_of
from tracing import OP_PARAM

# the batch formats in a fixed order, so runs with few batches compare the
# same formats: remote_write half the time, the rest once per cycle
CYCLE = ("remote_write", "otlp", "remote_write", "openmetrics",
         "remote_write", "line_protocol")
BATCH_SERIES = 500
BATCH_NEW = 10  # 2% of a full batch's series are new
BATCH_SCRAPES = 10
STEP_NS = 60 * 10**9
LOOKBACK_NS = 300 * 10**9


# ------------------------------------------------------------- HTTP panel
def get_panel(port: int, db: str, promql: str, start: int, end: int,
              op_id: str | None) -> tuple[dict, int]:
    """GET /api/v1/query_range; returns (decoded JSON, body bytes)."""
    params = {"path": db, "query": promql, "start": start, "end": end,
              "step": STEP_NS, "lookback": LOOKBACK_NS}
    if op_id is not None:
        params[OP_PARAM] = op_id
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        conn.request("GET", "/api/v1/query_range?" + urlencode(params))
        body = conn.getresponse().read()
    finally:
        conn.close()
    return json.loads(body), len(body)


# ------------------------------------------------------------ ingest batch
class Batch:
    def __init__(self, fmt: str, idx: np.ndarray, ks: np.ndarray, new: int):
        self.fmt = fmt
        self.idx = idx  # store series indices, the new ones last
        self.ks = ks  # scrape indices, every series has a sample at each
        self.new = new
        self.payload = None

    @property
    def samples(self) -> int:
        return len(self.idx) * len(self.ks)


class BatchSource:
    """Seeded batches that continue a store's history after scrape `k0`."""

    def __init__(self, store: Store, seed: int, k0: int, loaded: int):
        self.store = store
        self.rng = np.random.default_rng([seed, 7])
        self.k0 = k0
        self.loaded = loaded  # series registered in the db so far
        self.n = 0

    def next(self, fmt: str, size: int = BATCH_SERIES) -> Batch:
        rng, store = self.rng, self.store
        n_new = max(1, size * BATCH_NEW // BATCH_SERIES)
        old = rng.choice(self.loaded, size - n_new, replace=False)
        new = []
        for j in range(n_new):
            job = str(rng.choice(JOBS))
            labels = {"job": job, "instance": f"{job}-n{self.n}x{j}",
                      "method": "GET", "status": "200"}
            period = int(rng.integers(240, 1201))
            new.append(store.add_series(REQ, labels, int(rng.integers(1, 41)),
                                        int(rng.integers(0, period)), period))
        self.loaded = len(store.series)
        k0 = self.k0 + self.n * BATCH_SCRAPES
        b = Batch(fmt, np.concatenate([old, np.array(new, dtype=np.int64)]),
                  np.arange(k0, k0 + BATCH_SCRAPES), n_new)
        self.n += 1
        return self._encoded(b)

    def history(self) -> Batch:
        """Every registered series over the scrapes before `k0`, as one
        remote_write batch: how the store's first minutes arrive."""
        return self._encoded(Batch("remote_write", np.arange(self.loaded),
                                   np.arange(self.k0), 0))

    def _encoded(self, b: Batch) -> Batch:
        b.payload = encode(self.store, b)
        self.last = b
        return b


def encode(store: Store, b: Batch):
    from tachyon_spark.sources.otlp import encode_export_metrics
    from tachyon_spark.sources.remote_write import (
        encode_write_request, snappy_compress,
    )

    vals = store.values(b.idx, b.ks)
    ts = [int(t) for t in ts_of(b.ks)]
    series = [store.series[i] for i in b.idx]
    if b.fmt == "remote_write":
        return snappy_compress(encode_write_request([
            ({"__name__": s.name, **s.labels}, list(zip(ts, row.tolist())))
            for s, row in zip(series, vals)
        ]))
    if b.fmt == "otlp":
        by_name: dict = {}
        for s, row in zip(series, vals):
            by_name.setdefault(s.name, []).extend(
                (s.labels, t, v) for t, v in zip(ts, row.tolist())
            )
        return encode_export_metrics(
            [({}, [(n, "gauge", pts) for n, pts in by_name.items()])]
        )
    lines = []
    for s, row in zip(series, vals):
        if b.fmt == "openmetrics":
            lab = ",".join(f'{k}="{v}"' for k, v in sorted(s.labels.items()))
            lines.extend(f"{s.name}{{{lab}}} {v!r} {t}"
                         for t, v in zip(ts, row.tolist()))
        else:
            meas, field = s.name.rsplit("_", 1)
            tags = ",".join(f"{k}={v}" for k, v in sorted(s.labels.items()))
            lines.extend(f"{meas},{tags} {field}={v!r} {t}"
                         for t, v in zip(ts, row.tolist()))
    return "\n".join(lines)


def ingest(conn, b: Batch) -> int:
    """Push one batch through the matching ingest_*; samples acknowledged.
    Calls go through the module attribute so a traced run sees them."""
    from tachyon_spark.sources import line_protocol, openmetrics, otlp, remote_write

    if b.fmt == "remote_write":
        return remote_write.ingest_remote_write(conn, b.payload, ts_unit="ns")
    if b.fmt == "otlp":
        return otlp.ingest_otlp(conn, b.payload)
    if b.fmt == "openmetrics":
        return openmetrics.ingest_openmetrics(conn, b.payload, ns_clock=False,
                                              literal=True)
    n, _skipped = line_protocol.ingest_line_protocol(
        conn, b.payload, precision="ns", literal=True)
    return n


# ------------------------------------------------------ read-your-writes
# above Connection.isin_threshold, so the Catalog.resolve_df path runs
FAMILY = 'http_requests_total{status!="0"}'


def ryw_query(store: Store, b: Batch, wide: bool) -> tuple[str, int, list]:
    """(promql, instant, expected rows) reading the batch's newest scrape:
    one series just written, or (`wide`) every request series."""
    k = int(b.ks[-1])
    t = T0_NS + k * SCRAPE_NS
    if wide:
        idx = [i for i in b.idx if store.series[i].name == REQ]
        want = [(t, v) for v in store.values(idx, [k])[:, 0].tolist()]
        return FAMILY, t, want
    i = int(b.idx[-1])  # a series born in this batch
    return store.series[i].selector(), t, [(t, store.values([i], [k])[0, 0])]

