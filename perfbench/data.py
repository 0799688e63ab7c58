"""Seeded metric store model: series, closed-form sample values, and the
reference answers the checker compares the engine against.

Every sample value is a closed form of (series, scrape index k):

    value(s, k) = inc[s] * ((k + phase[s]) % period[s])

Counters (`http_requests_total`, `errors_total`) grow by `inc` per scrape
and reset to 0 every `period` scrapes; histogram buckets
(`http_request_duration_seconds_bucket`) use a period longer than any run,
so they grow at a fixed slope. Values are small integers held in doubles,
so sums are exact and rates are exact ratios.

Timestamps are nanoseconds: sample k of every series is at
T0_NS + k * SCRAPE_NS.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

SCRAPE_S = 15
SCRAPE_NS = SCRAPE_S * 10**9
T0_S = 1_699_999_980  # a multiple of 60 s, so 60 s grid steps land on scrapes
T0_NS = T0_S * 10**9

JOBS = ("api", "web", "db", "cache", "queue", "auth")
METHODS = ("GET", "POST", "PUT", "DELETE")
STATUSES = ("200", "201", "204", "301", "400", "404", "429", "500", "503")
LE = ("0.005", "0.01", "0.025", "0.05", "0.1", "0.25", "0.5", "+Inf")
# cumulative per-scrape bucket slope; the +Inf bucket is the total
LE_SLOPE = (1, 3, 6, 10, 14, 17, 19, 20)
# a period no run reaches: histogram buckets never reset
NO_RESET = 1 << 40

REQ = "http_requests_total"
ERR = "errors_total"
HIST = "http_request_duration_seconds_bucket"


@dataclass
class Series:
    name: str
    labels: dict
    inc: int
    phase: int
    period: int

    def selector(self) -> str:
        body = ",".join(f'{k}="{v}"' for k, v in sorted(self.labels.items()))
        return f"{self.name}{{{body}}}"


def instances(per_job: int) -> list[tuple[str, str]]:
    return [(j, f"{j}-{i}") for j in JOBS for i in range(per_job)]


class Store:
    """The seeded series set plus closed-form values for any scrape index."""

    def __init__(self, seed: int, instances_per_job: int):
        rng = np.random.default_rng(seed)
        self.series: list[Series] = []
        insts = instances(instances_per_job)
        for job, inst in insts:
            for m in METHODS:
                for st in STATUSES:
                    inc = int(rng.integers(1, 41)) if st[0] != "5" else int(
                        rng.integers(1, 9)
                    )
                    self._add(REQ, {"job": job, "instance": inst,
                                    "method": m, "status": st}, inc, rng)
        for job, inst in insts:
            self._add(ERR, {"job": job, "instance": inst},
                      int(rng.integers(1, 6)), rng)
        for _job, inst in insts:
            f = int(rng.integers(1, 11))
            for le, c in zip(LE, LE_SLOPE):
                self.series.append(
                    Series(HIST, {"instance": inst, "le": le}, c * f, 0, NO_RESET)
                )
        self._arrays()

    def _add(self, name, labels, inc, rng) -> None:
        period = int(rng.integers(240, 1201))
        phase = int(rng.integers(0, period))
        self.series.append(Series(name, labels, inc, phase, period))

    def _arrays(self) -> None:
        self.inc = np.array([s.inc for s in self.series], dtype=np.int64)
        self.phase = np.array([s.phase for s in self.series], dtype=np.int64)
        self.period = np.array([s.period for s in self.series], dtype=np.int64)

    def add_series(self, name: str, labels: dict, inc: int, phase: int,
                   period: int) -> int:
        """Register a series born after set-up (ingest churn)."""
        self.series.append(Series(name, labels, inc, phase, period))
        self._arrays()
        return len(self.series) - 1

    # ------------------------------------------------------------ values
    def values(self, idx, ks) -> np.ndarray:
        """value(s, k) for series indices `idx` (n,) over scrape indices
        `ks` (m,) -> (n, m) float64."""
        idx = np.asarray(idx)
        ks = np.asarray(ks, dtype=np.int64)
        v = self.inc[idx, None] * (
            (ks[None, :] + self.phase[idx, None]) % self.period[idx, None]
        )
        return v.astype(np.float64)

    def select(self, name: str, **match) -> np.ndarray:
        """Series indices of `name` whose labels satisfy `match`: a value
        is a literal, or a callable predicate on the label value."""
        out = []
        for i, s in enumerate(self.series):
            if s.name != name:
                continue
            ok = True
            for k, want in match.items():
                got = s.labels.get(k, "")
                ok = want(got) if callable(want) else got == want
                if not ok:
                    break
            if ok:
                out.append(i)
        return np.array(out, dtype=np.int64)


def ts_of(k) -> np.ndarray:
    return T0_NS + np.asarray(k, dtype=np.int64) * SCRAPE_NS


# ------------------------------------------------------- grid reference
def grid_rate(store: Store, idx, steps_k, range_scrapes: int) -> np.ndarray:
    """Reset-aware rate over the left-open window (t - R, t] at each grid
    step, per series -> (n, n_steps), per nanosecond: the engine's native
    (non-extrapolated) rate = reset-adjusted increase / observed span."""
    steps_k = np.asarray(steps_k, dtype=np.int64)
    lo = int(steps_k.min()) - range_scrapes + 1
    ks = np.arange(lo, int(steps_k.max()) + 1)
    v = store.values(idx, ks)
    d = np.diff(v, axis=1)
    d = np.where(d >= 0, d, v[:, 1:])  # a drop is a reset: count the new value
    c = np.concatenate([np.zeros((v.shape[0], 1)), np.cumsum(d, axis=1)], axis=1)
    hi = steps_k - lo
    inc = c[:, hi] - c[:, hi - (range_scrapes - 1)]
    return inc / float((range_scrapes - 1) * SCRAPE_NS)


def bucket_quantile(phi: float, les: list[float], counts: np.ndarray) -> np.ndarray:
    """Prometheus bucketQuantile over cumulative `counts` (n_le, n_steps)."""
    out = np.empty(counts.shape[1])
    for j in range(counts.shape[1]):
        c = counts[:, j]
        rank = phi * c[-1]
        b = int(np.searchsorted(c, rank, side="left"))
        if b >= len(les) - 1:
            out[j] = les[-2]
            continue
        lo_le = 0.0 if b == 0 else les[b - 1]
        lo_c = 0.0 if b == 0 else c[b - 1]
        out[j] = lo_le + (les[b] - lo_le) * (rank - lo_c) / (c[b] - lo_c)
    return out
