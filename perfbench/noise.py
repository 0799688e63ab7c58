"""Noise conditions of a run, recorded next to its metrics: core count,
load average before the session starts, hypervisor steal over the run and
the time of a fixed pure-CPU sentinel loop. A drifted machine then shows
in the record instead of passing for a code change."""

from __future__ import annotations

import os
import time


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def sentinel_s() -> float:
    """Median time of a fixed integer loop, three runs."""
    out = []
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc + i * i) % 1_000_003
        out.append(time.perf_counter() - t)
    return sorted(out)[1]


class Noise:
    def __init__(self, cpus: int):
        self.cpus = cpus
        self.loadavg_1m = os.getloadavg()[0]
        self.sentinel_start_s = sentinel_s()
        self._ticks = _cpu_ticks()

    def finish(self) -> dict:
        now = _cpu_ticks()
        d = [b - a for a, b in zip(self._ticks, now)]
        total = sum(d) or 1
        return {
            "cpus": self.cpus,
            "loadavg_1m_before": self.loadavg_1m,
            "steal_pct": 100.0 * d[7] / total,
            "sentinel_start_s": self.sentinel_start_s,
            "sentinel_end_s": sentinel_s(),
        }
