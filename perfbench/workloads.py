"""The two closed-loop workloads. Each has `setup()` (untimed for the
loop, part of setup_s), `loop(run, seconds)` (the timed phase),
`probe(run, traced)` (ops of the layers the loop does not load, used only
by traced runs) and `check(run)` (compares every recorded answer with the
reference model)."""

from __future__ import annotations

import itertools
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import check
from data import SCRAPE_NS, T0_NS, Store
from load import bulk_load, register
from ops import CYCLE, Batch, BatchSource, get_panel, ingest, ryw_query
from tachyon_spark.catalog import COMPACT_FRAGMENTS
from tracing import FORMATS

WINDOW_SCRAPES = 720  # 3 h panels
WARM_SCRAPES = 80  # the warm-up refresh runs every panel over 20 min
MIN_ROUNDS = 2  # refreshes or batches per loop, however long they take
LOAD_CHUNKS = 3  # dashboard: timed, warm bulk loads into a second db,
LOAD_SCRAPES = 80  # of 20 min each
WARM_SERIES = 50  # small batches (OTLP warm-up, dashboard probe): 1/10 size
STEP_SCRAPES = 4  # 60 s step


class Run:
    """One run's timings, answers and failures."""

    def __init__(self):
        self.reads: list[float] = []
        self.writes: list[float] = []
        self.rounds: list[float] = []
        self.write_samples = 0
        self.write_bytes = 0  # bytes the timed writes added under samples/
        self.measured_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []
        # ("panel", name, end_k, window, response), checked after the run
        self.answers: list[tuple] = []
        self._lock = threading.Lock()

    def fail(self, reason: str) -> None:
        with self._lock:
            self.failed += 1
            if len(self.reasons) < 5:
                self.reasons.append(reason)

    def op(self) -> None:
        with self._lock:
            self.attempted += 1

    def merge(self, other: "Run") -> None:
        """Take over the outcomes of `other` (not its timings)."""
        self.attempted += other.attempted
        self.failed += other.failed
        self.reasons += other.reasons
        self.answers += other.answers


def dir_files(path: str) -> dict:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def samples_bytes(db: str) -> int:
    return sum(dir_files(os.path.join(db, "samples")).values())


def catalog_fragments(db: str) -> int:
    d = os.path.join(db, "catalog")
    return sum(f.endswith(".parquet") for f in os.listdir(d))


class Base:
    """Store set-up and the timed operations both workloads share."""

    per_job: int  # instances per job
    history: int  # scrapes loaded in set-up
    fragments = 1  # catalog fragments written in set-up

    def __init__(self, work: str, seed: int, cpus: int):
        self.seed = seed
        self.cpus = cpus
        self.store = Store(seed, self.per_job)  # grows with ingest churn
        self.ref = Store(seed, self.per_job)  # the loaded history only
        self.db = os.path.join(work, "db")
        self.tracer = None
        self.srv = None
        self.pool = None
        self.compactions = 0
        self._fragments = 0
        self._ids = itertools.count(1)  # next() is atomic: panels run in threads
        self.phases: dict = {}

    def register(self) -> None:
        """Write the catalog; runs while the Spark session starts."""
        t = time.perf_counter()
        self.idx = list(range(len(self.store.series)))
        self.ids = register(self.db, self.store, self.idx, self.fragments)
        self.id_labels = {sid: self.store.series[i].labels
                          for i, sid in zip(self.idx, self.ids)}
        self.phases["register_s"] = time.perf_counter() - t

    def open(self, spark) -> None:
        from tachyon_spark import Connection

        self.spark = spark
        self.conn = Connection(self.db, spark)
        self.batches = BatchSource(self.store, self.seed, self.history,
                                   len(self.store.series))
        self._fragments = catalog_fragments(self.db)

    def _op(self, kind: str):
        op_id = f"{kind}{next(self._ids)}"
        if self.tracer is None:
            return op_id, None
        return op_id, self.tracer.op("read" if "r" in kind else "write", op_id)

    def _after_op(self) -> None:
        frags = catalog_fragments(self.db)
        if frags < self._fragments:
            self.compactions += 1
        self._fragments = frags

    # ------------------------------------------------------------ reads
    def start_server(self) -> None:
        from tachyon_spark.server import serve

        self.srv = serve(port=0)
        self.port = self.srv.server_address[1]
        self.pool = ThreadPoolExecutor(min(4, self.cpus))

    def http_read(self, run: Run, promql: str, start: int, end: int,
                  kind: str):
        """One query_range over HTTP; (response, seconds), None on failure."""
        op_id, span = self._op(kind)
        run.op()
        t = time.perf_counter()
        try:
            if span is None:
                env, _ = get_panel(self.port, self.db, promql, start, end, None)
            else:
                with span as root:
                    env, root["bytes"] = get_panel(
                        self.port, self.db, promql, start, end, op_id)
        except Exception as e:  # any failed request counts against error_rate
            run.fail(f"{promql}: {type(e).__name__}: {e}")
            return None
        return env, time.perf_counter() - t

    def panel(self, run: Run, name: str, end_k: int, kind: str = "r",
              window: int = WINDOW_SCRAPES):
        """One dashboard panel; returns its latency, None on failure."""
        got = self.http_read(run, check.PANELS[name],
                             T0_NS + (end_k - window) * SCRAPE_NS,
                             T0_NS + end_k * SCRAPE_NS, kind)
        if got is None:
            return None
        run.answers.append(("panel", name, end_k, window, got[0]))
        return got[1]

    def refresh(self, run: Run, end_k: int, kind: str = "r",
                window: int = WINDOW_SCRAPES) -> None:
        """All panels at once, over the client pool; one dashboard refresh."""
        t = time.perf_counter()
        futs = [self.pool.submit(self.panel, run, p, end_k, kind, window)
                for p in check.PANELS]
        lat = [f.result() for f in futs]
        run.rounds.append(time.perf_counter() - t)
        run.reads.extend(x for x in lat if x is not None)

    def check(self, run: Run) -> None:
        """Check the panel answers recorded in `run` (other reads are
        checked as they return)."""
        cache: dict = {}
        for _, name, end_k, window, env in run.answers:
            steps = np.arange(end_k - window, end_k + 1, STEP_SCRAPES)
            key = (name, end_k, window)
            if key not in cache:
                cache[key] = check.expect_panel(self.ref, name, steps)
            why = check.check_panel(
                cache[key], env, name,
                T0_NS + int(steps[0]) * SCRAPE_NS,
                STEP_SCRAPES * SCRAPE_NS, len(steps), self.id_labels)
            if why:
                run.fail(why)

    # ----------------------------------------------------------- writes
    def batch_round(self, run: Run, b: Batch, wide: bool = False,
                    kind: str = "") -> float:
        """Ingest one batch, then read it back; returns op seconds. The
        batch is generated and encoded before, untimed."""
        before = dir_files(os.path.join(self.db, "samples")) if self.tracer else None
        op_id, span = self._op(kind + "w")
        run.op()
        t = time.perf_counter()
        try:
            if span is None:
                n = ingest(self.conn, b)
            else:
                with span as root:
                    n = ingest(self.conn, b)
                    root.update(new_series=b.new, samples=n)
        except Exception as e:
            run.fail(f"ingest {b.fmt}: {type(e).__name__}: {e}")
            n = None
        dt_w = time.perf_counter() - t
        if n is not None:
            run.writes.append(dt_w)
            run.write_samples += n
            if n != b.samples:
                run.fail(f"ingest {b.fmt}: {n} samples acknowledged, sent {b.samples}")
        if before is not None:
            after = dir_files(os.path.join(self.db, "samples"))
            new = set(after) - set(before)
            root.update(files=len(new), bytes_written=sum(after[p] for p in new))
        self._after_op()
        q, ts, want = ryw_query(self.store, b, wide)
        op_id, span = self._op(kind + "r")
        run.op()
        t = time.perf_counter()
        try:
            if span is None:
                rows = self.conn.query(q, ts, ts).rows()
            else:
                with span:
                    rows = self.conn.query(q, ts, ts).rows()
        except Exception as e:
            run.fail(f"read {q}: {type(e).__name__}: {e}")
            return dt_w
        dt_r = time.perf_counter() - t
        run.reads.append(dt_r)
        why = check.check_rows(rows, want)
        if why:
            run.fail(f"read-your-writes {q}: {why}")
        self._after_op()
        return dt_w + dt_r

    def close(self) -> None:
        if self.srv is not None:
            self.srv.shutdown()
            self.srv.server_close()
        if self.pool is not None:
            self.pool.shutdown(wait=True)


class Dashboard(Base):
    """Grafana-style polling of the Prometheus HTTP API: each refresh sends
    the four panels at once over min(4, nproc) client threads."""

    name = "dashboard"
    per_job = 1
    history = 820  # 3 h 25 min: a 3 h window whose end moves over 20 min

    def setup(self, spark) -> None:
        from tachyon_spark import Connection

        self.open(spark)
        t = time.perf_counter()
        bulk_load(self.conn, spark, self.store, self.idx, self.ids, 0,
                  self.history)
        self.phases["load_s"] = time.perf_counter() - t
        # the timed writes: bulk loads of the scrapes after the history into a
        # second db, so the panels' store keeps the files of one load; the
        # warm-up refresh comes last, so the loop starts on a read
        t = time.perf_counter()
        side = Connection(self.db + "-writes", spark)
        ks = [self.history + c * LOAD_SCRAPES for c in range(LOAD_CHUNKS + 1)]
        self.load_write_s = [
            bulk_load(side, spark, self.store, self.idx, self.ids, a, b)
            for a, b in zip(ks, ks[1:])]
        self.load_write_bytes = samples_bytes(side.db_dir)
        self.phases["writes_s"] = time.perf_counter() - t
        self.phases["write_each_s"] = self.load_write_s
        t = time.perf_counter()
        self.rng = np.random.default_rng([self.seed, 1])
        self.start_server()
        self.warm = Run()
        self.refresh(self.warm, self.history - 1 - (self.history - 1) % STEP_SCRAPES,
                     window=WARM_SCRAPES)
        self.phases["warm_s"] = time.perf_counter() - t

    def _end_k(self) -> int:
        lo = (WINDOW_SCRAPES + 20) // STEP_SCRAPES + 1
        hi = (self.history - 1) // STEP_SCRAPES
        return int(self.rng.integers(lo, hi + 1)) * STEP_SCRAPES

    def loop(self, run: Run, seconds: float, min_rounds: int = MIN_ROUNDS
             ) -> None:
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or len(run.rounds) < min_rounds:
            self.refresh(run, self._end_k())
        run.measured_s += time.perf_counter() - t0

    def probe(self, run: Run, traced: bool) -> None:
        """The write layers this workload never loads: one small batch per
        format, in both halves so the write overhead has a baseline."""
        for fmt in FORMATS:
            self.batch_round(run, self.batches.next(fmt, WARM_SERIES), kind="p")

    def timed_writes(self, run: Run) -> tuple[list, int, int]:
        """The set-up's warm bulk loads: (seconds each, samples, bytes)."""
        return (self.load_write_s, len(self.idx) * LOAD_CHUNKS * LOAD_SCRAPES,
                self.load_write_bytes)


class Ingest(Base):
    """A pusher writing seeded wire-format batches, each followed by a
    read-your-writes query, into a small store with a fragmented catalog."""

    name = "ingest"
    per_job = 6
    history = 24  # 6 min
    # a long-running store's catalog log, one fragment short of the
    # compaction threshold; the OTLP warm-up batch's new series add the
    # last one, so the first timed batch with new series crosses it
    fragments = COMPACT_FRAGMENTS - 1

    def setup(self, spark) -> None:
        self.open(spark)
        t = time.perf_counter()
        self.warm = Run()
        # the history arrives as one remote_write batch and warms that
        # format; an OTLP batch read back by the whole family warms the rest
        self.phases["history_op_s"] = self.batch_round(
            self.warm, self.batches.history())
        self.phases["otlp_op_s"] = self.batch_round(
            self.warm, self.batches.next("otlp", WARM_SERIES), wide=True)
        self.phases["warm_s"] = time.perf_counter() - t
        if self._fragments != COMPACT_FRAGMENTS:
            raise RuntimeError(
                f"ingest set-up left {self._fragments} catalog fragments, "
                f"not {COMPACT_FRAGMENTS}: the timed phase would not compact")
        self.formats_seen: set = set()

    def loop(self, run: Run, seconds: float, min_rounds: int = MIN_ROUNDS
             ) -> None:
        busy = 0.0
        before = samples_bytes(self.db)
        while busy < seconds or len(run.rounds) < min_rounds:
            # every loop starts the cycle over, so loops compare alike
            b = self.batches.next(CYCLE[len(run.rounds) % len(CYCLE)])
            self.formats_seen.add(b.fmt)
            dt = self.batch_round(run, b)
            run.rounds.append(dt)
            busy += dt
        run.measured_s += busy
        run.write_bytes += samples_bytes(self.db) - before

    def probe(self, run: Run, traced: bool) -> None:
        """Traced half only: what its loop did not load, one HTTP panel and
        one batch of each format the seeded cycle did not reach."""
        if not traced:
            return
        for fmt in FORMATS:  # read back family-wide: the resolve_df path
            if fmt not in self.formats_seen:
                self.batch_round(run, self.batches.next(fmt), wide=True,
                                 kind="p")
        self.formats_seen = set()
        if self.srv is None:
            self.start_server()
        # the newest sample of the series last written, as a one-step grid
        q, t, want = ryw_query(self.store, self.batches.last, wide=False)
        got = self.http_read(run, q, t, t, "pr")
        if got is not None:
            why = check.check_instant(got[0], t, want[0][1])
            if why:
                run.fail(f"{q} over HTTP: {why}")

    def timed_writes(self, run: Run) -> tuple[list, int, int]:
        """The loop's ingest calls: (seconds each, samples, bytes)."""
        return run.writes, run.write_samples, run.write_bytes


WORKLOADS = {w.name: w for w in (Dashboard, Ingest)}
