"""Connection / Inserter / Query — the engine's public API.

Mirrors the shape of the reference's embedding API (Connection::create_stream /
prepare_insert / prepare_query, tachyon_core/src/lib.rs:429-577) on top of
Spark:

    db_dir/
      catalog/              one row per stream, parquet log (see catalog.py)
      samples/              parquet
        stream_bucket=<k>/  k = crc32(stream_id) % stream_buckets (default 64)
          [ts_bucket=<n>/]  (ts-sorted, stream-clustered row groups)

The hash-bucketed layout is the high-cardinality design: directory count is
bounded by stream_buckets x time buckets no matter how many streams exist
(one-dir-per-stream melts the filesystem and the metadata listing at
Prometheus-like 10^5-10^7 series). Within a bucket, files are sorted by
(stream_id, ts) so Parquet row-group min/max stats prune per-stream reads.
Legacy per-stream dirs (rounds 1-2) remain supported via stream_buckets=0.

Samples schema: (ts long, value double, value_int long, stream_id string
partition col). Integer streams (i64/u64) write value_int, float streams write
value — exact 64-bit integers survive (no double rounding at 2^53+). The query
builder projects whichever column the stream's declared value_type selects, so
Parquet column pruning reads only one of the two.

Timestamps are unitless longs (ms by convention), exactly like the reference
(Timestamp = u64, lib.rs:49) — no timezone traps.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tachyon_spark.catalog import Catalog
from tachyon_spark.promql import parse
from tachyon_spark.promql.ast import VectorSelector
from tachyon_spark.session import get_spark
from tachyon_spark.types import VT_F64, is_integer

SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("value_int", T.LongType(), True),
    ]
)

# u64-exact layout (SURVEY §1.5): JVM longs stop at 2^63-1, so dbs opened
# with u64_decimal=True store u64 samples in an extra DECIMAL(20,0) column —
# the full u64 range, exact. LongType stays the default (cheaper codegen).
VALUE_DEC_FIELD = T.StructField("value_dec", T.DecimalType(20, 0), True)
I64_MAX = (1 << 63) - 1

# Reference rotates files at 62,500 samples (storage/mod.rs:8); we cap parquet
# files similarly so ingest produces splittable, prunable files.
MAX_RECORDS_PER_FILE = 4_000_000

# New dbs hash stream_id into this many partition dirs (0 = legacy
# one-dir-per-stream). A few x cluster parallelism is right at scale.
DEFAULT_STREAM_BUCKETS = 64


def stream_bucket_py(stream_id: str, n: int) -> int:
    """crc32(utf8) % n — MUST agree with stream_bucket_col (Spark's crc32
    over the utf8 bytes returns the same unsigned value as zlib.crc32)."""
    import zlib

    return zlib.crc32(stream_id.encode("utf-8")) % n


def stream_bucket_col(n: int) -> F.Column:
    return F.crc32(F.col("stream_id").cast("binary")) % F.lit(n)


class Connection:
    def __init__(
        self,
        db_dir: str,
        spark: SparkSession | None = None,
        time_bucket: int | None = None,
        u64_decimal: bool = False,
        compat_scalar_swap: bool = False,
        stream_buckets: int | None = None,
        compat_rate_last_first: bool = False,
        approx_aggregates: bool = False,
        prometheus_extrapolation: bool = False,
    ):
        """time_bucket: optional bucket width in ts units (e.g. 86_400_000 for
        daily buckets of ms timestamps). When set, samples are additionally
        partitioned by ts_bucket = ts DIV time_bucket so time-range queries
        prune whole partitions — the 100 TB layout. Persisted in the db config
        so reopening uses the same layout.

        u64_decimal: store u64 streams in a DECIMAL(20,0) column so the FULL
        u64 range round-trips exactly (default LongType caps at 2^63-1).
        Also persisted — the storage layout is a db property.

        compat_scalar_swap: replicate the reference's scalar-op-vector
        operand swap (`2 - v` == `v - 2`, binary_op.rs:103-105 — a
        documented reference bug) for golden-test migration. Session
        behavior, not persisted.

        compat_rate_last_first: evaluate rate()/increase()/irate() as plain
        last-first (the pre-round-4 behavior, NOT counter-reset-aware) for
        result migration. Session behavior, not persisted.

        prometheus_extrapolation: query_range's rate()/increase()/delta()
        use Prometheus's boundary extrapolation (promql/functions.go
        extrapolatedRate): the sampled-interval result scales out to the
        window edges unless the edge gap exceeds 1.1x the average sample
        spacing (then half a spacing), counters clamp extrapolation at
        the zero crossing, and rate divides by the FULL window. Default
        off: the documented native semantics (increase = reset-adjusted
        sum over observed samples, rate = increase / observed span) stay
        the oracle-gated baseline. Session behavior, not persisted; raw
        (non-grid) evaluation is unaffected.

        approx_aggregates: quantile()/quantile_over_time() compile to
        approx_percentile (mergeable Greenwald-Khanna sketch, rank error
        <= 1e-4) instead of the exact interpolated percentile — the 100 TB
        path for heavy quantiles; exact stays the oracle-gated default.
        Session behavior, not persisted.

        stream_buckets: samples partition-dir count — stream_id hashes into
        stream_bucket = crc32(stream_id) % N dirs. None = default (64 for
        new dbs); 0 = legacy one-dir-per-stream. Persisted (a layout
        property); dbs from earlier rounds (no config key) read as 0."""
        self.db_dir = db_dir
        os.makedirs(db_dir, exist_ok=True)
        self.spark = spark or get_spark()
        self.catalog = Catalog(self.spark, db_dir)
        self.samples_path = os.path.join(db_dir, "samples")
        self.time_bucket, self.u64_decimal, self.stream_buckets = (
            self._load_or_store_config(time_bucket, u64_decimal, stream_buckets)
        )
        self.compat_scalar_swap = compat_scalar_swap
        self.compat_rate_last_first = compat_rate_last_first
        self.prometheus_extrapolation = prometheus_extrapolation
        self.approx_aggregates = approx_aggregates
        self._samples_memo: tuple | None = None
        self._recover_partial_delete()

    def _load_or_store_config(
        self, time_bucket: int | None, u64_decimal: bool, stream_buckets: int | None
    ):
        import json

        cfg_path = os.path.join(self.db_dir, "config.json")
        if os.path.exists(cfg_path):
            with open(cfg_path) as f:
                stored = json.load(f)
            if time_bucket is not None and time_bucket != stored.get("time_bucket"):
                raise ValueError(
                    f"db was created with time_bucket={stored.get('time_bucket')}; "
                    f"cannot reopen with {time_bucket}"
                )
            if u64_decimal and not stored.get("u64_decimal"):
                raise ValueError("db was created without u64_decimal; layouts differ")
            stored_sb = int(stored.get("stream_buckets") or 0)
            if stream_buckets is not None and stream_buckets != stored_sb:
                raise ValueError(
                    f"db was created with stream_buckets={stored_sb}; "
                    f"cannot reopen with {stream_buckets}"
                )
            return stored.get("time_bucket"), bool(stored.get("u64_decimal")), stored_sb
        if stream_buckets is None:
            stream_buckets = DEFAULT_STREAM_BUCKETS
        with open(cfg_path, "w") as f:
            json.dump(
                {
                    "time_bucket": time_bucket,
                    "u64_decimal": u64_decimal,
                    "stream_buckets": stream_buckets,
                },
                f,
            )
        return time_bucket, u64_decimal, stream_buckets

    # --- stream admin (lib.rs:429-473) -----------------------------------
    def create_stream(self, selector: str, value_type: str) -> str:
        sel = self._parse_selector(selector)
        labels = {m.label: m.value for m in sel.matchers}
        return self.catalog.create_stream(sel.name, labels, value_type)

    def create_streams(self, specs) -> list[str]:
        """Bulk registration: [(selector, value_type), ...] -> ids. One
        catalog fragment write for the whole batch — the way to register
        10^5+ series (per-call create_stream would be 10^5 file writes)."""
        parsed = []
        for selector, value_type in specs:
            sel = self._parse_selector(selector)
            parsed.append(
                (sel.name, {m.label: m.value for m in sel.matchers}, value_type)
            )
        return self.catalog.create_streams(parsed)

    def check_stream_exists(self, selector: str) -> bool:
        sel = self._parse_selector(selector)
        return len(self.catalog.resolve(sel.name, sel.matchers)) > 0

    def get_all_streams(self) -> list:
        return self.catalog.all_streams()

    # ---- label/series introspection (Prometheus metadata API parity:
    # /api/v1/labels, /api/v1/label/<l>/values, /api/v1/series — the
    # reference's SQLite inverted index answers these implicitly,
    # indexer.rs:136-179). Driver-side over the catalog's bounded
    # metadata, the same altitude the label machinery already lives at;
    # 10^5+-series catalogs go through catalog.df() distributed instead.

    def _match_streams(self, match: str | None):
        """The stream pool for a metadata query: every stream, or — with
        a `match` selector (Prometheus's match[] parameter on /labels and
        /label/<n>/values) — only the streams it resolves to."""
        if match is None:
            return self.catalog.all_streams()
        expr = parse(match)
        if not isinstance(expr, VectorSelector):
            raise ValueError(
                f"match must be a vector selector, got {type(expr).__name__}"
            )
        return self.catalog.resolve(expr.name, expr.matchers, expr.or_groups)

    def label_names(self, match: str | None = None) -> list[str]:
        """All label names in use, plus '__name__', sorted; `match`
        restricts to the streams a selector resolves to (match[])."""
        names = {"__name__"}
        for s in self._match_streams(match):
            names.update(s.labels)
        return sorted(names)

    def label_values(self, label: str, match: str | None = None) -> list[str]:
        """Distinct values of a label ('__name__' = metric names), sorted;
        `match` restricts to the streams a selector resolves to."""
        pool = self._match_streams(match)
        if label == "__name__":
            return sorted({s.name for s in pool})
        return sorted(
            {s.labels[label] for s in pool if label in s.labels}
        )

    def tsdb_status(self, top: int = 10) -> dict:
        """Cardinality report (Prometheus /api/v1/status/tsdb parity):
        total series, per-metric series counts, per-label value counts and
        pair counts — the first thing an operator checks when cardinality
        explodes. Driver-side over the bounded catalog metadata."""
        from collections import Counter

        streams = self.catalog.all_streams()
        by_metric: Counter = Counter()
        label_values: dict[str, set] = {}
        label_pairs: Counter = Counter()
        for s in streams:
            by_metric[s.name] += 1
            for k, v in s.labels.items():
                label_values.setdefault(k, set()).add(v)
                label_pairs[f"{k}={v}"] += 1
        return {
            "numSeries": len(streams),
            "seriesCountByMetricName": [
                {"name": n, "value": c} for n, c in by_metric.most_common(top)
            ],
            "labelValueCountByLabelName": [
                {"name": k, "value": len(vs)}
                for k, vs in sorted(
                    label_values.items(), key=lambda kv: (-len(kv[1]), kv[0])
                )[:top]
            ],
            "seriesCountByLabelValuePair": [
                {"name": p, "value": c} for p, c in label_pairs.most_common(top)
            ],
        }

    def series(
        self,
        selector: str,
        start: int | None = None,
        end: int | None = None,
    ) -> list[dict[str, str]]:
        """Full label sets of the streams matching a selector, each
        including the synthetic '__name__', sorted for determinism.
        Unlike stream creation, any matcher op is allowed here (=, !=,
        =~, !~ — the query-side resolve semantics). `start`/`end`
        (Prometheus /api/v1/series parity) keep only streams that have
        at least one sample in the window — a pruned distinct-ids scan
        over the matched streams' partitions, output bounded by the
        matched series count."""
        from tachyon_spark.catalog import check_matcher_regexes

        expr = parse(selector)
        if not isinstance(expr, VectorSelector):
            raise ValueError(
                f"expected a vector selector, got {type(expr).__name__}"
            )
        for g in expr.or_groups or (expr.matchers,):
            check_matcher_regexes(g)
        rows = self.catalog.resolve(expr.name, expr.matchers, expr.or_groups)
        if rows and (start is not None or end is not None):
            from tachyon_spark.operators.select import select_streams

            scan = select_streams(
                self, [r.stream_id for r in rows],
                lambda: self.catalog.resolve_df(
                    expr.name, expr.matchers, expr.or_groups
                ),
                start, end,
            )
            present = {
                x.stream_id
                for x in scan.select("stream_id").distinct().collect()
            }
            rows = [r for r in rows if r.stream_id in present]
        out = [{"__name__": r.name, **r.labels} for r in rows]
        return sorted(out, key=lambda d: sorted(d.items()))

    def delete_stream(self, selector: str) -> int:
        """Delete matching streams: catalog rows + their samples partitions.
        (The reference declares but never implements this — lib.rs:458-460
        is todo!(); partition-dir removal is the natural Spark-side form.)
        Returns the number of streams deleted."""
        import shutil

        self.uncache_samples()
        self._recover_partial_delete()
        sel = self._parse_selector(selector)
        rows = self.catalog.resolve(sel.name, sel.matchers)
        if not rows:
            return 0
        # one batched catalog rewrite (not one compaction per stream)
        self.catalog.delete_streams([r.stream_id for r in rows])
        if not self.stream_buckets:
            for r in rows:
                part_dir = os.path.join(self.samples_path, f"stream_id={r.stream_id}")
                shutil.rmtree(part_dir, ignore_errors=True)
            return len(rows)
        # Bucketed layout: rewrite each affected bucket dir without the
        # deleted streams (swap-in-place, same staging discipline as
        # maintenance.compact_stream). Bounded work: only the buckets the
        # deleted streams hash into are touched.
        ids = {r.stream_id for r in rows}
        buckets = sorted({stream_bucket_py(i, self.stream_buckets) for i in ids})
        for b in buckets:
            src = os.path.join(self.samples_path, f"stream_bucket={b}")
            if not os.path.isdir(src):
                continue
            kept = self.spark.read.parquet(src).where(~F.col("stream_id").isin(list(ids)))
            stage = os.path.join(self.db_dir, "_delete_tmp", str(b))
            shutil.rmtree(stage, ignore_errors=True)
            part = ["ts_bucket"] if self.time_bucket else []
            # partition columns first, as in _write_samples
            w = kept.sortWithinPartitions(*part, "stream_id", "ts").write.mode("overwrite")
            if part:
                w = w.partitionBy(*part)
            w.parquet(stage)
            marker = os.path.join(stage, "_SUCCESS")
            if os.path.exists(marker):
                os.remove(marker)
            has_rows = any(
                f.endswith(".parquet") for _, _, fs in os.walk(stage) for f in fs
            )
            old = src + ".old"
            shutil.rmtree(old, ignore_errors=True)
            os.replace(src, old)
            if has_rows:
                os.replace(stage, src)
            # else: every stream in the bucket was deleted — drop the dir
            shutil.rmtree(old)
        shutil.rmtree(os.path.join(self.db_dir, "_delete_tmp"), ignore_errors=True)
        return len(rows)

    def delete_series(
        self, selector: str, start: int | None = None,
        end: int | None = None,
    ) -> int:
        """Prometheus /api/v1/admin/tsdb/delete_series: drop SAMPLES of
        the matching streams within [start, end] (open-ended when None),
        keeping the stream metadata registered — partial-range cleanups
        (a bad scrape window, a GDPR removal) that delete_stream's
        whole-series removal can't express. Partition-pruned rewrite;
        maintenance.delete_samples has the plan shape. Returns samples
        deleted."""
        from tachyon_spark.maintenance import delete_samples

        self._recover_partial_delete()
        return delete_samples(self, selector, start, end)

    def snapshot(self, name: str | None = None) -> str:
        """Prometheus /api/v1/admin/tsdb/snapshot: copy the database's
        current state (catalog + samples tree) under
        `<db_dir>/snapshots/<name>`; the snapshot dir is itself a valid
        database path — `Connection(snapshot_path)` (with the same
        layout options: time_bucket / stream_buckets / u64_decimal are
        constructor-time, not persisted) opens it read-ready, which is
        the restore story. Single-machine form is a local file
        copy (driver-side); on object storage the same layout copies
        with the store's bulk tools — the snapshot is only directories
        of immutable parquet + catalog fragments, no live WAL/heap
        state. A CONCURRENT maintenance swap (delete_series / compact's
        os.replace window) can momentarily hide a partition dir, so the
        copy retries on FileNotFoundError; for a guaranteed-consistent
        snapshot run it from the single writer (same discipline the
        reference's file-lock enforces, lib.rs Connection::open).
        Returns the snapshot path."""
        import shutil
        import time as _time

        self._recover_partial_delete()
        if name is None:
            name = _time.strftime("%Y%m%dT%H%M%S") + f"-{os.getpid()}"
        if "/" in name or name.startswith("."):
            raise ValueError("snapshot name must be a plain directory name")
        dest = os.path.join(self.db_dir, "snapshots", name)
        if os.path.exists(dest):
            raise ValueError(f"snapshot {name!r} already exists")
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        stage = dest + ".tmp"
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage)
        def _copy_tree(src: str, out: str) -> None:
            # file-by-file walk instead of shutil.copytree: copytree
            # aggregates per-file failures into shutil.Error, which would
            # slip past the FileNotFoundError retry below. os.walk's
            # default is to SKIP unreadable dirs silently (a torn
            # snapshot, no retry) — onerror re-raises instead.
            def _raise(e: OSError) -> None:
                raise e

            os.makedirs(out, exist_ok=True)
            for root, dirs, files in os.walk(src, onerror=_raise):
                base = os.path.join(out, os.path.relpath(root, src))
                for d in dirs:
                    os.makedirs(os.path.join(base, d), exist_ok=True)
                for f in files:
                    shutil.copy2(
                        os.path.join(root, f), os.path.join(base, f)
                    )

        for part in ("catalog", "catalog.json", "samples"):
            src = os.path.join(self.db_dir, part)
            for attempt in range(3):
                try:
                    if os.path.isdir(src):
                        out = os.path.join(stage, part)
                        shutil.rmtree(out, ignore_errors=True)
                        _copy_tree(src, out)
                    elif os.path.isfile(src):
                        shutil.copy2(src, os.path.join(stage, part))
                    break
                except FileNotFoundError:
                    # a concurrent compact/delete os.replace swap can
                    # momentarily remove a partition dir — re-walk the
                    # tree (bounded retries; torn trees are the caller's
                    # risk per the single-writer note above)
                    if attempt == 2:
                        raise
                    _time.sleep(0.05)
        os.replace(stage, dest)
        return dest

    def _recover_partial_delete(self) -> None:
        """Crash recovery for delete_stream's bucket swap: the rewrite
        renames `stream_bucket=K` -> `stream_bucket=K.old` before swapping
        the staged dir in, so a crash between the two renames leaves the
        bucket missing with its data intact under `.old`. Restore any such
        orphan (src missing, .old present) before reads or new deletes."""
        if not os.path.isdir(self.samples_path):
            return
        for name in os.listdir(self.samples_path):
            if not name.endswith(".old"):
                continue
            src = os.path.join(self.samples_path, name[: -len(".old")])
            old = os.path.join(self.samples_path, name)
            if not os.path.exists(src):
                os.replace(old, src)

    def _parse_selector(self, selector: str) -> VectorSelector:
        expr = parse(selector)
        if not isinstance(expr, VectorSelector):
            raise ValueError(f"expected a vector selector, got {type(expr).__name__}")
        if expr.or_groups:
            raise ValueError(
                "stream creation takes one concrete label set, not an "
                "'or' matcher disjunction"
            )
        for m in expr.matchers:
            if m.op != "=":
                raise ValueError("stream creation requires plain '=' matchers")
        return expr

    # --- ingest (lib.rs:513-554) ------------------------------------------
    def prepare_insert(self, selector: str) -> "Inserter":
        sel = self._parse_selector(selector)
        rows = self.catalog.resolve(sel.name, sel.matchers)
        if len(rows) != 1:
            raise ValueError(f"selector must resolve to exactly 1 stream, got {len(rows)}")
        return Inserter(self, rows[0].stream_id, rows[0].value_type)

    def cache_samples(self) -> None:
        """Pin the samples relation in executor memory. Spark's
        CacheManager matches by logical plan, so EVERY subsequent scan of
        the samples tree — any query path — becomes an InMemoryTableScan:
        the opt-in hot cache for repeated-query serving over a bounded
        dataset (a dashboard db, a continuous-rollup output, a recent
        hot-bucket snapshot opened as its own Connection). Every samples
        MUTATION on this Connection (ingest, delete, compaction,
        retention) invalidates it automatically — a cached relation pins
        a file list, and serving pre-mutation data would be a stale
        read; re-call cache_samples() after bulk maintenance if the hot
        set should stay pinned. At 100 TB you cache a rollup or hot
        subset, not the raw tree: the budget is executor storage memory
        and Spark spills/evicts per its MEMORY_AND_DISK policy. Spark's
        cache matches the relation by its root path, so a pin sees only
        the mutations made through its own Connection: a write through
        another Connection on the same db does not invalidate it."""
        self.uncache_samples()
        df = self.samples_df()
        self._samples_cache = df.cache()
        self._samples_cache.count()  # materialize eagerly

    def uncache_samples(self) -> None:
        """Drop the cache_samples() pin (no-op when not cached). Called
        automatically by every samples-mutating operation."""
        cached = getattr(self, "_samples_cache", None)
        if cached is not None:
            try:
                cached.unpersist()
            finally:
                self._samples_cache = None

    def _write_samples(self, df: DataFrame, single_stream: bool = False) -> None:
        # One stream's buffer fits one task; bulk loads shuffle by partition
        # dir so each directory is written by one task (one file per dir per
        # write), and the dirs are spread over every core.
        self.uncache_samples()
        if self.stream_buckets:
            df = df.withColumn("stream_bucket", stream_bucket_col(self.stream_buckets))
            part_cols = ["stream_bucket"]
        else:
            part_cols = ["stream_id"]
        if self.time_bucket:
            df = df.withColumn("ts_bucket", F.expr(f"ts DIV {self.time_bucket}"))
            part_cols.append("ts_bucket")
        # single_stream buffers are driver-built (Inserter.flush), so the
        # source is a parallelized local collection with defaultParallelism
        # slices; repartition(1) evaluates those slices in PARALLEL before
        # the 1-file write, where coalesce(1) chained all of them into one
        # task and paid the per-slice Python-RDD evaluation cost serially
        # (measured r12: ~4 s per 1-row flush -> ~0.4 s). The shuffle moves
        # only the flush buffer, which is driver-memory-bounded by
        # construction.
        # An explicit partition count: AQE coalesces a small batch's shuffle
        # into one task, which then writes every bucket file in turn.
        df = (
            df.repartition(1)
            if single_stream
            else df.repartition(self.spark.sparkContext.defaultParallelism, *part_cols)
        )
        # Bucketed dirs hold many streams: cluster row groups by stream so
        # Parquet min/max stats on stream_id prune single-stream reads. The
        # sort leads with the partition columns: a partitioned write needs
        # its input sorted by them, and a sort that does not start with
        # them is replaced by one on the partition columns alone.
        sort_cols = ["stream_id", "ts"] if self.stream_buckets else ["ts"]
        (
            df.sortWithinPartitions(*part_cols, *sort_cols)
            .write.mode("append")
            .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
            .partitionBy(*part_cols)
            .parquet(self.samples_path)
        )

    def bulk_load(self, df: DataFrame) -> None:
        """Bulk-append a (stream_id, ts, value, value_int) frame."""
        self._write_samples(df.select(*SAMPLES_SCHEMA.fieldNames()))

    def _samples_schema(self) -> T.StructType:
        fields = list(SAMPLES_SCHEMA.fields)
        if self.u64_decimal:
            fields.append(VALUE_DEC_FIELD)
        if self.stream_buckets:
            fields.append(T.StructField("stream_bucket", T.LongType(), True))
        if self.time_bucket:
            fields.append(T.StructField("ts_bucket", T.LongType(), True))
        return T.StructType(fields)

    def _samples_state_key(self) -> tuple:
        """Every file under samples/ as (path, size, mtime_ns) — the
        on-disk state the samples relation was listed from. Dot files
        (Hadoop's `.crc` checksums, half the tree) are skipped: Spark's
        file index never reads them."""
        out = []
        for root, _, files in os.walk(self.samples_path):
            for f in files:
                if f.startswith("."):
                    continue
                path = os.path.join(root, f)
                try:
                    st = os.stat(path)
                except FileNotFoundError:  # removed mid-walk by a writer
                    continue
                out.append((path, st.st_size, st.st_mtime_ns))
        return tuple(sorted(out))

    def samples_df(self) -> DataFrame:
        """The samples relation, reused while the samples tree is unchanged.

        A fresh `spark.read.parquet(samples/)` lists the tree. `get_spark`
        raises Spark's parallel-partition-discovery threshold to 1024
        paths, so the hash layout's 64 `stream_bucket=` dirs are listed on
        the driver; under Spark's default of 32 (a session built
        elsewhere) every fresh read starts a distributed file-listing job
        before any query work. Either way the relation is memoized under
        a driver-side state key: every non-hidden file under samples/
        with its size and mtime (the Catalog._load idiom).
        Spark lists the tree again only when that key changes, whoever
        changed it — this Connection, another Connection on the same db,
        the CLI, or a file dropped straight into the tree.

        Two ordering rules keep reads fresh:
        - the key is computed BEFORE the read, so a write landing in
          between only forces a rebuild on the next call, never a stale
          read;
        - `(key, df)` is published as ONE tuple attribute: concurrent plan
          builders (the pooled HTTP handlers) read it without a lock and
          can never pair a new key with an old relation.

        The memo holds one relation per Connection, so it stays bounded.
        """
        key = self._samples_state_key()
        memo = self._samples_memo
        if memo is not None and memo[0] == key:
            return memo[1]
        schema = self._samples_schema()
        if not os.path.isdir(self.samples_path):
            df = self.spark.createDataFrame([], schema)
        else:
            df = self.spark.read.schema(schema).parquet(self.samples_path)
        self._samples_memo = (key, df)
        return df

    def value_column(self, value_type: str) -> F.Column:
        """The stored value column for a stream of the given type (per-db
        layout aware); Parquet column pruning reads only the one chosen."""
        if value_type == VT_F64:
            return F.col("value")
        if value_type == "u64" and self.u64_decimal:
            return F.col("value_dec")
        return F.col("value_int")

    def stream_samples(self, stream_id: str, value_type: str) -> DataFrame:
        """(ts, value) frame for one stream, value column typed per catalog."""
        df = self.samples_df().where(F.col("stream_id") == stream_id)
        return df.select(F.col("ts"), self.value_column(value_type).alias("value"))

    def register_views(self, prefix: str = "tachyon") -> None:
        """Expose the engine's tables to Spark SQL as temp views:
        {prefix}_samples (raw samples incl partition cols) and
        {prefix}_streams (the catalog). PromQL is a front-end, not a cage —
        anything the DataFrame surface can do, `spark.sql` can too."""
        self.samples_df().createOrReplaceTempView(f"{prefix}_samples")
        self.catalog.df().createOrReplaceTempView(f"{prefix}_streams")

    # --- query (lib.rs:495-510) --------------------------------------------
    def query(self, promql: str, start: int | None = None, end: int | None = None) -> "Query":
        from tachyon_spark.plans.builder import PlanBuilder

        expr = parse(promql)
        plan = PlanBuilder(self, start, end).build(expr)
        # Instant results report the evaluation time = `end`. With no end
        # given there is no evaluation range: eval_ts stays None and the
        # Prometheus envelope reports timestamp 0 (documented divergence
        # from Prometheus's "now" — this engine's clock is native unitless
        # units with no defined mapping to the server's wall clock, so
        # stamping time.time_ns() would only be right for ns-clock data).
        plan.eval_ts = end
        if plan.df is None and plan.literal is not None:
            plan.df = self.spark.range(1).select(F.lit(plan.literal).alias("value"))
        return Query(plan)

    # prepare_query is the reference's name for the same thing
    prepare_query = query

    def query_range(
        self,
        promql: str,
        start: int,
        end: int,
        step: int,
        lookback: int | None = None,
        fill: str | None = None,
    ) -> "Query":
        """Prometheus-style step-aligned evaluation: the expression at each
        step t in {start, start+step, ...} <= end, selectors resolving to
        the latest sample in [t - lookback, t] (absent past the lookback —
        the staleness rule). This is what dashboard consumers (Grafana-
        style query_range) call; `query` keeps the reference's raw-sample
        semantics. lookback defaults to 5 minutes in ms units (300_000);
        pass the equivalent for your timestamp unit (e.g. 300_000_000_000
        for ns). See plans/range_eval.py for the distributed plan shapes.

        `fill` (r14 — the Grafana-style gap-fill option, routed through
        operators/gapfill.py): `null` | `previous` | `linear` |
        `value:N` synthesizes the grid steps the staleness rule dropped,
        per series/group; series with no resolved step stay absent."""
        from tachyon_spark.plans.range_eval import DEFAULT_LOOKBACK, RangeEvaluator

        expr = parse(promql)
        lb = DEFAULT_LOOKBACK if lookback is None else lookback
        plan = RangeEvaluator(self, start, end, step, lb).build(expr)
        if fill is not None:
            from tachyon_spark.operators.gapfill import fill_grid_plan

            plan = fill_grid_plan(plan, fill, start, end, step)
        return Query(plan)

    def alert_rule(
        self,
        promql: str,
        start: int,
        end: int,
        step: int,
        for_: int = 0,
        lookback: int | None = None,
        keep_firing_for: int = 0,
    ):
        """Prometheus-style ALERTING RULE over historical data: evaluate
        `promql` on the step grid (a comparison like ``m > 100`` keeps
        only the steps where the condition holds — PromQL filter
        semantics) and annotate each present (series, step) with the
        alert lifecycle: `active_since` (first step of the contiguous
        run) and `state` ('pending' until the run is `for_` old, then
        'firing' — Prometheus's `for:` hold duration). Returns a
        DataFrame (series cols?, ts, value, active_since, state); steps
        where the condition does not hold produce nothing, like the
        ALERTS metric. The batch/backfill form of rule evaluation
        ("when would this alert have fired?"); operators/alerts.py has
        the plan shape."""
        from tachyon_spark.operators.alerts import alert_state

        df = self.query_range(promql, start, end, step, lookback).df()
        return alert_state(df, step, for_, keep_firing_for=keep_firing_for)

    def record(
        self,
        name: str,
        promql: str,
        start: int,
        end: int,
        step: int | None = None,
        lookback: int | None = None,
        return_ids: bool = True,
    ) -> list[str] | None:
        """Prometheus-style RECORDING RULE: evaluate `promql` and persist
        the result as new f64 stream(s) named `name`, queryable like any
        ingested metric (the pre-computation move behind every dashboard's
        expensive expression; Prometheus evaluates rules on its scrape
        grid — pass `step` for the same step-aligned semantics, omit it
        for this engine's raw-sample evaluation).

        Output shaping: a plain (ts, value) vector records one stream
        `name`; a grouped result (e.g. `sum by (service) (...)` on a step
        grid) records one stream per group with the group columns as
        labels — `name{service="web"}`.

        Million-series posture: each stream id is a DETERMINISTIC hash of
        (name, sorted label tuple) computed inline on the sample rows, so
        routing samples to streams needs no driver round-trip and no join
        at all, and catalog registration is a distributed parquet append
        (`Catalog.register_streams_df`) — label combinations never funnel
        through the driver. Returns the created stream ids; a rule whose
        group-by explodes into millions of series should pass
        ``return_ids=False`` to skip materializing that list."""
        q = (
            self.query_range(promql, start, end, step, lookback)
            if step is not None
            else self.query(promql, start, end)
        )
        df = q.df()
        cols = df.columns
        if "ts" not in cols or "value" not in cols:
            raise ValueError(
                "record() needs a time-carrying vector result (raw grouped "
                "aggregates collapse time — evaluate with step= for "
                "per-instant recording)"
            )
        label_cols = [c for c in cols if c not in ("ts", "value")]
        if not label_cols:
            sid = self.create_stream(name, VT_F64)
            self.bulk_load(
                df.select(
                    F.lit(sid).alias("stream_id"),
                    "ts",
                    F.col("value").cast("double").alias("value"),
                    F.lit(None).cast("long").alias("value_int"),
                )
            )
            return [sid]
        # deterministic stream id from (name, sorted label tuple): md5 of a
        # separator-delimited canonical string, rendered uuid-shaped. Must
        # stay in lockstep with Catalog.register_streams_df's __canon.
        pieces = [F.lit(name), F.lit("\x00")]
        for i, c in enumerate(sorted(label_cols)):
            if i:
                pieces.append(F.lit("\x02"))
            pieces.append(
                F.concat(
                    F.lit(c),
                    F.lit("\x01"),
                    F.coalesce(
                        F.col(c).cast("string"), F.lit("\x03null\x03")
                    ),
                )
            )
        h = F.md5(F.concat(*pieces))
        sid = F.concat_ws(
            "-",
            F.substring(h, 1, 8),
            F.substring(h, 9, 4),
            F.substring(h, 13, 4),
            F.substring(h, 17, 4),
            F.substring(h, 21, 12),
        )
        labels_map = F.create_map(
            *[
                x
                for c in label_cols
                for x in (F.lit(c), F.col(c).cast("string"))
            ]
        )
        # one evaluation of the (possibly expensive) rule expression: the
        # result feeds BOTH the registration distinct and the sample load,
        # so persist it spill-safe rather than running the DAG twice
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            reg = (
                df.select(*label_cols)
                .distinct()
                .select(
                    sid.alias("stream_id"),
                    F.lit(name).alias("name"),
                    labels_map.alias("labels"),
                    F.lit(VT_F64).alias("value_type"),
                )
            )
            self.catalog.register_streams_df(reg)
            self.bulk_load(
                df.select(
                    sid.alias("stream_id"),
                    "ts",
                    F.col("value").cast("double").alias("value"),
                    F.lit(None).cast("long").alias("value_int"),
                )
            )
            if not return_ids:
                return None
            return [r[0] for r in reg.select("stream_id").collect()]
        finally:
            df.unpersist()


class Inserter:
    """Buffered appends for one stream; flush() writes one parquet batch."""

    def __init__(self, conn: Connection, stream_id: str, value_type: str):
        self.conn = conn
        self.stream_id = stream_id
        self.value_type = value_type
        self._buf: list[tuple[int, float | int]] = []

    def insert(self, ts: int, value) -> None:
        """Type-checked append (the reference's typed inserts panic on a
        stream/value type mismatch, lib.rs:519-549)."""
        if is_integer(self.value_type):
            if isinstance(value, float) and not value.is_integer():
                raise TypeError(
                    f"stream is {self.value_type}; got non-integral float {value!r}"
                )
            if self.value_type == "u64" and value < 0:
                raise TypeError(f"stream is u64; got negative value {value!r}")
            if int(value) > I64_MAX and not (
                self.value_type == "u64" and self.conn.u64_decimal
            ):
                raise TypeError(
                    f"value {value!r} exceeds 2^63-1; open the db with "
                    "u64_decimal=True for full-range u64 storage"
                )
        self._buf.append((ts, value))

    # typed aliases mirroring insert_{integer64,uinteger64,float64}
    insert_integer64 = insert
    insert_uinteger64 = insert
    insert_float64 = insert

    def flush(self) -> None:
        if not self._buf:
            return
        dec_mode = self.conn.u64_decimal
        base = T.StructType(
            list(SAMPLES_SCHEMA.fields) + ([VALUE_DEC_FIELD] if dec_mode else [])
        )
        if is_integer(self.value_type):
            if dec_mode and self.value_type == "u64":
                from decimal import Decimal

                rows = [
                    (self.stream_id, ts, None, None, Decimal(int(v)))
                    for ts, v in self._buf
                ]
            else:
                rows = [
                    (self.stream_id, ts, None, int(v)) + ((None,) if dec_mode else ())
                    for ts, v in self._buf
                ]
        else:
            rows = [
                (self.stream_id, ts, float(v), None) + ((None,) if dec_mode else ())
                for ts, v in self._buf
            ]
        df = self.conn.spark.createDataFrame(rows, base)
        self.conn._write_samples(df, single_stream=True)
        self._buf.clear()


class Query:
    """DataFrame-backed query result.

    Mirrors the reference's pull API (return_type/value_type/next_*,
    lib.rs:556-577) but the natural Spark surface is .df() — a DataFrame the
    caller can collect, write, or compose further.
    """

    def __init__(self, plan):
        self.plan = plan  # plans.builder.Plan

    @property
    def return_type(self) -> str:
        return self.plan.return_type

    @property
    def value_type(self) -> str:
        return self.plan.value_type

    def df(self) -> DataFrame:
        return self.plan.ordered_df()

    def rows(self) -> list[tuple]:
        """Collect as [(ts, value)] for vectors / [value] for scalars.
        DECIMAL values (u64-exact layout) come back as exact Python ints."""
        import decimal

        def py(v):
            return int(v) if isinstance(v, decimal.Decimal) else v

        if self.plan.return_type == "vector":
            df = self.df()
            if "ts" not in df.columns:
                # grouped instants without a time axis (count_values,
                # raw-path `sum by (...)`): (group keys..., value) tuples
                return [tuple(py(v) for v in r) for r in df.collect()]
            return [(r.ts, py(r.value)) for r in df.collect()]
        return [py(r.value) for r in self.df().collect()]

    def scalar(self):
        vals = self.rows()
        return vals[0] if vals else None

    def explain(self, mode: str = "formatted") -> None:
        """Print the physical plan — the fastest way to confirm a query
        prunes partitions and pushes filters (see SCALE.md)."""
        self.df().explain(mode)
