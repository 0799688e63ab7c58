"""Exemplar storage + query (r15 second wave).

Exemplars are the sampled trace breadcrumbs Prometheus keeps alongside
samples (openmetrics `# {trace_id="..."} v ts` suffixes, remote_write
prompb.Exemplar, OTLP Exemplar with trace_id/span_id) and serves from
`GET/POST /api/v1/query_exemplars` — the endpoint Grafana's
datapoint-to-trace links call. This module is the engine's side of
that loop:

- a per-db `exemplars/` parquet store keyed by stream_id — FLAT (no
  hash-bucket partitioning): exemplar volume is sampled by
  construction (~one per series per scrape interval), so the store
  stays a small fraction of the samples table and a selector read is
  a ts-filtered scan + broadcast id join, cheap at any realistic
  exemplar cardinality (bucketing can be added if a deployment ever
  inverts that ratio);
- `extract_remote_write_exemplars` / `extract_otlp_exemplars`:
  DISTRIBUTED decode of exemplars out of the same wire blobs the
  sample ingests consume (Arrow-batched mapInPandas; series
  association rides the canonical-series-key catalog join of
  sources/series_resolve — never a driver-side catalog walk);
- `query_exemplars`: PromQL-selector-scoped read over the store, the
  /api/v1/query_exemplars contract (series that match the selector,
  each with its exemplars in [start, end]).

Exemplar volume is sampled by construction (senders keep ~one per
series per scrape interval), so the store stays a small fraction of
the samples table at any scale; the read path is still partition-
pruned + broadcast-joined like every other selector read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F, types as T

__all__ = [
    "exemplars_df",
    "extract_openmetrics_exemplars",
    "extract_otlp_exemplars",
    "extract_remote_write_exemplars",
    "query_exemplars",
    "store_exemplars",
]

EXEMPLAR_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField(
            "ex_labels",
            T.MapType(T.StringType(), T.StringType()),
            False,
        ),
    ]
)

_RAW_SCHEMA = T.StructType(
    [
        T.StructField("series_key", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("ex_keys", T.ArrayType(T.StringType()), False),
        T.StructField("ex_vals", T.ArrayType(T.StringType()), False),
    ]
)


def _store_path(conn) -> str:
    return os.path.join(conn.db_dir, "exemplars")


def exemplars_df(conn) -> DataFrame:
    path = _store_path(conn)
    if not os.path.isdir(path):
        return conn.spark.createDataFrame([], EXEMPLAR_SCHEMA)
    return conn.spark.read.schema(EXEMPLAR_SCHEMA).parquet(path)


def store_exemplars(conn, df: DataFrame) -> int:
    """Append an EXEMPLAR_SCHEMA frame. Returns rows written. The
    frame is cached across the count + write pair so the upstream
    decode/join plan executes once, not twice (the same double-action
    contract the sample ingests honor)."""
    out = df.select(*EXEMPLAR_SCHEMA.fieldNames()).cache()
    try:
        n = out.count()
        if n:
            out.repartition(1).write.mode("append").parquet(
                _store_path(conn)
            )
        return n
    finally:
        out.unpersist()


def _resolve_and_store(conn, raw: DataFrame) -> int:
    """(series_key, ts, value, ex_keys, ex_vals) -> stream_id via the
    canonical-key catalog join (broadcast; exemplars for series the
    catalog does not know are DROPPED — the sample ingest registers
    series, exemplars never do, matching Prometheus's
    exemplar-storage-is-secondary posture)."""
    from tachyon_spark.sources.series_resolve import canonical_series_key

    cat = conn.catalog.df().select(
        canonical_series_key(F.col("name"), F.col("labels")).alias(
            "series_key"
        ),
        "stream_id",
    )
    resolved = raw.join(F.broadcast(cat), "series_key").select(
        "stream_id",
        "ts",
        "value",
        F.map_from_arrays("ex_keys", "ex_vals").alias("ex_labels"),
    )
    return store_exemplars(conn, resolved)


def _extract(conn, blobs, ts_unit: str, series_exemplars) -> int:
    """Decode + store the exemplars of wire payload(s): `blobs` is one
    request body (bytes), a path/glob of blob files or a frame with a
    binary `content` column; `series_exemplars(body)` is the format's
    decoder, yielding (series name, series labels, [(exemplar labels,
    ts, value)]) per body. Returns exemplars stored."""
    from tachyon_spark.sources.remote_write import _series_key, _UNIT_NS
    from tachyon_spark.sources.series_resolve import _read_blobs

    mult = _UNIT_NS[ts_unit]

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for name, labels, exemplars in series_exemplars(bytes(blob)):
                    key = _series_key(name, labels)
                    for ex_labels, ts, val in exemplars:
                        ek = sorted(ex_labels)
                        rows.append(
                            (
                                key, ts * mult, val,
                                ek, [ex_labels[k] for k in ek],
                            )
                        )
            yield pd.DataFrame(
                rows, columns=[f.name for f in _RAW_SCHEMA.fields]
            )

    raw = _read_blobs(conn, blobs).select("content").mapInPandas(
        kernel, _RAW_SCHEMA
    )
    return _resolve_and_store(conn, raw)


def extract_remote_write_exemplars(
    conn,
    blobs: DataFrame | bytes,
    ts_unit: str = "ms",
    compressed: bool = True,
    proto: str = "1",
) -> int:
    """Decode + store exemplars from remote_write payload(s); call
    AFTER ingest_remote_write so the sample pass has registered the
    series. Returns exemplars stored."""
    from tachyon_spark.sources.remote_write import (
        decode_write_request,
        snappy_decompress,
    )

    def series_exemplars(body: bytes):
        if compressed:
            body = snappy_decompress(body)
        for labels, _, _, exemplars in decode_write_request(body, proto):
            if exemplars:
                yield labels.pop("__name__", ""), labels, exemplars

    return _extract(conn, blobs, ts_unit, series_exemplars)


def extract_otlp_exemplars(
    conn,
    blobs: DataFrame | bytes,
    ts_unit: str = "ns",
    encoding: str = "auto",
) -> int:
    """Decode + store exemplars from OTLP payload(s); call AFTER
    ingest_otlp. Series association uses the same Prometheus
    translation the sample pass applied (number points -> the metric's
    series; histogram points -> the le-bucket the value falls in)."""
    from tachyon_spark.sources.otlp import _unwrap, decode_export_metrics

    return _extract(
        conn, blobs, ts_unit,
        lambda body: decode_export_metrics(_unwrap(body, encoding))[1],
    )


def query_exemplars(
    conn, selector: str, start: int, end: int
) -> DataFrame:
    """/api/v1/query_exemplars semantics: series matching the PromQL
    SELECTOR (instant vector selectors only — aggregations make no
    sense here and raise), each with its exemplars in [start, end].
    Returns (stream_id, name, labels, ts, value, ex_labels) rows; the
    serving layer groups them into the seriesLabels/exemplars
    envelope."""
    from tachyon_spark.promql import ast
    from tachyon_spark.promql.parser import parse

    expr = parse(selector)
    if not isinstance(expr, ast.VectorSelector):
        raise ValueError(
            "query_exemplars requires a plain vector selector, got "
            f"{type(expr).__name__}"
        )
    rows = conn.catalog.resolve(expr.name, expr.matchers, expr.or_groups)
    if not rows:
        return conn.spark.createDataFrame(
            [],
            "stream_id string, name string, "
            "labels map<string,string>, ts long, value double, "
            "ex_labels map<string,string>",
        )
    ids = conn.spark.createDataFrame(
        [(r.stream_id, r.name, r.labels) for r in rows],
        "stream_id string, name string, labels map<string,string>",
    )
    return (
        exemplars_df(conn)
        .where(F.col("ts").between(start, end))
        .join(F.broadcast(ids), "stream_id")
        .select(
            "stream_id", "name", "labels", "ts", "value", "ex_labels"
        )
    )


def extract_openmetrics_exemplars(
    conn,
    lines: DataFrame | str,
    ns_clock: bool = True,
    literal: bool | None = None,
) -> int:
    """Decode + store exemplars from OpenMetrics exposition lines (the
    ` # {trace_id="..."} v [ts]` suffixes the sample parser strips);
    call AFTER ingest_openmetrics so the sample pass has registered the
    series. `lines` is a text DataFrame (column `value`), a path for
    spark.read.text, or a literal text blob — auto-detected by newline
    exactly like ingest_openmetrics (pass `literal=True` for a
    one-line blob; the r13 literal-vs-path trap class). Pure JVM-regex
    extraction (sources/openmetrics.parse_openmetrics_exemplars) — no
    Python in the scan."""
    from tachyon_spark.sources.openmetrics import (
        parse_openmetrics_exemplars,
    )

    if isinstance(lines, str):
        if literal or (literal is None and "\n" in lines):
            lines = conn.spark.createDataFrame(
                [(ln,) for ln in lines.split("\n") if ln.strip()],
                "value string",
            )
        else:
            lines = conn.spark.read.text(lines)
    raw = parse_openmetrics_exemplars(lines, ns_clock=ns_clock)
    return _resolve_and_store(conn, raw)
