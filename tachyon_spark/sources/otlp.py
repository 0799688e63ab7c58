"""OTLP/HTTP metrics receiver (r15 second wave).

OTLP is the OpenTelemetry wire protocol — the modern *push* protocol
emitted by OpenTelemetry SDKs and the OTel Collector: an HTTP POST of a
protobuf `ExportMetricsServiceRequest` (opentelemetry-proto,
collector/metrics/v1/metrics_service.proto + metrics/v1/metrics.proto +
common/v1/common.proto — all public), optionally gzip-compressed
(`Content-Encoding: gzip`), to the standard `/v1/metrics` path. This is
the fifth wire format next to OpenMetrics text, InfluxDB line protocol,
Graphite plaintext, and Prometheus remote_write — and the second binary
one. The protobuf walk rides the SAME generic wire-format iterator the
remote_write receiver hand-rolled (sources/remote_write._fields /
_uvarint); only the message tree differs:

    ExportMetricsServiceRequest{ repeated ResourceMetrics = 1 }
    ResourceMetrics{ Resource resource = 1, repeated ScopeMetrics = 2 }
    Resource{ repeated KeyValue attributes = 1 }
    ScopeMetrics{ InstrumentationScope scope = 1, repeated Metric = 2 }
    Metric{ name=1, description=2, unit=3,
            oneof data: Gauge=5 | Sum=7 | Histogram=9 |
                        ExponentialHistogram=10 | Summary=11 }
    Gauge/Sum{ repeated NumberDataPoint = 1; Sum: temporality=2,
               is_monotonic=3 }
    NumberDataPoint{ start=2 fixed64, time_unix_nano=3 fixed64,
                     as_double=4 double, as_int=6 sfixed64,
                     attributes=7, flags=8 }
    Histogram{ repeated HistogramDataPoint = 1, temporality=2 }
    HistogramDataPoint{ time=3 fixed64, count=4 fixed64, sum=5 double,
                        bucket_counts=6 packed fixed64,
                        explicit_bounds=7 packed double, attributes=9 }
    Summary{ repeated SummaryDataPoint = 1 }
    SummaryDataPoint{ time=3, count=4 fixed64, sum=5 double,
                      quantile_values=6 {quantile=1, value=2}, attrs=7 }
    KeyValue{ key=1, AnyValue value=2 }
    AnyValue{ oneof: string=1, bool=2, int=3, double=4, array=5,
              kvlist=6, bytes=7 }

One walk of the message yields the translated samples and the
exemplars of number and histogram points (tachyon_spark/exemplars.py
stores the latter); a new message field goes into that walk. Unknown
fields at every level skip by wire type (flags, a newer sender's
additions — forward compatibility, same contract as the remote_write
decoder). Exponential histograms (Metric field 10,
base-2 buckets with zigzag sint32 scale/offsets and packed-uvarint
counts) DECODE and translate to classic cumulative `le` series in
ascending-upper-bound order (negative buckets, zero bucket at the
zero_threshold, positive buckets, +Inf) — histogram_quantile over the
result works unchanged; Prometheus's own OTLP endpoint maps these to
native histograms, a classic-series engine keeps the classic shape.

**Prometheus translation** (the public OTLP→Prometheus compatibility
spec's data-model half):

- gauge / sum points  → one series per (metric name, point attributes);
  `as_int` points keep int64 exactness end-to-end (carried separately
  from the f64 channel, unlike remote_write whose wire is f64-only).
- histogram points    → `<name>_bucket{le="<bound>"}` CUMULATIVE counts
  per explicit bound plus the `le="+Inf"` total, `<name>_sum`,
  `<name>_count` (the classic-histogram exposition shape).
- summary points      → `<name>{quantile="<q>"}`, `<name>_sum`,
  `<name>_count`.
- resource attributes → `service.name` becomes the `job` label
  (prefixed `<service.namespace>/` when present), `service.instance.id`
  becomes `instance`; other resource attributes stay resource-scoped
  and are dropped (the spec's default — point attributes always win on
  collision).
- non-string attribute values render as canonical strings (bool →
  `true`/`false`, int → decimal, double → repr) — Prometheus labels
  are strings.
- aggregation temporality does not change stored values; DELTA
  sums store their per-interval values verbatim (a batch receiver has
  no cross-request state to cumulate; analysis-side `sum_over_time`
  recovers the cumulative view). Monotonicity does not either.

Scale shape: decode runs DISTRIBUTED — `parse_otlp_metrics` is an
Arrow-batched `mapInPandas` over binary payload rows (one row per
request blob; bytes never leave the batch). Series registration and
the sample join ride the ingest pipeline all five wire formats share
(sources/series_resolve.py) — no driver-side catalog collect.

Reference parity: beyond-reference ingest surface (the reference's
HTTP shell, tachyon_web_backend/src/main.rs:10-88, serves queries
only).
"""

from __future__ import annotations

import struct
from itertools import accumulate

from pyspark.sql import DataFrame, functions as F

from pyspark.sql import types as T

from tachyon_spark.sources.remote_write import (
    _exp_ladder,
    _fields,
    _int64,
    _packed64,
    _packed_varints,
    _put_ld,
    _put_uvarint,
    _series_key,
    _UNIT_NS,
    _zigzag64,
)
from tachyon_spark.sources.series_resolve import (
    _ingest_parsed,
    _read_blobs,
    malformed_payload,
)

# parse_remote_write's schema plus an EXACT int channel: OTLP number
# points carry an as_double/as_int oneof, and bucket/observation counts
# are uint64 — unlike the f64-only remote_write wire, exactness past
# 2^53 is representable and must survive to value_int-typed storage.
OTLP_PARSED_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("label_keys", T.ArrayType(T.StringType()), False),
        T.StructField("label_vals", T.ArrayType(T.StringType()), False),
        T.StructField("series_key", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("value_int", T.LongType(), True),
        T.StructField("ts", T.LongType(), False),
    ]
)

__all__ = [
    "decode_export_metrics",
    "encode_export_metrics",
    "ingest_otlp",
    "parse_otlp_metrics",
    "render_otlp_metrics",
]

GZIP_MAGIC = b"\x1f\x8b"


# ------------------------------------------------------------- decode

def _any_value(buf: bytes) -> str:
    """AnyValue -> canonical Prometheus label string."""
    for fno, wt, pay in _fields(buf):
        if fno == 1 and wt == 2:  # string_value
            return pay.decode("utf-8")
        if fno == 2 and wt == 0:  # bool_value
            return "true" if pay else "false"
        if fno == 3 and wt == 0:  # int_value (two's complement varint)
            return str(_int64(pay))
        if fno == 4 and wt == 1:  # double_value
            return repr(struct.unpack("<d", pay)[0])
        if fno == 7 and wt == 2:  # bytes_value
            return pay.hex()
        # array_value (5) / kvlist_value (6): not label-shaped; render
        # compactly so no attribute silently vanishes
        if fno == 5 and wt == 2:
            inner = [
                _any_value(p) for f, w, p in _fields(pay)
                if f == 1 and w == 2
            ]
            return "[" + ",".join(inner) + "]"
        if fno == 6 and wt == 2:
            return "{" + ",".join(
                f"{k}={v}" for k, v in _kv_attrs(pay, 1).items()
            ) + "}"
    return ""


def _keyvalue(pay: bytes) -> tuple[str, str]:
    """ONE KeyValue submessage -> (key, rendered value). The single
    place the key=1/value=2 walk lives — every attribute site
    (resource, point, exemplar, kvlist) goes through here."""
    key = val = ""
    for kfno, kwt, kpay in _fields(pay):
        if kfno == 1 and kwt == 2:
            key = kpay.decode("utf-8")
        elif kfno == 2 and kwt == 2:
            val = _any_value(kpay)
    return key, val


def _kv_attrs(buf: bytes, field_no: int) -> dict[str, str]:
    """Collect `repeated KeyValue attributes = field_no` off a data
    point / resource / kvlist message."""
    return {
        k: v
        for fno, wt, pay in _fields(buf)
        if fno == field_no and wt == 2
        for k, v in (_keyvalue(pay),)
    }


def _exemplar(pay: bytes) -> tuple[dict[str, str], int, float]:
    """OTLP Exemplar{ filtered_attributes=7, time_unix_nano=2 fixed64,
    as_double=3, span_id=4 bytes, trace_id=5 bytes, as_int=6 sfixed64 }
    -> (labels incl trace_id/span_id hex, ts_ns, value)."""
    labels: dict[str, str] = {}
    ts = 0
    val = 0.0
    for fno, wt, p in _fields(pay):
        if fno == 2 and wt == 1:
            ts = struct.unpack("<Q", p)[0]
        elif fno == 3 and wt == 1:
            val = struct.unpack("<d", p)[0]
        elif fno == 6 and wt == 1:
            val = float(struct.unpack("<q", p)[0])
        elif fno == 4 and wt == 2:
            labels["span_id"] = p.hex()
        elif fno == 5 and wt == 2:
            labels["trace_id"] = p.hex()
        elif fno == 7 and wt == 2:
            key, v = _keyvalue(p)
            labels[key] = v
    return labels, ts, val


def _number_point(pay: bytes):
    """NumberDataPoint -> (attrs, ts_ns, double_or_None, int_or_None,
    exemplars). The as_double/as_int oneof is preserved so int64
    exactness survives past 2^53 (ingest stores the int channel in
    value_int)."""
    attrs: dict[str, str] = {}
    ts = 0
    vd: float | None = None
    vi: int | None = None
    exs = []
    for fno, wt, p in _fields(pay):
        if fno == 3 and wt == 1:  # time_unix_nano
            ts = struct.unpack("<Q", p)[0]
        elif fno == 4 and wt == 1:  # as_double
            vd = struct.unpack("<d", p)[0]
        elif fno == 6 and wt == 1:  # as_int (sfixed64)
            vi = struct.unpack("<q", p)[0]
        elif fno == 5 and wt == 2:
            exs.append(_exemplar(p))
        elif fno == 7 and wt == 2:  # attributes
            key, val = _keyvalue(p)
            attrs[key] = val
        # start_time (2), flags (8) skip
    return attrs, ts, vd, vi, exs


def _histogram_point(pay: bytes):
    """HistogramDataPoint -> (attrs, ts_ns, count, sum | None,
    cumulative ladder [(bound, cum)], [(le, exemplar)]): an exemplar
    goes to the `le` bucket that admits its value (the
    classic-histogram convention Grafana's trace links expect)."""
    attrs: dict[str, str] = {}
    ts = count = 0
    hsum: float | None = None
    bounds: list[float] = []
    bcounts: list[int] = []
    exs = []
    for fno, wt, p in _fields(pay):
        if fno == 3 and wt == 1:
            ts = struct.unpack("<Q", p)[0]
        elif fno == 4 and wt == 1:
            count = struct.unpack("<Q", p)[0]
        elif fno == 5 and wt == 1:
            hsum = struct.unpack("<d", p)[0]
        elif fno == 6 and wt in (1, 2):
            bcounts += _packed64(p, wt, "<Q")
        elif fno == 7 and wt in (1, 2):
            bounds += _packed64(p, wt)
        elif fno == 8 and wt == 2:
            exs.append(_exemplar(p))
        elif fno == 9 and wt == 2:
            key, val = _keyvalue(p)
            attrs[key] = val
    if bcounts and len(bcounts) != len(bounds) + 1:
        raise ValueError(
            "otlp: histogram bucket_counts/explicit_bounds length "
            f"mismatch ({len(bcounts)} vs {len(bounds)})"
        )
    exs = [
        (next((repr(float(b)) for b in bounds if ex[2] <= b), "+Inf"), ex)
        for ex in exs
    ]
    ladder = list(zip(bounds, accumulate(bcounts)))
    return attrs, ts, count, hsum, ladder, exs


def _exp_buckets(pay: bytes, shift: int) -> list[tuple[int, int]]:
    """ExponentialHistogramDataPoint.Buckets{ sint32 offset = 1,
    repeated uint64 bucket_counts = 2 } -> [(offset + k + shift,
    count_k)]."""
    offset, counts = 0, []
    for fno, wt, p in _fields(pay):
        if fno == 1 and wt == 0:
            offset = _zigzag64(p)
        elif fno == 2 and wt == 2:
            counts += _packed_varints(p)
        elif fno == 2 and wt == 0:
            counts.append(p)
    return [(offset + k + shift, c) for k, c in enumerate(counts)]


def _exp_histogram_point(pay: bytes):
    """ExponentialHistogramDataPoint -> (attrs, ts_ns, count, sum |
    None, cumulative ladder [(le, cum)], no exemplars). Base-2
    exponential buckets (base = 2^(2^-scale)): positive bucket at index
    i covers (base^i, base^(i+1)] so its le is base^(i+1); negative
    bucket at index i covers [-base^(i+1), -base^i) so its le is
    -base^i; the zero bucket's le is the zero_threshold. (Prometheus's
    own OTLP endpoint converts these to native histograms; a
    classic-series engine keeps the classic shape.) Exemplars are not
    extracted: the ladder is value-dependent."""
    attrs: dict[str, str] = {}
    ts = count = zero_count = scale = 0
    hsum: float | None = None
    zero_thr = 0.0
    pos = neg = []
    for fno, wt, p in _fields(pay):
        if fno == 3 and wt == 1:
            ts = struct.unpack("<Q", p)[0]
        elif fno == 4 and wt == 1:
            count = struct.unpack("<Q", p)[0]
        elif fno == 5 and wt == 1:
            hsum = struct.unpack("<d", p)[0]
        elif fno == 6 and wt == 0:
            scale = _zigzag64(p)
        elif fno == 7 and wt == 1:
            zero_count = struct.unpack("<Q", p)[0]
        elif fno == 8 and wt == 2:
            pos = _exp_buckets(p, 1)
        elif fno == 9 and wt == 2:
            neg = _exp_buckets(p, 0)
        elif fno == 14 and wt == 1:
            zero_thr = struct.unpack("<d", p)[0]
        elif fno == 1 and wt == 2:
            key, val = _keyvalue(p)
            attrs[key] = val
    if not -10 <= scale <= 20:
        raise ValueError(
            f"otlp: exponential histogram scale {scale} outside [-10, 20]"
        )
    ladder = _exp_ladder(scale, neg, zero_thr, zero_count, pos)
    return attrs, ts, count, hsum, ladder, []


def _summary_point(pay: bytes):
    """SummaryDataPoint -> (attrs, ts_ns, count, sum, [(quantile,
    value)])."""
    attrs: dict[str, str] = {}
    ts = count = 0
    ssum = 0.0
    quants: list[tuple[float, float]] = []
    for fno, wt, p in _fields(pay):
        if fno == 3 and wt == 1:
            ts = struct.unpack("<Q", p)[0]
        elif fno == 4 and wt == 1:
            count = struct.unpack("<Q", p)[0]
        elif fno == 5 and wt == 1:
            ssum = struct.unpack("<d", p)[0]
        elif fno == 6 and wt == 2:
            q = v = 0.0
            for qf, qw, qp in _fields(p):
                if qf == 1 and qw == 1:
                    q = struct.unpack("<d", qp)[0]
                elif qf == 2 and qw == 1:
                    v = struct.unpack("<d", qp)[0]
            quants.append((q, v))
        elif fno == 7 and wt == 2:
            key, val = _keyvalue(p)
            attrs[key] = val
    return attrs, ts, count, ssum, quants


def _metric(buf: bytes, base: dict[str, str], samples: list,
            exemplars: list) -> None:
    """One Metric -> its translated samples and exemplars, appended.
    Points go kind by kind: number (Gauge 5 | Sum 7), Histogram 9,
    ExponentialHistogram 10, Summary 11."""
    name = ""
    points: dict[int, list[bytes]] = {5: [], 9: [], 10: [], 11: []}
    for fno, wt, pay in _fields(buf):
        if fno == 1 and wt == 2:
            name = pay.decode("utf-8")
        elif fno in (5, 7, 9, 10, 11) and wt == 2:
            # a Sum's temporality (2) / is_monotonic (3) do not change
            # values
            points[5 if fno == 7 else fno] += [
                p for f, w, p in _fields(pay) if f == 1 and w == 2
            ]
        # description/unit (2/3) skip
    if not name:
        raise ValueError("otlp: metric without a name")

    def emit(series, attrs, ts, vd, vi):
        # point attributes win on collision
        samples.append((series, {**base, **attrs}, ts, vd, vi))

    for pay in points[5]:
        attrs, ts, vd, vi, exs = _number_point(pay)
        if vd is not None or vi is not None:  # else a no-value point
            emit(name, attrs, ts, vd, vi)
        if exs:
            exemplars.append((name, {**base, **attrs}, exs))
    bucket = f"{name}_bucket"
    for attrs, ts, count, hsum, ladder, exs in [
        *map(_histogram_point, points[9]),
        *map(_exp_histogram_point, points[10]),
    ]:
        for le, cum in ladder:
            emit(bucket, {**attrs, "le": repr(float(le))}, ts, None, cum)
        emit(bucket, {**attrs, "le": "+Inf"}, ts, None, count)
        if hsum is not None:
            emit(f"{name}_sum", attrs, ts, hsum, None)
        emit(f"{name}_count", attrs, ts, None, count)
        for le, ex in exs:
            exemplars.append((bucket, {**base, **attrs, "le": le}, [ex]))
    for pay in points[11]:
        attrs, ts, count, ssum, quants = _summary_point(pay)
        for q, v in quants:
            emit(name, {**attrs, "quantile": repr(float(q))}, ts, v, None)
        emit(f"{name}_sum", attrs, ts, ssum, None)
        emit(f"{name}_count", attrs, ts, None, count)


def decode_export_metrics(data: bytes) -> tuple[list, list]:
    """Uncompressed ExportMetricsServiceRequest bytes -> (samples,
    exemplars), from one walk of the message.

    samples: the flat Prometheus-translated
    [(series name, labels, ts_ns, value f64 | None, value int | None)].
    Exactly ONE of the two value channels is set per sample (histogram /
    summary component series use the f64 channel for sums and the int
    channel for counts/bucket counts).

    exemplars: [(series name, series labels, [(exemplar labels incl
    trace_id/span_id, ts_ns, value)])] for the number and histogram
    points that carry them. Number points attach to the metric's own
    series, histogram points to the `<name>_bucket` series whose `le`
    bound admits the exemplar value."""
    samples: list = []
    exemplars: list = []
    for fno, wt, rm in _fields(data):
        if fno != 1 or wt != 2:
            continue  # ResourceMetrics only
        res: dict[str, str] = {}
        scopes: list[bytes] = []
        for rfno, rwt, rpay in _fields(rm):
            if rfno == 1 and rwt == 2:  # Resource
                res = _kv_attrs(rpay, 1)
            elif rfno == 2 and rwt == 2:  # ScopeMetrics
                scopes.append(rpay)
        base: dict[str, str] = {}
        job = res.get("service.name")
        namespace = res.get("service.namespace")
        if job is not None:
            base["job"] = f"{namespace}/{job}" if namespace else job
        if "service.instance.id" in res:
            base["instance"] = res["service.instance.id"]
        for sm in scopes:
            # Metric only (scope 1 / schema_url 3 skip)
            for sfno, swt, metric in _fields(sm):
                if sfno == 2 and swt == 2:
                    _metric(metric, base, samples, exemplars)
    return samples, exemplars


# ------------------------------------------------------------- encode

def _fixed64(out: bytearray, fno: int, raw: bytes) -> None:
    _put_uvarint(out, (fno << 3) | 1)
    out += raw


def _enc_attrs(attrs: dict[str, str], field_no: int) -> bytes:
    out = bytearray()
    for k in sorted(attrs):
        kv = bytearray()
        _put_ld(kv, 1, k.encode("utf-8"))
        av = bytearray()
        _put_ld(av, 1, attrs[k].encode("utf-8"))  # string_value
        _put_ld(kv, 2, bytes(av))
        _put_ld(out, field_no, bytes(kv))
    return bytes(out)


def _enc_number_point(
    attrs: dict[str, str], ts_ns: int, vd: float | None, vi: int | None
) -> bytes:
    p = bytearray()
    _fixed64(p, 3, struct.pack("<Q", ts_ns))
    if vd is not None:
        _fixed64(p, 4, struct.pack("<d", vd))
    elif vi is not None:
        _fixed64(p, 6, struct.pack("<q", vi))
    p += _enc_attrs(attrs, 7)
    return bytes(p)


def encode_export_metrics(
    resources: list[
        tuple[
            dict[str, str],
            list[tuple[str, str, list[tuple]]],
        ]
    ],
) -> bytes:
    """Build an uncompressed ExportMetricsServiceRequest.

    `resources` = [(resource_attrs, metrics)]; each metric is
    (name, kind, points) with kind in {"gauge", "sum", "histogram",
    "summary"}:

    - gauge/sum point:   (attrs, ts_ns, value)  — float stores
      as_double, int stores as_int (the oneof the decoder preserves)
    - histogram point:   (attrs, ts_ns, count, sum, bounds, bucket_counts)
    - exponential_histogram point: (attrs, ts_ns, count, sum, scale,
      zero_count, zero_threshold, (pos_offset, pos_counts),
      (neg_offset, neg_counts))
    - summary point:     (attrs, ts_ns, count, sum, [(q, v), ...])

    Sums encode CUMULATIVE + monotonic (temporality=2, is_monotonic),
    the shape OTel counters export. The exporter half of the
    round-trip fixtures; also the reply body builder's sibling."""
    req = bytearray()
    for res_attrs, metrics in resources:
        rm = bytearray()
        if res_attrs:
            _put_ld(rm, 1, _enc_attrs(res_attrs, 1))  # Resource
        sm = bytearray()
        for name, kind, points in metrics:
            m = bytearray()
            _put_ld(m, 1, name.encode("utf-8"))
            if kind in ("gauge", "sum"):
                body = bytearray()
                for attrs, ts_ns, value in points:
                    if isinstance(value, int) and not isinstance(
                        value, bool
                    ):
                        pt = _enc_number_point(attrs, ts_ns, None, value)
                    else:
                        pt = _enc_number_point(
                            attrs, ts_ns, float(value), None
                        )
                    _put_ld(body, 1, pt)
                if kind == "sum":
                    _put_uvarint(body, (2 << 3) | 0)  # temporality
                    _put_uvarint(body, 2)  # CUMULATIVE
                    _put_uvarint(body, (3 << 3) | 0)  # is_monotonic
                    _put_uvarint(body, 1)
                _put_ld(m, 5 if kind == "gauge" else 7, bytes(body))
            elif kind == "histogram":
                body = bytearray()
                for attrs, ts_ns, count, hsum, bounds, bcounts in points:
                    p = bytearray()
                    _fixed64(p, 3, struct.pack("<Q", ts_ns))
                    _fixed64(p, 4, struct.pack("<Q", count))
                    _fixed64(p, 5, struct.pack("<d", hsum))
                    _put_ld(
                        p, 6,
                        b"".join(struct.pack("<Q", c) for c in bcounts),
                    )
                    _put_ld(
                        p, 7,
                        b"".join(struct.pack("<d", b) for b in bounds),
                    )
                    p += _enc_attrs(attrs, 9)
                    _put_ld(body, 1, bytes(p))
                _put_uvarint(body, (2 << 3) | 0)
                _put_uvarint(body, 2)  # CUMULATIVE
                _put_ld(m, 9, bytes(body))
            elif kind == "exponential_histogram":
                body = bytearray()
                for (attrs, ts_ns, count, hsum, scale, zero_count,
                     zero_thr, pos, neg) in points:
                    p = bytearray()
                    p += _enc_attrs(attrs, 1)
                    _fixed64(p, 3, struct.pack("<Q", ts_ns))
                    _fixed64(p, 4, struct.pack("<Q", count))
                    _fixed64(p, 5, struct.pack("<d", hsum))
                    _put_uvarint(p, (6 << 3) | 0)  # sint32 zigzag
                    _put_uvarint(
                        p,
                        (scale << 1) if scale >= 0
                        else ((-scale) << 1) - 1,
                    )
                    _fixed64(p, 7, struct.pack("<Q", zero_count))
                    for fno, (off, counts) in ((8, pos), (9, neg)):
                        b = bytearray()
                        _put_uvarint(b, (1 << 3) | 0)
                        _put_uvarint(
                            b, (off << 1) if off >= 0
                            else ((-off) << 1) - 1
                        )
                        packed = bytearray()
                        for c in counts:
                            _put_uvarint(packed, c)
                        _put_ld(b, 2, bytes(packed))
                        _put_ld(p, fno, bytes(b))
                    _fixed64(p, 14, struct.pack("<d", zero_thr))
                    _put_ld(body, 1, bytes(p))
                _put_uvarint(body, (2 << 3) | 0)
                _put_uvarint(body, 2)  # CUMULATIVE
                _put_ld(m, 10, bytes(body))
            elif kind == "summary":
                body = bytearray()
                for attrs, ts_ns, count, ssum, quants in points:
                    p = bytearray()
                    _fixed64(p, 3, struct.pack("<Q", ts_ns))
                    _fixed64(p, 4, struct.pack("<Q", count))
                    _fixed64(p, 5, struct.pack("<d", ssum))
                    for q, v in quants:
                        qv = bytearray()
                        _fixed64(qv, 1, struct.pack("<d", q))
                        _fixed64(qv, 2, struct.pack("<d", v))
                        _put_ld(p, 6, bytes(qv))
                    p += _enc_attrs(attrs, 7)
                    _put_ld(body, 1, bytes(p))
                _put_ld(m, 11, bytes(body))
            else:
                raise ValueError(f"otlp: unknown metric kind {kind!r}")
            _put_ld(sm, 2, bytes(m))  # ScopeMetrics.metrics
        _put_ld(rm, 2, bytes(sm))  # ResourceMetrics.scope_metrics
        _put_ld(req, 1, bytes(rm))
    return bytes(req)


# -------------------------------------------------------- spark layer

def _unwrap(raw: bytes, encoding: str) -> bytes:
    if encoding == "gzip" or (
        encoding == "auto" and raw[:2] == GZIP_MAGIC
    ):
        import gzip

        return gzip.decompress(raw)
    return raw


def parse_otlp_metrics(
    blobs: DataFrame,
    ts_unit: str = "ns",
    encoding: str = "auto",
) -> DataFrame:
    """Distributed ExportMetricsServiceRequest decode: `blobs` holds one
    request body per row in `content` (binary; gzip bodies
    self-identify by magic under encoding="auto"). Output one row per
    Prometheus-translated sample — parse_remote_write's schema plus an
    exact `value_int` channel: as_int points and bucket/observation
    counts land there as true int64 (exact past 2^53, where the f64
    `value` column — still populated for uniform downstream math —
    rounds). `ts_unit` names the WIRE clock
    ("ns" is what OTLP mandates; unitless test clocks pass their own),
    scaling to native ns like the sibling receivers."""
    if ts_unit not in _UNIT_NS:
        raise ValueError(
            f"ts_unit must be one of {sorted(_UNIT_NS)}, got {ts_unit!r}"
        )
    if encoding not in ("auto", "gzip", "identity"):
        raise ValueError(
            f"encoding must be auto|gzip|identity, got {encoding!r}"
        )
    mult = _UNIT_NS[ts_unit]

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                with malformed_payload("otlp"):
                    raw = _unwrap(bytes(blob), encoding)
                    samples, _ = decode_export_metrics(raw)
                for name, labels, ts, vd, vi in samples:
                    if vi is not None and vi >= 1 << 63:
                        raise ValueError(
                            "otlp: uint64 count exceeds int64 storage"
                        )
                    key = _series_key(name, labels)
                    lk = sorted(labels)
                    lv = [labels[k] for k in lk]
                    rows.append(
                        (
                            name, lk, lv, key,
                            float(vd if vd is not None else vi),
                            vi,
                            ts * mult,
                        )
                    )
            pdf = pd.DataFrame(
                rows,
                columns=[f.name for f in OTLP_PARSED_SCHEMA.fields],
            )
            # straight from the Python ints: a column mixing None with
            # ints infers float64 and would round past 2^53
            pdf["value_int"] = pd.array(
                [r[5] for r in rows], dtype="Int64"
            )
            yield pdf

    return (
        blobs.select("content")
        .mapInPandas(kernel, OTLP_PARSED_SCHEMA)
        .select(
            "name",
            F.map_from_arrays("label_keys", "label_vals").alias("labels"),
            "series_key",
            "value",
            "value_int",
            "ts",
        )
    )


def ingest_otlp(
    conn,
    source: bytes | str | DataFrame,
    ts_unit: str = "ns",
    value_type: str = "f64",
    encoding: str = "auto",
) -> int:
    """Ingest OTLP metrics payload(s) into `conn`. `source` is a single
    request body (bytes — the HTTP POST shape), a path/glob of blob
    files (binaryFile read), or a DataFrame with a binary `content`
    column. The decoded batch goes through the ingest pipeline all five
    wire formats share (series_resolve._ingest_parsed): the whole parse
    materializes BEFORE the catalog mutates, so a malformed blob fails
    the ingest atomically, and integer-typed streams store the exact
    wire int channel (as_int points, counts) past 2^53. Returns samples
    appended."""
    parsed = parse_otlp_metrics(
        _read_blobs(conn, source), ts_unit=ts_unit, encoding=encoding
    )
    return _ingest_parsed(conn, parsed, value_type)


def render_otlp_metrics(
    df: DataFrame,
    name_col: str = "name",
    labels_col: str | None = "labels",
    value_col: str = "value",
    ts_col: str = "ts",
    ts_unit: str = "ns",
    compress: bool = True,
) -> DataFrame:
    """Render (name, labels?, value, ts) rows to gauge-metric
    ExportMetricsServiceRequest blobs — ONE blob per Arrow batch
    (distributed; round-trips through parse_otlp_metrics, gzip when
    `compress`). Rows group into one Metric per distinct name, one
    NumberDataPoint per row with the labels map as point attributes.
    The exporter half: point it at any OTLP/HTTP collector."""
    if ts_unit not in _UNIT_NS:
        raise ValueError(
            f"ts_unit must be one of {sorted(_UNIT_NS)}, got {ts_unit!r}"
        )
    div = _UNIT_NS[ts_unit]
    cols = [
        F.col(name_col).alias("__n"),
        (
            F.map_entries(F.col(labels_col))
            if labels_col is not None
            else F.array().cast("array<struct<key:string,value:string>>")
        ).alias("__l"),
        F.col(value_col).cast("double").alias("__v"),
        # integer division — float division corrupts ns-scale epoch
        # longs (> 2^53) through double rounding
        F.expr(f"CAST({ts_col} AS BIGINT) DIV {div}").alias("__t"),
    ]
    from tachyon_spark.sources.remote_write import RENDERED_SCHEMA

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            per: dict[str, list] = {}
            for n, ents, v, t in zip(
                pdf["__n"], pdf["__l"], pdf["__v"], pdf["__t"]
            ):
                attrs = {}
                for e in ents:
                    k, val = (
                        (e["key"], e["value"])
                        if isinstance(e, dict)
                        else (e[0], e[1])
                    )
                    attrs[k] = val
                per.setdefault(n, []).append((attrs, int(t), float(v)))
            body = encode_export_metrics(
                [
                    (
                        {},
                        [
                            (n, "gauge", sorted(pts, key=lambda p: p[1]))
                            for n, pts in sorted(per.items())
                        ],
                    )
                ]
            )
            if compress:
                import gzip

                body = gzip.compress(body, mtime=0)
            yield pd.DataFrame({"content": [body]})

    return df.select(*cols).mapInPandas(kernel, RENDERED_SCHEMA)
