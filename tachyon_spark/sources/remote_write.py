"""Prometheus remote_write receiver (r15, VERDICT r14 task 1).

remote_write is the *push* wire protocol most real Prometheus
deployments emit: an HTTP POST of a snappy-compressed protobuf
`WriteRequest` (Prometheus remote-write specification 1.0, or the 2.0
`io.prometheus.write.v2.Request` with symbol-interned labels;
prometheus/prompb — public). This module hand-rolls the two codecs in
the repo's established dependency-free style (functions/codecs.py does
the same for PNG/APNG/WAV):

- **snappy block format** (google/snappy format_description.txt):
  varint uncompressed-length preamble, then a stream of literal /
  copy1 / copy2 / copy4 elements; copies may overlap forward
  (offset < length → byte-at-a-time replication). The encoder here is
  a greedy 4-byte hash matcher — real compression, and every decoder
  path (including overlap) is exercised by round-trip tests.
- **protobuf wire walk**: one decoder, `decode_write_request`, walks
  each TimeSeries once for both protos and returns its labels,
  samples, native histograms and exemplars (the message tree is in the
  comment above it; a new message field goes into that walk). Unknown
  fields skip by wire type.

The receiver stores samples and native histograms, the latter
translated to classic `<name>_bucket{le}`/`_sum`/`_count` series (the
OTLP receiver's exponential-histogram translation, sharing its bucket
ladder); Prometheus staleness markers drop. Exemplars are stored by
tachyon_spark/exemplars.py from the same decode.

Scale shape: decode runs DISTRIBUTED — `parse_remote_write` is an
Arrow-batched `mapInPandas` over binary payload rows (one row per
WriteRequest blob; the bytes never leave the batch), the same kernel
shape as functions/multimodal.py. Series registration and the sample
join ride the ingest pipeline all five wire formats share
(sources/series_resolve.py) — no driver-side catalog collect.

Reference parity: the reference engine's HTTP shell
(tachyon_web_backend/src/main.rs:10-88) serves queries only; this is
beyond-reference ingest surface, third wire protocol next to
line_protocol.py and openmetrics.py.
"""

from __future__ import annotations

import struct
from functools import partial
from itertools import accumulate

from pyspark.sql import DataFrame, functions as F, types as T

from tachyon_spark.promapi import _escape_label
from tachyon_spark.sources.series_resolve import (
    _ingest_parsed,
    _read_blobs,
    malformed_payload,
)

__all__ = [
    "decode_write_request",
    "encode_write_request",
    "ingest_remote_write",
    "parse_remote_write",
    "render_remote_write",
    "snappy_compress",
    "snappy_decompress",
]

_UNIT_NS = {"s": 1_000_000_000, "ms": 1_000_000, "us": 1_000, "ns": 1}


# --------------------------------------------------------------- snappy

def _uvarint(buf: bytes, i: int) -> tuple[int, int]:
    """LE base-128 varint at buf[i:] -> (value, next index)."""
    val = shift = 0
    while True:
        if i >= len(buf):
            raise ValueError("snappy/proto: truncated varint")
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7
        if shift > 63:
            raise ValueError("snappy/proto: varint overflow")


def _put_uvarint(out: bytearray, val: int) -> None:
    while val >= 0x80:
        out.append((val & 0x7F) | 0x80)
        val >>= 7
    out.append(val)


def _put_ld(out: bytearray, fno: int, body: bytes) -> None:
    """Append field `fno` as a length-delimited (wire type 2) field."""
    _put_uvarint(out, (fno << 3) | 2)
    _put_uvarint(out, len(body))
    out += body


def snappy_decompress(data: bytes) -> bytes:
    """Decode the snappy BLOCK format (what remote_write bodies use —
    not the framing/stream format). Handles all four element kinds and
    overlapping copies; malformed input raises ValueError."""
    n, i = _uvarint(data, 0)
    out = bytearray()
    ln = len(data)
    while i < ln:
        tag = data[i]
        i += 1
        kind = tag & 3
        if kind == 0:  # literal
            length = tag >> 2
            if length >= 60:  # 60..63: length-1 in next 1..4 LE bytes
                nb = length - 59
                if i + nb > ln:
                    raise ValueError("snappy: truncated literal length")
                length = int.from_bytes(data[i : i + nb], "little")
                i += nb
            length += 1
            if i + length > ln:
                raise ValueError("snappy: truncated literal")
            out += data[i : i + length]
            i += length
            continue
        if kind == 1:  # copy, 1-byte offset: len 4..11, 11-bit offset
            length = ((tag >> 2) & 0x7) + 4
            if i >= ln:
                raise ValueError("snappy: truncated copy1")
            offset = ((tag >> 5) << 8) | data[i]
            i += 1
        elif kind == 2:  # copy, 2-byte LE offset: len 1..64
            length = (tag >> 2) + 1
            if i + 2 > ln:
                raise ValueError("snappy: truncated copy2")
            offset = int.from_bytes(data[i : i + 2], "little")
            i += 2
        else:  # copy, 4-byte LE offset
            length = (tag >> 2) + 1
            if i + 4 > ln:
                raise ValueError("snappy: truncated copy4")
            offset = int.from_bytes(data[i : i + 4], "little")
            i += 4
        if offset == 0 or offset > len(out):
            raise ValueError("snappy: copy offset out of range")
        src = len(out) - offset
        if offset >= length:  # disjoint — one slice copy
            out += out[src : src + length]
        else:  # overlapping — replicate forward byte-at-a-time semantics
            for k in range(length):
                out.append(out[src + k])
    if len(out) != n:
        raise ValueError(
            f"snappy: declared length {n} != decoded {len(out)}"
        )
    return bytes(out)


def snappy_compress(data: bytes) -> bytes:
    """Greedy snappy block encoder: 4-byte hash table, copy2/copy4
    emission, literals between matches. Always a VALID block stream —
    compression quality is secondary to exercising the decoder."""
    out = bytearray()
    _put_uvarint(out, len(data))
    n = len(data)

    def emit_literal(lo: int, hi: int) -> None:
        while lo < hi:
            length = min(hi - lo, 0x100000000)
            lm1 = length - 1
            if lm1 < 60:
                out.append(lm1 << 2)
            else:
                nb = (lm1.bit_length() + 7) // 8
                out.append((59 + nb) << 2)
                out.extend(lm1.to_bytes(nb, "little"))
            out.extend(data[lo : lo + length])
            lo += length

    table: dict[int, int] = {}
    i = lit = 0
    while i + 4 <= n:
        key = int.from_bytes(data[i : i + 4], "little")
        cand = table.get(key)
        table[key] = i
        if cand is not None and data[cand : cand + 4] == data[i : i + 4]:
            offset = i - cand
            # extend the match
            m = 4
            while i + m < n and data[cand + m] == data[i + m]:
                m += 1
            emit_literal(lit, i)
            while m > 0:
                length = min(m, 64)
                if length < 4 and m != length:
                    break  # leave tiny tail to literals
                if offset < 65536:
                    out.append(((length - 1) << 2) | 2)
                    out += offset.to_bytes(2, "little")
                else:
                    out.append(((length - 1) << 2) | 3)
                    out += offset.to_bytes(4, "little")
                i += length
                m -= length
            lit = i
        else:
            i += 1
    emit_literal(lit, n)
    return bytes(out)


# ------------------------------------------------------------- protobuf
#
# The two message trees, remote-write 1.0 (prompb.WriteRequest,
# prometheus/prompb remote.proto + types.proto) and 2.0
# (io.prometheus.write.v2.Request, prometheus/prompb/io/prometheus/
# write/v2/types.proto; a sender selects it with `Content-Type:
# application/x-protobuf;proto=io.prometheus.write.v2.Request`):
#
#   WriteRequest{ repeated TimeSeries timeseries = 1 }               v1
#   Request{ repeated string symbols = 4 (symbols[0] MUST be ""),
#            repeated TimeSeries timeseries = 5 }                    v2
#   TimeSeries{ labels = 1, repeated Sample samples = 2,
#               v1: repeated Exemplar exemplars = 3,
#                   repeated Histogram histograms = 4;
#               v2: histograms = 3, exemplars = 4, metadata = 5,
#                   created_timestamp = 6 }
#   labels   v1: repeated Label{ string name = 1, string value = 2 }
#            v2: repeated uint32 labels_refs (packed; pairs of symbol
#                refs: name, value)
#   Sample{ double value = 1 (fixed64), int64 timestamp = 2 (ms) }
#   Exemplar{ labels = 1 (as the series'), double value = 2,
#             int64 timestamp = 3 (ms) }
#
# Unknown fields skip by wire type at every level (forward
# compatibility: a newer sender's fields must not break ingest).

def _fields(buf: bytes):
    """Yield (field_number, wire_type, payload) triples; payload is the
    varint value (wt 0), raw bytes (wt 1/5) or sub-message bytes (wt 2).
    Unknown wire types raise; unknown FIELDS are the caller's to skip
    (they arrive here like any other)."""
    i, n = 0, len(buf)
    while i < n:
        key, i = _uvarint(buf, i)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            val, i = _uvarint(buf, i)
            yield fno, wt, val
        elif wt == 1:
            if i + 8 > n:
                raise ValueError("remote_write: truncated fixed64")
            yield fno, wt, buf[i : i + 8]
            i += 8
        elif wt == 2:
            ln, i = _uvarint(buf, i)
            if i + ln > n:
                raise ValueError("remote_write: truncated field")
            yield fno, wt, buf[i : i + ln]
            i += ln
        elif wt == 5:
            if i + 4 > n:
                raise ValueError("remote_write: truncated fixed32")
            yield fno, wt, buf[i : i + 4]
            i += 4
        else:
            raise ValueError(f"remote_write: unsupported wire type {wt}")


def _int64(u: int) -> int:
    """An int64 varint (two's complement, 10 bytes when negative)."""
    return u - (1 << 64) if u >= 1 << 63 else u


def _zigzag64(n: int) -> int:
    """A sint32/sint64 (zigzag) varint."""
    return (n >> 1) ^ -(n & 1)


def _packed_varints(pay: bytes) -> list[int]:
    """A packed repeated varint field."""
    out, i = [], 0
    while i < len(pay):
        v, i = _uvarint(pay, i)
        out.append(v)
    return out


def _packed64(pay: bytes, wt: int, fmt: str = "<d") -> list:
    """A repeated double (or fixed64, `fmt` "<Q") field: packed (wt 2)
    per proto3, or one unpacked element (wt 1), which a conforming
    decoder must also accept."""
    if wt != 2:
        return [struct.unpack(fmt, pay)[0]]
    if len(pay) % 8:
        raise ValueError("protobuf: ragged packed 64-bit field")
    return [v for (v,) in struct.iter_unpack(fmt, pay)]


def _v1_labels(items: list[tuple[int, bytes]]) -> dict[str, str]:
    """The field-1 entries (wire type, payload) of a v1 TimeSeries or
    Exemplar, each a Label message -> {name: value}."""
    labels = {}
    for wt, pay in items:
        if wt == 2:
            name = value = ""
            for fno, lwt, p in _fields(pay):
                if fno == 1 and lwt == 2:
                    name = p.decode("utf-8")
                elif fno == 2 and lwt == 2:
                    value = p.decode("utf-8")
            labels[name] = value
    return labels


def _v2_labels(
    symbols: list[str], items: list[tuple[int, bytes]]
) -> dict[str, str]:
    """The field-1 entries of a v2 TimeSeries or Exemplar, symbol refs
    packed (wt 2) or one per entry (wt 0) -> {name: value}."""
    refs = []
    for wt, pay in items:
        if wt == 2:
            refs += _packed_varints(pay)
        elif wt == 0:
            refs.append(pay)
    if len(refs) % 2:
        raise ValueError(
            "remote_write v2: labels_refs must hold (name, value) "
            f"pairs, got {len(refs)} refs"
        )
    labels = {}
    for n, v in zip(refs[::2], refs[1::2]):
        if n >= len(symbols) or v >= len(symbols):
            raise ValueError(
                "remote_write v2: symbol ref out of range "
                f"({max(n, v)} >= {len(symbols)})"
            )
        labels[symbols[n]] = symbols[v]
    return labels


def _sample(pay: bytes) -> tuple[int, float]:
    val, ts = 0.0, 0
    for fno, wt, p in _fields(pay):
        if fno == 1 and wt == 1:
            val = struct.unpack("<d", p)[0]
        elif fno == 2 and wt == 0:
            ts = _int64(p)
    return ts, val


def _exemplar(pay: bytes, labels_of) -> tuple[dict[str, str], int, float]:
    lab, val, ts = [], 0.0, 0
    for fno, wt, p in _fields(pay):
        if fno == 1:
            lab.append((wt, p))
        elif fno == 2 and wt == 1:
            val = struct.unpack("<d", p)[0]
        elif fno == 3 and wt == 0:
            ts = _int64(p)
    return labels_of(lab), ts, val


# per proto: the request's TimeSeries field, then a TimeSeries'
# histograms and exemplars fields
_FIELDS = {"1": (1, 4, 3), "2": (5, 3, 4)}


def decode_write_request(
    data: bytes, proto: str = "1"
) -> list[tuple[dict[str, str], list, list, list]]:
    """Uncompressed WriteRequest (`proto` "1") or v2 Request ("2")
    bytes -> one (labels incl __name__, samples, histograms, exemplars)
    per TimeSeries, in wire order:

    - samples [(timestamp_ms, value)];
    - native histograms [(ts_ms, count, sum, ladder)], see
      _decode_native_histogram;
    - exemplars [(exemplar labels, timestamp_ms, value)] (the trace
      breadcrumbs Grafana links from; labels are typically
      trace_id/span_id).

    The proto picks only the field numbers and the label decoder. v2
    raises on a non-empty symbol 0, an odd labels_refs arity or an
    out-of-range ref: each a spec violation a receiver must reject
    rather than misattribute samples to the wrong series."""
    series_f, hist_f, ex_f = _FIELDS[proto]
    symbols: list[str] = []
    series: list[bytes] = []
    for fno, wt, pay in _fields(data):
        if fno == series_f and wt == 2:
            series.append(pay)
        elif proto == "2" and fno == 4 and wt == 2:
            symbols.append(pay.decode("utf-8"))
    labels_of = _v1_labels
    if proto == "2":
        if series and (not symbols or symbols[0] != ""):
            raise ValueError(
                "remote_write v2: symbols[0] must be the empty string"
            )
        labels_of = partial(_v2_labels, symbols)
    out = []
    for ts_pay in series:
        lab, samples, hists, exemplars = [], [], [], []
        for fno, wt, pay in _fields(ts_pay):
            if fno == 1:
                lab.append((wt, pay))
            elif wt != 2:
                continue
            elif fno == 2:
                samples.append(_sample(pay))
            elif fno == hist_f:
                hists.append(_decode_native_histogram(pay))
            elif fno == ex_f:
                exemplars.append(_exemplar(pay, labels_of))
        out.append((labels_of(lab), samples, hists, exemplars))
    return out


def encode_write_request(
    series: list[tuple[dict[str, str], list[tuple[int, float]]]],
    proto: str = "1",
) -> bytes:
    """Inverse of decode_write_request for [(labels incl __name__,
    [(timestamp_ms, value), ...])] (uncompressed). Labels encode in
    sorted order (the spec requires sorted, de-duplicated label names);
    v2 interns them in the symbol table (symbols[0] = "" per spec, then
    first-use order) and writes packed labels_refs pairs."""
    interned = {"": 0}  # v2 symbol -> ref; insertion order is ref order
    req = bytearray()
    for labels, samples in series:
        ts_msg = bytearray()
        if proto == "1":
            for k in sorted(labels):
                lab = bytearray()
                _put_ld(lab, 1, k.encode("utf-8"))
                _put_ld(lab, 2, labels[k].encode("utf-8"))
                _put_ld(ts_msg, 1, lab)
        else:
            refs = bytearray()
            for k in sorted(labels):
                for s in (k, labels[k]):
                    _put_uvarint(refs, interned.setdefault(s, len(interned)))
            _put_ld(ts_msg, 1, refs)
        for ts, val in samples:
            smp = bytearray(b"\x09")  # value: field 1, fixed64
            smp += struct.pack("<d", val)
            smp.append(0x10)  # timestamp: field 2, varint
            _put_uvarint(smp, ts & 0xFFFFFFFFFFFFFFFF)
            _put_ld(ts_msg, 2, smp)
        _put_ld(req, _FIELDS[proto][0], ts_msg)
    if proto == "2":
        symbols = bytearray()
        for s in interned:
            _put_ld(symbols, 4, s.encode("utf-8"))
        req[:0] = symbols
    return bytes(req)


# ----------------------------------------------------- native histograms
#
# prompb.Histogram (types.proto) — Prometheus's sparse
# exponential-bucket "native histogram", carried on TimeSeries field 4
# (v1) / field 3 (v2). Base-2 buckets like OTLP's exponential
# histograms but with a DIFFERENT indexing convention (positive bucket
# index i covers (base^(i-1), base^i], so its le is base^i) and a
# span+delta encoding:
#
#   Histogram{ oneof count: uint64 count_int=1 | double count_float=2;
#              double sum=3; sint32 schema=4 (zigzag);
#              double zero_threshold=5;
#              oneof zero_count: uint64 int=6 | double float=7;
#              repeated BucketSpan negative_spans=8;
#              repeated sint64 negative_deltas=9 (packed, zigzag);
#              repeated double negative_counts=10 (packed, float hist);
#              repeated BucketSpan positive_spans=11;
#              repeated sint64 positive_deltas=12;
#              repeated double positive_counts=13;
#              reset_hint=14; int64 timestamp=15 }
#   BucketSpan{ sint32 offset=1 (zigzag; first span absolute, later
#               spans are gaps from the previous span's end),
#               uint32 length=2 }
#
# Integer histograms delta-encode counts (count_k = count_{k-1} +
# delta_k); float histograms carry absolute counts. The decoder
# flattens spans+counts to (absolute index, count) pairs and
# translates to the classic ascending-le cumulative ladder the engine
# stores (_exp_ladder, shared with the OTLP exponential translation).
# Schemas outside [-4, 8] are rejected, among them the custom-bucket
# schema -53, whose buckets are not exponential.

def _span_buckets(
    spans: list[bytes], deltas: list[int], floats: list[float]
) -> list[tuple[int, float]]:
    """BucketSpan messages + (delta-encoded int counts | absolute float
    counts) -> [(absolute bucket index, count)], counts as floats."""
    counts = floats or [float(c) for c in accumulate(deltas)]
    offs_lens = []
    for pay in spans:
        off = ln = 0
        for fno, wt, p in _fields(pay):
            if fno == 1 and wt == 0:
                off = _zigzag64(p)
            elif fno == 2 and wt == 0:
                ln = p
        offs_lens.append((off, ln))
    total = sum(ln for _, ln in offs_lens)
    if total != len(counts):
        raise ValueError(
            "remote_write: histogram span lengths disagree with "
            f"bucket count ({total} vs {len(counts)})"
        )
    out: list[tuple[int, float]] = []
    idx = k = 0
    for n, (off, ln) in enumerate(offs_lens):
        idx = off if n == 0 else idx + off
        out += zip(range(idx, idx + ln), counts[k : k + ln])
        idx += ln
        k += ln
    return out


def _exp_ladder(scale: int, neg: list, zero_thr: float, zero_count,
                pos: list) -> list[tuple[float, object]]:
    """Base-2 exponential buckets (base = 2^(2^-scale)) -> the classic
    ascending-le cumulative ladder [(le, cumulative count)]. `neg` and
    `pos` hold (index, count) pairs indexed so that a bucket's le is
    -base^index (negative side) or base^index (positive side); each
    caller shifts its own convention to that. Empty buckets drop; the
    zero bucket's le is `zero_thr`."""
    inv = 2.0 ** -scale
    ladder = [
        (-(2.0 ** (i * inv)), c)
        for i, c in sorted(neg, key=lambda t: -t[0]) if c
    ]
    if zero_count:
        ladder.append((zero_thr, zero_count))
    ladder += [(2.0 ** (i * inv), c) for i, c in sorted(pos) if c]
    cum, out = 0, []
    for le, c in ladder:
        cum += c
        out.append((le, cum))
    return out


def _decode_native_histogram(pay: bytes):
    """Histogram message -> (ts_ms, count, sum, ladder) where ladder is
    the classic ascending-le cumulative [(le_float, cum_count)]."""
    count = hsum = zero_thr = zero_count = 0.0
    schema = ts = 0
    # spans, int deltas, float counts: fields 8-10 for the negative
    # buckets, 11-13 for the positive ones
    side: dict[int, list] = {f: [] for f in range(8, 14)}
    for fno, wt, p in _fields(pay):
        if fno == 1 and wt == 0:
            count = float(p)
        elif fno == 2 and wt == 1:
            count = struct.unpack("<d", p)[0]
        elif fno == 3 and wt == 1:
            hsum = struct.unpack("<d", p)[0]
        elif fno == 4 and wt == 0:
            schema = _zigzag64(p)
        elif fno == 5 and wt == 1:
            zero_thr = struct.unpack("<d", p)[0]
        elif fno == 6 and wt == 0:
            zero_count = float(p)
        elif fno == 7 and wt == 1:
            zero_count = struct.unpack("<d", p)[0]
        elif fno in (8, 11) and wt == 2:
            side[fno].append(p)
        elif fno in (9, 12) and wt in (0, 2):
            side[fno] += map(
                _zigzag64, _packed_varints(p) if wt == 2 else [p]
            )
        elif fno in (10, 13) and wt in (1, 2):
            side[fno] += _packed64(p, wt)
        elif fno == 15 and wt == 0:
            ts = _int64(p)
        # reset_hint (14) and future fields skip
    if not -4 <= schema <= 8:
        raise ValueError(
            f"remote_write: native histogram schema {schema} outside "
            "[-4, 8]"
        )
    neg = _span_buckets(side[8], side[9], side[10])
    pos = _span_buckets(side[11], side[12], side[13])
    # negative bucket i covers [-base^i, -base^(i-1)): its le (largest
    # admitted value) is -base^(i-1)
    ladder = _exp_ladder(
        schema, [(i - 1, c) for i, c in neg], zero_thr, zero_count, pos
    )
    return ts, count, hsum, ladder


# ------------------------------------------------------- spark surface

def _series_key(name: str, labels: dict[str, str]) -> str:
    # promapi._escape_label is byte-identical to the column form the
    # catalog join keys on (series_resolve.escape_label_col)
    body = ",".join(
        f'{k}="{_escape_label(v)}"' for k, v in sorted(labels.items())
    )
    return f"{name}{{{body}}}"


PARSED_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("label_keys", T.ArrayType(T.StringType()), False),
        T.StructField("label_vals", T.ArrayType(T.StringType()), False),
        T.StructField("series_key", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("ts", T.LongType(), False),
    ]
)


# Prometheus staleness marker: the quiet-NaN bit pattern
# (value.go StaleNaN) a scraper writes when a series disappears —
# semantically "series ended here", NOT a sample. Distinguishable from
# real NaN data (0/0 arithmetic) only by exact bits.
STALE_NAN_BITS = 0x7FF0000000000002
_STALE_NAN = struct.pack("<Q", STALE_NAN_BITS)


def _is_stale(v: float) -> bool:
    return v != v and struct.pack("<d", v) == _STALE_NAN


def parse_remote_write(
    blobs: DataFrame,
    ts_unit: str = "ms",
    compressed: bool = True,
    proto: str = "1",
) -> DataFrame:
    """Distributed WriteRequest decode: `blobs` holds one snappy+proto
    payload per row in `content` (binary). Output one row per
    sample: (name, labels map, series_key, value double, ts long scaled
    to native units by `ts_unit` — "ms" is the wire unit the 1.0 spec
    mandates; unitless test clocks pass "ns"). A series without the
    __name__ label violates the spec and raises. `proto` selects the
    message format: "1" = prompb.WriteRequest (remote-write 1.0), "2" =
    io.prometheus.write.v2.Request (2.0, symbol-interned labels) — the
    spec negotiates via Content-Type, never by sniffing, so there is
    deliberately no "auto".

    Staleness markers (the StaleNaN bit pattern Prometheus writes when
    a scraped series disappears) are a liveness delimiter, not data:
    they drop, while real NaN data like 0/0 passes through (the
    distinction is the exact bit pattern). Native (sparse
    exponential-bucket) histograms translate into classic
    `<name>_bucket{le=...}`/`_sum`/`_count` rows — the same
    ascending-le cumulative translation the OTLP receiver applies, so
    a native-histogram sender's data stays queryable with
    histogram_quantile."""
    if ts_unit not in _UNIT_NS:
        raise ValueError(
            f"ts_unit must be one of {sorted(_UNIT_NS)}, got {ts_unit!r}"
        )
    if proto not in _FIELDS:
        raise ValueError(f"proto must be '1' or '2', got {proto!r}")
    mult = _UNIT_NS[ts_unit]

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                with malformed_payload("remote_write"):
                    raw = bytes(blob)
                    if compressed:
                        raw = snappy_decompress(raw)
                    decoded = decode_write_request(raw, proto)
                for labels, samples, hists, _ in decoded:
                    name = labels.pop("__name__", None)
                    if name is None:
                        raise ValueError(
                            "remote_write: series without __name__ "
                            f"label (labels: {sorted(labels)[:5]})"
                        )
                    key = _series_key(name, labels)
                    lk = sorted(labels)
                    lv = [labels[k] for k in lk]
                    rows += [
                        (name, lk, lv, key, val, ts * mult)
                        for ts, val in samples if not _is_stale(val)
                    ]
                    for ts, count, hsum, ladder in hists:
                        series = [
                            (f"{name}_bucket", {"le": repr(float(le))}, cum)
                            for le, cum in ladder
                        ]
                        series += [
                            (f"{name}_bucket", {"le": "+Inf"}, count),
                            (f"{name}_sum", {}, hsum),
                            (f"{name}_count", {}, count),
                        ]
                        for n, extra, v in series:
                            lbs = {**labels, **extra}
                            k2 = sorted(lbs)
                            rows.append((
                                n, k2, [lbs[x] for x in k2],
                                _series_key(n, lbs), v, ts * mult,
                            ))
            yield pd.DataFrame(
                rows, columns=[f.name for f in PARSED_SCHEMA.fields]
            )

    return (
        blobs.select("content")
        .mapInPandas(kernel, PARSED_SCHEMA)
        .select(
            "name",
            F.map_from_arrays("label_keys", "label_vals").alias("labels"),
            "series_key",
            "value",
            "ts",
        )
    )


def ingest_remote_write(
    conn,
    source: bytes | str | DataFrame,
    ts_unit: str = "ms",
    value_type: str = "f64",
    compressed: bool = True,
    proto: str = "1",
) -> int:
    """Ingest remote_write payload(s) into `conn`. `source` is a single
    request body (bytes — the HTTP POST shape), a path/glob of blob
    files (spark binaryFile read), or a DataFrame with a binary
    `content` column. The decoded batch goes through the ingest
    pipeline all five wire formats share (series_resolve._ingest_parsed):
    the whole parse materializes BEFORE the catalog mutates, so a
    malformed blob fails the ingest atomically. Returns samples
    appended.

    Values are wire doubles (the Sample message carries only f64), so
    integer-typed streams store the long cast of the double — exact for
    magnitudes < 2^53, the protocol's own precision bound. `proto` is
    "1" (prompb.WriteRequest) or "2" (io.prometheus.write.v2.Request,
    remote-write 2.0 — symbol-interned labels; the HTTP endpoint
    negotiates it from Content-Type)."""
    parsed = parse_remote_write(
        _read_blobs(conn, source), ts_unit=ts_unit,
        compressed=compressed, proto=proto,
    )
    return _ingest_parsed(conn, parsed, value_type)


RENDERED_SCHEMA = T.StructType(
    [T.StructField("content", T.BinaryType(), False)]
)


def render_remote_write(
    df: DataFrame,
    name_col: str = "name",
    labels_col: str | None = "labels",
    value_col: str = "value",
    ts_col: str = "ts",
    ts_unit: str = "ms",
    compress: bool = True,
    proto: str = "1",
) -> DataFrame:
    """Render (name, labels?, value, ts) rows to WriteRequest blobs —
    ONE blob per Arrow batch (distributed; round-trips through
    parse_remote_write). `ts_unit` scales native ts down to the wire's
    ms unit. `proto` "2" emits io.prometheus.write.v2.Request bodies
    (symbol-interned). The exporter half: point it at any remote_write
    endpoint."""
    if ts_unit not in _UNIT_NS:
        raise ValueError(
            f"ts_unit must be one of {sorted(_UNIT_NS)}, got {ts_unit!r}"
        )
    if proto not in _FIELDS:
        raise ValueError(f"proto must be '1' or '2', got {proto!r}")
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

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            per: dict[tuple, list] = {}
            for n, ents, v, t in zip(
                pdf["__n"], pdf["__l"], pdf["__v"], pdf["__t"]
            ):
                labels = {"__name__": n}
                for e in ents:
                    k, val = (
                        (e["key"], e["value"])
                        if isinstance(e, dict)
                        else (e[0], e[1])
                    )
                    labels[k] = val
                per.setdefault(tuple(sorted(labels.items())), []).append(
                    (int(t), float(v))
                )
            body = encode_write_request(
                [(dict(k), sorted(v)) for k, v in sorted(per.items())],
                proto,
            )
            if compress:
                body = snappy_compress(body)
            yield pd.DataFrame({"content": [body]})

    return df.select(*cols).mapInPandas(kernel, RENDERED_SCHEMA)
