"""Prometheus remote_write receiver (r15, VERDICT r14 task 1).

remote_write is the *push* wire protocol most real Prometheus
deployments emit: an HTTP POST of a snappy-compressed protobuf
`WriteRequest` (Prometheus remote-write specification 1.0;
prometheus/prompb/remote.proto + types.proto — both public). This
module hand-rolls the two codecs in the repo's established
dependency-free style (functions/codecs.py does the same for
PNG/APNG/WAV):

- **snappy block format** (google/snappy format_description.txt):
  varint uncompressed-length preamble, then a stream of literal /
  copy1 / copy2 / copy4 elements; copies may overlap forward
  (offset < length → byte-at-a-time replication). The encoder here is
  a greedy 4-byte hash matcher — real compression, and every decoder
  path (including overlap) is exercised by round-trip tests.
- **protobuf wire walk** for exactly the WriteRequest message tree:
  WriteRequest{ repeated TimeSeries timeseries = 1 },
  TimeSeries{ repeated Label labels = 1, repeated Sample samples = 2 },
  Label{ string name = 1, string value = 2 },
  Sample{ double value = 1 (fixed64), int64 timestamp = 2 (ms) }.
  Unknown fields skip by wire type (forward compatibility — a 2.0
  sender's metadata/exemplar fields must not break ingest).

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

from pyspark.sql import DataFrame, functions as F, types as T

from tachyon_spark.sources.series_resolve import _ingest_parsed, _read_blobs

__all__ = [
    "decode_write_request",
    "decode_write_request_histograms",
    "decode_write_request_v2",
    "encode_write_request",
    "encode_write_request_v2",
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

def _skip_field(buf: bytes, i: int, wt: int) -> int:
    if wt == 0:
        return _uvarint(buf, i)[1]
    if wt == 1:
        return i + 8
    if wt == 2:
        ln, i = _uvarint(buf, i)
        return i + ln
    if wt == 5:
        return i + 4
    raise ValueError(f"remote_write: unsupported wire type {wt}")


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


def decode_write_request(
    data: bytes,
) -> list[tuple[dict[str, str], list[tuple[int, float]]]]:
    """Uncompressed WriteRequest bytes ->
    [(labels incl __name__, [(timestamp_ms, value), ...]), ...].
    int64 timestamps decode signed (two's complement 10-byte varints);
    unknown fields at every level skip cleanly."""
    import struct

    series = []
    for fno, wt, payload in _fields(data):
        if fno != 1 or wt != 2:
            continue  # metadata (field 3) and future fields skip
        labels: dict[str, str] = {}
        samples: list[tuple[int, float]] = []
        for sfno, swt, spay in _fields(payload):
            if sfno == 1 and swt == 2:  # Label
                name = value = ""
                for lfno, lwt, lpay in _fields(spay):
                    if lfno == 1 and lwt == 2:
                        name = lpay.decode("utf-8")
                    elif lfno == 2 and lwt == 2:
                        value = lpay.decode("utf-8")
                labels[name] = value
            elif sfno == 2 and swt == 2:  # Sample
                val, ts = 0.0, 0
                for pfno, pwt, ppay in _fields(spay):
                    if pfno == 1 and pwt == 1:
                        val = struct.unpack("<d", ppay)[0]
                    elif pfno == 2 and pwt == 0:
                        ts = ppay - (1 << 64) if ppay >= 1 << 63 else ppay
                samples.append((ts, val))
            # exemplars (3) / histograms (4) skip — samples-only receiver
        series.append((labels, samples))
    return series


def encode_write_request(
    series: list[tuple[dict[str, str], list[tuple[int, float]]]],
) -> bytes:
    """Inverse of decode_write_request (uncompressed). Labels encode in
    sorted order (the spec requires sorted, de-duplicated label names)."""
    import struct

    def ld(out: bytearray, fno: int, body: bytes) -> None:
        _put_uvarint(out, (fno << 3) | 2)
        _put_uvarint(out, len(body))
        out += body

    req = bytearray()
    for labels, samples in series:
        ts_msg = bytearray()
        for k in sorted(labels):
            lab = bytearray()
            ld(lab, 1, k.encode("utf-8"))
            ld(lab, 2, labels[k].encode("utf-8"))
            ld(ts_msg, 1, bytes(lab))
        for ts, val in samples:
            smp = bytearray()
            _put_uvarint(smp, (1 << 3) | 1)
            smp += struct.pack("<d", val)
            _put_uvarint(smp, (2 << 3) | 0)
            _put_uvarint(smp, ts & 0xFFFFFFFFFFFFFFFF)
            ld(ts_msg, 2, bytes(smp))
        ld(req, 1, bytes(ts_msg))
    return bytes(req)


# ----------------------------------------- native histograms (r15)
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
# stores (same shape as the OTLP exponential translation).

def _zigzag64(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _packed_varints(pay: bytes) -> list[int]:
    out, i = [], 0
    while i < len(pay):
        v, i = _uvarint(pay, i)
        out.append(v)
    return out


def _bucket_spans(items: list[bytes]) -> list[tuple[int, int]]:
    spans = []
    for pay in items:
        off = ln = 0
        for fno, wt, p in _fields(pay):
            if fno == 1 and wt == 0:
                off = _zigzag64(p)
            elif fno == 2 and wt == 0:
                ln = p
        spans.append((off, ln))
    return spans


def _span_buckets(
    spans: list[tuple[int, int]],
    deltas: list[int],
    floats: list[float],
) -> list[tuple[int, float]]:
    """spans + (delta-encoded int counts | absolute float counts) ->
    [(absolute bucket index, count)]."""
    counts: list[float]
    if floats:
        counts = floats
    else:
        counts, run = [], 0
        for d in deltas:
            run += d
            counts.append(run)
    out = []
    idx = 0
    k = 0
    first = True
    for off, ln in spans:
        idx = off if first else idx + off
        first = False
        for _ in range(ln):
            if k < len(counts):
                out.append((idx, counts[k]))
            k += 1
            idx += 1
    if k != len(counts):
        raise ValueError(
            "remote_write: histogram span lengths disagree with "
            f"bucket count ({k} vs {len(counts)})"
        )
    return out


def _decode_native_histogram(pay: bytes):
    """Histogram message -> (ts_ms, count, sum, ladder) where ladder is
    the classic ascending-le cumulative [(le_float_or_inf, cum_count)]."""
    import struct

    count = 0.0
    hsum = 0.0
    schema = 0
    zero_thr = 0.0
    zero_count = 0.0
    ts = 0
    neg_spans_raw: list[bytes] = []
    pos_spans_raw: list[bytes] = []
    neg_deltas: list[int] = []
    pos_deltas: list[int] = []
    neg_floats: list[float] = []
    pos_floats: list[float] = []

    def _doubles(p: bytes, wt: int) -> list[float]:
        if wt == 2:
            return [
                struct.unpack_from("<d", p, i)[0]
                for i in range(0, len(p), 8)
            ]
        return [struct.unpack("<d", p)[0]]

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
        elif fno == 8 and wt == 2:
            neg_spans_raw.append(p)
        elif fno == 9 and wt in (0, 2):
            neg_deltas += [
                _zigzag64(v)
                for v in (_packed_varints(p) if wt == 2 else [p])
            ]
        elif fno == 10 and wt in (1, 2):
            neg_floats += _doubles(p, wt)
        elif fno == 11 and wt == 2:
            pos_spans_raw.append(p)
        elif fno == 12 and wt in (0, 2):
            pos_deltas += [
                _zigzag64(v)
                for v in (_packed_varints(p) if wt == 2 else [p])
            ]
        elif fno == 13 and wt in (1, 2):
            pos_floats += _doubles(p, wt)
        elif fno == 15 and wt == 0:
            ts = p - (1 << 64) if p >= 1 << 63 else p
        # reset_hint (14) and future fields skip
    inv = 2.0 ** (-schema)

    def ub(index: int) -> float:  # base^index
        return 2.0 ** (index * inv)

    neg = _span_buckets(
        _bucket_spans(neg_spans_raw), neg_deltas, neg_floats
    )
    pos = _span_buckets(
        _bucket_spans(pos_spans_raw), pos_deltas, pos_floats
    )
    ladder: list[tuple[float, float]] = []
    # negative bucket index i covers [-base^i, -base^(i-1)) -> its le
    # (largest admitted value) is -base^(i-1); ascending le = most
    # negative (largest index) first
    for idx, c in sorted(neg, key=lambda t: -t[0]):
        if c:
            ladder.append((-ub(idx - 1), c))
    if zero_count:
        ladder.append((zero_thr, zero_count))
    # positive bucket index i covers (base^(i-1), base^i] -> le base^i
    for idx, c in sorted(pos):
        if c:
            ladder.append((ub(idx), c))
    cum = 0.0
    out_ladder = []
    for le, c in ladder:
        cum += c
        out_ladder.append((le, cum))
    return ts, count, hsum, out_ladder


def decode_write_request_histograms(
    data: bytes, proto: str = "1"
) -> list[
    tuple[dict[str, str], list[tuple[int, float, float, list]]]
]:
    """WriteRequest/v2-Request bytes -> [(series labels incl __name__,
    [(ts_ms, count, sum, ladder), ...])] for series carrying NATIVE
    histograms (TimeSeries field 4 in v1, field 3 in v2). Series
    without histograms are omitted. The ladder is the classic
    ascending-le cumulative bucket list ready for `_bucket`/`_sum`/
    `_count` series emission."""
    if proto == "1":
        series_iter = (
            (payload, 4)
            for fno, wt, payload in _fields(data)
            if fno == 1 and wt == 2
        )
        out = []
        for ts_pay, hist_field in series_iter:
            labels: dict[str, str] = {}
            hists = []
            for sfno, swt, spay in _fields(ts_pay):
                if sfno == 1 and swt == 2:
                    name = value = ""
                    for lfno, lwt, lpay in _fields(spay):
                        if lfno == 1 and lwt == 2:
                            name = lpay.decode("utf-8")
                        elif lfno == 2 and lwt == 2:
                            value = lpay.decode("utf-8")
                    labels[name] = value
                elif sfno == hist_field and swt == 2:
                    hists.append(_decode_native_histogram(spay))
            if hists:
                out.append((labels, hists))
        return out
    # v2: symbol-table labels, histograms on field 3
    symbols: list[str] = []
    series_raw: list[bytes] = []
    for fno, wt, payload in _fields(data):
        if fno == 4 and wt == 2:
            symbols.append(payload.decode("utf-8"))
        elif fno == 5 and wt == 2:
            series_raw.append(payload)
    out = []
    for ts_pay in series_raw:
        refs: list[int] = []
        hists = []
        for sfno, swt, spay in _fields(ts_pay):
            if sfno == 1 and swt == 2:
                i = 0
                while i < len(spay):
                    v, i = _uvarint(spay, i)
                    refs.append(v)
            elif sfno == 1 and swt == 0:
                refs.append(spay)
            elif sfno == 3 and swt == 2:
                hists.append(_decode_native_histogram(spay))
        if hists:
            if len(refs) % 2:
                raise ValueError(
                    "remote_write v2: labels_refs must hold pairs"
                )
            labels = {}
            for j in range(0, len(refs), 2):
                n, v = refs[j], refs[j + 1]
                if n >= len(symbols) or v >= len(symbols):
                    raise ValueError(
                        "remote_write v2: symbol ref out of range"
                    )
                labels[symbols[n]] = symbols[v]
            out.append((labels, hists))
    return out


# ------------------------------------------------------- exemplars

def decode_write_request_exemplars(
    data: bytes,
) -> list[tuple[dict[str, str], list[tuple[dict[str, str], int, float]]]]:
    """WriteRequest bytes -> [(series labels incl __name__,
    [(exemplar labels, timestamp_ms, value), ...])] for series that
    carry exemplars (prompb.Exemplar: TimeSeries field 3 — the trace
    breadcrumbs Grafana links from; labels are typically
    trace_id/span_id). Series without exemplars are omitted."""
    import struct

    out = []
    for fno, wt, payload in _fields(data):
        if fno != 1 or wt != 2:
            continue
        labels: dict[str, str] = {}
        exemplars: list[tuple[dict[str, str], int, float]] = []
        for sfno, swt, spay in _fields(payload):
            if sfno == 1 and swt == 2:  # Label
                name = value = ""
                for lfno, lwt, lpay in _fields(spay):
                    if lfno == 1 and lwt == 2:
                        name = lpay.decode("utf-8")
                    elif lfno == 2 and lwt == 2:
                        value = lpay.decode("utf-8")
                labels[name] = value
            elif sfno == 3 and swt == 2:  # Exemplar
                ex_labels: dict[str, str] = {}
                val, ts = 0.0, 0
                for efno, ewt, epay in _fields(spay):
                    if efno == 1 and ewt == 2:
                        k = v = ""
                        for lfno, lwt, lpay in _fields(epay):
                            if lfno == 1 and lwt == 2:
                                k = lpay.decode("utf-8")
                            elif lfno == 2 and lwt == 2:
                                v = lpay.decode("utf-8")
                        ex_labels[k] = v
                    elif efno == 2 and ewt == 1:
                        val = struct.unpack("<d", epay)[0]
                    elif efno == 3 and ewt == 0:
                        ts = epay - (1 << 64) if epay >= 1 << 63 else epay
                exemplars.append((ex_labels, ts, val))
        if exemplars:
            out.append((labels, exemplars))
    return out


def decode_write_request_exemplars_v2(
    data: bytes,
) -> list[tuple[dict[str, str], list[tuple[dict[str, str], int, float]]]]:
    """v2 Request exemplars (TimeSeries field 4; labels are symbol-ref
    pairs like the series labels). Same output shape as the v1 walk."""
    import struct

    symbols: list[str] = []
    series_raw: list[bytes] = []
    for fno, wt, payload in _fields(data):
        if fno == 4 and wt == 2:
            symbols.append(payload.decode("utf-8"))
        elif fno == 5 and wt == 2:
            series_raw.append(payload)

    def refs_to_labels(refs: list[int]) -> dict[str, str]:
        if len(refs) % 2:
            raise ValueError(
                "remote_write v2: labels_refs must hold pairs"
            )
        d = {}
        for j in range(0, len(refs), 2):
            n, v = refs[j], refs[j + 1]
            if n >= len(symbols) or v >= len(symbols):
                raise ValueError(
                    "remote_write v2: symbol ref out of range"
                )
            d[symbols[n]] = symbols[v]
        return d

    def packed_refs(spay: bytes) -> list[int]:
        refs, i = [], 0
        while i < len(spay):
            v, i = _uvarint(spay, i)
            refs.append(v)
        return refs

    out = []
    for ts_pay in series_raw:
        refs: list[int] = []
        exemplars: list[tuple[dict[str, str], int, float]] = []
        for sfno, swt, spay in _fields(ts_pay):
            if sfno == 1 and swt == 2:
                refs += packed_refs(spay)
            elif sfno == 1 and swt == 0:
                refs.append(spay)
            elif sfno == 4 and swt == 2:  # v2 Exemplar
                ex_refs: list[int] = []
                val, ts = 0.0, 0
                for efno, ewt, epay in _fields(spay):
                    if efno == 1 and ewt == 2:
                        ex_refs += packed_refs(epay)
                    elif efno == 1 and ewt == 0:
                        ex_refs.append(epay)
                    elif efno == 2 and ewt == 1:
                        val = struct.unpack("<d", epay)[0]
                    elif efno == 3 and ewt == 0:
                        ts = epay - (1 << 64) if epay >= 1 << 63 else epay
                exemplars.append((refs_to_labels(ex_refs), ts, val))
        if exemplars:
            out.append((refs_to_labels(refs), exemplars))
    return out


# ------------------------------------------- remote-write 2.0 (v2)
#
# io.prometheus.write.v2.Request (remote-write specification 2.0,
# prometheus/prompb/io/prometheus/write/v2/types.proto — public): the
# successor wire format Prometheus negotiates via
# `Content-Type: application/x-protobuf;proto=io.prometheus.write.v2.Request`.
# Label strings are INTERNED in a request-wide symbol table and series
# carry pairs of uint32 refs instead of Label submessages:
#
#   Request{ repeated string symbols = 4 (symbols[0] MUST be ""),
#            repeated TimeSeries timeseries = 5 }
#   TimeSeries{ repeated uint32 labels_refs = 1 (packed, pairs:
#               name ref, value ref), repeated Sample samples = 2,
#               histograms = 3, exemplars = 4, Metadata metadata = 5,
#               int64 created_timestamp = 6 }
#   Sample{ double value = 1, int64 timestamp = 2 (ms) }  (same as 1.0)
#
# Histograms/exemplars/metadata skip (samples-only receiver, like the
# 1.0 path); unknown fields skip by wire type.

def decode_write_request_v2(
    data: bytes,
) -> list[tuple[dict[str, str], list[tuple[int, float]]]]:
    """v2 Request bytes -> the same shape decode_write_request returns.
    Raises on out-of-range symbol refs, odd labels_refs arity, or a
    non-empty symbol 0 (each a spec violation a receiver must reject
    rather than misattribute samples to the wrong series)."""
    import struct

    symbols: list[str] = []
    series_raw: list[bytes] = []
    for fno, wt, payload in _fields(data):
        if fno == 4 and wt == 2:
            symbols.append(payload.decode("utf-8"))
        elif fno == 5 and wt == 2:
            series_raw.append(payload)
    if series_raw and (not symbols or symbols[0] != ""):
        raise ValueError(
            "remote_write v2: symbols[0] must be the empty string"
        )
    out = []
    for ts_pay in series_raw:
        refs: list[int] = []
        samples: list[tuple[int, float]] = []
        for sfno, swt, spay in _fields(ts_pay):
            if sfno == 1 and swt == 2:  # packed uint32 labels_refs
                i = 0
                while i < len(spay):
                    v, i = _uvarint(spay, i)
                    refs.append(v)
            elif sfno == 1 and swt == 0:  # unpacked element
                refs.append(spay)
            elif sfno == 2 and swt == 2:  # Sample
                val, ts = 0.0, 0
                for pfno, pwt, ppay in _fields(spay):
                    if pfno == 1 and pwt == 1:
                        val = struct.unpack("<d", ppay)[0]
                    elif pfno == 2 and pwt == 0:
                        ts = ppay - (1 << 64) if ppay >= 1 << 63 else ppay
                samples.append((ts, val))
            # histograms (3) / exemplars (4) / metadata (5) /
            # created_timestamp (6) skip
        if len(refs) % 2:
            raise ValueError(
                "remote_write v2: labels_refs must hold (name, value) "
                f"pairs, got {len(refs)} refs"
            )
        labels: dict[str, str] = {}
        for j in range(0, len(refs), 2):
            n, v = refs[j], refs[j + 1]
            if n >= len(symbols) or v >= len(symbols):
                raise ValueError(
                    "remote_write v2: symbol ref out of range "
                    f"({max(n, v)} >= {len(symbols)})"
                )
            labels[symbols[n]] = symbols[v]
        out.append((labels, samples))
    return out


def encode_write_request_v2(
    series: list[tuple[dict[str, str], list[tuple[int, float]]]],
) -> bytes:
    """Inverse of decode_write_request_v2: builds the interned symbol
    table (symbols[0] = "" per spec, then first-use order) and packed
    labels_refs pairs. The exporter half of the v2 fixtures."""
    import struct

    def ld(out: bytearray, fno: int, body: bytes) -> None:
        _put_uvarint(out, (fno << 3) | 2)
        _put_uvarint(out, len(body))
        out += body

    symbols: list[str] = [""]
    interned: dict[str, int] = {"": 0}

    def ref(s: str) -> int:
        if s not in interned:
            interned[s] = len(symbols)
            symbols.append(s)
        return interned[s]

    ts_msgs = []
    for labels, samples in series:
        ts_msg = bytearray()
        packed = bytearray()
        for k in sorted(labels):
            _put_uvarint(packed, ref(k))
            _put_uvarint(packed, ref(labels[k]))
        ld(ts_msg, 1, bytes(packed))
        for ts, val in samples:
            smp = bytearray()
            _put_uvarint(smp, (1 << 3) | 1)
            smp += struct.pack("<d", val)
            _put_uvarint(smp, (2 << 3) | 0)
            _put_uvarint(smp, ts & 0xFFFFFFFFFFFFFFFF)
            ld(ts_msg, 2, bytes(smp))
        ts_msgs.append(bytes(ts_msg))
    req = bytearray()
    for s in symbols:
        ld(req, 4, s.encode("utf-8"))
    for m in ts_msgs:
        ld(req, 5, m)
    return bytes(req)


# ------------------------------------------------------- spark surface

def _escape_label(v: str) -> str:
    # promapi._escape_label — byte-identical to the column form the
    # catalog join keys on (series_resolve.escape_label_col)
    return v.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def _series_key(name: str, labels: dict[str, str]) -> str:
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


def parse_remote_write(
    blobs: DataFrame,
    ts_unit: str = "ms",
    payload_col: str = "content",
    compressed: bool = True,
    proto: str = "1",
    stale_markers: str = "drop",
    native_histograms: str = "classic",
) -> DataFrame:
    """Distributed WriteRequest decode: `blobs` holds one snappy+proto
    payload per row in `payload_col` (binary). Output one row per
    sample: (name, labels map, series_key, value double, ts long scaled
    to native units by `ts_unit` — "ms" is the wire unit the 1.0 spec
    mandates; unitless test clocks pass "ns"). A series without the
    __name__ label violates the spec and raises. `proto` selects the
    message format: "1" = prompb.WriteRequest (remote-write 1.0), "2" =
    io.prometheus.write.v2.Request (2.0, symbol-interned labels) — the
    spec negotiates via Content-Type, never by sniffing, so there is
    deliberately no "auto".

    `stale_markers`: Prometheus writes the StaleNaN bit pattern when a
    scraped series disappears — a liveness delimiter, not data. "drop"
    (default) removes them at decode (so queries never surface a NaN
    that means "ended"; real NaN data like 0/0 passes through — the
    distinction is the exact bit pattern); "keep" stores them verbatim
    for stores that track liveness downstream.

    `native_histograms`: "classic" (default) translates native
    (sparse exponential-bucket) histograms on the series into classic
    `<name>_bucket{le=...}`/`_sum`/`_count` rows — the same
    ascending-le cumulative translation the OTLP receiver applies, so
    a native-histogram sender's data stays queryable with
    histogram_quantile; "skip" ignores them (the pre-r15 behavior)."""
    import struct as _struct

    if ts_unit not in _UNIT_NS:
        raise ValueError(
            f"ts_unit must be one of {sorted(_UNIT_NS)}, got {ts_unit!r}"
        )
    if proto not in ("1", "2"):
        raise ValueError(f"proto must be '1' or '2', got {proto!r}")
    if stale_markers not in ("drop", "keep"):
        raise ValueError(
            f"stale_markers must be drop|keep, got {stale_markers!r}"
        )
    if native_histograms not in ("classic", "skip"):
        raise ValueError(
            "native_histograms must be classic|skip, got "
            f"{native_histograms!r}"
        )
    mult = _UNIT_NS[ts_unit]
    decoder = (
        decode_write_request if proto == "1" else decode_write_request_v2
    )
    drop_stale = stale_markers == "drop"

    def _is_stale(v: float) -> bool:
        return (
            v != v
            and _struct.unpack("<Q", _struct.pack("<d", v))[0]
            == STALE_NAN_BITS
        )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for blob in pdf[payload_col]:
                raw = bytes(blob)
                if compressed:
                    raw = snappy_decompress(raw)
                for labels, samples in decoder(raw):
                    name = labels.pop("__name__", None)
                    if name is None:
                        raise ValueError(
                            "remote_write: series without __name__ "
                            f"label (labels: {sorted(labels)[:5]})"
                        )
                    if drop_stale:
                        samples = [
                            (ts, v) for ts, v in samples
                            if not _is_stale(v)
                        ]
                    key = _series_key(name, labels)
                    lk = sorted(labels)
                    lv = [labels[k] for k in lk]
                    for ts, val in samples:
                        rows.append(
                            (name, lk, lv, key, val, ts * mult)
                        )
                if native_histograms == "classic":
                    for labels, hists in (
                        decode_write_request_histograms(raw, proto)
                    ):
                        labels = dict(labels)
                        name = labels.pop("__name__", None)
                        if name is None:
                            raise ValueError(
                                "remote_write: histogram series "
                                "without __name__ label"
                            )

                        def emit(n, extra, ts, v):
                            lbs = dict(labels)
                            lbs.update(extra)
                            k2 = sorted(lbs)
                            rows.append(
                                (
                                    n, k2, [lbs[x] for x in k2],
                                    _series_key(n, lbs), v, ts * mult,
                                )
                            )

                        for ts, count, hsum, ladder in hists:
                            for le, cum in ladder:
                                emit(
                                    f"{name}_bucket",
                                    {"le": repr(float(le))},
                                    ts, cum,
                                )
                            emit(
                                f"{name}_bucket", {"le": "+Inf"},
                                ts, count,
                            )
                            emit(f"{name}_sum", {}, ts, hsum)
                            emit(f"{name}_count", {}, ts, count)
            yield pd.DataFrame(
                rows, columns=[f.name for f in PARSED_SCHEMA.fields]
            )

    return (
        blobs.select(F.col(payload_col))
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
    stale_markers: str = "drop",
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
        compressed=compressed, proto=proto, stale_markers=stale_markers,
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
    if proto not in ("1", "2"):
        raise ValueError(f"proto must be '1' or '2', got {proto!r}")
    encoder = (
        encode_write_request if proto == "1" else encode_write_request_v2
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
            body = encoder(
                [(dict(k), sorted(v)) for k, v in sorted(per.items())]
            )
            if compress:
                body = snappy_compress(body)
            yield pd.DataFrame({"content": [body]})

    return df.select(*cols).mapInPandas(kernel, RENDERED_SCHEMA)
