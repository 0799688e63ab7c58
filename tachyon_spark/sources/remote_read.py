"""Prometheus remote_read server side (r15 second wave).

remote_read is the *serving* complement of the remote_write receiver:
a Prometheus server configured with a `remote_read` URL POSTs a
snappy-compressed protobuf `ReadRequest` (prometheus/prompb
remote.proto — public) and expects a snappy-compressed `ReadResponse`
of raw samples back. With both halves the engine slots into a real
Prometheus deployment as remote storage: Prometheus pushes live
samples via `/api/v1/write` and transparently federates historical
queries back out of this engine via `/api/v1/read`.

Message tree (the wire walk rides sources/remote_write._fields):

    ReadRequest{ repeated Query queries = 1,
                 repeated ResponseType accepted_response_types = 2 }
    Query{ int64 start_timestamp_ms = 1, int64 end_timestamp_ms = 2,
           repeated LabelMatcher matchers = 3, ReadHints hints = 4 }
    LabelMatcher{ Type type = 1 (EQ|NEQ|RE|NRE), name = 2, value = 3 }
    ReadResponse{ repeated QueryResult results = 1 }
    QueryResult{ repeated TimeSeries timeseries = 1 }

`QueryResult` is field-for-field the `WriteRequest` shape (repeated
TimeSeries = 1, labels/samples submessages identical), so the response
encoder IS sources/remote_write.encode_write_request wrapped one level
deeper — one handwritten codec serves both protocols. Only the SAMPLES
response type (0) is implemented; STREAMED_XOR_CHUNKS negotiation
raises (a client that offers an accepted_response_types list always
includes SAMPLES as the mandatory fallback per the protocol).

Execution is the ENGINE's OWN selector machinery, not a re-derivation:
each Query's matchers translate 1:1 onto promql/ast.Matcher ops
(EQ/NEQ/RE/NRE -> = != =~ !~; an EQ __name__ matcher promotes to the
selector name so the catalog's inverted name index prunes the pool),
and the plan comes from plans/builder.PlanBuilder on a hand-built
VectorSelector — the same partition-pruned, pushed-down scan the
query path produces, including the high-cardinality resolve_df
semi-join branch and the nonempty-matcher full-scan guard. The
driver only materializes the final (stream, ts, value) rows through
the serving-path point cap (promapi._bounded_collect)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tachyon_spark.sources.remote_write import (
    _fields,
    _int64,
    _packed_varints,
    _put_ld,
    decode_write_request,
    encode_write_request,
    snappy_compress,
    snappy_decompress,
    _UNIT_NS,
)

__all__ = [
    "decode_read_request",
    "decode_read_response",
    "encode_read_response",
    "serve_remote_read",
]

_MATCHER_OPS = {0: "=", 1: "!=", 2: "=~", 3: "!~"}


def decode_read_request(
    data: bytes,
) -> list[tuple[int, int, list[tuple[str, str, str]]]]:
    """Uncompressed ReadRequest bytes ->
    [(start_ms, end_ms, [(op, label, value), ...]), ...].
    Raises if the client's accepted_response_types excludes SAMPLES."""
    queries = []
    accepted: list[int] = []
    for fno, wt, pay in _fields(data):
        if fno == 2 and wt == 0:
            accepted.append(pay)
        elif fno == 2 and wt == 2:  # packed enum form
            accepted += _packed_varints(pay)
        elif fno == 1 and wt == 2:  # Query
            start = end = 0
            matchers: list[tuple[str, str, str]] = []
            for qfno, qwt, qpay in _fields(pay):
                if qfno == 1 and qwt == 0:
                    start = _int64(qpay)
                elif qfno == 2 and qwt == 0:
                    end = _int64(qpay)
                elif qfno == 3 and qwt == 2:  # LabelMatcher
                    mtype, mname, mval = 0, "", ""
                    for mfno, mwt, mpay in _fields(qpay):
                        if mfno == 1 and mwt == 0:
                            mtype = mpay
                        elif mfno == 2 and mwt == 2:
                            mname = mpay.decode("utf-8")
                        elif mfno == 3 and mwt == 2:
                            mval = mpay.decode("utf-8")
                    if mtype not in _MATCHER_OPS:
                        raise ValueError(
                            f"remote_read: unknown matcher type {mtype}"
                        )
                    matchers.append(
                        (_MATCHER_OPS[mtype], mname, mval)
                    )
                # hints (4) skip — an optimization, not a contract
            queries.append((start, end, matchers))
    if accepted and 0 not in accepted:
        raise ValueError(
            "remote_read: only the SAMPLES response type is supported "
            f"(client accepts {accepted})"
        )
    return queries


def encode_read_response(
    results: list[list[tuple[dict[str, str], list[tuple[int, float]]]]],
) -> bytes:
    """[(per-query) [(labels incl __name__, [(ts_ms, value), ...])]] ->
    uncompressed ReadResponse bytes. Each QueryResult body is exactly
    encode_write_request's output (shared TimeSeries shape)."""
    out = bytearray()
    for series in results:
        _put_ld(out, 1, encode_write_request(series))
    return bytes(out)


def decode_read_response(
    data: bytes,
) -> list[list[tuple[dict[str, str], list[tuple[int, float]]]]]:
    """Client-side inverse (round-trip tests + acting as a remote_read
    CLIENT against another Prometheus-compatible server)."""
    return [
        [(labels, samples) for labels, samples, _, _ in
         decode_write_request(pay)]
        for fno, wt, pay in _fields(data)
        if fno == 1 and wt == 2
    ]


def _run_query(
    conn, start_ms: int, end_ms: int,
    matchers: list[tuple[str, str, str]],
    ts_unit: str, max_points,
) -> list[tuple[dict[str, str], list[tuple[int, float]]]]:
    from tachyon_spark.plans.builder import PlanBuilder
    from tachyon_spark.promapi import _bounded_collect
    from tachyon_spark.promql import ast

    mult = _UNIT_NS[ts_unit]
    # EQ __name__ promotes to the selector name (inverted-index path);
    # everything else rides as-is — including regex/negative __name__
    # matchers, which the bare-selector branch handles
    name = ""
    rest: list = []
    for op, lab, val in matchers:
        if lab == "__name__" and op == "=" and not name:
            name = val
        else:
            rest.append(ast.Matcher(label=lab, op=op, value=val))
    sel = ast.VectorSelector(name=name, matchers=tuple(rest))
    try:
        plan = PlanBuilder(
            conn, start_ms * mult, end_ms * mult
        ).build(sel)
    except ValueError as exc:
        if "no streams matched" in str(exc):
            return []  # empty QueryResult, not an error (Prometheus
            # expects matches-nothing reads to succeed)
        raise
    df = (
        plan.df.select(
            "stream_id",
            # integer division — float division would round ns-scale
            # epoch longs (> 2^53) through double and shift samples by
            # a millisecond at the boundary
            F.expr(f"CAST(ts AS BIGINT) DIV {mult}").alias("ts_ms"),
            F.col("value").cast("double").alias("value"),
        )
        .orderBy("stream_id", "ts_ms")
    )
    rows = _bounded_collect(df, max_points)
    by_stream: dict[str, list[tuple[int, float]]] = {}
    for r in rows:
        by_stream.setdefault(r.stream_id, []).append((r.ts_ms, r.value))
    # labels come from the plan's own resolved streams — no extra
    # catalog pass; series sort by their label identity for stable wire
    # output
    out = []
    for s in plan.streams:
        if s.stream_id in by_stream:
            labels = {"__name__": s.name, **dict(s.labels)}
            out.append((labels, by_stream[s.stream_id]))
    out.sort(key=lambda p: sorted(p[0].items()))
    return out


def serve_remote_read(
    conn,
    body: bytes,
    ts_unit: str = "ms",
    compressed: bool = True,
    max_points=None,
) -> bytes:
    """The full server half: snappy+proto ReadRequest body -> snappy+
    proto ReadResponse body. One QueryResult per request Query, in
    order. `ts_unit` names the engine's native clock relative to the
    wire's mandated ms ("ms" for ms-native data; unitless test clocks
    pass "ns" for identity). `max_points` caps the driver-side
    materialization per query (promapi.DEFAULT_MAX_POINTS semantics;
    None = uncapped)."""
    raw = snappy_decompress(body) if compressed else bytes(body)
    results = [
        _run_query(conn, start, end, matchers, ts_unit, max_points)
        for start, end, matchers in decode_read_request(raw)
    ]
    resp = encode_read_response(results)
    return snappy_compress(resp) if compressed else resp
