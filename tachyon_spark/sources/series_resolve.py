"""The one ingest pipeline every wire format shares — remote_write,
OTLP, OpenMetrics text, InfluxDB line protocol and Graphite plaintext.

Each `ingest_*` turns its source into lines or blobs (`_read_lines` /
`_read_blobs`), parses them into a frame of
(series_key, name, labels, ts, value[, value_int]) rows, and hands that
frame to `_ingest_parsed`, which is the only place a parsed batch
becomes stored samples:

1. cache the parse, then checkpoint its distinct series EAGERLY. The
   distinct scans every partition, so the whole parse is proven before
   the catalog changes: a malformed line or blob fails the ingest
   atomically. In-expression `raise_error` guards of the text parsers
   ("unparseable ... line/fields", line protocol's missing timestamp)
   surface here and are re-raised as `ValueError`;
2. resolve the series to stream ids (`resolve_series_mapping`, below);
3. broadcast-join the mapping and split each value into the typed
   layout: integer-typed streams store `value_int`, taken from the
   parse's exact-int channel when it has one (`value_int` column —
   OTLP, line protocol, Graphite) and from the long cast of the double
   otherwise (remote_write, OpenMetrics: exact below 2^53);
4. `Connection.bulk_load` the result, with the appended-row count
   observed on the write job rather than paid for by a count action.

The parse stays `.cache()`d at the default storage level: in PySpark 4
that is MEMORY_AND_DISK_DESER, which already spills to disk, so a
batch larger than executor memory needs no storage-level option.

Series resolution is a catalog JOIN, not a catalog collect:

1. the batch's distinct parsed series LEFT-ANTI join the catalog
   parquet keyed by the same canonical `name{k="v",...}` rendering
   (sorted (key, value) entries, promapi-escaped values) — only
   genuinely NEW series ever reach the driver;
2. new series register through `Catalog.create_streams` (one fragment
   write) when few, or the fully distributed
   `Catalog.register_streams_df` past `REG_COLLECT_MAX`;
3. the returned mapping frame is the catalog parquet SEMI-JOINED down
   to the batch's own keys — batch-bounded, safe to broadcast into the
   sample join no matter how large the catalog grows.

The canonical key rendered here MUST stay byte-identical to every
parser's `series_key` column (the text parsers sort the unescaped
(key, value) structs and escape values like promapi._escape_label; the
binary decoders build it with remote_write._series_key) — a divergence
re-registers existing streams as duplicates.
"""

from __future__ import annotations

import re

from pyspark.errors import SparkRuntimeException
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from tachyon_spark.types import VT_I64, VT_U64

__all__ = [
    "canonical_series_key",
    "escape_label_col",
    "resolve_series_mapping",
]

# above this many NEW series in one batch, registration goes through
# the distributed register_streams_df path instead of a driver collect
REG_COLLECT_MAX = 50_000


def escape_label_col(col: Column) -> Column:
    """promapi._escape_label, column form: backslash, quote, newline."""
    out = F.regexp_replace(col, r"\\", r"\\\\")
    out = F.regexp_replace(out, '"', r'\\"')
    return F.regexp_replace(out, "\n", r"\\n")


def canonical_series_key(name: Column, labels: Column) -> Column:
    """`name{k="v",...}` with entries sorted by (key, value) — the same
    ordering as Python's sorted(labels.items()) — and values escaped
    like promapi._escape_label. Struct sort, NOT raw `k="v"` string
    sort: the '=' byte would order a prefix key ('a') after its
    extension ('a1'), diverging from the Python key builder."""
    entries = F.array_sort(F.map_entries(labels))
    return F.concat(
        name,
        F.lit("{"),
        F.array_join(
            F.transform(
                entries,
                lambda e: F.concat(
                    e["key"],
                    F.lit('="'),
                    escape_label_col(e["value"]),
                    F.lit('"'),
                ),
            ),
            ",",
        ),
        F.lit("}"),
    )


def _catalog_keyed(conn) -> DataFrame:
    return conn.catalog.df().select(
        canonical_series_key(F.col("name"), F.col("labels")).alias(
            "series_key"
        ),
        "stream_id",
        "value_type",
    )


def resolve_series_mapping(
    conn,
    series_df: DataFrame,
    value_type: str = "f64",
    reg_collect_max: int = REG_COLLECT_MAX,
) -> DataFrame:
    """Resolve every series in `series_df` — (series_key, name,
    labels: map<string,string>), ONE ROW PER DISTINCT series_key — to a
    stream id, registering the missing ones with `value_type`. Returns
    the batch-bounded mapping frame (series_key, stream_id,
    __int: boolean) ready to broadcast into the sample join;
    pre-existing streams keep their own declared type."""
    missing = series_df.join(_catalog_keyed(conn), "series_key", "left_anti")
    head = missing.select("name", "labels").take(reg_collect_max + 1)
    if len(head) > reg_collect_max:
        # distributed registration: ids mint executor-side; the frame
        # is materialized exactly once by the parquet append, and the
        # mapping below re-reads the ids from the catalog — never from
        # this (nondeterministic) projection
        conn.catalog.register_streams_df(
            missing.select(
                F.expr("uuid()").alias("stream_id"),
                "name",
                "labels",
                F.lit(value_type).alias("value_type"),
            )
        )
    elif head:
        conn.catalog.create_streams(
            [(r["name"], dict(r["labels"]), value_type) for r in head]
        )
    return (
        _catalog_keyed(conn)
        .join(series_df.select("series_key"), "series_key", "left_semi")
        .select(
            "series_key",
            "stream_id",
            F.col("value_type").isin(VT_I64, VT_U64).alias("__int"),
        )
    )


def _read_lines(
    conn, source, literal: bool | None, guard: str, caller: str
) -> DataFrame:
    """A text source as a lines DataFrame (column `value`, the
    spark.read.text shape): a pre-read DataFrame passes through, a
    string with a newline (or any string under `literal=True`) is the
    text itself, anything else is a path/glob. A one-line blob has no
    newline, so auto-detect routes it to the path reader; when that
    fails and the string matches the format's `guard` regex, say so
    instead of PATH_NOT_FOUND (a bare space must NOT force literal
    mode — paths may contain spaces)."""
    if isinstance(source, DataFrame):
        return source
    if literal or (literal is None and "\n" in source):
        return conn.spark.createDataFrame(
            [(ln,) for ln in source.split("\n")], "value string"
        )
    try:
        return conn.spark.read.text(source)
    except Exception as e:
        if re.match(guard, source):
            raise ValueError(
                f"{caller}: source does not exist as a path but looks "
                "like the format's text — pass literal=True for "
                f"literal blobs: {source[:120]!r}"
            ) from e
        raise


def _read_blobs(conn, source) -> DataFrame:
    """A binary source as a frame with a `content` column: one request
    body (bytes — the HTTP POST shape), a path/glob of blob files
    (binaryFile read), or a DataFrame that already has the column."""
    if isinstance(source, DataFrame):
        return source
    if isinstance(source, (bytes, bytearray)):
        return conn.spark.createDataFrame(
            [(bytes(source),)], "content binary"
        )
    return conn.spark.read.format("binaryFile").load(source).select("content")


def _ingest_parsed(conn, parsed: DataFrame, value_type: str) -> int:
    """Store a parsed batch — (series_key, name, labels, ts, value
    [, value_int]) rows — registering its new series with `value_type`.
    Returns the number of samples appended. See the module docstring
    for the steps and the atomicity contract."""
    exact_int = "value_int" in parsed.columns
    parsed = parsed.cache()
    try:
        try:
            series_df = (
                parsed.select("series_key", "name", "labels")
                .dropDuplicates(["series_key"])
                .localCheckpoint(eager=True)
            )
        except SparkRuntimeException as e:
            if e.getCondition() != "USER_RAISED_EXCEPTION":
                raise
            raise ValueError(
                e.getMessageParameters()["errorMessage"]
            ) from None
        mapping = resolve_series_mapping(conn, series_df, value_type)
        as_long = F.col("value").cast("long")
        if exact_int:
            as_long = F.coalesce(F.col("value_int"), as_long)
        out = parsed.join(F.broadcast(mapping), "series_key").select(
            "stream_id",
            "ts",
            F.when(F.col("__int"), F.lit(None).cast("double"))
            .otherwise(F.col("value"))
            .alias("value"),
            F.when(F.col("__int"), as_long)
            .otherwise(F.lit(None).cast("long"))
            .alias("value_int"),
        )
        obs = Observation()
        conn.bulk_load(out.observe(obs, F.count(F.lit(1)).alias("n")))
        return obs.get["n"]
    finally:
        parsed.unpersist()
