"""InfluxDB line-protocol INGEST — the other text wire format a TSDB
migration actually has on hand (Telegraf outputs, `influx write` dumps,
IoT gateways). Sibling of sources/openmetrics.py, same design rules:
parsing is ALL JVM-side column expressions (regexp_extract /
regexp_extract_all / transform — no Python UDFs), so a directory of
multi-GB dumps parses in parallel at scan speed, and malformed lines
FAILFAST in-expression at the first action (naming the offending line).

Grammar (the protocol's documented v2 line syntax):

    measurement[,tag_key=tag_val...] field_key=field_val[,...] [ts]

- identifiers (measurement, tag keys/values, field keys) escape `,`,
  `=` and space with a backslash; a backslash before anything else is
  literal (the protocol defines no `\\\\` escape in identifiers).
- field values: floats (`1.5`, `1e-3`), integers with `i` suffix
  (`42i`), unsigned with `u` (`42u`), booleans
  (`t/T/true/True/TRUE/f/F/false/False/FALSE`), and double-quoted
  strings with `\\"` and `\\\\` escapes — quoted strings may contain
  spaces and commas (the field tokenizer is quote-aware).
- timestamp: optional signed integer, unit set by `precision`
  ("ns" default, "us", "ms", "s") and scaled to nanoseconds (exact
  integer multiply).
- `#`-prefixed comment lines and blank lines drop.

Series identity for ingest (`ingest_line_protocol`): the Telegraf /
prometheus-exporter convention `measurement_field{tags}` — each field
of a line fans out to its own stream, tags become labels. Numeric and
boolean (1/0) fields ingest; string fields are metadata, not samples,
and are skipped with their count reported.

The reference engine ingests only via the FFI inserter and CSV
(tachyon_cli/src/main.rs:247-296); this extends the source-format set
beyond the reference next to OpenMetrics text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from tachyon_spark.sources.series_resolve import (
    _ingest_parsed,
    _read_lines,
    escape_label_col,
)

# one line: measurement[,tags] <space> fields [<space> ts]
# section 1 stops at the first UNESCAPED space; the fields section is
# quote-aware (strings may contain raw spaces/commas); ts is integral
_LINE_RE = (
    r"^((?:[^,\s\\]|\\.)+(?:,(?:[^,=\s\\]|\\.)+=(?:[^,=\s\\]|\\.)+)*)\s+"
    r'((?:[^\s"\\]|\\.|"(?:[^"\\]|\\.)*")+)'
    r"(?:\s+(-?\d+))?\s*$"
)
# measurement vs tag remainder (split at first unescaped comma)
_MEAS_RE = r"^((?:[^,\\]|\\.)+)(?:,(.*))?$"
# one tag pair inside the tag remainder
_TAG_RE = r"((?:[^,=\\]|\\.)+)=((?:[^,=\\]|\\.)+)"
# one field token: key=(quoted string | unquoted run); quote-awareness
# keeps commas/spaces inside strings out of the token boundaries
_FIELD_RE = r'((?:[^\s=,"\\]|\\.)+)=("(?:[^"\\]|\\.)*"|(?:[^,\s"\\]|\\.)+)'

_PRECISION_NS = {"ns": 1, "us": 1_000, "ms": 1_000_000, "s": 1_000_000_000}


def _unescape_ident(col):
    # \, \= and backslash-space unescape; other backslashes are literal
    return F.regexp_replace(col, r"\\([,= ])", "$1")


def _unescape_string(col):
    # strip the quotes, then \" and \\ unescape (string values DO
    # define the backslash-backslash escape, unlike identifiers)
    inner = F.regexp_replace(col, r'^"|"$', "")
    return F.regexp_replace(inner, r"\\([\"\\])", "$1")


def parse_line_protocol(
    lines: DataFrame,
    precision: str = "ns",
    default_ts: int | None = None,
) -> DataFrame:
    """Parse a DataFrame of line-protocol text (column `value`, the
    spark.read.text shape) into one row PER FIELD:
    (measurement, tags: map<string,string>, field, series_key,
    ftype: float|int|uint|bool|string, value: double,
    value_str: string, ts: long ns). Malformed non-comment lines raise
    at the first action (FAILFAST, in-expression — no extra probe pass);
    unparseable numeric field values fail the ANSI cast the same way.
    """
    if precision not in _PRECISION_NS:
        raise ValueError(
            f"precision must be one of {sorted(_PRECISION_NS)}, "
            f"got {precision!r}"
        )
    raw = F.col("value")
    sect1 = F.regexp_extract(raw, _LINE_RE, 1)
    checked = F.when(sect1 != "", sect1).otherwise(
        F.raise_error(
            F.concat(F.lit("unparseable line-protocol line: "), raw)
        )
    )
    rows = lines.where(
        (F.length(F.trim(raw)) > 0) & ~F.trim(raw).startswith("#")
    ).select(
        checked.alias("__s1"),
        F.regexp_extract(raw, _LINE_RE, 2).alias("__fields"),
        F.regexp_extract(raw, _LINE_RE, 3).alias("__ts"),
        raw.alias("__line"),
    )
    measurement = _unescape_ident(
        F.regexp_extract(F.col("__s1"), _MEAS_RE, 1)
    )
    tag_str = F.regexp_extract(F.col("__s1"), _MEAS_RE, 2)
    tag_pairs = F.regexp_extract_all(tag_str, F.lit(_TAG_RE), 0)
    tags = F.map_from_arrays(
        F.transform(
            tag_pairs,
            lambda p: _unescape_ident(F.regexp_extract(p, _TAG_RE, 1)),
        ),
        F.transform(
            tag_pairs,
            lambda p: _unescape_ident(F.regexp_extract(p, _TAG_RE, 2)),
        ),
    )
    # canonical label block rendered EXACTLY like the catalog keys the
    # ingest path compares against (r13 review): sorted by the UNESCAPED
    # (key, value) pair — not by the raw "k=v" strings, whose '=' can
    # reorder prefix keys — with values escaped the way
    # promapi._escape_label renders them (backslash, quote, newline)
    kv = F.sort_array(
        F.transform(
            tag_pairs,
            lambda p: F.struct(
                _unescape_ident(
                    F.regexp_extract(p, _TAG_RE, 1)
                ).alias("k"),
                _unescape_ident(
                    F.regexp_extract(p, _TAG_RE, 2)
                ).alias("v"),
            ),
        )
    )
    label_block = F.array_join(
        F.transform(
            kv,
            lambda s: F.concat(
                s["k"], F.lit('="'), escape_label_col(s["v"]), F.lit('"')
            ),
        ),
        ",",
    )
    raw_ts = F.when(F.col("__ts") == "", F.lit(None)).otherwise(
        F.col("__ts").cast("long") * F.lit(_PRECISION_NS[precision])
    )
    if default_ts is not None:
        raw_ts = F.coalesce(raw_ts, F.lit(int(default_ts)))

    tokens = F.regexp_extract_all(F.col("__fields"), F.lit(_FIELD_RE), 0)
    # completeness: a comma-join of the matched tokens must reconstruct
    # the section exactly — otherwise a malformed field (empty value,
    # stray separator) was silently skipped by the tokenizer, which
    # would contradict the FAILFAST contract (r13 review)
    tokens_checked = F.when(
        F.array_join(tokens, ",") == F.col("__fields"), tokens
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("unparseable line-protocol fields: "),
                F.col("__line"),
            )
        )
    )
    fields = rows.select(
        measurement.alias("measurement"),
        tags.alias("tags"),
        label_block.alias("__lb"),
        raw_ts.alias("ts"),
        F.explode(tokens_checked).alias("__f"),
    )
    key = _unescape_ident(F.regexp_extract(F.col("__f"), _FIELD_RE, 1))
    val = F.regexp_extract(F.col("__f"), _FIELD_RE, 2)
    is_str = val.startswith('"')
    is_int = val.rlike(r"^-?\d+i$")
    is_uint = val.rlike(r"^\d+u$")
    is_bool = val.rlike(r"^(t|T|true|True|TRUE|f|F|false|False|FALSE)$")
    ftype = (
        F.when(is_str, F.lit("string"))
        .when(is_int, F.lit("int"))
        .when(is_uint, F.lit("uint"))
        .when(is_bool, F.lit("bool"))
        .otherwise(F.lit("float"))
    )
    value = (
        F.when(is_str, F.lit(None).cast("double"))
        .when(is_int | is_uint,
              F.regexp_replace(val, r"[iu]$", "").cast("double"))
        .when(is_bool, val.rlike("^(t|T|true|True|TRUE)$").cast("double"))
        # ANSI cast: junk that matched none of the typed forms fails
        # loudly here, carrying the text
        .otherwise(val.cast("double"))
    )
    value_str = F.when(is_str, _unescape_string(val))
    # i/u suffixes exist to carry FULL 64-bit integers — cast the
    # suffix-stripped text straight to long (the double `value` column
    # is convenience and loses precision past 2^53; typed ingest uses
    # this column — r13 review)
    value_int = F.when(
        is_int | is_uint,
        F.regexp_replace(val, r"[iu]$", "").cast("long"),
    )
    series_key = F.concat(
        F.col("measurement"),
        F.lit("_"),
        key,
        F.lit("{"),
        F.col("__lb"),
        F.lit("}"),
    )
    return fields.select(
        "measurement",
        "tags",
        key.alias("field"),
        series_key.alias("series_key"),
        ftype.alias("ftype"),
        value.alias("value"),
        value_int.alias("value_int"),
        value_str.alias("value_str"),
        "ts",
    )


def ingest_line_protocol(
    conn,
    source: str | DataFrame,
    precision: str = "ns",
    default_ts: int | None = None,
    value_type: str = "f64",
    literal: bool | None = None,
) -> tuple[int, int]:
    """Ingest line-protocol text into `conn` — `source` is a path/glob
    for spark.read.text, a literal text blob (newline content
    parallelizes), or a pre-read lines DataFrame. Each numeric/bool
    field fans out to stream `measurement_field{tags}`; streams that
    don't exist yet are registered in ONE catalog batch with
    `value_type`. String fields are metadata, not samples — skipped.
    A malformed line or field, or a line without a timestamp when no
    `default_ts` is given, raises ValueError before the catalog
    changes. Returns (samples_appended, string_fields_skipped)."""
    lines = _read_lines(
        conn, source, literal, r"^[^#\s/][^\s]*\s+[^\s=]+=",
        "ingest_line_protocol",
    )
    fields = parse_line_protocol(lines, precision, default_ts)
    ts = F.col("ts")
    if default_ts is None:
        # line-protocol semantics assign receive time to ts-less lines;
        # we have no receive clock, and a NULL-ts sample is invisible to
        # every ts-range query — fail loudly instead of losing data
        ts = F.when(
            ts.isNull(),
            F.raise_error(
                F.concat(
                    F.lit("ingest_line_protocol: line without a timestamp "
                          "and no default_ts given (series: "),
                    F.col("series_key"),
                    F.lit(") — pass default_ts=<ns epoch>"),
                )
            ),
        ).otherwise(ts)
    # the skipped count and the ts guard ride the pipeline's checkpoint
    # job, so both land before the catalog changes with no extra action
    skipped = Observation()
    numeric = (
        fields.observe(
            skipped,
            F.count(F.when(F.col("ftype") == "string", 1)).alias("n"),
        )
        .where(F.col("ftype") != "string")
        .select(
            "series_key",
            F.concat(F.col("measurement"), F.lit("_"), F.col("field"))
            .alias("name"),
            F.col("tags").alias("labels"),
            ts.alias("ts"),
            "value",
            "value_int",
        )
    )
    n = _ingest_parsed(conn, numeric, value_type)
    return n, skipped.get["n"]


def _esc_ident(col):
    # escape , = and space in identifiers (the inverse of
    # _unescape_ident). The protocol defines NO escape for a backslash
    # in identifiers, so one is unrepresentable — raise rather than
    # emit a line the parser rejects (r13 review)
    checked = F.when(
        col.contains("\\"),
        F.raise_error(
            F.concat(
                F.lit("line-protocol identifiers cannot contain a "
                      "backslash: "),
                col,
            )
        ),
    ).otherwise(col)
    return F.regexp_replace(checked, r"([,= ])", r"\\$1")


def render_line_protocol(
    df: DataFrame,
    measurement_col: str = "measurement",
    tags_col: str | None = "tags",
    field_col: str = "field",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Render rows to line-protocol text (one line per row, column
    `value` — the spark.read.text shape, so the output round-trips
    through parse_line_protocol): measurement/tag/field identifiers are
    escaped, tags render in SORTED key order (canonical — tag order in
    the text carries no meaning), numeric values render via Spark's
    shortest-repr double cast (exact round-trip), ns timestamps append
    verbatim. `tags_col=None` renders tagless lines. The write-side
    complement of parse_line_protocol, as promapi.openmetrics_text is
    to parse_openmetrics — fully distributed, one projection, no
    shuffle."""
    meas = _esc_ident(F.col(measurement_col))
    if tags_col is not None:
        keys = F.sort_array(F.map_keys(F.col(tags_col)))
        tag_str = F.array_join(
            F.transform(
                keys,
                lambda k: F.concat(
                    _esc_ident(k),
                    F.lit("="),
                    _esc_ident(F.col(tags_col)[k]),
                ),
            ),
            ",",
        )
        head = F.when(
            F.size(keys) > 0, F.concat(meas, F.lit(","), tag_str)
        ).otherwise(meas)
    else:
        head = meas
    line = F.concat(
        head,
        F.lit(" "),
        _esc_ident(F.col(field_col)),
        F.lit("="),
        F.col(value_col).cast("double").cast("string"),
        F.lit(" "),
        F.col(ts_col).cast("long").cast("string"),
    )
    return df.select(line.alias("value"))


# ---------------------------------------------------------- graphite
# Graphite plaintext: `metric.path[;tag=value...] <value> <unix_ts>` —
# the third text wire format (carbon feeds, statsd repeaters). Tagged
# metrics (Graphite 1.1 `;tag=value` suffixes) map to labels.
_GRAPHITE_RE = (
    r"^([^;\s]+)((?:;[^;=\s]+=[^;\s]*)*)\s+(\S+)\s+(-?\d+)\s*$"
)
_GTAG_RE = r";([^;=\s]+)=([^;\s]*)"


def parse_graphite(
    lines: DataFrame,
    ts_unit: str = "s",
) -> DataFrame:
    """Parse Graphite plaintext lines (column `value`) into
    (name, tags: map<string,string>, series_key, value: double,
    ts: long ns). `ts_unit` is "s" (carbon's unix seconds, default) or
    "ms"/"us"/"ns". Malformed non-comment lines FAILFAST in-expression
    like the sibling parsers; `#` comments and blanks drop."""
    unit_ns = {"s": 1_000_000_000, "ms": 1_000_000, "us": 1_000, "ns": 1}
    if ts_unit not in unit_ns:
        raise ValueError(
            f"ts_unit must be one of {sorted(unit_ns)}, got {ts_unit!r}"
        )
    raw = F.col("value")
    name = F.regexp_extract(raw, _GRAPHITE_RE, 1)
    checked = F.when(name != "", name).otherwise(
        F.raise_error(
            F.concat(F.lit("unparseable graphite line: "), raw)
        )
    )
    rows = lines.where(
        (F.length(F.trim(raw)) > 0) & ~F.trim(raw).startswith("#")
    ).select(
        checked.alias("name"),
        F.regexp_extract(raw, _GRAPHITE_RE, 2).alias("__tags"),
        F.regexp_extract(raw, _GRAPHITE_RE, 3).alias("__val"),
        F.regexp_extract(raw, _GRAPHITE_RE, 4).alias("__ts"),
    )
    pairs = F.regexp_extract_all(F.col("__tags"), F.lit(_GTAG_RE), 0)
    tags = F.map_from_arrays(
        F.transform(pairs, lambda p: F.regexp_extract(p, _GTAG_RE, 1)),
        F.transform(pairs, lambda p: F.regexp_extract(p, _GTAG_RE, 2)),
    )
    # canonical label block: sort the extracted (key, value) STRUCTS and
    # escape values via escape_label_col, mirroring parse_line_protocol's
    # r13 fix — sorting the raw ";k=v" strings lets the '=' byte reorder
    # prefix keys (e.g. 'a1' < 'a=' so 'a1' sorts before 'a'), diverging
    # from the python sorted(labels.items()) the catalog keys use
    kv = F.sort_array(
        F.transform(
            pairs,
            lambda p: F.struct(
                F.regexp_extract(p, _GTAG_RE, 1).alias("k"),
                F.regexp_extract(p, _GTAG_RE, 2).alias("v"),
            ),
        )
    )
    label_block = F.array_join(
        F.transform(
            kv,
            lambda s: F.concat(
                s["k"], F.lit('="'), escape_label_col(s["v"]), F.lit('"')
            ),
        ),
        ",",
    )
    series_key = F.concat(
        F.col("name"), F.lit("{"), label_block, F.lit("}")
    )
    return rows.select(
        "name",
        tags.alias("tags"),
        series_key.alias("series_key"),
        # ANSI cast FAILFASTs junk values, carrying the text
        F.col("__val").cast("double").alias("value"),
        # integer-literal values cast straight from TEXT (full 64-bit
        # range — the double column loses precision past 2^53); NULL for
        # fractional/scientific forms (ADVICE r14 #3)
        F.when(
            F.col("__val").rlike(r"^[+-]?[0-9]+$"),
            F.col("__val").cast("long"),
        ).alias("value_int"),
        (F.col("__ts").cast("long") * F.lit(unit_ns[ts_unit])).alias("ts"),
    )


def ingest_graphite(
    conn,
    source: str | DataFrame,
    ts_unit: str = "s",
    value_type: str = "f64",
    literal: bool | None = None,
) -> int:
    """Ingest Graphite plaintext into `conn`. `source` is a path/glob
    for spark.read.text, a literal text blob, or a pre-read lines
    DataFrame; each metric path (+ 1.1 `;tag=value` labels) maps to
    stream `name{tags}`. The parsed batch goes through the ingest
    pipeline all five wire formats share
    (series_resolve._ingest_parsed); integer-literal values keep their
    exact 64-bit text into integer-typed streams. A malformed line
    raises ValueError before the catalog changes. Returns samples
    appended."""
    lines = _read_lines(
        conn, source, literal, r"^[^#\s/][^\s]*\s+\S+\s+-?\d+\s*$",
        "ingest_graphite",
    )
    parsed = parse_graphite(lines, ts_unit).withColumnRenamed(
        "tags", "labels"
    )
    return _ingest_parsed(conn, parsed, value_type)


def render_graphite(
    df: DataFrame,
    name_col: str = "name",
    tags_col: str | None = "tags",
    value_col: str = "value",
    ts_col: str = "ts",
    ts_unit: str = "s",
) -> DataFrame:
    """Render rows to Graphite plaintext (one line per row, column
    `value` — round-trips through parse_graphite): `name[;k=v...]
    <value> <ts>`, tags in SORTED key order (canonical). Graphite's
    grammar defines NO escaping, so a name/tag containing `;`, `=`,
    whitespace or a `~` tag-key prefix is unrepresentable — raise
    in-expression rather than emit a line the parser would mis-split
    (same contract as render_line_protocol's backslash rule). `ts_unit`
    converts the native-ns ts column for the output clock ("s" default,
    carbon's unix seconds — integer DIV, exact)."""
    unit_ns = {"s": 1_000_000_000, "ms": 1_000_000, "us": 1_000, "ns": 1}
    if ts_unit not in unit_ns:
        raise ValueError(
            f"ts_unit must be one of {sorted(unit_ns)}, got {ts_unit!r}"
        )

    def _checked(col, what):
        return F.when(
            col.rlike(r"[;=\s]") | (col == ""),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"graphite {what} cannot be empty or contain "
                        "';', '=' or whitespace (the protocol defines "
                        "no escaping): "
                    ),
                    col,
                )
            ),
        ).otherwise(col)

    head = _checked(F.col(name_col), "metric path")
    if tags_col is not None:
        keys = F.sort_array(F.map_keys(F.col(tags_col)))
        tag_str = F.array_join(
            F.transform(
                keys,
                lambda k: F.concat(
                    _checked(k, "tag key"),
                    F.lit("="),
                    _checked(F.col(tags_col)[k], "tag value"),
                ),
            ),
            ";",
        )
        head = F.when(
            F.size(keys) > 0, F.concat(head, F.lit(";"), tag_str)
        ).otherwise(head)
    line = F.concat(
        head,
        F.lit(" "),
        F.col(value_col).cast("double").cast("string"),
        F.lit(" "),
        F.expr(f"CAST({ts_col} AS BIGINT) DIV {unit_ns[ts_unit]}")
        .cast("string"),
    )
    return df.select(line.alias("value"))
