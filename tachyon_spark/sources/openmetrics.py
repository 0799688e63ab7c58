"""OpenMetrics / Prometheus text-exposition INGEST.

The inverse of `promapi.openmetrics_text` (the /metrics page): parse
scraped exposition text into samples and append them through the same
partitioned-parquet write path as programmatic ingest. The reference has
no scrape-side connector at all (its only inputs are the FFI inserter and
CSV, tachyon_cli/src/main.rs:247-296); this is the source format a
Prometheus-ecosystem migration actually has on hand — federation dumps,
`promtool tsdb dump`-style text, scraped /metrics snapshots.

Parsing is ALL JVM-side column expressions (regexp_extract /
regexp_extract_all / transform — no Python UDFs), so a directory of
multi-GB scrape dumps parses in parallel at scan speed:

  line     `name{k="v",...} value [timestamp]` (labels optional); `#`
           comment lines and the `# EOF` terminator drop; HELP/TYPE
           metadata lines drop (samples carry no type here — the stream's
           declared value_type governs storage, as with CSV import).
  labels   `(\\w+)="((?:[^"\\\\]|\\\\.)*)"` pairs — escaped `\\"`, `\\\\`
           and `\\n` inside label values unescape exactly like
           promapi._escape_label escapes them.
  value    OpenMetrics floats incl. +Inf/-Inf/NaN spellings.
  ts       unix seconds (float, `ns_clock=True`, scaled to native ns —
           NOTE: a ns epoch exceeds 2^53, so second-precision text is
           lossy below ~hundreds of ns; round-trips of native-unit
           exposition use `ns_clock=False` which parses ts verbatim) or
           native integer units (`ns_clock=False`). Lines without a
           timestamp take `default_ts`.

`ingest_openmetrics` hands the parse to the ingest pipeline all five
wire formats share (sources/series_resolve.py): the batch's distinct
canonical series keys JOIN the catalog parquet — only genuinely new
series visit the driver — and the samples join a mapping semi-joined
down to the batch's own keys, so a 10^7-stream catalog never collects
or broadcasts whole.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tachyon_spark.sources.series_resolve import (
    _ingest_parsed,
    _read_lines,
    escape_label_col,
)

# one exposition sample line: name, optional {labels}, value, optional ts
_LINE_RE = r"^([a-zA-Z_:][a-zA-Z0-9_:]*)(\{.*\})?\s+(\S+)(?:\s+(\S+))?\s*$"
_PAIR_RE = r'([a-zA-Z_][a-zA-Z0-9_]*)="((?:[^"\\]|\\.)*)"'
# exemplar suffix detector: group 1 is a COMPLETE sample (name, optional
# QUOTE-AWARE label block — ' # {' inside a label value is legal exposition
# and must not look like an exemplar separator — value, optional ts)
# followed by the ' # {...}' exemplar. No match -> the line has no exemplar.
# The block's unquoted char class excludes '}' as well as '"': legal
# exposition has no unquoted '}' inside the block except the terminator,
# and the exclusion makes the block end deterministic (single linear scan,
# no O(n^2) backtracking over '}'-dense adversarial lines).
_EXEMPLAR_RE = (
    r'^([a-zA-Z_:][a-zA-Z0-9_:]*'
    r'(?:\{(?:[^"}]|"(?:[^"\\]|\\.)*")*\})?'
    r'\s+\S+(?:\s+\S+)?)\s+#\s+\{.*$'
)


def _unescape(col):
    # inverse of promapi._escape_label: \\n -> newline, \\" -> ",
    # \\\\ -> \  (single regexp pass so escaped backslashes are not
    # re-interpreted: replace pairs left-to-right via callback-free
    # staged placeholders)
    c = F.replace(col, F.lit("\\\\"), F.lit("\x00"))
    c = F.replace(c, F.lit('\\"'), F.lit('"'))
    c = F.replace(c, F.lit("\\n"), F.lit("\n"))
    return F.replace(c, F.lit("\x00"), F.lit("\\"))


def _num(col):
    """OpenMetrics float spellings -> double (Spark's cast already
    accepts Infinity/NaN; map the short Inf forms explicitly)."""
    return (
        F.when(col.isin("+Inf", "Inf"), F.lit(float("inf")))
        .when(col == "-Inf", F.lit(float("-inf")))
        .when(col == "NaN", F.lit(float("nan")))
        .otherwise(col.cast("double"))
    )


def parse_openmetrics(
    lines: DataFrame,
    ns_clock: bool = True,
    default_ts: int | None = None,
) -> DataFrame:
    """Parse a DataFrame of exposition text lines (column `value`, the
    spark.read.text shape) into (name, labels: map<string,string>,
    series_key, ts: long, value: double) rows. Malformed non-comment
    lines raise (FAILFAST contract, like CSV import) — surfaced AT THE
    FIRST ACTION as a raise_error on the name column (carrying the
    offending line) or an ANSI cast error on the value column. The check
    rides the parse expression itself (r12): the old eager existence
    probe was a second full parse pass of every healthy file — the
    module's whole point is parsing multi-GB scrape dumps at scan speed,
    once."""
    raw = F.col("value")
    # OpenMetrics exemplars (`name 1 2 # {trace_id="x"} 0.5 [ts]`) are
    # valid exposition — strip the ` # {...}...` suffix (spec separator
    # is " # ") rather than FAILFAST-aborting real scraped payloads;
    # exemplar data itself is out of the sample model. The strip is
    # quote-aware: it fires only when a COMPLETE sample precedes the
    # separator, so a label value legally containing ' # {' (only \\, ",
    # \n need escaping in exposition) is left intact.
    sample = F.regexp_extract(raw, _EXEMPLAR_RE, 1)
    ln = F.when(sample != "", sample).otherwise(raw)
    name_raw = F.regexp_extract(ln, _LINE_RE, 1)
    # FAILFAST without a probe pass: an empty extract on a non-comment
    # line raises in-expression, naming the offending line
    name_checked = F.when(name_raw != "", name_raw).otherwise(
        F.raise_error(
            F.concat(F.lit("unparseable OpenMetrics line: "), raw)
        )
    )
    rows = lines.where(
        (F.length(F.trim(raw)) > 0) & ~F.trim(raw).startswith("#")
    ).select(
        name_checked.alias("name"),
        F.regexp_extract(ln, _LINE_RE, 2).alias("__labels"),
        F.regexp_extract(ln, _LINE_RE, 3).alias("__val"),
        F.regexp_extract(ln, _LINE_RE, 4).alias("__ts"),
        raw.alias("__line"),
    )
    pairs = F.regexp_extract_all(F.col("__labels"), F.lit(_PAIR_RE), 0)
    labels = F.map_from_arrays(
        F.transform(pairs, lambda p: F.regexp_extract(p, _PAIR_RE, 1)),
        F.transform(pairs, lambda p: _unescape(F.regexp_extract(p, _PAIR_RE, 2))),
    )
    # canonical series identity: name{k="v",...} with entries sorted by
    # the UNESCAPED (key, value) structs and values re-escaped the
    # promapi way — label order in the text must not matter, and raw
    # `k="v"` string sort would order a prefix key ('a') after its
    # extension ('a1') via the '=' byte, diverging from the Python
    # sorted(labels.items()) catalog keys (r14: same fix the
    # line-protocol arm got in r13; also canonicalizes redundant
    # text-side escapes like \t that _unescape leaves literal)
    kv = F.sort_array(
        F.transform(
            pairs,
            lambda p: F.struct(
                F.regexp_extract(p, _PAIR_RE, 1).alias("k"),
                _unescape(F.regexp_extract(p, _PAIR_RE, 2)).alias("v"),
            ),
        )
    )
    series_key = F.concat(
        F.col("name"),
        F.lit("{"),
        F.array_join(
            F.transform(
                kv,
                lambda s: F.concat(
                    s["k"], F.lit('="'), escape_label_col(s["v"]),
                    F.lit('"'),
                ),
            ),
            ",",
        ),
        F.lit("}"),
    )
    raw_ts = F.when(F.col("__ts") == "", F.lit(None)).otherwise(
        F.col("__ts")
    )
    if ns_clock:
        ts = F.round(_num(raw_ts) * F.lit(1e9)).cast("long")
    else:
        ts = raw_ts.cast("long")
    if default_ts is not None:
        ts = F.coalesce(ts, F.lit(int(default_ts)))
    return rows.select(
        "name",
        labels.alias("labels"),
        series_key.alias("series_key"),
        ts.alias("ts"),
        _num(F.col("__val")).alias("value"),
    )


def ingest_openmetrics(
    conn,
    source: str | DataFrame,
    ns_clock: bool = True,
    default_ts: int | None = None,
    value_type: str = "f64",
    literal: bool | None = None,
) -> int:
    """Ingest exposition text into `conn` — `source` is a path/glob for
    spark.read.text, a literal text blob (auto-detected by newline;
    pass `literal=True` for a one-line blob), or a pre-read lines
    DataFrame. Streams that don't exist yet are registered (one catalog
    batch) with `value_type`. Returns the number of samples appended."""
    lines = _read_lines(
        conn, source, literal, r"^[a-zA-Z_:][a-zA-Z0-9_:]*(\{.*\})?\s+\S+",
        "ingest_openmetrics",
    )
    parsed = parse_openmetrics(lines, ns_clock, default_ts)
    return _ingest_parsed(conn, parsed, value_type)


# exemplar EXTRACTION (r15 second wave — the parse path above STRIPS
# exemplars from the sample model; this complementary pass keeps them):
# group 1 name, 2 label block, 3 sample value, 4 sample ts, 5 exemplar
# label block body, 6 exemplar value, 7 exemplar ts. Same quote-aware
# deterministic-scan shape as _EXEMPLAR_RE.
_EXEMPLAR_FULL_RE = (
    r'^([a-zA-Z_:][a-zA-Z0-9_:]*)'
    r'(\{(?:[^"}]|"(?:[^"\\]|\\.)*")*\})?'
    r'\s+(\S+)(?:\s+(\S+))?'
    r'\s+#\s+\{((?:[^"}]|"(?:[^"\\]|\\.)*")*)\}'
    r'\s+(\S+)(?:\s+(\S+))?\s*$'
)


def parse_openmetrics_exemplars(
    lines: DataFrame, ns_clock: bool = True
) -> DataFrame:
    """The exemplar complement of parse_openmetrics: lines carrying a
    ` # {labels} value [ts]` suffix (the OpenMetrics exemplar syntax)
    -> (series_key, ts, value, ex_keys, ex_vals) rows, one per
    exemplar. `ts` is the EXEMPLAR's own timestamp when present, else
    the sample's (the attachment point); value is the exemplar value
    (the traced observation). Pure JVM regex like the sample parser;
    lines without exemplars simply don't match and drop out — this
    pass never FAILFASTs (the sample parse is the syntax gate)."""
    raw = F.col("value")
    m = lambda g: F.regexp_extract(raw, _EXEMPLAR_FULL_RE, g)  # noqa: E731
    rows = lines.where(
        F.regexp_extract(raw, _EXEMPLAR_FULL_RE, 1) != ""
    ).select(
        m(1).alias("name"), m(2).alias("__labels"),
        m(4).alias("__sample_ts"), m(5).alias("__ex_labels"),
        m(6).alias("__ex_val"), m(7).alias("__ex_ts"),
    )
    pairs = F.regexp_extract_all(F.col("__labels"), F.lit(_PAIR_RE), 0)
    kv = F.sort_array(
        F.transform(
            pairs,
            lambda p: F.struct(
                F.regexp_extract(p, _PAIR_RE, 1).alias("k"),
                _unescape(F.regexp_extract(p, _PAIR_RE, 2)).alias("v"),
            ),
        )
    )
    series_key = F.concat(
        F.col("name"),
        F.lit("{"),
        F.array_join(
            F.transform(
                kv,
                lambda s: F.concat(
                    s["k"], F.lit('="'), escape_label_col(s["v"]),
                    F.lit('"'),
                ),
            ),
            ",",
        ),
        F.lit("}"),
    )
    ex_pairs = F.regexp_extract_all(
        F.col("__ex_labels"), F.lit(_PAIR_RE), 0
    )
    ex_kv = F.sort_array(
        F.transform(
            ex_pairs,
            lambda p: F.struct(
                F.regexp_extract(p, _PAIR_RE, 1).alias("k"),
                _unescape(F.regexp_extract(p, _PAIR_RE, 2)).alias("v"),
            ),
        )
    )
    raw_ts = F.coalesce(
        F.when(F.col("__ex_ts") == "", F.lit(None)).otherwise(
            F.col("__ex_ts")
        ),
        F.when(F.col("__sample_ts") == "", F.lit(None)).otherwise(
            F.col("__sample_ts")
        ),
    )
    if ns_clock:
        ts = F.round(_num(raw_ts) * F.lit(1e9)).cast("long")
    else:
        ts = raw_ts.cast("long")
    return rows.select(
        series_key.alias("series_key"),
        ts.alias("ts"),
        _num(F.col("__ex_val")).alias("value"),
        F.transform(ex_kv, lambda s: s["k"]).alias("ex_keys"),
        F.transform(ex_kv, lambda s: s["v"]).alias("ex_vals"),
    )
