"""AST -> DataFrame plan builder.

The reference plans an AST into a Volcano pull tree of 8 TNode variants
(tachyon_core/src/query/planner.rs:234-261, execution/node/mod.rs:35-44). Here
the same AST becomes a *declarative* DataFrame plan: Catalyst is our
optimizer and physical planner, so selector filters push down to Parquet,
aggregates get map-side partial aggregation, and topk compiles to
TakeOrderedAndProject — the distributed equivalents of the reference's
hand-wired ScanHint / heap strategies (SURVEY §4).

Semantics encoded here (with reference citations):
  - number literals are f64 (planner.rs:135-144);
  - promotion lattice u64 < i64 < f64; / and % always f64 (lib.rs:64-72,
    306-362);
  - comparisons are FILTERS keeping the (computed) sample values
    (vector_to_scalar.rs:62-77);
  - scalar OP vector: the reference swaps operands (binary_op.rs:103-105, a
    bug); we evaluate the written order — divergence documented in tests;
  - vector OP vector: interpolating temporal join (vector_to_vector.rs);
  - aggregate empty-input contract (aggregate.rs:96-104);
  - @/offset pin the selector start (planner.rs:162-180): @start()=0,
    @end()=MAX, @t=t, then offset is added; without @, offset is ignored.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tachyon_spark.operators.aggregates import grouped_agg, scalar_agg
from tachyon_spark.operators.interpolate import interpolated_binop
from tachyon_spark.operators.select import select_streams
from tachyon_spark.operators.topk import bottom_k, grouped_top_k, top_k
from tachyon_spark.promql import ast
from tachyon_spark.types import VT_F64, VT_I64, VT_U64, is_integer, promote, result_type

U64_MAX = (1 << 63) - 1  # reference uses u64::MAX; we cap at i64 max (JVM long)

from tachyon_spark.arith import ieee_div, ieee_mod, py_arith  # noqa: E402


def rewrite_label_streams(node, streams) -> tuple:
    """The label_replace/label_join driver-side stream rewrite, shared by
    the raw-sample and query_range evaluators (labels live in plan-level
    stream info, so the rewrite costs nothing in the distributed plan)."""
    import re as _re

    new_streams = []
    if node.func == "label_replace":
        dst, repl, src, regex = node.args
        pat = _re.compile(regex)
        for s in streams:
            val = s.labels.get(src, "")
            m = pat.fullmatch(val)  # Prometheus anchors the regex
            labels = dict(s.labels)
            if m:
                # $1 → \1 group references
                out = _re.sub(r"\$(\d+)", r"\\\1", repl)
                new_val = m.expand(out)
                if new_val:
                    labels[dst] = new_val
                else:
                    labels.pop(dst, None)  # empty result drops the label
            new_streams.append(replace(s, labels=labels))
    else:  # label_join
        dst, sep, *srcs = node.args
        for s in streams:
            labels = dict(s.labels)
            joined = sep.join(s.labels.get(l, "") for l in srcs)
            if joined:
                labels[dst] = joined
            else:
                labels.pop(dst, None)
            new_streams.append(replace(s, labels=labels))
    return tuple(new_streams)


def string_schema(names) -> T.StructType:
    """Nullable string columns: the schema of every label / match-key map."""
    return T.StructType([T.StructField(n, T.StringType(), True) for n in names])


def local_df(spark, rows, schema: T.StructType) -> DataFrame:
    """A DataFrame of driver-known rows that runs in the JVM only.

    A Python list handed to createDataFrame becomes a pickled PythonRDD
    whose rows Python workers re-read, in a Spark job of their own, every
    time the frame executes (typically as the build side of a broadcast
    join). Here the rows go to the JVM as Arrow record batches instead
    and are served from there. The relation is then re-wrapped as an RDD
    scan: a local relation would hand the optimizer an exact, tiny size
    estimate and flip unhinted joins above the map from sort-merge to
    broadcast, while an RDD scan keeps the unknown-size estimate of the
    list path, so plans change only inside the leaf. The schema is always
    explicit, so an empty row list or an all-null column keeps its type."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    local = spark.createDataFrame(table, schema)._jdf
    return DataFrame(
        spark._jsparkSession.internalCreateDataFrame(
            local.queryExecution().toRdd(), local.schema(), False
        ),
        spark,
    )


def inline_ids_df(spark, ids, col: str = "stream_id") -> DataFrame:
    """A 1-column DataFrame of driver-known ids, from one string literal.

    The grid evaluator builds one id frame per selector instant. Packing
    the ids into ONE string literal and exploding a split() costs a few
    py4j round trips and nothing at execution. (A list-fed createDataFrame
    costs both: tens of ms of build, and a Python-worker job every time
    the frame executes.) Falls back to local_df when an id contains the
    separator (never for catalog-generated ids)."""
    sep = "\x1f"
    if any(sep in i for i in ids):
        return local_df(spark, [(i,) for i in ids], string_schema([col]))
    return spark.range(1).select(
        F.explode(F.split(F.lit(sep.join(ids)), sep, -1)).alias(col)
    )


_ARITH = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    # / and % are always f64 (promotion lattice) and keep IEEE zero-divisor
    # semantics (±Inf/NaN) under Spark ANSI mode — see tachyon_spark/arith.py
    "/": ieee_div,
    "%": ieee_mod,
    # ^ and atan2 (Prometheus's other binary operators) are always f64;
    # java.lang.Math.pow/atan2 are IEEE-conformant under ANSI mode (no
    # error paths), so no CASE guards needed
    "^": lambda a, b: F.pow(a.cast("double"), b.cast("double")),
    "atan2": lambda a, b: F.atan2(a.cast("double"), b.cast("double")),
}
_CMP = {
    "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    ">": lambda a, b: a > b,
    "<": lambda a, b: a < b,
    ">=": lambda a, b: a >= b,
    "<=": lambda a, b: a <= b,
}


@dataclass
class Plan:
    kind: str  # 'vector' | 'scalar' | 'topk' | 'grouped'
    df: DataFrame | None
    value_type: str
    literal: float | None = None  # plan-time-known scalar (number literals)
    group_cols: tuple[str, ...] = ()
    # matched StreamInfo rows for selector-derived vectors; vector matching
    # (on/ignoring) needs per-series label sets and gets them driver-side
    # from here instead of a distributed catalog join
    streams: tuple = ()
    # query evaluation instant (native ts units) — Prometheus instant
    # results carry [eval_ts, value]; Connection.query stamps this
    eval_ts: int | None = None
    # for composite-keyed grouped plans (`without` grouping): the
    # series-key -> remaining-labels map, computed driver-side when the
    # key was built. Lets an OUTER aggregation decompose the opaque key
    # and re-group correctly (`sum without (c) (sum without (b) (m))`
    # must merge series differing only in c) instead of regrouping the
    # composite unchanged. One entry per output group — bounded by the
    # series count, never by data volume.
    series_labels: tuple = ()

    @property
    def return_type(self) -> str:
        # GetK declares ReturnType::Scalar in the reference (get_k.rs) even
        # though it yields multiple rows; we mirror that.
        return "vector" if self.kind in ("vector", "grouped", "sorted") else "scalar"

    def ordered_df(self) -> DataFrame:
        if self.kind == "vector":
            cols = [c for c in ("stream_id", "ts") if c in self.df.columns]
            return self.df.orderBy(*cols).select("ts", "value")
        if self.kind == "grouped":
            return self.df.orderBy(*self.group_cols)
        if self.kind in ("topk", "sorted"):
            return self.df  # already value-ordered
        return self.df.select("value")


class PlanBuilder:
    """The PromQL evaluator. This class evaluates over raw samples in
    [start, end]; plans/range_eval.RangeEvaluator subclasses it for the
    Prometheus step grid. Dispatch (`_eval` over `_HANDLERS`) and every
    handler whose two forms differ only in the step key live here once.
    A mode supplies three hooks:

      - child evaluation: all recursion goes through `_eval`;
      - `_instant`, the per-instant group key: () here (a raw aggregate
        with no keys collapses the range to a scalar), ("ts",) on the
        grid. Aggregates, count_values, topk, scalar() and the histogram
        family group by their label keys plus this key;
      - `_grouped_buckets`, the accepted child kinds of the histogram
        family: only the grid takes a grouped `sum by (le)` input, since
        raw aggregates collapse time.

    The grid overrides the handlers whose semantics really differ:
    selectors and windowed functions, binary operators, absent,
    absent_over_time and the time()/vector() clock arms."""

    _instant: tuple[str, ...] = ()
    _grouped_buckets = False

    def __init__(self, conn, start: int | None, end: int | None):
        self.conn = conn
        self.start = start
        self.end = end

    # ------------------------------------------------------------------ build
    def build(self, expr) -> Plan:
        return self._eval(expr)

    # AST node type -> handler method; a mode overrides methods, not entries
    _HANDLERS = {
        ast.NumberLiteral: "_number",
        ast.VectorSelector: "_selector",
        ast.MatrixSelector: "_bare_range",
        ast.Subquery: "_bare_range",
        ast.BinaryOp: "_binary",
        ast.Aggregate: "_aggregate",
        ast.GetK: "_getk",
        ast.CountValues: "_count_values",
        ast.LimitAgg: "_limit_agg",
        ast.RangeFunc: "_range_func",
        ast.OverTimeFunc: "_over_time_func",
        ast.RangeCountFunc: "_range_count_func",
        ast.DerivFunc: "_deriv_func",
        ast.PredictLinearFunc: "_predict_linear",
        ast.HoltWintersFunc: "_holt_winters",
        ast.ClockFunc: "_clock_func",
        ast.MathFunc: "_columnwise",
        ast.ClampFunc: "_columnwise",
        ast.RoundFunc: "_columnwise",
        ast.CalendarFunc: "_calendar_func",
        ast.HistogramQuantile: "_histogram_quantile",
        ast.HistogramAgg: "_histogram_agg",
        ast.HistogramFraction: "_histogram_fraction",
        ast.LabelFunc: "_label_func",
        ast.AbsentOverTime: "_absent_over_time",
        ast.AbsentFunc: "_absent",
        ast.SortFunc: "_sort_func",
        ast.SortByLabelFunc: "_sort_by_label",
    }

    def _eval(self, expr) -> Plan:
        handler = self._HANDLERS.get(type(expr))
        if handler is None:
            raise ValueError(f"unsupported expression: {expr!r}")
        return getattr(self, handler)(expr)

    def _number(self, node: ast.NumberLiteral) -> Plan:
        return Plan("scalar", None, VT_F64, literal=float(node.value))

    def _bare_range(self, node) -> Plan:
        if isinstance(node, ast.MatrixSelector):
            raise ValueError(
                "range vector (matrix selector) can only be used as the "
                "argument of a range function (rate/increase/delta, "
                "*_over_time, resets/changes/irate/idelta, deriv)"
            )
        raise ValueError(
            "a subquery expr[RANGE:STEP] can only be the argument of a "
            "windowed function (*_over_time, rate/increase/delta, "
            "resets/changes/irate/idelta, deriv, predict_linear, "
            "holt_winters)"
        )

    def _scalar_param(self, expr, what: str) -> float:
        """A function's scalar parameter (topk's k, limitk's k/ratio): a
        literal, or a one-row scalar frame read on the driver."""
        p = self._eval(expr)
        if p.kind not in ("scalar", "topk"):
            raise ValueError(f"{what} must be a scalar")
        if p.literal is not None:
            return float(p.literal)
        row = p.df.select("value").collect()
        return float(row[0].value) if row else 0.0

    def _sort_func(self, node: ast.SortFunc) -> Plan:
        """sort()/sort_desc(): vector ordered by value (ts kept). Extension;
        a global sort — at scale prefer topk for bounded results."""
        child = self._eval(node.child)
        if child.kind != "vector":
            raise ValueError(f"{node.func} requires a vector input")
        order = F.asc("value") if node.func == "sort" else F.desc("value")
        out = child.df.select("ts", "value").orderBy(order, F.asc("ts"))
        return Plan("sorted", out, child.value_type)

    def _sort_by_label(self, node: ast.SortByLabelFunc) -> Plan:
        """sort_by_label(_desc): vector reordered by label values
        (ast.SortByLabelFunc). Labels attach as one broadcast map join on
        stream_id (same shape as grouped aggregation); the sort itself is
        the presentation-order global sort the sort()/sort_desc family
        already accepts at this altitude."""
        child = self._eval(node.child)
        if child.kind != "vector":
            raise ValueError(f"{node.func} requires a vector input")
        if "stream_id" not in child.df.columns or not child.streams:
            raise ValueError(
                f"{node.func} requires a label-carrying selector vector"
            )
        df = self._attach_labels(child.df, node.labels, child.streams)
        asc = node.func == "sort_by_label"
        order = [
            F.asc_nulls_first(l) if asc else F.desc_nulls_last(l)
            for l in node.labels
        ]
        out = df.orderBy(*order, F.asc("ts")).select("ts", "value")
        return Plan("sorted", out, child.value_type)

    @staticmethod
    def _series_fingerprint(s) -> str:
        """Stable series identity string for hash-based sampling: metric
        name + sorted labels — the same fingerprint regardless of matcher
        or creation order."""
        parts = [f"__name__={s.name}"] + [
            f"{k}={v}" for k, v in sorted(s.labels.items())
        ]
        return ",".join(parts)

    @staticmethod
    def _select_limit_series(
        func: str, param: float, streams: tuple, by: tuple[str, ...],
        without: tuple[str, ...] = (),
    ) -> set:
        """The limitk/limit_ratio series-selection rule, shared by the raw
        and step-grid paths (selection is metadata-only, so both paths must
        pick the SAME series for a given param). `without` groups on every
        label EXCEPT the listed ones (mutually exclusive with `by`)."""
        import hashlib

        if func == "limitk":
            k = max(int(param), 0)
            groups: dict[tuple, list] = {}
            for s in streams:
                if without:
                    drop = set(without)
                    key = tuple(
                        (l, v)
                        for l, v in sorted(s.labels.items())
                        if l not in drop
                    )
                else:
                    key = tuple(s.labels.get(l) for l in by)
                groups.setdefault(key, []).append(s)
            return {
                s.stream_id
                for ss in groups.values()
                for s in sorted(ss, key=lambda s: s.stream_id)[:k]
            }
        r = float(param)
        if not -1.0 <= r <= 1.0:
            raise ValueError("limit_ratio requires a ratio in [-1, 1]")
        kept = set()
        for s in streams:
            dig = hashlib.md5(
                PlanBuilder._series_fingerprint(s).encode()
            ).digest()
            u = int.from_bytes(dig[:8], "big") / 2.0**64
            if (r >= 0 and u < r) or (r < 0 and u >= 1.0 + r):
                kept.add(s.stream_id)
        return kept

    def _limit_agg(self, node: ast.LimitAgg) -> Plan:
        """limitk/limit_ratio (ast.LimitAgg): per-group SERIES sampling.
        Selection runs driver-side over the plan's bounded stream metadata
        (the altitude label attachment already lives at); the distributed
        plan only gains a pushdown-able stream_id IN filter, so the scan
        SHRINKS — no shuffle, no window. Deterministic: limitk keeps the k
        smallest stream_ids per group; limit_ratio hashes the series
        fingerprint to [0,1) via md5 and keeps u < r (complement u >= 1+r
        for negative r — limit_ratio(r) + limit_ratio(-(1-r)) partition).
        Selection is metadata-only, so both modes keep the SAME series for
        a given param."""
        param = self._scalar_param(node.param, f"{node.func} parameter")
        child = self._eval(node.child)
        if child.kind != "vector":
            raise ValueError(f"{node.func} requires a vector input")
        if "stream_id" not in child.df.columns or not child.streams:
            raise ValueError(
                f"{node.func} requires a label-carrying selector vector"
            )
        kept = self._select_limit_series(
            node.func, param, child.streams, node.by, node.without
        )
        if kept:
            out = child.df.where(F.col("stream_id").isin(sorted(kept)))
        else:
            out = child.df.where(F.lit(False))
        streams = tuple(s for s in child.streams if s.stream_id in kept)
        return Plan("vector", out, child.value_type, streams=streams)

    _MATH = {
        "abs": F.abs,
        "ceil": F.ceil,
        "floor": F.floor,
        "sqrt": F.sqrt,
        "exp": F.exp,
        "ln": F.log,
        "sgn": F.signum,
        "log2": F.log2,
        "log10": F.log10,
        "sin": F.sin,
        "cos": F.cos,
        "tan": F.tan,
        "asin": F.asin,
        "acos": F.acos,
        "atan": F.atan,
        "sinh": F.sinh,
        "cosh": F.cosh,
        "tanh": F.tanh,
        "asinh": F.asinh,
        "acosh": F.acosh,
        "atanh": F.atanh,
        "deg": F.degrees,
        "rad": F.radians,
    }
    # driver-side mirror of _MATH for literal scalars
    _MATH_PY = {
        "abs": abs, "ceil": math.ceil, "floor": math.floor,
        "sqrt": math.sqrt, "exp": math.exp, "ln": math.log,
        "sgn": lambda x: (x > 0) - (x < 0),
        "log2": math.log2, "log10": math.log10, "sin": math.sin,
        "cos": math.cos, "tan": math.tan, "asin": math.asin,
        "acos": math.acos, "atan": math.atan, "sinh": math.sinh,
        "cosh": math.cosh, "tanh": math.tanh, "asinh": math.asinh,
        "acosh": math.acosh, "atanh": math.atanh,
        "deg": math.degrees, "rad": math.radians,
    }

    @staticmethod
    def _calendar_col(func: str, v):
        """Calendar field of `v` = unix SECONDS, computed tz-FREE: the UTC
        calendar date is derived by whole-day offset from the epoch
        (date_add on a date literal), so the result never depends on
        spark.sql.session.timeZone; minute/hour are pure modular
        arithmetic. Matches Prometheus's time.Unix(...).UTC() fields
        (prometheus/promql functions.go funcDaysInMonth..funcYear).
        Narrow codegen expression — no shuffle, no UDF."""
        days = F.floor(v / F.lit(86400.0))
        d = F.date_add(F.lit("1970-01-01").cast("date"), days.cast("int"))
        if func == "minute":
            return F.pmod(F.floor(v / F.lit(60.0)), F.lit(60.0)).cast("double")
        if func == "hour":
            return F.pmod(F.floor(v / F.lit(3600.0)), F.lit(24.0)).cast("double")
        if func == "day_of_week":
            # Spark dayofweek: 1=Sunday..7 — Prometheus wants 0=Sunday..6
            return (F.dayofweek(d) - F.lit(1)).cast("double")
        if func == "day_of_month":
            return F.dayofmonth(d).cast("double")
        if func == "day_of_year":
            return F.dayofyear(d).cast("double")
        if func == "days_in_month":
            return F.dayofmonth(F.last_day(d)).cast("double")
        if func == "month":
            return F.month(d).cast("double")
        if func == "year":
            return F.year(d).cast("double")
        raise ValueError(f"unknown calendar function {func!r}")

    @staticmethod
    def _calendar_py(func: str, v: float) -> float:
        """Driver-side mirror of _calendar_col for literal scalars."""
        import calendar as _cal
        import datetime as _dt
        import math as _m

        if func == "minute":
            return float(_m.floor(v / 60.0) % 60)
        if func == "hour":
            return float(_m.floor(v / 3600.0) % 24)
        d = _dt.date(1970, 1, 1) + _dt.timedelta(days=_m.floor(v / 86400.0))
        if func == "day_of_week":
            return float((d.weekday() + 1) % 7)  # Monday=0 -> Sunday=0
        if func == "day_of_month":
            return float(d.day)
        if func == "day_of_year":
            return float(d.timetuple().tm_yday)
        if func == "days_in_month":
            return float(_cal.monthrange(d.year, d.month)[1])
        if func == "month":
            return float(d.month)
        if func == "year":
            return float(d.year)
        raise ValueError(f"unknown calendar function {func!r}")

    @classmethod
    def _elementwise(cls, node):
        """The value-Column map of an elementwise function node: math,
        clamp/clamp_min/clamp_max (literal bounds), round(v, t) and the
        calendar fields."""
        if isinstance(node, ast.MathFunc):
            return cls._MATH[node.func]
        if isinstance(node, ast.CalendarFunc):
            return lambda v: cls._calendar_col(node.func, v)
        if isinstance(node, ast.RoundFunc):
            # PromQL: floor(v/t + 0.5) * t (ties round up toward +inf)
            t = float(node.to_nearest)
            return lambda v: F.floor(v / F.lit(t) + F.lit(0.5)) * F.lit(t)
        if node.func == "clamp_min":
            return lambda v: F.greatest(v, F.lit(node.args[0]))
        if node.func == "clamp_max":
            return lambda v: F.least(v, F.lit(node.args[0]))
        return lambda v: F.least(
            F.greatest(v, F.lit(node.args[0])), F.lit(node.args[1])
        )

    def _columnwise(self, node) -> Plan:
        """Elementwise math, clamp*, round and calendar-over-a-child: one
        narrow projection that keeps every key column, so sample vectors,
        grouped results and scalar frames all pass (whole-stage codegen,
        no shuffle). The result is f64; literal scalars fold driver-side
        where a Python mirror exists (math, calendar). Raw mode keeps abs
        over a sample vector in its input value type (reference parity);
        step-grid values are Prometheus floats."""
        child = self._eval(node.child)
        if child.literal is not None and isinstance(
            node, (ast.MathFunc, ast.CalendarFunc)
        ):
            v = float(child.literal)
            if isinstance(node, ast.MathFunc):
                v = self._MATH_PY[node.func](v)
            else:
                v = self._calendar_py(node.func, v)
            return Plan("scalar", None, VT_F64, literal=float(v))
        func = getattr(node, "func", "round")  # RoundFunc names no func
        if child.kind not in ("vector", "grouped", "scalar") or child.df is None:
            raise ValueError(f"{func} requires a vector input")
        exact = func == "abs" and child.kind == "vector" and not self._instant
        v = F.col("value") if exact else F.col("value").cast("double")
        keep = [c for c in child.df.columns if c != "value"]
        out = child.df.select(*keep, self._elementwise(node)(v).alias("value"))
        return Plan(
            child.kind, out, child.value_type if exact else VT_F64,
            group_cols=child.group_cols, streams=child.streams,
        )

    def _calendar_func(self, node: ast.CalendarFunc) -> Plan:
        """Prometheus calendar functions (ast.CalendarFunc): sample VALUES
        as unix seconds UTC -> field, f64. Zero-arg = vector(time()), the
        mode's evaluation clock (the query start raw, each step on the
        grid), with its native-ns value converted to seconds."""
        if node.child is not None:
            return self._columnwise(node)
        now = self._eval(ast.ClockFunc("vector", ast.ClockFunc("time")))
        secs = F.col("value").cast("double") / F.lit(1e9)
        out = now.df.select("ts", self._calendar_col(node.func, secs).alias("value"))
        return Plan("vector", out, VT_F64)

    def _set_op(self, op: str, lhs: Plan, rhs: Plan) -> Plan:
        """and/or/unless on the ts key (extension; reference has no set ops,
        planner.rs:95-107). and = semi-join, unless = anti-join, or = lhs
        plus rhs rows at timestamps lhs lacks. All are ts-key equi-joins."""
        if lhs.kind != "vector" or rhs.kind != "vector":
            raise ValueError(f"{op!r} requires vector operands")
        l_df = lhs.df.select("ts", "value")
        r_ts = rhs.df.select("ts").distinct()
        if op == "and":
            out = l_df.join(r_ts, "ts", "left_semi")
            return Plan("vector", out, lhs.value_type)
        if op == "unless":
            out = l_df.join(r_ts, "ts", "left_anti")
            return Plan("vector", out, lhs.value_type)
        # or: keep all lhs; add rhs rows whose ts is absent from lhs
        r_extra = rhs.df.select("ts", "value").join(
            l_df.select("ts").distinct(), "ts", "left_anti"
        )
        vt = promote(lhs.value_type, rhs.value_type)
        out = l_df.select("ts", F.col("value").cast("double").alias("value")).unionByName(
            r_extra.select("ts", F.col("value").cast("double").alias("value"))
        )
        if is_integer(vt):
            out = out.select("ts", F.col("value").cast("long").alias("value"))
        return Plan("vector", out, vt)

    def _range_func(self, node: ast.RangeFunc) -> Plan:
        """rate/increase/delta over [start, end] (extension; ast.RangeFunc).

        rate/increase are COUNTER-RESET-AWARE (Prometheus semantics): the
        per-pair adjusted delta is `v - prev` when the counter grew, else
        `v` (the counter restarted from 0 and climbed to v), summed per
        series — so a mid-range reset no longer yields a wrong (even
        negative) rate. delta stays last(value) - first(value): PromQL's
        delta is for gauges and deliberately not reset-corrected. rate =
        increase per ts unit over the observed span; PromQL returns nothing
        for <2 samples — enforced by requiring max(ts) > min(ts).
        `Connection(compat_rate_last_first=True)` replays the pre-round-4
        last-first behavior for migration.

        With a matrix-selector child (`rate(m[5m])`) the same evaluation
        runs per (series, TUMBLING window): one scan + one hash shuffle on
        that key (the lag window and the aggregation share the
        partitioning) — the distributed plan shape at any scale."""
        compat = self.conn.compat_rate_last_first
        if isinstance(node.child, ast.MatrixSelector):
            return self._range_windowed(node.func, node.child)
        if isinstance(node.child, ast.Subquery):
            return self._windowed_subquery_func(
                "range", node.func, node.child, None
            )
        child = self._eval(node.child)
        if child.kind != "vector":
            raise ValueError(f"{node.func} requires a vector input")
        df = child.df
        if node.func in ("rate", "increase") and not compat:
            from pyspark.sql import Window as W

            # per-series lag (multi-stream selectors reset independently);
            # derived vectors without stream_id order globally — fine for a
            # whole-range scalar (bounded, already filtered)
            part = ["stream_id"] if "stream_id" in df.columns else []
            w = W.partitionBy(*part).orderBy("ts", "value")
            v = F.col("value").cast("double")
            prev = F.lag(v).over(w)
            adj = F.when(prev.isNull(), F.lit(None)).when(
                v >= prev, v - prev
            ).otherwise(v)
            rows = df.select(F.col("ts"), adj.alias("__d"))
            agg = rows.agg(
                F.sum("__d").alias("__inc"),
                F.min("ts").alias("__t0"),
                F.max("ts").alias("__t1"),
            ).where(F.col("__t1") > F.col("__t0"))
            value = F.col("__inc")
            if node.func == "rate":
                value = value / (F.col("__t1") - F.col("__t0")).cast("double")
            return Plan("scalar", agg.select(value.alias("value")), VT_F64)
        agg = df.agg(
            # (ts, value) struct tie-break: deterministic when the extreme ts
            # is duplicated (plain min_by/max_by pick an arbitrary row).
            F.min_by("value", F.struct("ts", "value")).cast("double").alias("__first"),
            F.max_by("value", F.struct("ts", "value")).cast("double").alias("__last"),
            F.min("ts").alias("__t0"),
            F.max("ts").alias("__t1"),
        ).where(F.col("__t1") > F.col("__t0"))
        diff = F.col("__last") - F.col("__first")
        if node.func == "rate":
            value = diff / (F.col("__t1") - F.col("__t0")).cast("double")
        else:  # increase | delta
            value = diff
        return Plan("scalar", agg.select(value.alias("value")), VT_F64)

    @staticmethod
    def _over_time_agg(fn: str, child_vt: str, arg, approx: bool = False):
        """The *_over_time aggregate column + result type (shared by the
        matrix-selector, subquery, and query_range paths)."""
        v = F.col("value")
        if fn == "avg":
            return F.avg(v.cast("double")), VT_F64
        if fn == "sum":
            return F.sum(v), child_vt
        if fn == "min":
            return F.min(v), child_vt
        if fn == "max":
            return F.max(v), child_vt
        if fn == "count":
            return F.count(v), VT_U64
        if fn == "quantile":
            if approx:
                # mergeable sketch (Connection(approx_aggregates=True)):
                # rank error <= 1/accuracy — the 100 TB path
                from tachyon_spark.operators.aggregates import (
                    APPROX_PERCENTILE_ACCURACY,
                )

                return (
                    F.approx_percentile(
                        v.cast("double"),
                        F.lit(arg),
                        F.lit(APPROX_PERCENTILE_ACCURACY),
                    ),
                    VT_F64,
                )
            # exact linear-interpolated percentile (PromQL semantics) — the
            # oracle-gated default
            return F.percentile(v.cast("double"), F.lit(arg)), VT_F64
        if fn == "mad":
            # median absolute deviation: med(|x - med(x)|) — two nested
            # medians over the window's sorted sample list (a window is
            # range-width bounded, same in-memory contract as quantile).
            # Interpolated median (avg of middle two for even n), matching
            # percentile(0.5)'s linear interpolation.
            def _arr_median(a):
                n = F.size(a)
                mid = (n / 2).cast("int")
                return F.when(
                    n % 2 == 1, F.element_at(a, mid + 1)
                ).otherwise(
                    (F.element_at(a, mid) + F.element_at(a, mid + 1)) / 2.0
                )

            arr = F.sort_array(F.collect_list(v.cast("double")))
            med = _arr_median(arr)
            devs = F.sort_array(F.transform(arr, lambda x: F.abs(x - med)))
            return _arr_median(devs), VT_F64
        if fn == "stddev":  # population, per Prometheus
            return F.stddev_pop(v.cast("double")), VT_F64
        if fn == "stdvar":
            return F.var_pop(v.cast("double")), VT_F64
        if fn == "present":
            return F.max(F.lit(1.0)), VT_F64
        # ts_of_* (Prometheus 3.x experimental, promql functions.go
        # funcTsOfMaxOverTime family): the TIMESTAMP of the newest /
        # max / min sample, in native ts units as f64 (same unit
        # divergence as timestamp(), ast.CLOCK_FUNCS note). Prometheus
        # scans with >= / <=, so value ties resolve to the LATEST ts —
        # mirrored here by the (value, ts) / (value, -ts) struct orders.
        if fn == "ts_of_last":
            return F.max("ts").cast("double"), VT_F64
        if fn == "ts_of_max":
            return (
                F.max_by("ts", F.struct(v.cast("double"), F.col("ts")))
                .cast("double"),
                VT_F64,
            )
        if fn == "ts_of_min":
            return (
                F.min_by("ts", F.struct(v.cast("double"), -F.col("ts")))
                .cast("double"),
                VT_F64,
            )
        # last: newest sample, (ts, value) tie-break
        return F.max_by("value", F.struct("ts", "value")), child_vt

    def _over_time_func(self, node: ast.OverTimeFunc) -> Plan:
        """`avg_over_time(m[5m])` family: per-tumbling-window aggregation
        over a range vector (extension; parser guarantees a MatrixSelector
        or Subquery child). Same plan shape as _range_windowed: one scan +
        one hash shuffle on the window key, map-side partials."""
        fn = node.func[: -len("_over_time")]
        if isinstance(node.child, ast.Subquery):
            return self._over_time_subquery(fn, node.child, node.arg)
        msel = node.child
        child = self._selector(msel.selector)
        win = self._window_col(msel)
        agg, vt = self._over_time_agg(
            fn, child.value_type, node.arg,
            approx=self.conn.approx_aggregates,
        )
        out = child.df.groupBy(*self._series_window_keys(child, win)).agg(
            agg.alias("value")
        )
        return Plan("vector", out, vt, streams=child.streams)

    def _subquery_inner(self, sub: ast.Subquery) -> tuple[Plan, int]:
        """Evaluate the subquery's inner expression on its STEP grid;
        returns (plan with ts = step-window start, grid anchor).

        Inner selector: the newest sample per (series, step window) — each
        grid point reports the latest value, PromQL's instant evaluation
        minus the fixed 5m lookback (a step with no samples yields nothing;
        divergence documented). Inner windowed function: built as-is; its
        window width must equal STEP so its output rows ARE the step grid."""
        if sub.at_ts is not None or sub.at_anchor or sub.offset:
            raise ValueError(
                "@/offset modifiers on subqueries are supported in "
                "query_range only (raw-sample subqueries are already an "
                "extension; pin the window there)"
            )
        inner = sub.child
        if isinstance(inner, ast.VectorSelector):
            child = self._selector(inner)
            anchor = self._effective_start(inner) or 0
            step = F.lit(sub.step)
            a = F.lit(anchor)
            win = ((F.col("ts") - a) - (F.col("ts") - a) % step + a).alias("ts")
            out = child.df.groupBy(*self._series_window_keys(child, win)).agg(
                F.max_by("value", F.struct("ts", "value")).alias("value")
            )
            return Plan("vector", out, child.value_type), anchor
        if isinstance(
            inner, (ast.RangeFunc, ast.OverTimeFunc, ast.RangeCountFunc, ast.DerivFunc)
        ):
            msel = inner.child
            if not isinstance(msel, ast.MatrixSelector):
                raise ValueError(
                    "subquery inner function must evaluate a range vector m[RANGE]"
                )
            if msel.range_ != sub.step:
                raise ValueError(
                    f"subquery step ({sub.step}) must equal the inner "
                    f"function's window width ({msel.range_}): the inner "
                    "function's tumbling grid IS the step grid"
                )
            return self._eval(inner), self._effective_start(msel.selector) or 0
        # generic inner expression — `(a + b)[R:S]`, `abs(a)[R:S]`, ... :
        # evaluate raw (interpolating joins and all), then snap to the
        # step grid: the NEWEST derived row per (series?, step window) —
        # the same latest-per-step contract the plain-selector form uses
        child = self._eval(inner)
        if child.kind != "vector":
            raise ValueError(
                "subquery inner expression must evaluate to a vector, got "
                f"{type(inner).__name__} -> {child.kind}"
            )
        anchor = self.start or 0
        step = F.lit(sub.step)
        a = F.lit(anchor)
        win = ((F.col("ts") - a) - (F.col("ts") - a) % step + a).alias("ts")
        keys = [F.col("stream_id")] if "stream_id" in child.df.columns else []
        out = child.df.groupBy(*keys, win).agg(
            F.max_by("value", F.struct("ts", "value")).alias("value")
        )
        return Plan("vector", out, child.value_type), anchor

    def _over_time_subquery(self, fn: str, sub: ast.Subquery, arg) -> Plan:
        """`max_over_time(rate(m[5m])[30m:5m])`: the inner expression's step
        grid re-aggregated per RANGE-wide outer tumbling window. Two hash
        shuffles total (inner grid + outer window), both map-side-partial —
        no per-step re-evaluation of the inner query (PromQL engines
        re-execute the inner expr per step; the grid IS one grouped scan
        here)."""
        inner_plan, anchor = self._subquery_inner(sub)
        width = F.lit(sub.range_)
        a = F.lit(anchor)
        win = ((F.col("ts") - a) - (F.col("ts") - a) % width + a).alias("ts")
        agg, vt = self._over_time_agg(
            fn, inner_plan.value_type, arg,
            approx=self.conn.approx_aggregates,
        )
        keys = [win]
        if "stream_id" in inner_plan.df.columns:
            keys.insert(0, F.col("stream_id"))
        out = inner_plan.df.groupBy(*keys).agg(agg.alias("value"))
        return Plan("vector", out, vt)

    def _absent_over_time(self, node: ast.AbsentOverTime) -> Plan:
        """absent_over_time(m[RANGE]) on the raw path: 1 per tumbling
        window containing NO samples (the windowed dead-stream alert).
        The window grid is generated data (span/width rows); present
        windows anti-join it — one small exchange, no full scan beyond
        the selector's own pruned read. Windows share _window_col's
        anchor so they line up with every other windowed function."""
        msel = node.child
        width = msel.range_
        if self.start is None or self.end is None:
            raise ValueError(
                "absent_over_time requires an explicit query range"
            )
        if isinstance(msel, ast.Subquery):
            # absent_over_time(expr[R:S]) on the raw path: 1 per R-wide
            # tumbling window holding no inner INSTANT (the subquery's
            # S-grid, _subquery_inner — shared with every other windowed-
            # over-subquery form)
            try:
                inner_plan, anchor = self._subquery_inner(msel)
            except ValueError as e:
                if "no streams matched" in str(e):
                    n_win = max((self.end - self.start) // width + 1, 1)
                    grid = self.conn.spark.range(n_win).select(
                        (F.lit(self.start) + F.col("id") * F.lit(width))
                        .alias("ts"),
                        F.lit(1.0).alias("value"),
                    )
                    return Plan("vector", grid, VT_F64)
                raise
            a = F.lit(anchor)
            win = (
                (F.col("ts") - a) - (F.col("ts") - a) % F.lit(width) + a
            ).alias("ts")
            n_win = max((self.end - self.start) // width + 1, 1)
            grid = self.conn.spark.range(n_win).select(
                (F.lit(anchor) + F.col("id") * F.lit(width)).alias("ts"),
                F.lit(1.0).alias("value"),
            )
            present = inner_plan.df.select(win).distinct()
            return Plan(
                "vector", grid.join(present, "ts", "left_anti"), VT_F64
            )
        anchor = self._effective_start(msel.selector) or 0
        span = self.end - self.start
        n_win = max(span // width + 1, 1)
        grid = self.conn.spark.range(n_win).select(
            (F.lit(anchor) + F.col("id") * F.lit(width)).alias("ts"),
            F.lit(1.0).alias("value"),
        )
        try:
            child = self._selector(msel.selector)
        except ValueError as e:
            if "no streams matched" in str(e):
                return Plan("vector", grid, VT_F64)
            raise
        present = child.df.select(self._window_col(msel)).distinct()
        out = grid.join(present, "ts", "left_anti")
        return Plan("vector", out, VT_F64)

    def _absent(self, node: ast.AbsentFunc) -> Plan:
        """absent(v): 1 when v has no samples in range (unknown metric OR
        empty range), else empty — the dead-stream alerting primitive."""
        try:
            child = self._eval(node.child)
        except ValueError as e:
            if "no streams matched" in str(e):
                one = self.conn.spark.range(1).select(F.lit(1.0).alias("value"))
                return Plan("scalar", one, VT_F64)
            raise
        if child.kind != "vector":
            raise ValueError("absent() requires a vector input")
        out = (
            child.df.agg(F.count("*").alias("__n"))
            .where(F.col("__n") == 0)
            .select(F.lit(1.0).alias("value"))
        )
        return Plan("scalar", out, VT_F64)

    def _label_func(self, node: ast.LabelFunc) -> Plan:
        """label_replace/label_join: rewrite each matched series' label set
        DRIVER-SIDE on Plan.streams (extension; absent from the reference).
        Zero cost in the distributed plan — grouping (`sum by`) and vector
        matching (`on()/group_left`) read labels from the plan's stream
        info, so they see the rewritten labels transparently."""
        child = self._eval(node.child)
        if child.kind != "vector" or not child.streams:
            raise ValueError(
                f"{node.func} requires a label-carrying selector vector"
            )
        return replace(child, streams=rewrite_label_streams(node, child.streams))

    def _histogram_quantile(self, node: ast.HistogramQuantile) -> Plan:
        """histogram_quantile(phi, buckets): cumulative bucket series
        carrying an `le` label ('+Inf' allowed), evaluated per timestamp
        and per remaining-label set; the per-group quantile is
        functions/histogram.bucket_quantile — array HOFs over the
        (bounded) bucket list, no UDF. Child shapes: _le_bucket_eval."""
        from tachyon_spark.functions.histogram import bucket_quantile

        return self._le_bucket_eval(
            node.child, "histogram_quantile",
            lambda df, group_cols: bucket_quantile(
                df, node.phi, group_cols, le_col="__le"
            ),
        )

    def _histogram_agg(self, node: ast.HistogramAgg) -> Plan:
        """histogram_count/sum/avg(buckets): Prometheus 3.x classic-
        histogram helpers over the same le-bucket machinery as
        histogram_quantile — count is the +Inf bucket's cumulative count,
        sum the midpoint estimate, avg their ratio
        (functions/histogram.bucket_agg)."""
        from tachyon_spark.functions.histogram import bucket_agg

        return self._le_bucket_eval(
            node.child, f"histogram_{node.op}",
            lambda df, group_cols: bucket_agg(
                df, node.op, group_cols, le_col="__le"
            ),
        )

    def _histogram_fraction(self, node: ast.HistogramFraction) -> Plan:
        """histogram_fraction(lo, hi, buckets): interpolated in-range
        observation fraction, bounds clamped into the bucket domain
        (functions/histogram.bucket_fraction)."""
        from tachyon_spark.functions.histogram import bucket_fraction

        return self._le_bucket_eval(
            node.child, "histogram_fraction",
            lambda df, group_cols: bucket_fraction(
                df, node.lo, node.hi, group_cols, le_col="__le"
            ),
        )

    def _le_bucket_eval(self, child_expr, fname: str, apply) -> Plan:
        """Shared le-bucket evaluation for the histogram family
        (quantile/count/sum/avg/fraction); `apply(df, group_cols)` runs
        the bucket math. Two child forms:

        - a vector carrying le-labeled streams (a selector, or a windowed
          function over bucket series — series identity propagates, so
          `histogram_quantile(phi, increase(m_bucket[1h]))` works in both
          modes): broadcast the (stream_id -> le, series) map, then
          evaluate per (series?, ts).
        - where the mode accepts it (`_grouped_buckets`, the grid), a
          grouped result with 'le' among its group columns (a
          `sum by (le[, ...])` aggregate): parse le and evaluate per
          (remaining group cols, step), sharing the aggregate's key
          shuffle shape. Raw aggregates collapse time, so they are no
          bucket input.

        Either way the per-group bucket list is bounded (tens of les), the
        math is pure array-HOF codegen (functions/histogram.py), and the
        only exchange is the group-key hash — scale-safe."""
        from tachyon_spark.functions.histogram import le_series_frame, parse_le

        child = self._eval(child_expr)
        if (
            self._grouped_buckets
            and child.kind == "grouped"
            and "le" in child.group_cols
        ):
            rest = [c for c in child.group_cols if c != "le"]
            if "ts" not in rest:
                raise ValueError(
                    f"{fname}: grouped input must keep the step "
                    "timestamp (aggregate with by (le, ...))"
                )
            out = apply(child.df.withColumn("__le", parse_le("le")), rest)
            if rest == ["ts"]:
                return Plan("vector", out, VT_F64)
            return Plan("grouped", out, VT_F64, group_cols=tuple(rest))
        if child.kind != "vector" or not child.streams:
            raise ValueError(
                f"{fname} needs le-labeled bucket series: a selector or a "
                "windowed function over them (an aggregate grouped by (le) "
                "only in query_range, where instants exist per step)"
            )
        le_map, multi, smap = le_series_frame(self.conn.spark, child.streams)
        df = child.df.join(F.broadcast(le_map), "stream_id")
        out = apply(df, (["__series"] if multi else []) + ["ts"])
        if multi:
            return Plan(
                "grouped", out.withColumnRenamed("__series", "series"),
                VT_F64, group_cols=("series", "ts"), series_labels=smap,
            )
        return Plan("vector", out, VT_F64)

    def _deriv_func(self, node: ast.DerivFunc) -> Plan:
        """deriv(m[RANGE]): least-squares slope of value over ts per
        (series, window) — regr_slope is a plain mergeable aggregate, so
        this is the same single-shuffle shape as every windowed function.
        Slope is per native ts unit (multiply by 1e9 for per-second on ns
        data); windows without 2 distinct ts yield null and are dropped."""
        if isinstance(node.child, ast.Subquery):
            return self._windowed_subquery_func(
                "deriv", "deriv", node.child, None
            )
        msel = node.child
        child = self._selector(msel.selector)
        win = self._window_col(msel)
        return self._deriv_frame(child, win)

    def _deriv_frame(self, child: Plan, win) -> Plan:
        out = (
            child.df.groupBy(*self._series_window_keys(child, win))
            .agg(
                F.regr_slope(
                    F.col("value").cast("double"), F.col("ts").cast("double")
                ).alias("value")
            )
            .where(F.col("value").isNotNull())
        )
        return Plan("vector", out, VT_F64, streams=child.streams)

    def _predict_linear(self, node: ast.PredictLinearFunc) -> Plan:
        """predict_linear(m[RANGE], t): per (series, window) least-squares
        extrapolation to `t` past the window end — regr_intercept +
        regr_slope * (win_start + range + t). Both regr_* are mergeable
        aggregates: same single-shuffle shape as deriv (prometheus/promql
        functions.go funcPredictLinear, over raw tumbling windows)."""
        if isinstance(node.child, ast.Subquery):
            return self._windowed_subquery_func(
                "predict", "predict_linear", node.child, node.horizon
            )
        msel = node.child
        child = self._selector(msel.selector)
        win = self._window_col(msel)
        return self._predict_frame(child, win, msel.range_, node.horizon)

    def _predict_frame(
        self, child: Plan, win, width: int, horizon: float
    ) -> Plan:
        ts_d = F.col("ts").cast("double")
        v_d = F.col("value").cast("double")
        keys = self._series_window_keys(child, win)
        pred_t = F.col("__win") + F.lit(float(width) + horizon)
        out = (
            child.df.groupBy(*keys)
            .agg(
                F.regr_slope(v_d, ts_d).alias("__m"),
                F.regr_intercept(v_d, ts_d).alias("__b"),
            )
            .withColumnRenamed("ts", "__win")
            .where(F.col("__m").isNotNull())
            .select(
                *[c for c in ("stream_id",) if c in child.df.columns],
                F.col("__win").alias("ts"),
                (F.col("__b") + F.col("__m") * pred_t).alias("value"),
            )
        )
        return Plan("vector", out, VT_F64, streams=child.streams)

    @staticmethod
    def _holt_winters_value(sf: float, tf: float):
        """The holt_winters aggregate column: sorted collect_list fold —
        the recurrence is sequential BY DEFINITION, so the window's samples
        fold in one task (a window is range-width bounded, the same
        in-memory contract as Prometheus's own evaluation); windows
        distribute per (series, window) as usual. State carries
        (prev_s, cur_s, b, i); i==1 folds the b init = v1 - v0 into the
        general step (b' = v - cur there). Null (< 2 samples) drops."""
        pairs = F.sort_array(
            F.collect_list(F.struct(F.col("ts"), F.col("value").cast("double").alias("v")))
        )
        vals = F.transform(pairs, lambda p: p["v"])

        def step(acc, x):
            b1 = x - acc["cur"]  # i == 1: b init = v1 - v0
            bk = F.lit(tf) * (acc["cur"] - acc["prev"]) + F.lit(1.0 - tf) * acc["b"]
            return (
                F.when(
                    acc["i"] == 0,
                    F.struct(
                        F.lit(0.0).alias("prev"), x.alias("cur"),
                        F.lit(0.0).alias("b"), F.lit(1).alias("i"),
                    ),
                )
                .when(
                    acc["i"] == 1,
                    F.struct(
                        acc["cur"].alias("prev"),
                        (F.lit(sf) * x + F.lit(1.0 - sf) * (acc["cur"] + b1)).alias("cur"),
                        b1.alias("b"), F.lit(2).alias("i"),
                    ),
                )
                .otherwise(
                    F.struct(
                        acc["cur"].alias("prev"),
                        (F.lit(sf) * x + F.lit(1.0 - sf) * (acc["cur"] + bk)).alias("cur"),
                        bk.alias("b"), (acc["i"] + 1).alias("i"),
                    )
                )
            )

        zero = F.struct(
            F.lit(0.0).alias("prev"), F.lit(0.0).alias("cur"),
            F.lit(0.0).alias("b"), F.lit(0).alias("i"),
        )
        return F.aggregate(
            vals, zero, step,
            lambda acc: F.when(acc["i"] >= 2, acc["cur"]),
        )

    def _holt_winters(self, node: ast.HoltWintersFunc) -> Plan:
        if isinstance(node.child, ast.Subquery):
            return self._windowed_subquery_func(
                "holt", "holt_winters", node.child, (node.sf, node.tf)
            )
        msel = node.child
        child = self._selector(msel.selector)
        win = self._window_col(msel)
        return self._holt_frame(child, win, node.sf, node.tf)

    def _holt_frame(self, child: Plan, win, sf: float, tf: float) -> Plan:
        out = (
            child.df.groupBy(*self._series_window_keys(child, win))
            .agg(self._holt_winters_value(sf, tf).alias("value"))
            .where(F.col("value").isNotNull())
        )
        return Plan("vector", out, VT_F64, streams=child.streams)

    def _windowed_subquery_func(
        self, family: str, func: str, sub: ast.Subquery, arg
    ) -> Plan:
        """rate/increase/delta, resets/changes/irate/idelta, deriv,
        predict_linear and holt_winters over a SUBQUERY on the raw path —
        `rate((a + b)[30m:5m])`: the inner expression's instants on the
        S-step grid (_subquery_inner, shared with *_over_time), then the
        same per-(series, RANGE-wide tumbling window) evaluation the
        matrix-selector form runs — the frame helpers are literally the
        same code. Two hash shuffles total (inner grid + outer window),
        no per-step re-execution of the inner query."""
        inner_plan, anchor = self._subquery_inner(sub)
        width = sub.range_
        a = F.lit(anchor)
        win = (
            (F.col("ts") - a) - (F.col("ts") - a) % F.lit(width) + a
        ).alias("ts")
        if family == "range":
            return self._range_windowed_frame(func, inner_plan, win)
        if family == "count":
            return self._range_count_frame(func, inner_plan, win)
        if family == "deriv":
            return self._deriv_frame(inner_plan, win)
        if family == "predict":
            return self._predict_frame(inner_plan, win, width, arg)
        sf, tf = arg
        return self._holt_frame(inner_plan, win, sf, tf)

    def _clock_func(self, node: ast.ClockFunc) -> Plan:
        """Evaluation-clock functions (ts stays in NATIVE unitless units,
        ast.CLOCK_FUNCS note). The time()/vector() arms are this mode's;
        the grid overrides them (plans/range_eval):

          time()       -> scalar: the query start (the raw path's
                          evaluation instant).
          vector(s)    -> one sample at the query start with value s.
          timestamp(v) -> each sample's value becomes its own ts.
          scalar(v)    -> per instant (the whole range raw), the value
                          when exactly ONE sample reports, else NaN
                          (Prometheus's one-series rule).
        """
        if node.func == "time":
            return Plan("scalar", None, VT_F64, literal=float(self.start or 0))
        if node.func == "pi":
            return Plan("scalar", None, VT_F64, literal=math.pi)
        child = self._eval(node.child)
        if node.func == "timestamp":
            if child.kind not in ("vector", "grouped"):
                raise ValueError("timestamp() requires a vector input")
            keep = [c for c in child.df.columns if c != "value"]
            out = child.df.select(*keep, F.col("ts").cast("double").alias("value"))
            return Plan(child.kind, out, VT_F64,
                        group_cols=child.group_cols, streams=child.streams)
        if node.func == "vector":
            if child.kind != "scalar":
                raise ValueError("vector() requires a scalar input")
            ts0 = int(self.start or 0)
            if child.literal is not None:
                df = self.conn.spark.range(1).select(
                    F.lit(ts0).cast("long").alias("ts"),
                    F.lit(float(child.literal)).alias("value"),
                )
            else:
                df = child.df.select(
                    F.lit(ts0).cast("long").alias("ts"),
                    F.col("value").cast("double").alias("value"),
                )
            return Plan("vector", df, VT_F64)
        # scalar(v)
        if child.kind != "vector":
            raise ValueError("scalar() requires a vector input")
        agg = child.df.groupBy(*self._instant).agg(
            F.count("*").alias("__n"),
            F.first("value").alias("__v"),
        )
        out = agg.select(
            *self._instant,
            F.when(F.col("__n") == 1, F.col("__v").cast("double"))
            .otherwise(F.lit(float("nan")))
            .alias("value"),
        )
        return Plan("scalar", out, VT_F64)

    def _range_count_func(self, node: ast.RangeCountFunc) -> Plan:
        """resets/changes per (series, tumbling window): a lag over
        (series, window) ordered by (ts, value), then a count of decreases
        (resets) or inequalities (changes) between consecutive samples.
        One shuffle on the (series, window) key; the lag window and the
        aggregation share that partitioning, so no second exchange."""
        if isinstance(node.child, ast.Subquery):
            return self._windowed_subquery_func(
                "count", node.func, node.child, None
            )
        msel = node.child
        child = self._selector(msel.selector)
        win = self._window_col(msel)
        return self._range_count_frame(node.func, child, win)

    def _range_count_frame(self, func: str, child: Plan, win) -> Plan:
        from pyspark.sql import Window as W

        df = child.df.select(
            *( ["stream_id"] if "stream_id" in child.df.columns else [] ),
            F.col("ts").alias("__ts"),
            "value",
            win.alias("__win"),
        )
        part = (["stream_id"] if "stream_id" in df.columns else []) + ["__win"]
        w = W.partitionBy(*part).orderBy("__ts", "value")
        prev = F.lag("value").over(w)
        keep = [c for c in ("stream_id",) if c in df.columns]
        if func in ("irate", "idelta"):
            # instant rate/delta: only the LAST consecutive pair per window.
            # irate is reset-aware like rate (a negative last delta means
            # the counter restarted: use v); idelta stays the raw gauge diff
            diff = (F.col("value") - prev).cast("double")
            tdiff = (F.col("__ts") - F.lag("__ts").over(w)).cast("double")
            if func == "irate":
                num = diff
                if not self.conn.compat_rate_last_first:
                    num = F.when(diff >= 0, diff).otherwise(
                        F.col("value").cast("double")
                    )
                val = num / tdiff
            else:
                val = diff
            pairs = df.select(
                *part, "__ts", "value", val.alias("__v"), tdiff.alias("__dt")
            ).where(F.col("__v").isNotNull() & (F.col("__dt") > 0))
            out = pairs.groupBy(*part).agg(
                F.max_by("__v", F.struct("__ts", "value")).alias("value")
            )
            return Plan(
                "vector",
                out.select(*keep, F.col("__win").alias("ts"), "value"),
                VT_F64,
                streams=child.streams,
            )
        if func == "resets":
            flag = (F.col("value") < prev).cast("long")
        else:  # changes
            flag = (F.col("value") != prev).cast("long")
        flagged = df.select(*part, F.coalesce(flag, F.lit(0)).alias("__f"))
        out = flagged.groupBy(*part).agg(F.sum("__f").alias("value"))
        return Plan(
            "vector",
            out.select(*keep, F.col("__win").alias("ts"), "value"),
            VT_U64,
            streams=child.streams,
        )

    @staticmethod
    def _series_window_keys(child: Plan, win) -> list:
        """Windowed evaluation is PER SERIES (PromQL semantics): each stream
        gets its own window rows, and the output keeps stream_id so
        `sum by (label) (...)` composes downstream. Same single shuffle —
        the key is (stream_id, window) instead of (window)."""
        keys = [win]
        if "stream_id" in child.df.columns:
            keys.insert(0, F.col("stream_id"))
        return keys

    def _effective_start(self, sel: ast.VectorSelector) -> int | None:
        """The selector's effective scan start after @/offset modifiers —
        identical logic to _selector (planner.rs:162-180)."""
        start = self.start
        if sel.at_anchor == "start":
            start = 0
        elif sel.at_anchor == "end":
            start = U64_MAX
        elif sel.at_ts is not None:
            start = sel.at_ts
        if (sel.at_anchor or sel.at_ts is not None) and sel.offset:
            # saturating u64 arithmetic like the reference's
            # saturating_add/saturating_sub (negative offsets floor at 0,
            # @ end() + offset caps at u64::MAX)
            start = min(max((start or 0) + sel.offset, 0), U64_MAX)
        return start

    def _window_col(self, msel: ast.MatrixSelector):
        """Tumbling-window start column. Windows anchor at the SELECTOR's
        effective start (after @/offset), i.e. the first scanned timestamp's
        grid origin — so no scanned row sits left of the anchor and the
        modular bucketing never sees a negative offset."""
        width = msel.range_
        anchor = self._effective_start(msel.selector) or 0
        return (
            ((F.col("ts") - F.lit(anchor)) - (F.col("ts") - F.lit(anchor)) % F.lit(width))
            + F.lit(anchor)
        ).alias("ts")

    def _range_windowed(self, func: str, msel: ast.MatrixSelector) -> Plan:
        """Tumbling-window rate/increase/delta over a matrix selector.

        Windows are anchored at the query start (windows [start + k*w,
        start + (k+1)*w)); like the whole-range form, a window needs two
        distinct timestamps to report. rate/increase sum reset-adjusted
        deltas per (series, window) — see _range_func; delta stays
        last-first. Returns a VECTOR (ts = window start, value), freely
        composable downstream."""
        child = self._selector(msel.selector)
        win = self._window_col(msel)
        return self._range_windowed_frame(func, child, win)

    def _range_windowed_frame(self, func: str, child: Plan, win) -> Plan:
        compat = self.conn.compat_rate_last_first
        if func in ("rate", "increase") and not compat:
            return self._counter_windowed(func, child, win)
        agg = (
            child.df.groupBy(*self._series_window_keys(child, win))
            .agg(
                F.min_by("value", F.struct("ts", "value")).cast("double").alias("__first"),
                F.max_by("value", F.struct("ts", "value")).cast("double").alias("__last"),
                F.min("ts").alias("__t0"),
                F.max("ts").alias("__t1"),
            )
            .where(F.col("__t1") > F.col("__t0"))
        )
        diff = F.col("__last") - F.col("__first")
        if func == "rate":
            value = diff / (F.col("__t1") - F.col("__t0")).cast("double")
        else:  # increase | delta
            value = diff
        keep = [c for c in ("stream_id", "ts") if c in agg.columns]
        return Plan(
            "vector", agg.select(*keep, value.alias("value")), VT_F64,
            streams=child.streams,
        )

    def _counter_windowed(self, func: str, child: Plan, win) -> Plan:
        """Counter-reset-aware rate/increase per (series, tumbling window):
        lag over that key ordered by (ts, value), adjusted delta
        `v - prev` (growth) or `v` (reset: counter restarted from 0), then
        a sum. The lag window and the aggregation share one (series,
        window) partitioning — a single shuffle, mergeable partials."""
        from pyspark.sql import Window as W

        df = child.df.select(
            *(["stream_id"] if "stream_id" in child.df.columns else []),
            F.col("ts").alias("__ts"),
            "value",
            win.alias("__win"),
        )
        part = (["stream_id"] if "stream_id" in df.columns else []) + ["__win"]
        w = W.partitionBy(*part).orderBy("__ts", "value")
        v = F.col("value").cast("double")
        prev = F.lag(v).over(w)
        adj = F.when(prev.isNull(), F.lit(None)).when(v >= prev, v - prev).otherwise(v)
        agg = (
            df.select(*part, "__ts", adj.alias("__d"))
            .groupBy(*part)
            .agg(
                F.sum("__d").alias("__inc"),
                F.min("__ts").alias("__t0"),
                F.max("__ts").alias("__t1"),
            )
            .where(F.col("__t1") > F.col("__t0"))
        )
        value = F.col("__inc")
        if func == "rate":
            value = value / (F.col("__t1") - F.col("__t0")).cast("double")
        keep = [c for c in ("stream_id",) if c in df.columns]
        return Plan(
            "vector",
            agg.select(*keep, F.col("__win").alias("ts"), value.alias("value")),
            VT_F64,
            streams=child.streams,
        )

    # --------------------------------------------------------------- selector
    def _selector(self, sel: ast.VectorSelector) -> Plan:
        rows = self.conn.catalog.resolve(sel.name, sel.matchers, sel.or_groups)
        if not rows:
            raise ValueError(f"no streams matched selector {sel.name!r}")

        start, end = self._effective_start(sel), self.end

        vt = rows[0].value_type
        for r in rows[1:]:
            vt = promote(vt, r.value_type)

        # past the IN-list threshold the id frame comes from the catalog
        # parquet filtered IN-PLAN (resolve_df), so executors — not the
        # driver — carry the ids; the broadcast semi-join replaces the
        # reference's posting-list intersection
        df = select_streams(
            self.conn, [r.stream_id for r in rows],
            lambda: self.conn.catalog.resolve_df(
                sel.name, sel.matchers, sel.or_groups
            ),
            start, end,
        )
        value = self._value_expr({r.value_type for r in rows}, self.conn)
        df = df.select("stream_id", "ts", value.alias("value"))
        return Plan("vector", df, vt, streams=tuple(rows))

    @staticmethod
    def _value_expr(types: set, conn):
        """The promoted value column for a set of per-stream value types —
        shared by _selector and the grid evaluator's fused-operand scan
        (two selectors with EQUAL type sets read the identical column, so
        one scan can serve both)."""
        dec_u64 = conn.u64_decimal and VT_U64 in types
        if types == {VT_F64}:
            return F.col("value")
        if VT_F64 in types:  # mixed int/float streams -> promoted f64
            int_cols = [F.col("value_int").cast("double")]
            if dec_u64:
                int_cols.insert(0, F.col("value_dec").cast("double"))
            return F.coalesce(F.col("value"), *int_cols)
        if dec_u64:
            # u64-exact layout: full-range DECIMAL(20,0). Mixing with i64
            # promotes to i64 (lattice) — the long cast errors (ANSI) above
            # 2^63-1 rather than silently wrapping.
            if types == {VT_U64}:
                return F.col("value_dec")
            return F.coalesce(F.col("value_dec").cast("long"), F.col("value_int"))
        return F.col("value_int")

    # ----------------------------------------------------------------- binary
    def _binary(self, node: ast.BinaryOp) -> Plan:
        op = node.op
        lhs = self._eval(node.lhs)
        rhs = self._eval(node.rhs)
        if node.matching is not None:
            return self._matched_binop(op, lhs, rhs, node.matching)
        if op in ast.SET_OPS:
            return self._set_op(op, lhs, rhs)
        is_cmp = op in _CMP

        if lhs.kind in ("scalar", "topk") and rhs.kind in ("scalar", "topk"):
            if is_cmp:
                if not node.bool_mode:
                    raise ValueError(
                        "scalar comparison requires the bool modifier "
                        "(filter semantics are undefined; reference panics)"
                    )
                if lhs.literal is not None and rhs.literal is not None:
                    val = float(_CMP[op](lhs.literal, rhs.literal))
                    return Plan("scalar", None, VT_F64, literal=val)
                a = self._scalar_df(lhs, "__a")
                b = self._scalar_df(rhs, "__b")
                out = a.crossJoin(F.broadcast(b)).select(
                    _CMP[op](
                        F.col("__a").cast("double"), F.col("__b").cast("double")
                    ).cast("double").alias("value")
                )
                return Plan("scalar", out, VT_F64)
            return self._scalar_scalar(op, lhs, rhs)
        if lhs.kind == "vector" and rhs.kind in ("scalar", "topk"):
            return self._vector_scalar(
                op, lhs, rhs, scalar_on_left=False, bool_mode=node.bool_mode
            )
        if lhs.kind in ("scalar", "topk") and rhs.kind == "vector":
            # Correct written-order semantics (reference swaps: binary_op.rs:103-105)
            return self._vector_scalar(
                op, rhs, lhs, scalar_on_left=True, bool_mode=node.bool_mode
            )
        if lhs.kind == "vector" and rhs.kind == "vector":
            if is_cmp:
                raise ValueError("vector-to-vector comparison is not supported (reference panics)")
            vt = result_type(op, lhs.value_type, rhs.value_type)
            out = interpolated_binop(
                lhs.df.select("ts", "value"),
                rhs.df.select("ts", "value"),
                op,
                integer_result=is_integer(promote(lhs.value_type, rhs.value_type)),
            )
            return Plan("vector", out, vt)
        if lhs.kind == "grouped" and rhs.kind == "grouped":
            return self._grouped_grouped(op, lhs, rhs, node.bool_mode)
        if lhs.kind == "grouped" and rhs.kind in ("scalar",):
            return self._grouped_scalar(op, lhs, rhs, False, node.bool_mode)
        if lhs.kind == "scalar" and rhs.kind == "grouped":
            return self._grouped_scalar(op, rhs, lhs, True, node.bool_mode)
        raise ValueError(f"unsupported operand kinds: {lhs.kind} {op} {rhs.kind}")

    def _grouped_grouped(self, op: str, lhs: Plan, rhs: Plan, bool_mode: bool) -> Plan:
        """`sum by (s) (a) OP sum by (s) (b)` — the ratio-of-sums shape
        (extension): an equi-join on the shared group columns, one column
        expression. Both sides already shuffled on the group key, so the
        join reuses that partitioning. Comparisons filter (bool -> 0/1)."""
        keys = [c for c in lhs.group_cols if c != "ts"]
        if keys != [c for c in rhs.group_cols if c != "ts"]:
            raise ValueError(
                f"grouped operands must share grouping labels "
                f"({lhs.group_cols} vs {rhs.group_cols})"
            )
        has_ts = "ts" in lhs.group_cols and "ts" in rhs.group_cols
        on = keys + (["ts"] if has_ts else [])
        l_df = lhs.df.select(*on, F.col("value").alias("__va"))
        r_df = rhs.df.select(*on, F.col("value").alias("__vb"))
        joined = l_df.join(r_df, on)
        a, b = F.col("__va"), F.col("__vb")
        if op in _CMP:
            cond = _CMP[op](a.cast("double"), b.cast("double"))
            if bool_mode:
                out = joined.select(*on, cond.cast("double").alias("value"))
                return Plan("grouped", out, VT_F64, group_cols=tuple(on))
            out = joined.where(cond).select(*on, a.alias("value"))
            return Plan("grouped", out, lhs.value_type, group_cols=tuple(on))
        vt = result_type(op, lhs.value_type, rhs.value_type)
        if op in ("/", "%") or vt == VT_F64:
            a, b = a.cast("double"), b.cast("double")
        result = _ARITH[op](a, b)
        if is_integer(vt):
            result = result.cast("long")
        out = joined.select(*on, result.alias("value"))
        return Plan("grouped", out, vt, group_cols=tuple(on))

    def _grouped_scalar(
        self, op: str, grp: Plan, scalar: Plan, scalar_on_left: bool, bool_mode: bool
    ) -> Plan:
        """`sum by (s) (v) OP scalar` — narrow column expression over the
        grouped frame (extension); comparisons filter groups (bool -> 0/1)."""
        df = grp.df
        if scalar.literal is not None:
            s_col = F.lit(scalar.literal)
        else:
            df = df.crossJoin(F.broadcast(self._scalar_df(scalar, "__s")))
            s_col = F.col("__s")
        keep = list(grp.group_cols)
        v, s = F.col("value").cast("double"), s_col.cast("double")
        if scalar_on_left and self.conn.compat_scalar_swap:
            scalar_on_left = False
        a, b = (s, v) if scalar_on_left else (v, s)
        if op in _CMP:
            cond = _CMP[op](a, b)
            if bool_mode:
                out = df.select(*keep, cond.cast("double").alias("value"))
                return Plan("grouped", out, VT_F64, group_cols=grp.group_cols)
            out = df.where(cond).select(*keep, "value")
            return Plan("grouped", out, grp.value_type, group_cols=grp.group_cols)
        vt = result_type(op, grp.value_type, scalar.value_type)
        av, bv = (F.col("value"), s_col)
        if vt == VT_F64 or op in ("/", "%"):
            av, bv = av.cast("double"), bv.cast("double")
        a2, b2 = (bv, av) if scalar_on_left else (av, bv)
        result = _ARITH[op](a2, b2)
        if is_integer(vt):
            result = result.cast("long")
        out = df.select(*keep, result.alias("value"))
        return Plan("grouped", out, vt, group_cols=grp.group_cols)

    # ------------------------------------------------------- vector matching
    @staticmethod
    def _match_key(info, matching: ast.VectorMatching) -> tuple:
        """A series' match-group key. on(): the named labels (missing label
        = "", Prometheus semantics); ignoring(): all labels except the named
        ones, canonically ordered."""
        if matching.on:
            return tuple(info.labels.get(l, "") for l in matching.labels)
        drop = set(matching.labels)
        return tuple(
            f"{k}={v}" for k, v in sorted(info.labels.items()) if k not in drop
        )

    def _keyed_side(self, plan: Plan, keys: dict, key_cols: list[str]) -> DataFrame:
        """Attach the driver-computed match-key columns to a sample frame via
        a broadcast join on stream_id (one row per SERIES, so the mapping
        frame is catalog-sized, never sample-sized; series absent from
        `keys` — no match partner — drop out via the inner join). The keys
        are computed once driver-side and used verbatim on both the Spark
        and the bookkeeping side, so they cannot diverge."""
        key_map = self._key_map(keys, key_cols)
        return plan.df.join(F.broadcast(key_map), "stream_id")

    def _key_map(self, keys: dict, key_cols: list[str]) -> DataFrame:
        """(stream_id, *key_cols) frame of the driver-computed match keys."""
        return local_df(
            self.conn.spark,
            [(sid,) + key for sid, key in keys.items()],
            string_schema(["stream_id"] + key_cols),
        )

    def _match_keys(
        self, matching: ast.VectorMatching, lhs_streams, rhs_streams
    ) -> tuple[list, dict, dict]:
        """(match key columns, stream_id -> key per side) for on()/
        ignoring() matching. The keys are computed once driver-side and
        used verbatim on the Spark and the bookkeeping side, so they
        cannot diverge."""
        if matching.on:
            key_cols = list(matching.labels)
            if not key_cols:
                raise ValueError("on() requires at least one label")
        else:
            key_cols = ["__match_key"]
        if set(matching.include) & set(key_cols):
            raise ValueError("group_left/right include labels overlap match labels")
        lkeys = {s.stream_id: self._key(s, matching) for s in lhs_streams}
        rkeys = {s.stream_id: self._key(s, matching) for s in rhs_streams}
        return key_cols, lkeys, rkeys

    @staticmethod
    def _matched_groups(
        matching: ast.VectorMatching, lkeys: dict, rkeys: dict
    ) -> tuple[dict, dict]:
        """Restrict both sides to their common match groups and enforce
        the PromQL cardinality contract: the "one" side must be unique
        per group; one-to-one requires both. Checked driver-side — free."""
        from collections import Counter

        common = set(lkeys.values()) & set(rkeys.values())
        if not common:
            raise ValueError("no matching label groups between operands")
        lkeys = {sid: k for sid, k in lkeys.items() if k in common}
        rkeys = {sid: k for sid, k in rkeys.items() if k in common}
        for keys, side in ((lkeys, "left"), (rkeys, "right")):
            if matching.group == side:  # the "many" side may repeat a group
                continue
            dup = [k for k, c in Counter(keys.values()).items() if c > 1]
            if dup:
                hint = (
                    " (use group_left/group_right for many-to-one)"
                    if matching.group is None
                    else ""
                )
                raise ValueError(
                    f"vector matching: multiple {side} series in match group "
                    f"{dup[0]!r}{hint}"
                )
        return lkeys, rkeys

    def _matched_binop(
        self, op: str, lhs: Plan, rhs: Plan, matching: ast.VectorMatching
    ) -> Plan:
        """`a OP on(l1,..)/ignoring(l1,..) [group_left/right] b` — the
        grouped interpolating join (extension: the reference has no vector
        matching at all; binary ops concatenate streams ignoring labels,
        vector_select.rs:78-105). Per match group, the same union-of-ts +
        linear interpolation semantics as the ungrouped binop
        (operators/interpolate.py), partitioned by the match key — each
        group's windows are independent, so this distributes perfectly."""
        if lhs.kind != "vector" or rhs.kind != "vector":
            raise ValueError("on()/ignoring() requires vector operands")
        if op in _CMP:
            raise ValueError(
                "vector-to-vector comparison is not supported (reference panics)"
            )
        if not lhs.streams or not rhs.streams:
            raise ValueError(
                "vector matching requires label-carrying selector vectors "
                "(derived vectors lost their series identity)"
            )
        key_cols, lkeys, rkeys = self._match_keys(
            matching, lhs.streams, rhs.streams
        )
        if op in ast.SET_OPS:
            return self._matched_set_op(op, lhs, rhs, lkeys, rkeys, key_cols, matching)
        lkeys, rkeys = self._matched_groups(matching, lkeys, rkeys)
        keyed_l = self._keyed_side(lhs, lkeys, key_cols)
        keyed_r = self._keyed_side(rhs, rkeys, key_cols)

        if matching.group is None:
            series = key_cols
            a_frame = keyed_l.drop("stream_id")
            b_frame = keyed_r.drop("stream_id")
        elif matching.group == "left":
            # many side = left; replicate the unique right series onto each
            # left series of its group (broadcast of a per-series frame)
            series = ["stream_id"] + key_cols
            lmap = self._key_map(lkeys, key_cols)
            a_frame = keyed_l
            b_frame = keyed_r.drop("stream_id").join(F.broadcast(lmap), key_cols)
        else:  # group == 'right': many side = right
            series = ["stream_id"] + key_cols
            rmap = self._key_map(rkeys, key_cols)
            a_frame = keyed_l.drop("stream_id").join(F.broadcast(rmap), key_cols)
            b_frame = keyed_r
        vt = result_type(op, lhs.value_type, rhs.value_type)
        out = interpolated_binop(
            a_frame.select(*series, "ts", "value"),
            b_frame.select(*series, "ts", "value"),
            op,
            integer_result=is_integer(promote(lhs.value_type, rhs.value_type)),
            series_cols=series,
        )
        if matching.include:
            out = self._attach_include(out, matching, key_cols, lkeys, rkeys, lhs, rhs)
        return Plan("grouped", out, vt, group_cols=tuple(series) + ("ts",))

    def _key(self, info, matching) -> tuple:
        k = self._match_key(info, matching)
        if not matching.on:
            return (",".join(k),)  # canonical single-string ignoring() key
        return k

    def _attach_include(
        self, out: DataFrame, matching, key_cols, lkeys, rkeys, lhs, rhs
    ) -> DataFrame:
        """group_left(l1,..)/group_right(l1,..): copy labels from the "one"
        side onto the result — the one side is unique per group, so the
        mapping (group key -> include values) is well-defined and tiny."""
        one_streams = rhs.streams if matching.group == "left" else lhs.streams
        one_keys = rkeys if matching.group == "left" else lkeys
        rows = []
        for s in one_streams:
            if s.stream_id in one_keys:
                rows.append(
                    one_keys[s.stream_id]
                    + tuple(s.labels.get(l, "") for l in matching.include)
                )
        inc_df = local_df(
            self.conn.spark, rows, string_schema(key_cols + list(matching.include))
        ).dropDuplicates(key_cols)
        return out.join(F.broadcast(inc_df), key_cols, "left")

    def _matched_set_op(
        self, op, lhs, rhs, lkeys, rkeys, key_cols, matching
    ) -> Plan:
        """and/or/unless with on()/ignoring(): set membership per (match
        group, ts) instead of bare ts. No interpolation (PromQL set ops
        don't interpolate); `or` keeps unmatched groups (no common-group
        restriction — that is its point)."""
        if matching.group is not None:
            raise ValueError("group_left/group_right do not apply to set operators")
        keyed_l = self._keyed_side(lhs, lkeys, key_cols).drop("stream_id")
        keyed_r = self._keyed_side(rhs, rkeys, key_cols).drop("stream_id")
        on = key_cols + ["ts"]
        if op == "and":
            out = keyed_l.join(keyed_r.select(*on).distinct(), on, "left_semi")
            return Plan("grouped", out, lhs.value_type, group_cols=tuple(on))
        if op == "unless":
            out = keyed_l.join(keyed_r.select(*on).distinct(), on, "left_anti")
            return Plan("grouped", out, lhs.value_type, group_cols=tuple(on))
        vt = promote(lhs.value_type, rhs.value_type)
        r_extra = keyed_r.join(keyed_l.select(*on).distinct(), on, "left_anti")
        out = keyed_l.select(
            *on, F.col("value").cast("double").alias("value")
        ).unionByName(r_extra.select(*on, F.col("value").cast("double").alias("value")))
        if is_integer(vt):
            out = out.select(*on, F.col("value").cast("long").alias("value"))
        return Plan("grouped", out, vt, group_cols=tuple(on))

    def _scalar_scalar(self, op: str, lhs: Plan, rhs: Plan) -> Plan:
        vt = result_type(op, lhs.value_type, rhs.value_type)
        if lhs.literal is not None and rhs.literal is not None:
            # Python fast path: same IEEE zero-divisor semantics as the
            # column path (plain Python 1/0 raises instead)
            val = py_arith(op, lhs.literal, rhs.literal)
            return Plan("scalar", None, VT_F64, literal=float(val))
        a_df = self._scalar_df(lhs, "__a")
        b_df = self._scalar_df(rhs, "__b")
        joined = a_df.crossJoin(F.broadcast(b_df))
        a, b = F.col("__a"), F.col("__b")
        if op in ("/", "%") or vt == VT_F64:
            a, b = a.cast("double"), b.cast("double")
        out = joined.select(_ARITH[op](a, b).alias("value"))
        return Plan("scalar", out, vt)

    def _scalar_df(self, plan: Plan, alias: str) -> DataFrame:
        if plan.kind == "topk":
            # topk/bottomk yields k rows; silently cross-joining it would
            # multiply the other operand by k. Reject rather than guess.
            raise ValueError(
                "topk/bottomk result is multi-row and cannot be used as a "
                "scalar operand; aggregate it first (e.g. sum(topk(...)))"
            )
        if plan.literal is not None:
            return self.conn.spark.range(1).select(F.lit(plan.literal).alias(alias))
        return plan.df.select(F.col("value").alias(alias))

    def _vector_scalar(
        self, op: str, vec: Plan, scalar: Plan, scalar_on_left: bool,
        bool_mode: bool = False,
    ) -> Plan:
        df = vec.df
        if scalar.literal is not None:
            s_col = F.lit(scalar.literal)
        else:
            df = df.crossJoin(F.broadcast(self._scalar_df(scalar, "__s")))
            s_col = F.col("__s")

        if op in _CMP:
            # written-order comparison (the reference swaps scalar-on-left
            # like arithmetic, binary_op.rs:103-105; compat flag replays it)
            v_cmp, s_cmp = F.col("value").cast("double"), s_col.cast("double")
            if scalar_on_left and self.conn.compat_scalar_swap:
                scalar_on_left = False
            a, b = (s_cmp, v_cmp) if scalar_on_left else (v_cmp, s_cmp)
            cond = _CMP[op](a, b)
            keep = [c for c in ("stream_id", "ts") if c in df.columns]
            if bool_mode:
                # bool modifier: 0/1 result values, no filtering (extension)
                out = df.select(*keep, cond.cast("double").alias("value"))
                return Plan("vector", out, VT_F64, streams=vec.streams)
            # filter semantics: keep sample rows where the comparison holds
            out = df.where(cond)
            return Plan(
                "vector", out.select(*keep, "value"), vec.value_type,
                streams=vec.streams,
            )

        vt = result_type(op, vec.value_type, scalar.value_type)
        v_col = F.col("value")
        if vt == VT_F64:
            v_col, s_col = v_col.cast("double"), s_col.cast("double")
        if scalar_on_left and self.conn.compat_scalar_swap:
            # reference bug-compat: `2 - v` evaluates as `v - 2`
            # (binary_op.rs:103-105 swaps operands). Off by default — we
            # evaluate written order; the flag makes golden-test migration
            # from the reference airtight.
            scalar_on_left = False
        a, b = (s_col, v_col) if scalar_on_left else (v_col, s_col)
        result = _ARITH[op](a, b)
        if is_integer(vt):
            result = result.cast("long")
        keep = [c for c in ("stream_id", "ts") if c in df.columns]
        return Plan(
            "vector", df.select(*keep, result.alias("value")), vt,
            streams=vec.streams,
        )

    # -------------------------------------------------------------- aggregate
    def _aggregate(self, node: ast.Aggregate) -> Plan:
        """sum/avg/min/max/count/... per (by/without keys + instant key).
        Over an already-grouped child (a nested aggregate, a grouped binop
        or set-op result) the child's group columns ARE its label set, so
        by/without resolve against them and the re-aggregation runs over
        the group rows: `max(sum by (s) (m))` is the max of the per-s
        sums. With no keys, raw mode collapses the range to a scalar."""
        child = self._eval(node.child)
        func = node.func
        if func in ("sum", "min", "max"):
            vt = child.value_type
        elif func == "count":
            vt = VT_U64
        else:  # avg
            vt = VT_F64
        if child.kind not in ("vector", "topk", "grouped"):
            raise ValueError("aggregate requires a vector input")
        cdf = child.df
        if func == "avg" and isinstance(cdf.schema["value"].dataType, T.DecimalType):
            # avg is always f64; Spark's avg over DECIMAL (u64-exact layout)
            # would return DECIMAL — pre-cast only in that case so the long
            # path keeps its exact integer partial sums.
            cdf = cdf.withColumn("value", F.col("value").cast("double"))
        approx = self.conn.approx_aggregates
        smap = ()
        if child.kind != "grouped":
            cdf, keys, smap = self._group_keys(
                cdf, node.by, node.without, child.streams
            )
        else:
            labels = [
                c
                for c in child.group_cols
                if c not in ("ts", "stream_id") and not c.startswith("__")
            ]
            if "series" in labels and (node.by or node.without):
                # composite-keyed child (a `without` grouping): decompose
                # the opaque key via the plan's series->labels map and
                # re-key — regrouping the composite unchanged would fail
                # to merge series differing only in the outer-dropped
                # labels (ADVICE r11 medium)
                if len(labels) > 1:
                    raise ValueError(
                        "cannot re-group a mixed composite/label-keyed result"
                    )
                cdf, keys, smap = self._rekey_series(child, node)
            elif node.by:
                missing = set(node.by) - set(labels)
                if missing:
                    raise ValueError(
                        f"grouping label(s) {sorted(missing)} not present in "
                        f"the grouped input (carries {labels}; default-matched "
                        "set operators key on full label sets — use "
                        "on(...) matching to keep named labels)"
                    )
                keys = list(node.by)
            elif node.without:
                keys = [c for c in labels if c not in node.without]
            else:
                keys = []
        group = keys + list(self._instant)
        if not group:
            return Plan(
                "scalar", scalar_agg(cdf, func, param=node.param, approx=approx), vt
            )
        out = grouped_agg(cdf, func, group, param=node.param, approx=approx)
        if not keys:
            return Plan("vector", out, vt)
        return Plan("grouped", out, vt, group_cols=tuple(group), series_labels=smap)

    @staticmethod
    def _series_key_rows(
        streams: tuple, drop: set
    ) -> tuple[list, tuple]:
        """Per-stream (stream_id, composite-series-key) rows plus the
        series-key -> remaining-labels map (Plan.series_labels) that lets
        an outer aggregation decompose the composite and re-key it."""
        rows, smap = [], {}
        for s in streams:
            kept = tuple(
                (k, v) for k, v in sorted(s.labels.items()) if k not in drop
            )
            key = ",".join(f"{k}={v}" for k, v in kept)
            rows.append((s.stream_id, key))
            smap.setdefault(key, kept)
        return rows, tuple(smap.items())

    def _rekey_series(
        self, child: "Plan", node
    ) -> tuple[DataFrame, list, tuple]:
        """Outer by/without over a composite-series-keyed child (a
        `without` grouping): decompose the opaque key via the plan's
        series -> labels map (broadcast, one row per GROUP, never data-
        sized) and re-key, so `sum without (c) (sum without (b) (m))`
        merges series differing only in c instead of regrouping the
        composite unchanged. Returns (df with new key cols, key col
        names, new series_labels for further nesting)."""
        smap = dict(child.series_labels)
        if not smap:
            raise ValueError(
                "cannot re-group an opaque series-keyed result (no "
                "series -> label map — histogram bucket composites and "
                "similar); group the inner expression with by (...) "
                "instead"
            )
        if node.by:
            have: set = set()
            for labs in smap.values():
                have.update(k for k, _ in labs)
            missing = set(node.by) - have
            if missing:
                raise ValueError(
                    f"grouping label(s) {sorted(missing)} not present in "
                    f"the grouped input (carries {sorted(have)})"
                )
            rows = [
                (series,) + tuple(dict(labs).get(b) for b in node.by)
                for series, labs in smap.items()
            ]
            schema = T.StructType(
                [T.StructField("series", T.StringType(), False)]
                + [T.StructField(b, T.StringType(), True) for b in node.by]
            )
            key_df = local_df(self.conn.spark, rows, schema)
            df = child.df.join(F.broadcast(key_df), "series").drop("series")
            return df, list(node.by), ()
        drop = set(node.without)
        rows, new_map = [], {}
        for series, labs in smap.items():
            kept = tuple((k, v) for k, v in labs if k not in drop)
            nk = ",".join(f"{k}={v}" for k, v in kept)
            rows.append((series, nk))
            new_map.setdefault(nk, kept)
        key_df = local_df(
            self.conn.spark, rows, string_schema(["series", "__series_out"])
        )
        df = (
            child.df.join(F.broadcast(key_df), "series")
            .drop("series")
            .withColumnRenamed("__series_out", "series")
        )
        return df, ["series"], tuple(new_map.items())

    def _group_keys(
        self, df: DataFrame, by: tuple[str, ...], without: tuple[str, ...],
        streams: tuple,
    ) -> tuple[DataFrame, list, tuple]:
        """The by/without arm shared by aggregates, count_values and topk:
        attach the group-key columns to a sample frame. `by` attaches the
        named labels; `without (l1,..)` groups by every label EXCEPT the
        listed ones — a per-series canonical remaining-label key computed
        driver-side from the plan's stream info, attached as one broadcast
        map column named `series`. Returns (df, key column names, the
        series -> labels map for Plan.series_labels)."""
        if by:
            return self._attach_labels(df, by, streams), list(by), ()
        if not without:
            return df, [], ()
        if "stream_id" not in df.columns or not streams:
            raise ValueError(
                "grouped aggregation (without ...) requires a "
                "label-carrying selector vector"
            )
        rows, smap = self._series_key_rows(streams, set(without))
        key_df = local_df(
            self.conn.spark, rows, string_schema(["stream_id", "series"])
        )
        return df.join(F.broadcast(key_df), "stream_id", "left"), ["series"], smap

    def _attach_labels(
        self, df: DataFrame, labels: tuple[str, ...], streams: tuple = ()
    ) -> DataFrame:
        if "stream_id" not in df.columns:
            # windowed / derived vectors no longer carry series identity
            raise ValueError(
                "grouped aggregation (by ...) requires a label-carrying "
                "vector — apply it to a selector, not a derived vector"
            )
        if streams:
            # plan-level label sets (they may have been rewritten by
            # label_replace/label_join — the catalog doesn't know)
            rows = [
                (s.stream_id,) + tuple(s.labels.get(l) for l in labels)
                for s in streams
            ]
            schema = T.StructType(
                [T.StructField("stream_id", T.StringType(), False)]
                + [T.StructField(l, T.StringType(), True) for l in labels]
            )
            cat = local_df(self.conn.spark, rows, schema)
        else:
            cat = self.conn.catalog.df().select(
                "stream_id", *[F.col("labels").getItem(l).alias(l) for l in labels]
            )
        return df.join(F.broadcast(cat), "stream_id", "left")

    def _count_values(self, node: ast.CountValues) -> Plan:
        """count_values("label", v): how many samples (per instant on the
        grid) report each distinct value — one groupBy on (by/without
        keys, value, instant key)."""
        child = self._eval(node.child)
        if child.kind not in ("vector", "grouped"):
            raise ValueError("count_values requires a vector input")
        cdf, keys, _ = self._group_keys(
            child.df, node.by, node.without, child.streams
        )
        group = (*keys, node.label, *self._instant)
        out = cdf.groupBy(
            *keys, F.col("value").cast("string").alias(node.label),
            *self._instant,
        ).agg(F.count("*").alias("value"))
        return Plan("grouped", out, VT_U64, group_cols=group)

    # ------------------------------------------------------------------ getk
    def _getk(self, node: ast.GetK) -> Plan:
        """topk/bottomk: k rows per (by/without keys + instant key). The
        rank window shares the group-key shuffle — no global sort (the
        reference's GetK is global only); raw mode with no keys keeps the
        global TakeOrderedAndProject."""
        k = int(self._scalar_param(node.k, "topk/bottomk k"))
        child = self._eval(node.child)
        inst = list(self._instant)
        desc = node.func == "topk"
        if child.kind == "grouped":
            # derived results keyed by match/group columns (`topk(2, a +
            # b)`, `topk(2, sum by (l) (...))`): rank those rows per
            # instant — PromQL's topk works on any instant vector
            if node.by or node.without:
                raise ValueError(
                    "topk/bottomk by/without needs a label-carrying "
                    "selector vector (the input is already grouped)"
                )
            keys = [c for c in child.df.columns if c not in ("ts", "value")]
            value = F.col("value")
            w = Window.partitionBy(*inst).orderBy(
                value.desc() if desc else value.asc(),
                *[F.col(c) for c in keys],  # deterministic tie-break
            )
            if k <= 0:
                out = child.df.limit(0)
            else:
                out = (
                    child.df.withColumn("__rn", F.row_number().over(w))
                    .where(F.col("__rn") <= k)
                    .drop("__rn")
                )
            return Plan(
                "grouped", out, child.value_type, group_cols=child.group_cols
            )
        if child.kind != "vector":
            raise ValueError("topk/bottomk requires a vector input")
        df, keys, smap = self._group_keys(
            child.df, node.by, node.without, child.streams
        )
        if not keys + inst:
            fn = top_k if desc else bottom_k
            return Plan("topk", fn(child.df, k), child.value_type)
        out = grouped_top_k(df, k, keys + inst, desc=desc)
        return Plan(
            "grouped", out, child.value_type, group_cols=(*keys, *inst),
            series_labels=smap,
        )
