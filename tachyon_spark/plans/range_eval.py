"""Prometheus-style step-aligned range evaluation (query_range).

The reference engine evaluates raw samples over [start, end] (SURVEY §2
intro; tachyon_core/src/query/planner.rs evaluates sample streams, not
instant grids), and so does this repo's `Connection.query`. But every
dashboard-style consumer issues `query_range(expr, start, end, step)`
(the reference's web backend, tachyon_web_backend/src/main.rs:27-76,
forwards start/end only because its engine lacks steps): the expression
is evaluated AT each step timestamp t ∈ {start, start+step, …} ≤ end,
where a selector's instant value at t is the most recent sample in
[t - lookback, t] (Prometheus's 5-minute lookback window) and a series
with no sample in that window is ABSENT at that step (staleness).

Spark mapping — the step grid is DATA, never a per-step driver loop:

  selector        per-series step grid (explode(sequence(start, end,
                  step)) over the resolved id frame) unioned with the
                  samples; one window pass per series carries the latest
                  sample forward (the as-of pattern, operators/asof.py)
                  and the lookback tolerance drops stale steps. ONE
                  shuffle, on stream_id.
  rate(m[R]) etc  a sample at ts affects the steps in [ts, ts + R) —
                  explode each sample to those step indices (fan-out
                  ≈ R/step, the standard sliding-window trick), then the
                  same per-(series, step) aggregation the tumbling path
                  uses: reset-aware rate/increase, *_over_time
                  aggregates, lag-based resets/changes/irate/idelta,
                  regr_slope deriv. ONE shuffle, on (stream_id, step).
                  The range selector is left-open (t - R, t], matching
                  Prometheus.
  sum by (l) (…)  broadcast label join + groupBy (labels…, step) — the
                  per-instant aggregation PromQL users expect (the
                  raw-sample engine's `sum` collapses time instead).
  v ∘ scalar      narrow column expression; comparisons filter (bool
                  modifier → 0/1 values).
  a ∘ on(l) b     exact equi-join per (match key, step): instant vectors
                  on the same grid never interpolate (PromQL semantics;
                  the raw-sample engine's interpolating join is the
                  analogue for unaligned samples). group_left/
                  group_right many-to-one keeps the many side's series
                  identity, include labels broadcast from the one side;
                  and/or/unless match membership per (group, step).

  histogram_     per step instant: grouped `sum by (le)` inputs share the
  quantile       aggregate's key shuffle; le-labeled selector/rate vectors
                 get a broadcast le map — interpolation is array-HOF
                 codegen either way (functions/histogram.py).

  absent(v)       grid anti-join against the instant vector's steps.
  m @ T           pinned instant (one single-step evaluation at T, fanned
                  across the steps with one explode — no per-step rescan).

  label_replace/  driver-side stream rewrite (plan metadata, zero
  label_join      distributed cost); count_values groups (value, step).
  fn(expr[R:S])   subqueries: inner expr evaluated ONCE on its S-grid
                  (nested evaluator, full lookback semantics), instants
                  exploded to the outer windows — never a per-step
                  re-execution of the inner query.

  rate(m[R] @ T)  pinned range window (T - R, T]: one single-step
                  windowed evaluation at T, fanned across the steps with
                  one explode (same shape as m @ T).

Vector-to-vector ops without a modifier use Prometheus's DEFAULT
matching — one-to-one on the full label sets (= `ignoring()` with no
labels). Vector-to-vector COMPARISONS evaluate with PromQL semantics in
grid mode (filter keeps the LHS sample; `bool` yields 1/0) — an
extension; the raw engine keeps the reference's panic.

sort/sort_desc/sort_by_label are IGNORED in range mode (Prometheus:
sorting only affects instant-query presentation). `offset` IS supported,
PromQL-style (the raw-sample engine ignores offset without @ for
reference parity; here it shifts the sample clock).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tachyon_spark.operators.select import ISIN_THRESHOLD, select_streams
from tachyon_spark.plans.builder import (
    _ARITH,
    _CMP,
    Plan,
    PlanBuilder,
    inline_ids_df,
    local_df,
    string_schema,
)
from tachyon_spark.promql import ast
from tachyon_spark.types import VT_F64, VT_U64, promote

# Prometheus caps range queries at 11,000 points; same order here — the
# grid is distributed, but an absurd step is almost always a unit bug.
MAX_STEPS = 50_000
# fan-out guard: each sample lands in <= range/step windows
MAX_WINDOWS_PER_SAMPLE = 10_000

DEFAULT_LOOKBACK = 300_000  # 5m in ms, the Timestamp convention (SURVEY §1.2)


class RangeEvaluator(PlanBuilder):
    """Evaluates an AST on the step grid. The dispatch and every handler
    whose raw and grid forms differ only in the step key are PlanBuilder's;
    this mode supplies its three hooks:

      - child evaluation: `_eval`, plus `build`, which turns a top-level
        literal into a constant series on the grid;
      - the instant key `_instant = ("ts",)`: aggregates, count_values,
        topk, scalar() and the histogram family group per step;
      - accepted child kinds: `_grouped_buckets`, so the histogram family
        also takes a grouped `sum by (le)` input.

    It overrides only the handlers whose semantics differ from the raw
    mode: instant selectors (lookback carry-forward), sliding-window
    functions and subqueries, binary operators (exact per-step equi-joins,
    fused scans), absent/absent_over_time (per-step anti-joins), the
    time()/vector() clock arms and the sort functions (ignored)."""

    _instant = ("ts",)
    _grouped_buckets = True

    def __init__(self, conn, start: int, end: int, step: int, lookback: int):
        if step <= 0:
            raise ValueError("query_range step must be positive")
        if end < start:
            raise ValueError("query_range end must be >= start")
        self.n_steps = (end - start) // step + 1
        if self.n_steps > MAX_STEPS:
            raise ValueError(
                f"query_range grid has {self.n_steps} steps (max {MAX_STEPS}); "
                "widen the step or narrow the range"
            )
        super().__init__(conn, start, end)
        self.step = step
        self.lookback = lookback

    # ------------------------------------------------------------- public
    def build(self, expr) -> Plan:
        plan = self._eval(expr)
        if plan.kind == "scalar" and plan.literal is not None:
            # top-level literal: a constant series on the grid
            grid = self._grid_df().select("ts", F.lit(plan.literal).alias("value"))
            return Plan("vector", grid, VT_F64)
        return plan

    def _grid_df(self):
        """The bare step grid (ts only) — bounded by MAX_STEPS."""
        return self.conn.spark.range(self.n_steps).select(
            (F.lit(self.start) + F.col("id") * F.lit(self.step)).alias("ts")
        )

    def _pin(self, node) -> int:
        """The pinned evaluation instant T of an `@ T` / `@ start()` /
        `@ end()` modifier."""
        if node.at_anchor == "start":
            return self.start
        if node.at_anchor == "end":
            return self.end
        return int(node.at_ts)

    def _fan(self, df: DataFrame) -> DataFrame:
        """A pinned single-step (stream_id, value) result repeated at
        every step with one explode — no per-step rescan."""
        return df.selectExpr(
            "stream_id",
            f"explode(sequence({self.start}L, {self.end}L, {self.step}L))"
            " as ts",
            "value",
        )

    # ----------------------------------------------------------- selector
    def _scan(self, sel: ast.VectorSelector, back: int) -> Plan:
        """Raw-sample scan for [start - back, end], with PromQL offset
        semantics: shift the scanned window by -offset, then shift sample
        ts forward so downstream logic sees the step clock."""
        if sel.at_ts is not None or sel.at_anchor:
            raise ValueError(
                "@ modifiers on range selectors are not supported in "
                "query_range (instant selectors support @)"
            )
        off = sel.offset or 0
        bare = ast.VectorSelector(sel.name, sel.matchers, or_groups=sel.or_groups)
        b = PlanBuilder(self.conn, self.start - back - off, self.end - off)
        child = b._selector(bare)
        if off:
            df = child.df.selectExpr(
                "stream_id", f"ts + {off}L as ts", "value"
            )
            child = Plan("vector", df, child.value_type, streams=child.streams)
        return child

    def _ids_df(self, sel: ast.VectorSelector, streams) -> DataFrame:
        """One row per matched series. Small selectors: a driver-side id
        list; past the IN-list threshold: the distributed catalog frame
        (the grid explode then happens executor-side for 10^5+ series)."""
        if len(streams) <= ISIN_THRESHOLD:
            return inline_ids_df(
                self.conn.spark, [s.stream_id for s in streams]
            )
        return self.conn.catalog.resolve_df(
            sel.name, sel.matchers, sel.or_groups
        ).select("stream_id")

    def _carry_forward(self, samples: DataFrame, ids: DataFrame) -> DataFrame:
        """Per-series step instants: the (stream_id, ts, value) samples
        unioned with the step grid of every id, one window pass per
        series carrying the latest sample forward; steps whose latest
        sample is older than the lookback are dropped (staleness).

        Expressions are composed as SQL strings, ONE py4j round trip per
        select instead of one per Column operation: the §5-style cProfile
        (r16) put ~600 py4j round trips and ~0.32 s behind a single
        query_range build, 0.17 s of it here — the grid/window column
        algebra was pure driver-side socket chatter. The parsed
        expressions are identical (VERDICT r15 item 4)."""
        vtype = samples.schema["value"].dataType.simpleString()
        grid = ids.selectExpr(
            "stream_id",
            f"explode(sequence({self.start}L, {self.end}L, {self.step}L))"
            " as ts",
            f"cast(null as {vtype}) as value",
            "1 as __tag",
        )
        s = samples.selectExpr("stream_id", "ts", "value", "0 as __tag")
        u = s.unionByName(grid)
        # samples sort before grid rows at equal ts (sample AT the step
        # counts); same-ts duplicate samples tie-break by value (max wins)
        # — deterministic, mirrored in the DuckDB oracle
        w = (
            "over (partition by stream_id order by ts, __tag, value "
            "rows between unbounded preceding and current row)"
        )
        return (
            u.selectExpr(
                "stream_id",
                "ts",
                "__tag",
                f"last(value, true) {w} as __v",
                f"last(if(__tag = 0, ts, null), true) {w} as __sts",
            )
            .where(
                "__tag = 1 and __sts is not null "
                f"and ts - __sts <= {self.lookback}L"
            )
            .selectExpr("stream_id", "ts", "__v as value")
        )

    def _selector(self, sel: ast.VectorSelector) -> Plan:
        if sel.at_ts is not None or sel.at_anchor:
            return self._selector_at(sel)
        child = self._scan(sel, self.lookback)
        out = self._carry_forward(child.df, self._ids_df(sel, child.streams))
        return Plan("vector", out, child.value_type, streams=child.streams)

    def _selector_at(self, sel: ast.VectorSelector) -> Plan:
        """`m @ T` (or `@ start()`/`@ end()`) on the grid: the evaluation
        instant is PINNED at T — every step reports the same value
        (Prometheus @ semantics; the grid only sets output timestamps).
        One single-step instant evaluation at T, then the per-series row
        fans across the steps (_fan). `offset` composes (shifts the
        pinned clock, handled in _scan)."""
        t = self._pin(sel)
        bare = ast.VectorSelector(
            sel.name, sel.matchers, offset=sel.offset, or_groups=sel.or_groups
        )
        sub = RangeEvaluator(self.conn, t, t, self.step, self.lookback)
        child = sub._selector(bare)
        return Plan(
            "vector", self._fan(child.df), child.value_type,
            streams=child.streams,
        )

    # ----------------------------------------------------- sliding windows
    def _explode_to_steps(self, df: DataFrame, r: int) -> DataFrame:
        """Rows exploded to every step whose left-open window (t - R, t]
        contains their ts: step index k ∈ [ceil((ts - start)/step),
        ceil((ts + R - start)/step) - 1] clamped to the grid. Integral
        ceil-div via a positive shift (floats would lose ns precision).
        Works over raw samples AND derived instant frames (subqueries)."""
        if r // self.step + 1 > MAX_WINDOWS_PER_SAMPLE:
            raise ValueError(
                f"range {r} spans {r // self.step} steps per sample "
                f"(max {MAX_WINDOWS_PER_SAMPLE}); widen the step"
            )
        # SQL-string expressions: one py4j round trip per select (see
        # _carry_forward — this helper was 0.10 s/build of chatter)
        shift = r // self.step + 2  # makes every numerator positive
        step = self.step
        a = f"(ts - {self.start}L + {shift * step}L)"  # shifted offset
        k_lo = (
            f"greatest(cast(floor(({a} + {step - 1}L) / {step}L) as long)"
            f" - {shift}L, 0L)"
        )  # ceil-div, shifted back, clamped to the grid
        k_hi = (
            f"least(cast(floor(({a} + {r + step - 1}L) / {step}L) as long)"
            f" - {shift + 1}L, {self.n_steps - 1}L)"
        )
        cols = df.columns
        return (
            df.selectExpr(*cols, f"{k_lo} as __klo", f"{k_hi} as __khi")
            .where("__klo <= __khi")
            .selectExpr(*cols, "explode(sequence(__klo, __khi)) as __k")
            .selectExpr(*cols, f"{self.start}L + __k * {step}L as __step")
        )

    def _windowed_at(self, func: str, msel, arg, family: str) -> Plan:
        """`rate(m[R] @ T)` (or `@ start()`/`@ end()`) on the grid: the
        range window is PINNED at (T - R, T] — every step reports the same
        value (Prometheus @ semantics; the grid only sets output
        timestamps). Mirrors _selector_at: one single-step windowed
        evaluation at T, then the per-series row fans across the steps
        with one explode (_fan). `offset` composes (handled by _scan inside
        the sub-evaluation)."""
        sel = msel.selector
        t = self._pin(sel)
        bare = ast.MatrixSelector(
            ast.VectorSelector(
                sel.name, sel.matchers, offset=sel.offset,
                or_groups=sel.or_groups,
            ),
            msel.range_,
        )
        sub = RangeEvaluator(self.conn, t, t, self.step, self.lookback)
        child = sub._windowed(func, bare, arg, family)
        return Plan(
            "vector", self._fan(child.df), child.value_type,
            streams=child.streams,
        )

    def _exploded(self, msel: ast.MatrixSelector) -> tuple[Plan, DataFrame]:
        r = msel.range_
        child = self._scan(msel.selector, r)
        df = self._explode_to_steps(
            child.df.select("stream_id", "ts", "value"), r
        )
        return child, df

    def _windowed_subquery(
        self, fn: str, sub: ast.Subquery, arg, family: str
    ) -> Plan:
        """Any windowed function over a subquery — `fn_over_time(
        expr[R:S])`, `rate(expr[R:S])`, `resets/changes/irate/idelta`,
        `deriv`, `predict_linear`, `holt_winters` — on the outer grid:
        the inner expression is evaluated ONCE on its own S-step grid (a
        nested RangeEvaluator extended back by R so the first outer
        window is fully populated — full lookback/staleness semantics
        apply to the inner instants, unlike the raw engine's documented
        last-sample divergence), then each inner instant explodes to the
        outer steps whose left-open window (t - R, t] contains it and
        runs the shared per-(series?, step) aggregation (_windowed_agg).
        No per-step re-execution of the inner query — PromQL engines
        re-run the inner expr per step; here the grid is one dataframe.
        Two keyed shuffles total (inner grid + outer window)."""
        r, s = sub.range_, sub.step
        if s <= 0:
            raise ValueError("subquery step must be positive")
        if sub.at_ts is not None or sub.at_anchor:
            # `fn(expr[R:S] @ T)`: the subquery's evaluation clock pins at
            # T — one single-step evaluation there, fanned across the grid
            # (same shape as _windowed_at; offset composes inside)
            from dataclasses import replace

            t = self._pin(sub)
            bare = replace(sub, at_ts=None, at_anchor=None)
            sub_eval = RangeEvaluator(self.conn, t, t, self.step, self.lookback)
            child = sub_eval._windowed_subquery(fn, bare, arg, family)
            keys = [c for c in child.df.columns if c not in ("ts", "value")]
            out = child.df.select(
                *keys,
                F.explode(
                    F.sequence(
                        F.lit(self.start), F.lit(self.end), F.lit(self.step)
                    )
                ).alias("ts"),
                "value",
            )
            return Plan(
                child.kind, out, child.value_type,
                group_cols=child.group_cols, streams=child.streams,
            )
        off = sub.offset or 0
        back = (r // s) * s  # inner grid stays aligned with `start`
        inner_eval = RangeEvaluator(
            self.conn, self.start - back - off, self.end - off, s, self.lookback
        )
        inner = inner_eval._eval(sub.child)
        # the inner series identity: stream_id for selector-derived
        # vectors, the match/group key columns for grouped results (e.g.
        # `(a + b)[R:S]` under default full-label matching, or
        # `sum by (l) (...)[R:S]`) — any instant frame with a ts axis is
        # a valid subquery inner
        if inner.kind == "vector":
            keys = ["stream_id"] if "stream_id" in inner.df.columns else []
        elif inner.kind == "grouped" and "ts" in inner.df.columns:
            keys = [c for c in inner.group_cols if c != "ts"]
        else:
            raise ValueError(
                "query_range subquery inner expression must evaluate to "
                "per-instant rows (selectors, windowed functions, "
                "arithmetic, grouped aggregates)"
            )
        df = inner.df
        if off:
            # the subquery clock shifted back by `offset`; restore the
            # outer step clock on the inner instants (same move as _scan)
            df = df.withColumn("ts", F.col("ts") + F.lit(off))
        keep = keys + ["ts", "value"]
        exploded = self._explode_to_steps(df.select(*keep), r)
        part = keys + ["__step"]
        out, vt = self._windowed_agg(
            fn, family, arg, exploded, part, inner.value_type, r
        )
        out = out.select(*keys, F.col("__step").alias("ts"), "value")
        if inner.kind == "grouped":
            return Plan(
                "grouped", out, vt, group_cols=(*keys, "ts"),
                streams=inner.streams,
            )
        return Plan("vector", out, vt, streams=inner.streams)

    def _windowed(self, func: str, msel, arg, family: str = "range") -> Plan:
        if isinstance(msel, ast.Subquery):
            return self._windowed_subquery(func, msel, arg, family)
        if not isinstance(msel, ast.MatrixSelector):
            raise ValueError(
                f"{func} requires a range vector m[RANGE] or a subquery "
                "expr[RANGE:STEP] in query_range"
            )
        if msel.selector.at_ts is not None or msel.selector.at_anchor:
            return self._windowed_at(func, msel, arg, family)
        child, df = self._exploded(msel)
        part = ["stream_id", "__step"]
        out, vt = self._windowed_agg(func, family, arg, df, part,
                                     child.value_type, msel.range_)
        out = out.select("stream_id", F.col("__step").alias("ts"), "value")
        return Plan("vector", out, vt, streams=child.streams)

    def _windowed_agg(
        self, func: str, family: str, arg, df: DataFrame, part: list, vt_in,
        rng: int = 0,
    ) -> tuple:
        """The per-(series?, step) window aggregation shared by the
        matrix-selector path (_windowed) and the subquery path
        (_windowed_subquery): `df` holds the exploded rows (one per
        sample×containing-step, columns `part` + ts + value); every family
        is ONE groupBy on `part` — the keyed-shuffle shape that
        distributes at any scale. Returns (grouped frame with
        part+value, value_type)."""
        if family == "over_time":
            agg, vt = self._over_time_agg(
                func, vt_in, arg,
                approx=self.conn.approx_aggregates,
            )
            return df.groupBy(*part).agg(agg.alias("value")), vt
        if family == "holt":
            sf, tf = arg
            out = (
                df.groupBy(*part)
                .agg(self._holt_winters_value(sf, tf).alias("value"))
                .where(F.col("value").isNotNull())
            )
            return out, VT_F64
        if family == "deriv":
            out = (
                df.groupBy(*part)
                .agg(
                    F.regr_slope(
                        F.col("value").cast("double"), F.col("ts").cast("double")
                    ).alias("value")
                )
                .where(F.col("value").isNotNull())
            )
            return out, VT_F64
        if family == "predict":
            # predict_linear(m[R], t) per step: least-squares fit over the
            # window samples in absolute ts coordinates, evaluated at
            # (step + t) — Prometheus funcPredictLinear with the grid step
            # as the evaluation timestamp (promql/functions.go).
            out = (
                df.groupBy(*part)
                .agg(
                    F.regr_slope(
                        F.col("value").cast("double"), F.col("ts").cast("double")
                    ).alias("__m"),
                    F.regr_intercept(
                        F.col("value").cast("double"), F.col("ts").cast("double")
                    ).alias("__b"),
                )
                .where(F.col("__m").isNotNull())
                .select(
                    *part,
                    (
                        F.col("__b")
                        + F.col("__m")
                        * (F.col("__step") + F.lit(float(arg))).cast("double")
                    ).alias("value"),
                )
            )
            return out, VT_F64
        w = Window.partitionBy(*part).orderBy("ts", "value")
        v = F.col("value").cast("double")
        prev = F.lag(v).over(w)
        if family == "count":
            if func in ("irate", "idelta"):
                diff = v - prev
                tdiff = (F.col("ts") - F.lag("ts").over(w)).cast("double")
                if func == "irate":
                    num = F.when(diff >= 0, diff).otherwise(v)  # reset-aware
                    val = num / tdiff
                else:
                    val = diff
                pairs = df.select(
                    *part, "ts", "value", val.alias("__v"), tdiff.alias("__dt")
                ).where(F.col("__v").isNotNull() & (F.col("__dt") > 0))
                out = pairs.groupBy(*part).agg(
                    F.max_by("__v", F.struct("ts", "value")).alias("value")
                )
                return out, VT_F64
            flag = (
                (v < prev) if func == "resets" else (v != prev)
            ).cast("long")
            out = (
                df.select(*part, F.coalesce(flag, F.lit(0)).alias("__f"))
                .groupBy(*part)
                .agg(F.sum("__f").alias("value"))
            )
            return out, VT_U64
        # range family: rate | increase | delta
        compat = self.conn.compat_rate_last_first
        extrap = self.conn.prometheus_extrapolation
        if func in ("rate", "increase") and not compat:
            adj = F.when(prev.isNull(), F.lit(None)).when(
                v >= prev, v - prev
            ).otherwise(v)
            agg = (
                df.select(*part, "ts", "value", adj.alias("__d"))
                .groupBy(*part)
                .agg(
                    F.sum("__d").alias("__inc"),
                    F.min("ts").alias("__t0"),
                    F.max("ts").alias("__t1"),
                    F.count("value").alias("__n"),
                    F.min_by("value", F.struct("ts", "value"))
                    .cast("double")
                    .alias("__first"),
                )
                .where(F.col("__t1") > F.col("__t0"))
            )
            value = F.col("__inc")
            if extrap and rng:
                value = self._extrapolate(value, rng, is_counter=True)
        else:
            agg = (
                df.groupBy(*part)
                .agg(
                    F.min_by("value", F.struct("ts", "value"))
                    .cast("double")
                    .alias("__first"),
                    F.max_by("value", F.struct("ts", "value"))
                    .cast("double")
                    .alias("__last"),
                    F.min("ts").alias("__t0"),
                    F.max("ts").alias("__t1"),
                    F.count("value").alias("__n"),
                )
                .where(F.col("__t1") > F.col("__t0"))
            )
            value = F.col("__last") - F.col("__first")
            if extrap and rng and func == "delta" and not compat:
                value = self._extrapolate(value, rng, is_counter=False)
        if func == "rate":
            if extrap and rng and not compat:
                # Prometheus rate: extrapolated increase over the FULL
                # window, not the observed span
                value = value / F.lit(float(rng))
            else:
                value = value / (
                    F.col("__t1") - F.col("__t0")
                ).cast("double")
        return agg.select(*part, value.alias("value")), VT_F64

    @staticmethod
    def _extrapolate(value, rng: int, is_counter: bool):
        """Prometheus's extrapolatedRate boundary correction
        (promql/functions.go): scale the sampled-interval result out to
        the window edges — each edge gap counts fully when it is under
        1.1x the average sample spacing, else as half a spacing; counter
        results additionally clamp the start-side extrapolation at the
        counter's zero crossing. Pure column arithmetic over the window
        aggregates (__t0/__t1/__n/__first + the step); whole-stage
        codegen, no extra pass."""
        range_start = F.col("__step") - F.lit(rng)
        ds = (F.col("__t0") - range_start).cast("double")
        de = (F.col("__step") - F.col("__t1")).cast("double")
        si = (F.col("__t1") - F.col("__t0")).cast("double")
        avg_d = si / (F.col("__n") - F.lit(1)).cast("double")
        thr = avg_d * F.lit(1.1)
        # current extrapolatedRate (promql/functions.go, PR #13725,
        # v2.53+): the start gap is clamped to avg/2 at the threshold
        # FIRST, and the counter zero-crossing minimum applies to the
        # already-clamped value — the two orders diverge when ds >= thr
        # and the zero crossing lands between avg/2 and 1.1*avg
        ds = F.when(ds >= thr, avg_d / F.lit(2.0)).otherwise(ds)
        if is_counter:
            dz = F.when(
                (value > 0) & (F.col("__first") >= 0),
                si * (F.col("__first") / value),
            )
            ds = F.when(dz.isNotNull() & (dz < ds), dz).otherwise(ds)
        de = F.when(de >= thr, avg_d / F.lit(2.0)).otherwise(de)
        return value * (si + ds + de) / si

    # windowed functions: per-step sliding windows over m[R] or a subquery
    def _range_func(self, node: ast.RangeFunc) -> Plan:
        return self._windowed(node.func, node.child, None)

    def _over_time_func(self, node: ast.OverTimeFunc) -> Plan:
        fn = node.func[: -len("_over_time")]
        return self._windowed(fn, node.child, node.arg, family="over_time")

    def _range_count_func(self, node: ast.RangeCountFunc) -> Plan:
        return self._windowed(node.func, node.child, None, family="count")

    def _deriv_func(self, node: ast.DerivFunc) -> Plan:
        return self._windowed("deriv", node.child, None, family="deriv")

    def _predict_linear(self, node: ast.PredictLinearFunc) -> Plan:
        return self._windowed(
            "predict_linear", node.child, node.horizon, family="predict"
        )

    def _holt_winters(self, node: ast.HoltWintersFunc) -> Plan:
        return self._windowed(
            "holt_winters", node.child, (node.sf, node.tf), family="holt"
        )

    def _sort_func(self, node) -> Plan:
        """Prometheus IGNORES sorting functions in range queries
        (sort/sort_desc/sort_by_label only affect instant-query
        presentation)."""
        return self._eval(node.child)

    _sort_by_label = _sort_func

    # ------------------------------------------------- fused operand eval
    def _operand_chain(self, expr):
        """(selector, transform) when `expr` is a bare VectorSelector
        wrapped only in presence-preserving columnwise transforms
        (vector∘scalar arithmetic, math/clamp/round functions) — the
        operand shapes the fused matched-binop path can serve from one
        shared instant frame. `transform` maps the instant value Column
        exactly as the unfused _vec_lit/_columnwise chain would (None =
        identity). Returns None when the expression needs its own
        evaluation (windowed functions, aggregates, @/offset-modified
        selectors, filtering comparisons — those change presence)."""
        if isinstance(expr, ast.VectorSelector):
            if expr.at_ts is not None or expr.at_anchor:
                return None
            return expr, None

        def _d(f, v):
            return (v if f is None else f(v)).cast("double")

        if isinstance(expr, (ast.MathFunc, ast.ClampFunc, ast.RoundFunc)):
            sub = self._operand_chain(expr.child)
            if sub is None:
                return None
            sel, f = sub
            fn = self._elementwise(expr)
            return sel, (lambda v, f=f, fn=fn: fn(_d(f, v)))
        if (
            isinstance(expr, ast.BinaryOp)
            and expr.matching is None
            and expr.op in _ARITH
        ):
            for vec_e, sc_e, s_left in (
                (expr.lhs, expr.rhs, False),
                (expr.rhs, expr.lhs, True),
            ):
                if isinstance(sc_e, ast.NumberLiteral):
                    sub = self._operand_chain(vec_e)
                    if sub is None:
                        return None
                    sel, f = sub
                    op, s = _ARITH[expr.op], float(sc_e.value)
                    if s_left:
                        return sel, (
                            lambda v, f=f, op=op, s=s: op(F.lit(s), _d(f, v))
                        )
                    return sel, (
                        lambda v, f=f, op=op, s=s: op(_d(f, v), F.lit(s))
                    )
        return None

    def _fused_instants(self, sels):
        """ONE raw scan + ONE grid union + ONE carry-forward window
        serving several bare selectors that share an offset (guide §2.4 —
        remove duplicate exchanges outright: per-operand instant
        evaluation re-ran the identical scan→union→window spine once per
        operand). Per-stream instants are bit-identical to
        _selector's because the window partitions per series —
        extra series add partitions, never rows inside one. Returns
        (instants_df, per-selector streams, per-selector value_type) or
        None when one scan cannot serve all selectors (mixed value
        layouts, no match — the caller falls back to the per-operand
        path and its canonical errors)."""
        off = sels[0].offset or 0
        rows_per = []
        for sel in sels:
            if sel.at_ts is not None or sel.at_anchor or (sel.offset or 0) != off:
                return None
            rows = self.conn.catalog.resolve(
                sel.name, sel.matchers, sel.or_groups
            )
            if not rows:
                return None
            rows_per.append(rows)
        tsets = {frozenset(r.value_type for r in rows) for rows in rows_per}
        if len(tsets) != 1:
            return None  # per-side value columns would differ
        ids = sorted({r.stream_id for rows in rows_per for r in rows})
        if len(ids) <= ISIN_THRESHOLD:
            grid_ids = inline_ids_df(self.conn.spark, ids)
        else:
            # the UNION of the operands' catalog-resolved id frames,
            # distinct because the operands may overlap and the grid
            # needs one row per series; the scan semi-joins the same frame
            grid_ids = reduce(DataFrame.unionByName, (
                self.conn.catalog.resolve_df(
                    s.name, s.matchers, s.or_groups
                ).select("stream_id")
                for s in sels
            )).distinct()
        df = select_streams(
            self.conn, ids, lambda: grid_ids,
            self.start - self.lookback - off, self.end - off,
        )
        value = self._value_expr(set(next(iter(tsets))), self.conn)
        s = df.select("stream_id", "ts", value.alias("value"))
        if off:
            s = s.selectExpr("stream_id", f"ts + {off}L as ts", "value")
        instants = self._carry_forward(s, grid_ids)
        vts = []
        for rows in rows_per:
            vt = rows[0].value_type
            for r in rows[1:]:
                vt = promote(vt, r.value_type)
            vts.append(vt)
        return instants, rows_per, vts

    def _map_side_df(self, rows, key_cols):
        """(stream_id, *key_cols, __side int) membership frame from
        driver rows, via one packed string literal (same rationale as
        inline_ids_df)."""
        sep, rsep = "\x1f", "\x1e"
        if len(rows) > 2_000 or any(
            sep in str(f) or rsep in str(f) for r in rows for f in r[:-1]
        ):
            # big maps: one packed literal would bloat the plan; past a
            # few thousand rows local_df's Arrow batches are the right tool
            schema = string_schema(["stream_id"] + key_cols).add(
                "__side", T.IntegerType()
            )
            return local_df(self.conn.spark, rows, schema)
        packed = rsep.join(sep.join(str(f) for f in r) for r in rows)
        df = (
            self.conn.spark.range(1)
            .select(F.explode(F.split(F.lit(packed), rsep, -1)).alias("__r"))
            .select(F.split("__r", sep, -1).alias("__a"))
        )
        sel = [F.col("__a")[0].alias("stream_id")]
        for i, k in enumerate(key_cols):
            sel.append(F.col("__a")[i + 1].alias(k))
        sel.append(
            F.col("__a")[len(key_cols) + 1].cast("int").alias("__side")
        )
        return df.select(*sel)

    def _try_fused_matched(self, node: ast.BinaryOp):
        """Fused `a OP b` (vector matching / set ops / default matching /
        comparisons) when both operands are selector chains over this
        connection: one scan + one instant window serve both sides, side
        membership and match keys attach via one broadcast map, and the
        per-side join/distinct pair collapses into one keyed window or
        aggregation — the (key, step) exchange happens ONCE (guide
        §2.3/§2.4; r15 plan audit: the unfused set-op arm chained 5-6
        tiny exchanges with no data-sized stage anywhere). Semantics are
        the unfused path's exactly: same per-stream instants, same
        driver-side match keys, same commonality/uniqueness errors, same
        value typing (transforms replay _vec_lit/_columnwise). Returns
        None when a precondition fails; the caller falls back."""
        lc = self._operand_chain(node.lhs)
        if lc is None:
            return None
        rc = self._operand_chain(node.rhs)
        if rc is None:
            return None
        sel_l, f_l = lc
        sel_r, f_r = rc
        if (sel_l.offset or 0) != (sel_r.offset or 0):
            return None
        matching = node.matching
        if (
            matching is not None
            and matching.group is not None
            and node.op not in ast.SET_OPS
        ):
            return None  # group_left/right keep the unfused identity path
        fused = self._fused_instants([sel_l, sel_r])
        if fused is None:
            return None
        instants, (rows_l, rows_r), (vt_l, vt_r) = fused
        if matching is None:
            # Prometheus default matching: one-to-one on full label sets
            matching = ast.VectorMatching(False, ())
        key_cols, lkeys, rkeys = self._match_keys(matching, rows_l, rows_r)
        if node.op not in ast.SET_OPS:
            lkeys, rkeys = self._matched_groups(matching, lkeys, rkeys)
        elif matching.group is not None:
            raise ValueError(
                "group_left/group_right do not apply to set operators"
            )
        # side membership and match keys attach via one broadcast map
        rows = [(sid, *k, 0) for sid, k in lkeys.items()] + [
            (sid, *k, 1) for sid, k in rkeys.items()
        ]
        t = instants.join(
            F.broadcast(self._map_side_df(rows, key_cols)), "stream_id"
        )
        on = key_cols + ["ts"]
        lv = F.col("value") if f_l is None else f_l(F.col("value"))
        rv = F.col("value") if f_r is None else f_r(F.col("value"))

        if node.op in ast.SET_OPS:
            w = Window.partitionBy(*on)
            if node.op in ("and", "unless"):
                t = t.withColumn(
                    "__rp",
                    F.max(F.when(F.col("__side") == 1, F.lit(1))).over(w),
                )
                keep = (
                    F.col("__rp").isNotNull()
                    if node.op == "and"
                    else F.col("__rp").isNull()
                )
                out = t.where((F.col("__side") == 0) & keep).select(
                    *on, lv.alias("value")
                )
                return Plan(
                    "grouped", out, VT_F64 if f_l else vt_l,
                    group_cols=tuple(on),
                )
            # or: all lhs rows, plus rhs rows whose (group, step) has no lhs
            t = t.withColumn(
                "__lp", F.max(F.when(F.col("__side") == 0, F.lit(1))).over(w)
            )
            out = t.where(
                (F.col("__side") == 0) | F.col("__lp").isNull()
            ).select(
                *on,
                F.when(F.col("__side") == 0, lv)
                .otherwise(rv)
                .cast("double")
                .alias("value"),
            )
            return Plan("grouped", out, VT_F64, group_cols=tuple(on))

        # one (key, step) aggregation replaces the two-sided equi-join:
        # each side is unique per group (asserted above), so max() IS the
        # side's value and count() its presence — null values stay null,
        # exactly like the join's output
        g = t.groupBy(*on).agg(
            F.max(F.when(F.col("__side") == 0, lv.cast("double"))).alias(
                "__va"
            ),
            F.count(F.when(F.col("__side") == 0, F.lit(1))).alias("__na"),
            F.max(F.when(F.col("__side") == 1, rv.cast("double"))).alias(
                "__vb"
            ),
            F.count(F.when(F.col("__side") == 1, F.lit(1))).alias("__nb"),
        ).where((F.col("__na") > 0) & (F.col("__nb") > 0))
        if node.op in _CMP:
            pred = _CMP[node.op](F.col("__va"), F.col("__vb"))
            if node.bool_mode:
                out = g.select(*on, pred.cast("double").alias("value"))
            else:
                out = g.where(pred).select(
                    *on, F.col("__va").alias("value")
                )
        else:
            out = g.select(
                *on,
                _ARITH[node.op](F.col("__va"), F.col("__vb")).alias("value"),
            )
        return Plan("grouped", out, VT_F64, group_cols=tuple(on))

    # --------------------------------------------------------------- binary
    def _binary(self, node: ast.BinaryOp) -> Plan:
        fused = self._try_fused_matched(node)
        if fused is not None:
            return fused
        lhs = self._eval(node.lhs)
        rhs = self._eval(node.rhs)
        if node.matching is not None:
            return self._matched(node, lhs, rhs)
        if lhs.kind == "vector" and rhs.kind == "vector":
            l_bare = "stream_id" not in lhs.df.columns
            r_bare = "stream_id" not in rhs.df.columns
            if l_bare and r_bare:
                # both sides carry the EMPTY label set (ungrouped per-step
                # aggregates, grid literals-made-vectors): Prometheus's
                # default match is one-to-one on the empty key — a pure
                # per-step equi-join. The dashboard-canonical
                # `sum(a) / sum(b)` shape.
                joined = lhs.df.select(
                    "ts", F.col("value").cast("double").alias("__va")
                ).join(
                    rhs.df.select(
                        "ts", F.col("value").cast("double").alias("__vb")
                    ),
                    "ts",
                )
                if node.op in _CMP:
                    pred = _CMP[node.op](F.col("__va"), F.col("__vb"))
                    if node.bool_mode:
                        out = joined.select(
                            "ts", pred.cast("double").alias("value")
                        )
                    else:
                        out = joined.where(pred).select(
                            "ts", F.col("__va").alias("value")
                        )
                else:
                    out = joined.select(
                        "ts",
                        _ARITH[node.op](
                            F.col("__va"), F.col("__vb")
                        ).alias("value"),
                    )
                return Plan("vector", out, VT_F64)
            # Prometheus DEFAULT vector matching (round 9): one-to-one on
            # the FULL label sets — exactly `ignoring()` with no labels
            # (the raw engine's analogue is its interpolating union join;
            # on the grid instants align exactly, so the equi-join is the
            # correct semantic). Applies to arithmetic AND comparisons.
            from dataclasses import replace

            dflt = replace(node, matching=ast.VectorMatching(False, ()))
            return self._matched(dflt, lhs, rhs)
        is_cmp = node.op in _CMP
        for vec, scal, s_left in ((lhs, rhs, False), (rhs, lhs, True)):
            if vec.kind in ("vector", "grouped") and scal.kind == "scalar":
                if scal.literal is None:
                    raise ValueError(
                        "query_range scalar operands must be literals"
                    )
                return self._vec_lit(node.op, vec, scal.literal, s_left, node.bool_mode)
        if lhs.kind == "scalar" and rhs.kind == "scalar":
            from tachyon_spark.arith import py_arith

            a, b = lhs.literal, rhs.literal
            if is_cmp:
                val = float(_CMP[node.op](a, b))
            else:
                val = py_arith(node.op, a, b)
            return Plan("scalar", None, VT_F64, literal=float(val))
        raise ValueError(
            "unsupported query_range operand combination for "
            f"{node.op!r} (grouped operands need on()/ignoring() matching)"
        )

    def _vec_lit(
        self, op: str, vec: Plan, lit: float, scalar_on_left: bool, bool_mode: bool
    ) -> Plan:
        df = vec.df
        keep = [c for c in df.columns if c != "value"]
        v = F.col("value").cast("double")
        s = F.lit(float(lit))
        a, b = (s, v) if scalar_on_left else (v, s)
        if op in _CMP:
            cond = _CMP[op](a, b)
            if bool_mode:
                out = df.select(*keep, cond.cast("double").alias("value"))
            else:
                out = df.where(cond).select(*keep, "value")
                return Plan(vec.kind, out, vec.value_type,
                            group_cols=vec.group_cols, streams=vec.streams)
            return Plan(vec.kind, out, VT_F64,
                        group_cols=vec.group_cols, streams=vec.streams)
        out = df.select(*keep, _ARITH[op](a, b).alias("value"))
        return Plan(vec.kind, out, VT_F64,
                    group_cols=vec.group_cols, streams=vec.streams)

    def _matched(self, node: ast.BinaryOp, lhs: Plan, rhs: Plan) -> Plan:
        """a OP on(l)/ignoring(l) [group_left/right] b on the step grid:
        exact equi-join per (match key, step) — instants on the same grid
        never interpolate (PromQL). Many-to-one keeps the many side's
        series identity (stream_id) in the result key; group_left(l1,..)
        copies include labels from the unique one side via a broadcast
        map. Set ops match membership per (group, step). Both sides
        shuffle once on the same (key, step)."""
        matching = node.matching
        if lhs.kind != "vector" or rhs.kind != "vector":
            raise ValueError("on()/ignoring() requires vector operands")
        if not lhs.streams or not rhs.streams:
            raise ValueError(
                "vector matching requires label-carrying selector vectors"
            )
        key_cols, lkeys, rkeys = self._match_keys(
            matching, lhs.streams, rhs.streams
        )
        on = key_cols + ["ts"]

        if node.op in ast.SET_OPS:
            if matching.group is not None:
                raise ValueError(
                    "group_left/group_right do not apply to set operators"
                )
            keyed_l = self._keyed_side(lhs, lkeys, key_cols).drop("stream_id")
            keyed_r = self._keyed_side(rhs, rkeys, key_cols).drop("stream_id")
            if node.op == "and":
                out = keyed_l.join(keyed_r.select(*on).distinct(), on, "left_semi")
                return Plan("grouped", out, lhs.value_type, group_cols=tuple(on))
            if node.op == "unless":
                out = keyed_l.join(keyed_r.select(*on).distinct(), on, "left_anti")
                return Plan("grouped", out, lhs.value_type, group_cols=tuple(on))
            # or: keep all lhs; add rhs rows whose (group, step) is absent
            r_extra = keyed_r.join(keyed_l.select(*on).distinct(), on, "left_anti")
            out = keyed_l.select(
                *on, F.col("value").cast("double").alias("value")
            ).unionByName(
                r_extra.select(*on, F.col("value").cast("double").alias("value"))
            )
            return Plan("grouped", out, VT_F64, group_cols=tuple(on))

        lkeys, rkeys = self._matched_groups(matching, lkeys, rkeys)
        keyed_l = self._keyed_side(lhs, lkeys, key_cols)
        keyed_r = self._keyed_side(rhs, rkeys, key_cols)
        if matching.group is None:
            series = key_cols
            a_frame, b_frame = keyed_l.drop("stream_id"), keyed_r.drop("stream_id")
        elif matching.group == "left":
            series = ["stream_id"] + key_cols  # many side keeps identity
            a_frame, b_frame = keyed_l, keyed_r.drop("stream_id")
        else:  # group_right
            series = ["stream_id"] + key_cols
            a_frame, b_frame = keyed_l.drop("stream_id"), keyed_r
        sel = series + ["ts"]
        a_cols = (["stream_id"] if matching.group == "left" else []) + on
        b_cols = (["stream_id"] if matching.group == "right" else []) + on
        joined = a_frame.select(
            *a_cols, F.col("value").cast("double").alias("__va")
        ).join(
            b_frame.select(*b_cols, F.col("value").cast("double").alias("__vb")),
            on,
        )
        if node.op in _CMP:
            # comparisons (extension in grid mode; the raw engine keeps the
            # reference's panic): filter semantics keep the LHS sample
            # where the predicate holds; `bool` yields 1/0 per matched pair
            pred = _CMP[node.op](F.col("__va"), F.col("__vb"))
            if node.bool_mode:
                out = joined.select(
                    *sel, pred.cast("double").alias("value")
                )
            else:
                out = joined.where(pred).select(
                    *sel, F.col("__va").alias("value")
                )
        else:
            out = joined.select(
                *sel, _ARITH[node.op](F.col("__va"), F.col("__vb")).alias("value")
            )
        if matching.include:
            out = self._attach_include(
                out, matching, key_cols, lkeys, rkeys, lhs, rhs
            )
        return Plan("grouped", out, VT_F64, group_cols=tuple(sel))

    # ---------------------------------------------------------------- clock
    def _clock_func(self, node: ast.ClockFunc) -> Plan:
        """The grid's evaluation clock (native ts units): time() is the
        step value itself; vector(s) is s at every step, for a literal s
        or an already per-step scalar (time(), scalar(v)); scalar(v) is
        total on the grid — steps where no series reports are NaN.
        timestamp(v) and the per-step one-series rule of scalar(v) are
        the shared handler's."""
        if node.func == "time":
            out = self._grid_df().select(
                "ts", F.col("ts").cast("double").alias("value")
            )
            return Plan("vector", out, VT_F64)
        if node.func == "vector":
            sub = self._eval(node.child)
            if sub.literal is not None:
                out = self._grid_df().select(
                    "ts", F.lit(float(sub.literal)).alias("value")
                )
                return Plan("vector", out, VT_F64)
            if sub.kind != "vector" or "stream_id" in sub.df.columns:
                raise ValueError("vector() requires a scalar input")
            return sub
        plan = super()._clock_func(node)
        if node.func != "scalar":
            return plan
        out = (
            self._grid_df()
            .join(plan.df, "ts", "left")
            .select("ts", F.coalesce("value", F.lit(float("nan"))).alias("value"))
        )
        return Plan("vector", out, VT_F64)

    # -------------------------------------------------------------- absent
    def _absent(self, node: ast.AbsentFunc) -> Plan:
        """absent(v) per step: 1 at steps where NO series has a value
        (unknown metric → 1 on the whole grid) — the dead-stream alerting
        primitive, per instant. Grid anti-join against the instant
        vector's step set; the grid is data, one small exchange."""
        grid = self._grid_df().select("ts", F.lit(1.0).alias("value"))
        try:
            child = self._eval(node.child)
        except ValueError as e:
            if "no streams matched" in str(e):
                return Plan("vector", grid, VT_F64)
            raise
        if child.kind not in ("vector", "grouped") or "ts" not in child.df.columns:
            raise ValueError("absent() requires a vector input")
        present = child.df.select("ts").distinct()
        out = grid.join(present, "ts", "left_anti")
        return Plan("vector", out, VT_F64)

    def _absent_over_time(self, node) -> Plan:
        """absent_over_time(m[R]) per step: 1 at steps whose left-open
        window (t - R, t] holds NO samples of the range vector (unknown
        metric -> 1 on the whole grid). Present steps come from the same
        sample-to-step explode every windowed function uses; the grid
        anti-join is one small exchange."""
        grid = self._grid_df().select("ts", F.lit(1.0).alias("value"))
        if isinstance(node.child, ast.Subquery):
            # absent_over_time(expr[R:S]): absent when the window holds
            # no inner INSTANT (Prometheus — inner instants, not raw
            # samples; a step whose inner expression evaluates empty on
            # the whole window is absent). With `@ T` the subquery clock
            # pins at T, so absence is a SINGLE pinned-window fact — 1 on
            # the whole grid when (T-R, T] holds no inner instant, empty
            # otherwise (the same one-eval-then-fan shape as
            # _windowed_subquery's @ path; the presence probe is a
            # bounded limit(1) check, not a collect)
            sub = node.child
            if sub.step <= 0:
                raise ValueError("subquery step must be positive")
            pinned = sub.at_ts is not None or sub.at_anchor
            if pinned:
                lo = hi = self._pin(sub)
            else:
                lo, hi = self.start, self.end
            off = sub.offset or 0
            back = (sub.range_ // sub.step) * sub.step
            inner_eval = RangeEvaluator(
                self.conn, lo - back - off, hi - off, sub.step, self.lookback
            )
            try:
                inner = inner_eval._eval(sub.child)
            except ValueError as e:
                if "no streams matched" in str(e):
                    return Plan("vector", grid, VT_F64)
                raise
            if (
                inner.kind not in ("vector", "grouped")
                or inner.df is None
                or "ts" not in inner.df.columns
            ):
                raise ValueError(
                    "query_range subquery inner expression must evaluate to "
                    "an instant vector (absent_over_time over a scalar "
                    "subquery is not supported)"
                )
            df_i = inner.df
            if off:
                df_i = df_i.withColumn("ts", F.col("ts") + F.lit(off))
            if pinned:
                window = (F.col("ts") > hi - sub.range_) & (F.col("ts") <= hi)
                present = df_i.where(window).limit(1).count() > 0
                return Plan("vector", grid.limit(0) if present else grid, VT_F64)
            exploded = self._explode_to_steps(
                df_i.select("ts", "value"), sub.range_
            )
            present = exploded.select(F.col("__step").alias("ts")).distinct()
            return Plan("vector", grid.join(present, "ts", "left_anti"), VT_F64)
        msel = node.child
        if msel.selector.at_ts is not None or msel.selector.at_anchor:
            # absent_over_time(m[R] @ T): the window pins at (T-R, T] —
            # the last @ position (range selectors in query_range,
            # VERDICT r10 item 6). One single-step evaluation at T; the
            # presence probe is a bounded limit(1), then 1 on the whole
            # grid or empty (same one-eval-then-fan shape as
            # _windowed_at).
            sel = msel.selector
            t = self._pin(sel)
            bare = ast.MatrixSelector(
                ast.VectorSelector(
                    sel.name, sel.matchers, offset=sel.offset,
                    or_groups=sel.or_groups,
                ),
                msel.range_,
            )
            sub = RangeEvaluator(self.conn, t, t, self.step, self.lookback)
            try:
                _, df = sub._exploded(bare)
            except ValueError as e:
                if "no streams matched" in str(e):
                    return Plan("vector", grid, VT_F64)
                raise
            present = df.limit(1).count() > 0
            return Plan("vector", grid.limit(0) if present else grid, VT_F64)
        try:
            child, df = self._exploded(node.child)
        except ValueError as e:
            if "no streams matched" in str(e):
                return Plan("vector", grid, VT_F64)
            raise
        present = df.select(F.col("__step").alias("ts")).distinct()
        out = grid.join(present, "ts", "left_anti")
        return Plan("vector", out, VT_F64)
