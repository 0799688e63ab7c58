"""Prometheus-style histogram bucket quantiles.

`histogram_quantile(phi, buckets)` over CUMULATIVE le-labeled bucket counts
(extension; absent from the reference — its planner rejects all function
calls, query/planner.rs:218-222). The algorithm is Prometheus's
bucketQuantile: per group, sort buckets by le ascending, find the first
bucket whose cumulative count reaches rank = phi * total, and linearly
interpolate within that bucket's [prev_le, le] bounds; a rank landing in
the +Inf bucket returns the highest finite le; the first bucket
interpolates from 0.

Spark mapping: one groupBy per (group key) collecting the per-group bucket
array (bounded: histograms have tens of buckets, never millions), then a
single pure-codegen expression over array HOFs — no UDF, one narrow
shuffle on the group key. This is the 100 TB plan: the shuffle key is
(series, ts), bucket fan-in is constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tachyon_spark.plans.builder import local_df

INF = float("inf")


def parse_le(col):
    """'+Inf' -> double infinity; anything else casts as double."""
    return F.when(F.col(col) == "+Inf", F.lit(INF)).otherwise(
        F.col(col).cast("double")
    )


def le_series_frame(spark, streams):
    """Broadcastable (stream_id, __le, __series) frame for le-labeled bucket
    streams: __le is the parsed upper bound (+Inf -> infinity) and __series
    the canonical remaining-label key. Returns (frame, multi, series_labels)
    where multi says whether more than one non-le label set exists (i.e. the
    quantile must group per series, not just per timestamp) and
    series_labels is the series-key -> remaining-labels map
    (Plan.series_labels — lets an outer by/without aggregation re-key the
    composite instead of raising). Shared by the raw-sample and query_range
    histogram_quantile paths."""
    les = {}
    smap = {}
    for s in streams:
        if "le" not in s.labels:
            raise ValueError(
                f"histogram_quantile: stream {s.name}{s.labels} has no 'le' label"
            )
        le = INF if s.labels["le"] == "+Inf" else float(s.labels["le"])
        rest = tuple(sorted((k, v) for k, v in s.labels.items() if k != "le"))
        key = ",".join(f"{k}={v}" for k, v in rest)
        les[s.stream_id] = (le, key)
        smap.setdefault(key, rest)
    frame = local_df(
        spark,
        [(sid, le, grp) for sid, (le, grp) in les.items()],
        T.StructType([
            T.StructField("stream_id", T.StringType()),
            T.StructField("__le", T.DoubleType()),
            T.StructField("__series", T.StringType()),
        ]),
    )
    return frame, len(smap) > 1, tuple(smap.items())


def _bucket_arrays(
    df: DataFrame, group_cols: list[str], le_col: str, value_col: str
):
    """Shared grouping step of every bucket helper: one row per group with
    the le-sorted (le, cumulative count) struct array (bounded fan-in —
    histograms have tens of buckets). Returns (grouped_df, les, counts)
    column expressions over the array."""
    pairs = F.array_sort(
        F.collect_list(F.struct(F.col(le_col).alias("le"), F.col(value_col).cast("double").alias("c")))
    )
    g = df.groupBy(*group_cols).agg(pairs.alias("__b"))
    les = F.transform(F.col("__b"), lambda s: s["le"])
    counts = F.transform(F.col("__b"), lambda s: s["c"])
    return g, les, counts


def bucket_quantile(
    df: DataFrame,
    phi: float,
    group_cols: list[str],
    le_col: str = "le",
    value_col: str = "value",
) -> DataFrame:
    """Per-group bucket quantile. `df` has one row per (group, bucket) with
    the bucket's upper bound (double; +Inf allowed) and CUMULATIVE count.
    Returns one row per group: (group_cols..., value)."""
    g, les, counts = _bucket_arrays(df, group_cols, le_col, value_col)
    total = F.element_at(counts, -1)
    rank = F.lit(float(phi)) * total
    # first 1-based index whose cumulative count >= rank
    idx = F.size(F.filter(counts, lambda c: c < rank)) + 1
    b_le = F.element_at(les, idx)
    b_cnt = F.element_at(counts, idx)
    prev_cnt = F.when(idx == 1, F.lit(0.0)).otherwise(F.element_at(counts, idx - 1))
    prev_le = F.when(idx == 1, F.lit(0.0)).otherwise(F.element_at(les, idx - 1))
    hf = F.element_at(les, F.greatest(F.size(les) - 1, F.lit(1)))
    # a histogram whose only bucket is +Inf has no finite upper bound to
    # clamp to — Prometheus yields NaN there; we yield null (filtered below)
    highest_finite = F.when((F.size(les) >= 2) & (hf != F.lit(INF)), hf)
    quantile = (
        F.when(total <= 0, F.lit(None).cast("double"))
        .when(b_le == F.lit(INF), highest_finite)
        .when(b_cnt == prev_cnt, prev_le)  # phi=0 / empty bucket guard
        .otherwise(
            prev_le + (b_le - prev_le) * (rank - prev_cnt) / (b_cnt - prev_cnt)
        )
    )
    return g.select(*group_cols, quantile.alias("value")).where(
        F.col("value").isNotNull()
    )


def bucket_agg(
    df: DataFrame,
    op: str,
    group_cols: list[str],
    le_col: str = "le",
    value_col: str = "value",
) -> DataFrame:
    """Prometheus 3.x classic-histogram helpers over cumulative le buckets:

    - count: the observation count — the +Inf (= last) bucket's cumulative
      count, exact.
    - sum: ESTIMATED sum of observations — per-bucket count times the
      bucket midpoint ((prev_le + le) / 2; the first bucket from 0), the
      +Inf bucket represented by the highest finite le (the same clamp
      bucket_quantile applies). Classic buckets don't carry a true sum, so
      this is the standard midpoint estimate; null when the only bucket
      is +Inf (no finite bound to clamp to).
    - avg: sum / count (inherits sum's estimate semantics); null for an
      empty histogram.

    Same shape as bucket_quantile: one narrow shuffle on the group key,
    then pure array HOFs — no UDF, constant bucket fan-in."""
    g, les, counts = _bucket_arrays(df, group_cols, le_col, value_col)
    total = F.element_at(counts, -1)
    if op == "count":
        value = total
    else:
        n = F.size(F.col("__b"))
        hf = F.element_at(les, F.greatest(n - 1, F.lit(1)))
        highest_finite = F.when((n >= 2) & (hf != F.lit(INF)), hf)
        # per-bucket (count_i - count_{i-1}) * representative midpoint
        idxs = F.sequence(F.lit(1), n)
        contrib = F.transform(
            idxs,
            lambda i: (
                F.element_at(counts, i)
                - F.when(i == 1, F.lit(0.0)).otherwise(
                    F.element_at(counts, i - 1)
                )
            )
            * F.when(
                F.element_at(les, i) == F.lit(INF), highest_finite
            ).otherwise(
                (
                    F.when(i == 1, F.lit(0.0)).otherwise(
                        F.element_at(les, i - 1)
                    )
                    + F.element_at(les, i)
                )
                / 2.0
            ),
        )
        est_sum = F.aggregate(contrib, F.lit(0.0), lambda acc, x: acc + x)
        if op == "sum":
            value = est_sum
        elif op == "avg":
            value = F.when(total > 0, est_sum / total)
        else:
            raise ValueError(f"unsupported histogram agg {op!r}")
    return g.select(*group_cols, value.cast("double").alias("value")).where(
        F.col("value").isNotNull()
    )


def bucket_fraction(
    df: DataFrame,
    lo: float,
    hi: float,
    group_cols: list[str],
    le_col: str = "le",
    value_col: str = "value",
) -> DataFrame:
    """histogram_fraction(lo, hi, buckets) for classic cumulative buckets:
    the estimated fraction of observations in [lo, hi] — the interpolated
    cumulative count at hi minus at lo, over the total. Interpolation is
    linear within a bucket's [prev_le, le] bounds (the first bucket from
    0), matching bucket_quantile's model; a bound inside the +Inf bucket
    contributes the last finite cumulative count (no finite width to
    interpolate over); a bound past every bucket contributes the total.
    Bounds are CLAMPED into the bucket domain [0, +Inf) before
    interpolating: the model's first bucket spans [0, le_1], so a negative
    bound holds cumulative count 0 — extrapolating below 0 produced a
    NEGATIVE cumulative count that inflated the fraction
    (histogram_fraction(-5, 1, b) > histogram_fraction(0, 1, b)).
    Empty histograms (total <= 0) yield no row."""
    g, les, counts = _bucket_arrays(df, group_cols, le_col, value_col)
    total = F.element_at(counts, -1)

    def cum_at(b):
        # clamp into the bucket domain: cumulative count below 0 is 0
        bb = F.greatest(F.lit(float(b)), F.lit(0.0))
        idx = F.size(F.filter(les, lambda le: le < bb)) + 1
        n = F.size(F.col("__b"))
        b_le = F.element_at(les, F.least(idx, n))
        b_cnt = F.element_at(counts, F.least(idx, n))
        prev_cnt = F.when(idx == 1, F.lit(0.0)).otherwise(
            F.element_at(counts, F.greatest(idx - 1, F.lit(1)))
        )
        prev_le = F.when(idx == 1, F.lit(0.0)).otherwise(
            F.element_at(les, F.greatest(idx - 1, F.lit(1)))
        )
        return (
            F.when(idx > n, total)
            .when(b_le == F.lit(INF), prev_cnt)
            .when(b_le == prev_le, b_cnt)
            .otherwise(
                prev_cnt
                + (b_cnt - prev_cnt) * (bb - prev_le) / (b_le - prev_le)
            )
        )

    frac = F.when(total > 0, (cum_at(hi) - cum_at(lo)) / total)
    return g.select(*group_cols, frac.cast("double").alias("value")).where(
        F.col("value").isNotNull()
    )
