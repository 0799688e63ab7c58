"""Time-range selector scan.

Reference (tachyon_core/src/execution/node/vector_select.rs:12-106): resolve
metric+matchers -> stream ids via the inverted index, prune data files to
[start, end], iterate samples in ts order per stream.

Spark mapping: a filter on (stream_id, ts BETWEEN start AND end). With
samples stored as Parquet partitioned by (stream_bucket, ts_bucket) and
sorted by (stream_id, ts) within files, Catalyst turns this into partition
pruning + row-group min/max skipping — the distributed equivalent of the
reference's SQLite file catalog (query/indexer.rs:323-343).

High-cardinality posture (`select_streams`, the one decision every
selector scan takes): a selector matching a handful of ids compiles to an
``isin`` literal (best pushdown); past ISIN_THRESHOLD ids it becomes a
BROADCAST SEMI-JOIN against the catalog-resolved id frame — an unbounded
IN-list literal is a driver/codegen bottleneck at 10^5+ matched series and
cannot be what a 1000-executor plan carries.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Past this many matched series a selector semi-joins an id frame instead
# of carrying its ids as an IN-list literal.
ISIN_THRESHOLD = 1_000
# Broadcast the id frame below this many ids; beyond it, let AQE pick the
# join strategy (a 10^7-row broadcast would OOM the driver).
BROADCAST_IDS_MAX = 5_000_000


def select_range(
    samples: DataFrame,
    stream_ids: Sequence[str] | None = None,
    start: int | None = None,
    end: int | None = None,
    ts_col: str = "ts",
    stream_col: str = "stream_id",
    time_bucket: int | None = None,
    bucket_col: str = "ts_bucket",
    stream_ids_df: DataFrame | None = None,
    id_count: int | None = None,
    stream_buckets: Sequence[int] | None = None,
    stream_bucket_col: str = "stream_bucket",
) -> DataFrame:
    """Filter samples to the given streams and inclusive time range.

    Exactly one of ``stream_ids`` (small: isin literal) / ``stream_ids_df``
    (large: semi-join on a 1-column id frame) selects streams; pass neither
    to scan all. ``stream_buckets`` prunes hash-bucket partition dirs when
    the layout has them; ``time_bucket`` prunes time partition dirs — at
    100 TB a narrow query touches only its buckets, not every file.
    """
    df = samples
    if stream_buckets is not None:
        bks = list(stream_buckets)
        if len(bks) == 1:
            df = df.where(F.col(stream_bucket_col) == bks[0])
        else:
            df = df.where(F.col(stream_bucket_col).isin(bks))
    if time_bucket:
        if start is not None:
            df = df.where(F.col(bucket_col) >= start // time_bucket)
        if end is not None:
            df = df.where(F.col(bucket_col) <= end // time_bucket)
    if start is not None:
        df = df.where(F.col(ts_col) >= F.lit(start))
    if end is not None:
        df = df.where(F.col(ts_col) <= F.lit(end))
    if stream_ids is not None:
        ids = list(stream_ids)
        if len(ids) == 1:
            df = df.where(F.col(stream_col) == ids[0])
        else:
            df = df.where(F.col(stream_col).isin(ids))
    elif stream_ids_df is not None:
        rhs = stream_ids_df.select(F.col(stream_col))
        if id_count is None or id_count <= BROADCAST_IDS_MAX:
            rhs = F.broadcast(rhs)
        df = df.join(rhs, stream_col, "left_semi")
    return df


def select_streams(
    conn, ids: Sequence[str], frame: Callable[[], DataFrame],
    start: int | None, end: int | None,
) -> DataFrame:
    """The samples of the streams `ids` in [start, end] on `conn`'s
    layout: `ids` go into the plan as an ``isin`` literal up to
    ISIN_THRESHOLD, past it the scan semi-joins `frame()` (a thunk, so a
    small selector never builds it). The scan reads only the hash-bucket
    dirs the ids fall in, unless they cover every bucket."""
    buckets = None
    if conn.stream_buckets:
        from tachyon_spark.connection import stream_bucket_py

        bset = {stream_bucket_py(i, conn.stream_buckets) for i in ids}
        if len(bset) < conn.stream_buckets:
            buckets = sorted(bset)
    rhs = frame() if len(ids) > ISIN_THRESHOLD else None
    return select_range(
        conn.samples_df(), ids if rhs is None else None, start, end,
        time_bucket=conn.time_bucket, stream_ids_df=rhs, id_count=len(ids),
        stream_buckets=buckets,
    )
