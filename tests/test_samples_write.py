"""Samples writes: every Parquet file is (stream_id, ts)-sorted, so row-group
min/max stats on stream_id prune single-stream reads, and a bulk load writes
its bucket files on more than one task, one file per touched bucket dir."""

import glob
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from tachyon_spark.connection import Connection, stream_bucket_py

SCHEMA = "stream_id string, ts long, value double, value_int long"


def _unsorted_files(conn):
    """Paths of the .parquet files under samples/ whose rows are not in
    (stream_id, ts) order. The legacy layout keeps stream_id in the dir
    name, so its files are checked on ts alone."""
    bad = []
    files = glob.glob(os.path.join(conn.samples_path, "**", "*.parquet"), recursive=True)
    assert files
    for path in files:
        pf = pq.ParquetFile(path)
        cols = [c for c in ("stream_id", "ts") if c in pf.schema_arrow.names]
        t = pf.read(columns=cols).to_pydict()
        keys = list(zip(*(t[c] for c in cols)))
        if keys != sorted(keys):
            bad.append(path)
    return bad


def _streams(conn, n):
    conn.create_streams([(f'm{{i="{i}"}}', "f64") for i in range(n)])
    return [s.stream_id for s in conn.get_all_streams()]


def _load(conn, ids, t0, steps=10):
    """One bulk_load, rows in descending ts with streams interleaved, so
    arrival order is the opposite of the stored order."""
    rows = [(sid, t0 + k, float(k), None) for k in reversed(range(steps)) for sid in ids]
    conn.bulk_load(conn.spark.createDataFrame(rows, SCHEMA))
    return len(rows)


def test_bulk_load_files_sorted(spark, tmp_path):
    for name, kw in (
        ("hashed", {}),
        ("time_bucket", {"time_bucket": 5}),
        ("legacy", {"stream_buckets": 0}),
    ):
        conn = Connection(str(tmp_path / name), spark, **kw)
        ids = _streams(conn, 40)
        n = _load(conn, ids, 0)
        assert _unsorted_files(conn) == [], name
        assert conn.samples_df().count() == n


def test_inserter_flush_files_sorted(spark, tmp_path):
    conn = Connection(str(tmp_path / "db"), spark)
    conn.create_stream('f{k="x"}', "f64")
    ins = conn.prepare_insert('f{k="x"}')
    for ts in reversed(range(100)):
        ins.insert(ts, float(ts))
    ins.flush()
    assert _unsorted_files(conn) == []
    assert [ts for ts, _ in conn.query('f{k="x"}', 0, 1000).rows()] == list(range(100))


def test_delete_stream_rewrite_sorted(spark, tmp_path):
    conn = Connection(str(tmp_path / "db"), spark, time_bucket=1000)
    ids = _streams(conn, 200)
    n = _load(conn, ids, 0)
    by_bucket = {}
    for s in conn.get_all_streams():
        by_bucket.setdefault(stream_bucket_py(s.stream_id, conn.stream_buckets), []).append(s)
    bucket, streams = next((b, ss) for b, ss in sorted(by_bucket.items()) if len(ss) > 1)
    # an unsorted file in the bucket the delete rewrites (as an older
    # writer left them): the rewrite's output is sorted only if it sorts
    mates = [s.stream_id for s in streams[1:]]
    rows = [(sid, ts) for ts in reversed(range(100, 110)) for sid in mates]
    pq.write_table(
        pa.table(
            {
                "stream_id": pa.array([sid for sid, _ in rows]),
                "ts": pa.array([ts for _, ts in rows], pa.int64()),
                "value": pa.array([1.0] * len(rows)),
                "value_int": pa.array([None] * len(rows), pa.int64()),
            }
        ),
        os.path.join(conn.samples_path, f"stream_bucket={bucket}", "ts_bucket=0", "old.parquet"),
    )
    assert _unsorted_files(conn)
    assert conn.delete_stream(f'm{{i="{streams[0].labels["i"]}"}}') == 1
    assert _unsorted_files(conn) == []
    assert conn.samples_df().count() == n - 10 + len(rows)


def _bucket_files(conn):
    return {
        d: len(glob.glob(os.path.join(conn.samples_path, d, "*.parquet")))
        for d in os.listdir(conn.samples_path)
        if d.startswith("stream_bucket=")
    }


def test_bulk_load_writes_on_every_core(spark, tmp_path):
    conn = Connection(str(tmp_path / "db"), spark)
    ids = _streams(conn, 200)
    _load(conn, ids, 0)
    before = _bucket_files(conn)
    assert len(before) > 32

    sc = spark.sparkContext
    group = f"samples-write-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "samples write test")
    try:
        _load(conn, ids, 100)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    last_job = max(st.getJobIdsForGroup(group))
    # the write is the last job's result stage, created after its parents
    write_stage = st.getStageInfo(max(st.getJobInfo(last_job).stageIds))
    assert sc.defaultParallelism == 4
    assert write_stage.numTasks > 1

    after = _bucket_files(conn)
    assert after.keys() == before.keys()
    assert all(after[d] == before[d] + 1 for d in before)
