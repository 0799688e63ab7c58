"""Connection.samples_df() reuses one relation per on-disk state of the
samples tree, and a changed tree is listed on the driver: a multi-bucket
db builds queries without Spark's file-listing job, and every write — through this Connection, another
Connection on the same db, the HTTP server's cached Connection, or a file
dropped straight into the tree — is seen by the next query."""

import json
import os
import urllib.request
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tachyon_spark.connection import Connection, stream_bucket_py
from tachyon_spark.maintenance import compact_all, expire_before
from tests.conftest import make_stream

N_STREAMS = 200
STEPS = 10


def _jobs_started(spark, fn):
    """(result of fn(), Spark jobs fn started) — counted by job group, as
    the benchmark's tracer attributes jobs to a span."""
    sc = spark.sparkContext
    group = f"samples-relation-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "samples relation test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _load(conn, t0):
    """One bulk_load of STEPS samples per stream 'm{i=...}' from t0."""
    ids = [s.stream_id for s in conn.get_all_streams()]
    rows = [(sid, t0 + 10 * k, float(k), None) for sid in ids for k in range(STEPS)]
    conn.bulk_load(
        conn.spark.createDataFrame(rows, "stream_id string, ts long, value double, value_int long")
    )


def test_unchanged_db_builds_without_listing_job(spark, tmp_path):
    # the hash layout, and the same with nested ts_bucket= dirs below it
    for name, kw in (("hashed", {}), ("time_bucket", {"time_bucket": 500})):
        conn = Connection(str(tmp_path / name), spark, **kw)
        conn.create_streams([(f'm{{i="{i}"}}', "f64") for i in range(N_STREAMS)])
        _load(conn, 0)
        buckets = [d for d in os.listdir(conn.samples_path) if d.startswith("stream_bucket=")]
        # above Spark's default 32-path parallel partition discovery threshold
        assert len(buckets) > 32

        def build(start=0):
            return conn.query_range('sum(m{i=~"1.*"})', start, start + 90, 10)

        # the session lists the tree on the driver: no listing job, ever
        _, first = _jobs_started(spark, build)
        assert first == 0
        q, second = _jobs_started(spark, build)
        assert second == 0
        before = conn.samples_df()
        assert before is conn.samples_df()
        assert len(q.rows()) == STEPS

        _load(conn, 1000)
        q, after_write = _jobs_started(spark, lambda: build(1000))
        assert after_write == 0
        assert conn.samples_df() is not before  # new files: a new relation
        assert len(q.rows()) == STEPS  # the second load's rows
        _, settled = _jobs_started(spark, build)
        assert settled == 0


def _values(conn, sel, start=0, end=10_000):
    return [v for _, v in conn.query(sel, start, end).rows()]


def test_writes_through_one_connection_reach_another(spark, tmp_path):
    path = str(tmp_path / "db")
    a = Connection(path, spark, time_bucket=100)
    make_stream(a, 'f{k="x"}', "f64", [(10, 1.0), (20, 2.0)])
    make_stream(a, 'g{k="z"}', "f64", [(150, 7.0)])
    b = Connection(path, spark)
    assert _values(b, 'f{k="x"}') == [1.0, 2.0]

    # Inserter.flush
    ins = a.prepare_insert('f{k="x"}')
    ins.insert(30, 3.0)
    ins.flush()
    assert _values(b, 'f{k="x"}') == [1.0, 2.0, 3.0]

    # bulk_load
    sid = next(s.stream_id for s in a.get_all_streams() if s.name == "f")
    a.bulk_load(
        spark.createDataFrame(
            [(sid, 250, 4.0, None)], "stream_id string, ts long, value double, value_int long"
        )
    )
    assert _values(b, 'f{k="x"}') == [1.0, 2.0, 3.0, 4.0]

    # maintenance compaction: same rows, read from the rewritten files
    assert sum(compact_all(a).values()) > 1
    assert _values(b, 'f{k="x"}') == [1.0, 2.0, 3.0, 4.0]

    # maintenance retention: ts_bucket 0 ([0, 100)) is dropped
    assert expire_before(a, 100) >= 1
    assert _values(b, 'f{k="x"}') == [4.0]

    # delete_series
    assert a.delete_series('f{k="x"}', 200, 300) == 1
    assert _values(b, 'f{k="x"}') == []

    # delete_stream: B loses both the catalog row and the samples
    assert _values(b, 'g{k="z"}') == [7.0]
    assert a.delete_stream('g{k="z"}') == 1
    assert not b.check_stream_exists('g{k="z"}')
    assert b.samples_df().where(F.col("value") == 7.0).count() == 0


def test_file_written_outside_the_api_is_read(spark, tmp_path):
    conn = Connection(str(tmp_path / "db"), spark)
    make_stream(conn, 'o{k="x"}', "f64", [(10, 1.0)])
    assert _values(conn, 'o{k="x"}') == [1.0]
    sid = conn.get_all_streams()[0].stream_id
    bucket = os.path.join(
        conn.samples_path, f"stream_bucket={stream_bucket_py(sid, conn.stream_buckets)}"
    )
    pq.write_table(
        pa.table(
            {
                "stream_id": pa.array([sid]),
                "ts": pa.array([20], pa.int64()),
                "value": pa.array([2.0]),
                "value_int": pa.array([None], pa.int64()),
            }
        ),
        os.path.join(bucket, "part-external.parquet"),
    )
    assert _values(conn, 'o{k="x"}') == [1.0, 2.0]


def test_server_connection_sees_library_write(spark, tmp_path):
    import tachyon_spark.server as srv_mod

    path = str(tmp_path / "db")
    a = Connection(path, spark)
    make_stream(a, 'h{k="x"}', "f64", [(10, 1.0)])
    # the server's own cached Connection on the same db
    srv_mod._connections[path] = Connection(path, spark)
    srv = srv_mod.serve(port=0)
    port = srv.server_address[1]

    def http_values():
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/query",
            data=json.dumps(
                {"path": path, "query": 'h{k="x"}', "start": 0, "end": 100}
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            return json.load(r)["values"]

    try:
        assert http_values() == [1.0]
        ins = a.prepare_insert('h{k="x"}')
        ins.insert(20, 2.0)
        ins.flush()
        assert http_values() == [1.0, 2.0]
    finally:
        srv.shutdown()
        srv_mod._connections.pop(path, None)
