"""Structured Streaming ingestion into the samples table.

The reference ingests with a single-threaded buffered Inserter that rotates
files at 62,500 samples (persistent_writer.rs:76-116, storage/mod.rs:8).
The Spark-native equivalent for live feeds is a streaming file/queue source
→ writeStream parquet sink with checkpointing: exactly-once appends, file
rotation via maxRecordsPerFile, partition-per-stream layout identical to the
batch path, so batch queries see streamed data with no special casing.

At 100 TB/day the same topology holds — the source becomes Kafka/queue, the
sink a partitioned table; only trigger/checkpoint configs change.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame

from tachyon_spark.connection import SAMPLES_SCHEMA


_BLOB_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def _start_ingest(
    conn,
    name: str,
    fmt: str,
    source_dir: str,
    checkpoint_dir: str | None,
    trigger_once: bool,
    max_files_per_trigger: int,
    append,
):
    """Tail `source_dir` (spark `fmt` source: text lines, binaryFile
    blobs as a `content` column, or SAMPLES_SCHEMA parquet) and hand
    each micro-batch to `append`. The checkpoint defaults to
    <db>/_checkpoints/<name>. Returns the StreamingQuery.

    foreachBatch + the batch writers, NOT a direct parquet sink: the
    sink's _spark_metadata log would make every later batch read of
    samples/ use MetadataLogFileIndex and silently hide batch-written
    files. Exactly-once degrades to at-least-once on batch retry;
    downstream dedup is the documented contract for replays."""
    reader = conn.spark.readStream.format(fmt).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if fmt == "binaryFile":
        src = reader.schema(_BLOB_SCHEMA).load(source_dir).select("content")
    elif fmt == "parquet":
        src = reader.schema(SAMPLES_SCHEMA).load(source_dir)
    else:
        src = reader.load(source_dir)
    writer = (
        src.writeStream.foreachBatch(lambda batch_df, _id: append(batch_df))
        .option(
            "checkpointLocation",
            checkpoint_dir
            or os.path.join(conn.db_dir, "_checkpoints", name),
        )
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_stream_ingest(
    conn,
    source_dir: str,
    checkpoint_dir: str | None = None,
    trigger_once: bool = False,
    max_files_per_trigger: int = 100,
):
    """Tail `source_dir` for new parquet drops of SAMPLES_SCHEMA rows and
    append them to the connection's samples table. Returns the StreamingQuery.
    """
    return _start_ingest(
        conn, "ingest", "parquet", source_dir, checkpoint_dir,
        trigger_once, max_files_per_trigger, conn._write_samples,
    )


def stream_source(conn, source_dir: str, schema=None) -> DataFrame:
    """A streaming DataFrame over a drop directory (for windowed aggs)."""
    return conn.spark.readStream.schema(schema or SAMPLES_SCHEMA).parquet(source_dir)


def start_openmetrics_ingest(
    conn,
    source_dir: str,
    checkpoint_dir: str | None = None,
    trigger_once: bool = False,
    max_files_per_trigger: int = 100,
    ns_clock: bool = True,
    value_type: str = "f64",
):
    """LIVE scrape ingestion: tail `source_dir` for OpenMetrics text
    drops (the files a scrape loop or federation pull writes) and ingest
    each micro-batch through sources/openmetrics.ingest_openmetrics
    (new metrics appearing mid-stream register their streams in that
    batch). Returns the StreamingQuery."""
    from tachyon_spark.sources import openmetrics

    return _start_ingest(
        conn, "openmetrics", "text", source_dir, checkpoint_dir,
        trigger_once, max_files_per_trigger,
        lambda df: openmetrics.ingest_openmetrics(
            conn, df, ns_clock=ns_clock, value_type=value_type
        ),
    )


def start_line_protocol_ingest(
    conn,
    source_dir: str,
    checkpoint_dir: str | None = None,
    trigger_once: bool = False,
    max_files_per_trigger: int = 100,
    precision: str = "ns",
    value_type: str = "f64",
):
    """LIVE line-protocol ingestion: tail `source_dir` for InfluxDB
    line-protocol text drops (Telegraf file output, `influx write`
    dumps, IoT gateway batches) and ingest each micro-batch through
    sources/line_protocol.ingest_line_protocol (measurement_field{tags}
    fan-out; new measurements register in that batch). Returns the
    StreamingQuery."""
    from tachyon_spark.sources import line_protocol

    return _start_ingest(
        conn, "line_protocol", "text", source_dir, checkpoint_dir,
        trigger_once, max_files_per_trigger,
        lambda df: line_protocol.ingest_line_protocol(
            conn, df, precision=precision, value_type=value_type
        ),
    )


def start_graphite_ingest(
    conn,
    source_dir: str,
    checkpoint_dir: str | None = None,
    trigger_once: bool = False,
    max_files_per_trigger: int = 100,
    ts_unit: str = "s",
    value_type: str = "f64",
):
    """LIVE Graphite plaintext ingestion: tail `source_dir` for
    carbon-style text drops and ingest each micro-batch through
    sources/line_protocol.ingest_graphite (name{tags} series identity;
    per-batch cost is bounded by the batch's own series, never the
    catalog size). Returns the StreamingQuery."""
    from tachyon_spark.sources import line_protocol

    return _start_ingest(
        conn, "graphite", "text", source_dir, checkpoint_dir,
        trigger_once, max_files_per_trigger,
        lambda df: line_protocol.ingest_graphite(
            conn, df, ts_unit=ts_unit, value_type=value_type
        ),
    )


def start_remote_write_ingest(
    conn,
    source_dir: str,
    checkpoint_dir: str | None = None,
    trigger_once: bool = False,
    max_files_per_trigger: int = 100,
    ts_unit: str = "ms",
    value_type: str = "f64",
    compressed: bool = True,
    proto: str = "1",
    store_exemplars: bool = False,
):
    """LIVE remote_write ingestion: tail `source_dir` for dropped
    WriteRequest blobs (one snappy+protobuf body per file — the shape a
    dumb HTTP front or a replayed WAL produces) and ingest each
    micro-batch through sources/remote_write.ingest_remote_write, the
    same path as the HTTP endpoint. `proto` "2" tails remote-write 2.0
    bodies; `store_exemplars` retains exemplars per batch
    (tachyon_spark/exemplars.py — its own failure domain, like the HTTP
    ?exemplars=1 opt-in: a failed exemplar pass warns and keeps the
    batch's committed samples). Returns the StreamingQuery."""
    from tachyon_spark import exemplars
    from tachyon_spark.sources import remote_write

    def _append(blobs):
        remote_write.ingest_remote_write(
            conn, blobs, ts_unit=ts_unit, value_type=value_type,
            compressed=compressed, proto=proto,
        )
        if not store_exemplars:
            return
        # samples are committed; a raise here would re-fire the whole
        # batch through a foreachBatch retry and double-ingest it
        try:
            exemplars.extract_remote_write_exemplars(
                conn, blobs, ts_unit=ts_unit, compressed=compressed,
                proto=proto,
            )
        except Exception as e:
            warnings.warn(
                "start_remote_write_ingest: exemplar pass failed, the "
                f"batch's samples are kept without exemplars: {e}",
                RuntimeWarning,
            )

    return _start_ingest(
        conn, "remote_write", "binaryFile", source_dir, checkpoint_dir,
        trigger_once, max_files_per_trigger, _append,
    )


def start_otlp_ingest(
    conn,
    source_dir: str,
    checkpoint_dir: str | None = None,
    trigger_once: bool = False,
    max_files_per_trigger: int = 100,
    ts_unit: str = "ns",
    value_type: str = "f64",
    encoding: str = "auto",
):
    """LIVE OTLP metrics ingestion: tail `source_dir` for dropped
    ExportMetricsServiceRequest blobs (one protobuf body per file, gzip
    self-identifying under encoding="auto" — the shape an OTel Collector
    file exporter or a replayed HTTP log produces) and ingest each
    micro-batch through sources/otlp.ingest_otlp, the same path as the
    /v1/metrics endpoint. Returns the StreamingQuery."""
    from tachyon_spark.sources import otlp

    return _start_ingest(
        conn, "otlp", "binaryFile", source_dir, checkpoint_dir,
        trigger_once, max_files_per_trigger,
        lambda df: otlp.ingest_otlp(
            conn, df, ts_unit=ts_unit, value_type=value_type,
            encoding=encoding,
        ),
    )
