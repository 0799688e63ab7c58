"""Spark session start and bulk load of the seeded store.

The loaded history is generated inside Spark from the same closed form as
`data.Store.values`, so the checker and the engine see the same samples.
"""

from __future__ import annotations

import os
import shlex
import time

import numpy as np

from data import SCRAPE_NS, T0_NS, Store


def cpu_count() -> int:
    """Cores the benchmark may use: $SPARK_GRAFT_CPUS if set, else the
    scheduler affinity (what `nproc` prints), never os.cpu_count()."""
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    if env.isdigit() and int(env) > 0:
        return int(env)
    return len(os.sched_getaffinity(0))


def start_spark(work: str, cpus: int):
    """A local SparkSession whose scratch files stay under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # Python workers (the wire decoders' UDFs) import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"  # with -Xms1g: a fixed heap
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM the launcher starts: no /tmp/hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
        "--driver-java-options", "-Xms1g",
        "--conf", "spark.ui.showConsoleProgress=false", "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = tmp
    from tachyon_spark import get_spark

    spark = get_spark("perfbench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def register(db: str, store: Store, idx, fragments: int) -> list[str]:
    """Create the streams for series `idx` in `fragments` catalog calls
    (each call appends one catalog fragment file). Catalog writes are
    driver-side pyarrow, so this needs no Spark session."""
    from tachyon_spark.catalog import Catalog

    catalog = Catalog(None, db)
    specs = [(store.series[i].name, dict(store.series[i].labels), "f64")
             for i in idx]
    cuts = np.linspace(0, len(specs), fragments + 1).astype(int)
    ids: list[str] = []
    for a, b in zip(cuts, cuts[1:]):
        ids.extend(catalog.create_streams(specs[a:b]))
    return ids


def history_frame(spark, store: Store, idx, ids, k_lo: int, k_hi: int):
    """(stream_id, ts, value, value_int) for scrapes [k_lo, k_hi) of the
    series `idx`, generated in Spark from the closed form."""
    from pyspark.sql import functions as F

    params = spark.createDataFrame(
        [
            (sid, int(store.inc[i]), int(store.phase[i]), int(store.period[i]))
            for i, sid in zip(idx, ids)
        ],
        "stream_id string, inc long, phase long, period long",
    )
    ks = spark.range(k_lo, k_hi).withColumnRenamed("id", "k")
    return ks.crossJoin(F.broadcast(params)).select(
        "stream_id",
        (F.lit(T0_NS) + F.col("k") * F.lit(SCRAPE_NS)).alias("ts"),
        (F.col("inc") * ((F.col("k") + F.col("phase")) % F.col("period")))
        .cast("double")
        .alias("value"),
        F.lit(None).cast("long").alias("value_int"),
    )


def bulk_load(conn, spark, store: Store, idx, ids, k_lo: int, k_hi: int
              ) -> float:
    """Load scrapes [k_lo, k_hi) in one Connection.bulk_load call; returns
    its seconds."""
    df = history_frame(spark, store, idx, ids, k_lo, k_hi)
    t = time.perf_counter()
    conn.bulk_load(df)
    return time.perf_counter() - t
