"""SparkSession factory tuned for the CDC/ingest engine.

Replaces the reference's per-stage SparkConf setup (ingestion3
``entries/ingest/IngestRemap.scala:84-89``, ``utils/NaraMergeUtil.scala:77-84``):
Kryo tuning and fixed 400 shuffle partitions become AQE + Arrow; the
reference's "vectorized parquet reader off" workaround (large XML strings,
``IngestRemap.scala:88-89``) is unnecessary for ``tokens array<int32>``
payloads, so the vectorized reader stays ON.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "ingestion3-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``cores`` accepts an int (``local[N]``) or "*" — defaults to
    ``$SPARK_GRAFT_CPUS`` or all cores. Shuffle partitions default to the
    core count: on a real cluster this would be sized to data volume
    (~128MB/partition at 100TB => AQE coalesce from a high initial count).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        ncores = os.cpu_count() or 8 if cores in ("*",) else int(cores)
        shuffle_partitions = max(int(ncores), 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # never write \r progress bars into captured stdout/stderr: a bar
        # fragment with no trailing newline glued itself onto bench.py's
        # final JSON line in harness captures (BENCH_r02/r03: rc=0 yet the
        # driver parsed nothing), and logs full of \r frames are unreadable
        .config("spark.ui.showConsoleProgress", "false")
        # the replay engine submits independent per-batch jobs (winner
        # selection / offsets / error routing / classify / write) from
        # concurrent driver threads; FAIR scheduling interleaves their
        # tasks so no job waits for a whole predecessor to drain
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # modest heap by design: virtualized hosts fault-in heap pages
        # lazily at ~1-2 GiB/s, so a huge heap means minutes of first-touch
        # stalls spread across early jobs; 16g faults quickly and bounds the
        # territory G1 churns through (override via SPARK_DRIVER_MEM)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the one-exchange upsert plan dedups wide (array-payload) rows in
        # an ObjectHashAggregate AFTER the bucket exchange; the default
        # 128-entry sort-based fallback would sort every partition's wide
        # rows. Sized so groups-per-task x row-size fits executor memory:
        # at ~0.5KB/row, 4M entries ~= 2GB/task ceiling — tune DOWN via
        # I3S_AGG_FALLBACK on memory-tight executors (fallback is correct,
        # just slower; measured plan still beats the two-exchange form)
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            os.environ.get("I3S_AGG_FALLBACK", "4000000"),
        )
        .config("spark.locality.wait", "0s")
        # small single-file inputs must still fan out: without a floor on
        # split count a 1 MB parquet scans as ONE task and a CPU-heavy
        # downstream (sketch UDFs) runs on 1 of N cores; harmless at scale
        # (real inputs have >> minPartitionNum splits already)
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        # pin the JVM's internal pool sizing (GC/JIT threads) to the core
        # count; detection is unreliable in virtualized sandboxes
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:ActiveProcessorCount={os.cpu_count() if cores in ('*',) else cores}",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Iterable[Sequence], schema: str) -> DataFrame:
    """A small driver-built DataFrame that plans as ``LocalTableScan``.

    ``spark.createDataFrame(<python list>)`` plans as ``Scan ExistingRDD``:
    a Python RDD that every query reading the frame re-runs as a Spark job,
    starting Python workers on the executors. An Arrow table is handed to
    the JVM as a file and becomes a ``LocalRelation`` instead, whatever the
    session's ``spark.sql.execution.arrow.pyspark.enabled`` and also when
    ``rows`` is empty (a pandas frame falls back to the RDD path in both
    cases). ``rows`` are tuples in the column order of the DDL ``schema``.
    """
    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, struct)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
