"""SparkSession factory.

Local-mode settings mirror what a 1000-executor cluster deployment would set
per-executor: AQE on (runtime skew-join + partition coalescing), shuffle
partitions sized to cores (overridable via env for scale-up), UTC session
timezone so results compare exactly against the DuckDB oracle, Arrow enabled
for every pandas UDF boundary.

``local_frame`` turns driver-side rows into a DataFrame without a Python
worker: the rows travel to the JVM as an Arrow batch and scan as a
``LocalTableScan``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import _parse_datatype_string

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
# a quarter of physical RAM, at least 1 GB: a heap sized past the host's
# RAM lets a long-lived JVM (the test session) grow until the kernel's OOM
# killer ends it
DEFAULT_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or (
    f"{max(1024, os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') // (4 * 2**20))}m"
)


def get_spark(
    app_name: str = "character_identification_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: parallelism for local mode (``local[cores]``); defaults to
    ``SPARK_GRAFT_CPUS``, else the CPUs this process may run on. The
    benchmark harness passes N vs 4N to evidence the scaling criterion.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", DEFAULT_DRIVER_MEM)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples in the column order of
    the DDL ``schema``), built from an Arrow table.

    ``spark.createDataFrame(list)`` parallelizes the rows through a Python
    ``map``, so every job that scans that frame runs one Python-worker task
    per default-parallelism slot. An Arrow table is handed to the JVM whole
    and plans as a ``LocalTableScan``: no Python worker, at any row count,
    empty included. Values are cast to the schema's types and fail loudly
    when they do not fit (a long into an ``int`` column).
    """
    import pyarrow as pa

    struct = _parse_datatype_string(schema)
    columns = list(zip(*rows)) if rows else [()] * len(struct.fields)
    table = pa.table({f.name: list(c) for f, c in zip(struct.fields, columns)})
    return spark.createDataFrame(table, struct)


def materialize(df: DataFrame) -> DataFrame:
    """``df`` computed now, once, and cut from its lineage. Under a
    ``local[...]`` master: an eager ``localCheckpoint``, whose blocks
    Spark's ContextCleaner drops once the frame is unreachable (no
    registry to unpersist). Otherwise: an eager reliable ``checkpoint`` to
    the context's checkpoint dir, which survives the loss of the executor
    that computed it, where a local checkpoint block would not."""
    master = df.sparkSession.sparkContext.master
    if master == "local" or master.startswith("local["):
        return df.localCheckpoint(eager=True)
    return df.checkpoint(eager=True)
