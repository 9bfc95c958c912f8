"""Stage-table storage: Iceberg when a catalog is configured, parquet
otherwise.

The north rule targets Iceberg tables (snapshots give atomic stage commits,
partition pruning from metadata, and time-travel for resume). The sandbox
image has no Iceberg runtime jars, so StageStore probes for a configured
Spark catalog and falls back to parquet directories with an atomic-enough
protocol (_SUCCESS marker = commit point — Spark writes it last). The
calling code is identical either way; on a real cluster set
``spark.sql.catalog.<name>`` configs and pass ``catalog=<name>``.

This mirrors the reference's stage-checkpoint pattern — it pickles fully
featurized states between the coref and linking stages (reference:
latest/export_noc_clusters.py:167-173 write, latest/run-linking.py:36-38
read) — promoted from pickle files to real tables.

Run metadata (the pipelines' ``_meta_*`` rows) is not appended as it is
produced: ``buffer`` holds it for the run and ``commit_buffered`` appends
each table's rows in one write, so a run costs one append (one Iceberg
snapshot) per meta table however many stages it builds.

A committed parquet table is described by its own part-file footers, read
on the driver with pyarrow, so neither fact below costs a Spark job:
- its schema: Spark writes it into every part file under
  ``org.apache.spark.sql.parquet.row.metadata``. ``read`` hands it to
  ``spark.read.schema``, so Spark runs no schema-inference job. Partition
  columns are still discovered from the directory names.
- its rows per partition (``partition_rows``): the footers' ``num_rows``
  summed by the write-task index in the ``part-NNNNN-`` file name. So
  ``partition_id`` in ``_meta_lineage`` names the task that wrote the rows,
  i.e. the table's own part files, not a reader's split. An Iceberg table
  gets the same rows from a scan aggregate over ``spark_partition_id()``.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from character_identification_spark.session import local_frame

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_PART_FILE = re.compile(r"part-(\d+)-")


class StageStore:
    def __init__(self, spark: SparkSession, root: str, catalog: str | None = None):
        self.spark = spark
        self.root = root
        self.catalog = catalog
        if catalog is None:
            os.makedirs(root, exist_ok=True)
        # run-scoped rows awaiting commit_buffered: table -> (DDL, rows)
        self._buffered: dict[str, tuple[str, list[tuple]]] = {}

    # -- parquet fallback paths ------------------------------------------
    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _part_files(self, name: str) -> list[tuple[int, str]]:
        """(write-task index, path) of each part file of parquet table
        ``name``, in partition directories too; skips the directories Spark's
        file listing skips (``.x``, and ``_x`` unless it has an ``=``)."""
        files = []
        for top, dirs, names in os.walk(self._path(name)):
            dirs[:] = sorted(
                d for d in dirs if not (d.startswith(".") or (d.startswith("_") and "=" not in d))
            )
            for f in sorted(names):
                m = _PART_FILE.match(f)
                if m:
                    files.append((int(m.group(1)), os.path.join(top, f)))
        return files

    def exists(self, name: str) -> bool:
        if self.catalog:
            return self.spark.catalog.tableExists(f"{self.catalog}.{name}")
        return os.path.exists(os.path.join(self._path(name), "_SUCCESS"))

    def write(self, df: DataFrame, name: str, partition_by: tuple[str, ...] = ()) -> None:
        if self.catalog:
            w = df.writeTo(f"{self.catalog}.{name}")
            if partition_by:
                from pyspark.sql.functions import col

                w = w.partitionedBy(*[col(c) for c in partition_by])
            w.createOrReplace()
        else:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(self._path(name))

    def append(self, df: DataFrame, name: str) -> None:
        if self.catalog:
            tbl = f"{self.catalog}.{name}"
            if self.spark.catalog.tableExists(tbl):
                df.writeTo(tbl).append()
            else:
                df.writeTo(tbl).create()
        else:
            df.write.mode("append").parquet(self._path(name))

    def buffer(self, name: str, schema: str, rows: list[tuple]) -> None:
        """Queue ``rows`` (DDL ``schema``) for one later append to ``name``."""
        self._buffered.setdefault(name, (schema, []))[1].extend(rows)

    def commit_buffered(self) -> None:
        """Append each buffered table's rows through ``append`` in one write,
        then empty the buffer. Tables with no rows are not touched."""
        buffered, self._buffered = self._buffered, {}
        for name, (schema, rows) in buffered.items():
            if rows:
                self.append(local_frame(self.spark, rows, schema), name)

    def read(self, name: str) -> DataFrame:
        if self.catalog:
            return self.spark.table(f"{self.catalog}.{name}")
        files = self._part_files(name)
        meta = (pq.read_metadata(files[0][1]).metadata or {}) if files else {}
        reader = self.spark.read
        if _SPARK_SCHEMA_KEY in meta:
            reader = reader.schema(StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY])))
        return reader.parquet(self._path(name))

    def partition_rows(self, name: str) -> list[tuple[int, int]]:
        """(partition_id, rows) of committed table ``name``, by write task
        (parquet footers) or by scan partition (Iceberg)."""
        if self.catalog:
            from pyspark.sql import functions as F

            lin = self.read(name).groupBy(F.spark_partition_id()).count().collect()
            return sorted((int(p), int(n)) for p, n in lin)
        rows: Counter = Counter()
        for task, path in self._part_files(name):
            rows[task] += pq.read_metadata(path).num_rows
        return sorted(rows.items())

    def delete(self, name: str) -> None:
        if self.catalog:
            self.spark.sql(f"DROP TABLE IF EXISTS {self.catalog}.{name}")
        else:
            import shutil

            shutil.rmtree(self._path(name), ignore_errors=True)
