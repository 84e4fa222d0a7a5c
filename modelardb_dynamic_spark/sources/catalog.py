"""Warehouse catalog: bucketed, sorted parquet tables with atomic-rename
commits.

Deployment note (the Iceberg story): at cluster scale these tables are
Iceberg tables — `bucket(N, sid)` partition transform, sorted by
(sid, metric, start_ts), snapshot-isolated commits, and
`rewrite_data_files` replacing the reference's hand-rolled compaction
(storage/FileStorage.scala:126-259). The sandbox image ships no Iceberg
jars, so this module provides the same layout and commit discipline on
plain parquet: hash-bucket directories (`sbucket=K`), sort within files,
and write-to-temp + atomic rename. The Iceberg wiring for a runtime with
iceberg-spark on the classpath is sources/iceberg.py.

The bucket layout mirrors the reference's Cassandra physical model —
PRIMARY KEY (gid, start_time): all segments of one series live in one
bucket, clustered by time (storage/CassandraStorage.scala:78).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 32


def sid_bucket(col, n_buckets: int = DEFAULT_BUCKETS):
    """Deterministic bucket id for a series id column (hash-partitioning;
    the query side recomputes this for partition pruning)."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


class Warehouse:
    """A directory of bucketed parquet tables with atomic commits."""

    def __init__(self, root: str, n_buckets: int = DEFAULT_BUCKETS):
        self.root = root
        self.n_buckets = n_buckets
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.exists(os.path.join(self.path(table), "_SUCCESS")) or (
            os.path.isdir(self.path(table)) and any(os.scandir(self.path(table)))
        )

    def write(
        self,
        df: DataFrame,
        table: str,
        bucket_by: str | None = None,
        sort_by: list[str] | None = None,
        mode: str = "overwrite",
        format: str = "parquet",
    ) -> str:
        """Write a table; if bucket_by is given, hash-bucket into sbucket=K
        directories and sort within files (co-locates each series, enables
        partition pruning + near-sequential scans per series).

        format: "parquet" (default) or "orc" — the reference's two file
        storage backends (storage/ParquetStorage.scala,
        storage/ORCStorage.scala share one segment schema); read()
        auto-detects from the part files, so mixed-format warehouses
        round-trip without callers tracking the format."""
        if format not in ("parquet", "orc"):
            raise ValueError(f"unknown warehouse format {format!r}")
        final = self.path(table)
        tmp = final + "." + uuid.uuid4().hex[:8] + ".tmp"
        try:
            if bucket_by is not None:
                out = df.withColumn("sbucket", sid_bucket(F.col(bucket_by), self.n_buckets))
                out = out.repartition(self.n_buckets, "sbucket")
                if sort_by:
                    out = out.sortWithinPartitions("sbucket", *sort_by)
                out.write.mode("overwrite").partitionBy("sbucket").format(
                    format
                ).save(tmp)
            else:
                df.write.mode("overwrite").format(format).save(tmp)
            if mode == "overwrite" and os.path.exists(final):
                shutil.rmtree(final)
            os.rename(tmp, final)
        finally:
            if os.path.exists(tmp):
                shutil.rmtree(tmp, ignore_errors=True)
        return final

    def _detect_format(self, table: str) -> str:
        for dirpath, _dirs, files in os.walk(self.path(table)):
            for f in files:
                if f.endswith(".orc"):
                    return "orc"
                if f.endswith(".parquet"):
                    return "parquet"
        return "parquet"

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        fmt = self._detect_format(table)
        if fmt == "orc":
            return spark.read.orc(self.path(table))
        return spark.read.parquet(self.path(table))

    def drop(self, table: str) -> None:
        if os.path.exists(self.path(table)):
            shutil.rmtree(self.path(table))
