"""Iceberg wiring for the segment/tier warehouse.

The BASELINE north rule targets Iceberg tables; this sandbox ships no
Iceberg runtime jar, so `sources/catalog.py` reproduces the layout and
commit discipline on plain parquet. THIS module is the real wiring: given
a cluster where the `iceberg-spark-runtime` jar is on the classpath (or a
path/maven coordinate to it), it configures the session catalog, creates
the tables with the documented partition spec — `bucket(N, sid)` +
sort-ordered `(sid, start_ts)`, mirroring the reference's Cassandra
`PRIMARY KEY (gid, start_time)` (storage/CassandraStorage.scala:78).
Segment batches append with `writeTo(<table>).append()`, one snapshot
commit each. Compaction is Iceberg's own `rewrite_data_files`, replacing
the reference's hand-rolled 10-batch merge with crash-recovery sentinels
(storage/FileStorage.scala:126-259).
"""

from __future__ import annotations

from typing import Any

ICEBERG_MAVEN = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0"

SEGMENT_DDL = """
CREATE TABLE IF NOT EXISTS {catalog}.{db}.segments (
    sid STRING, metric STRING, start_ts BIGINT, end_ts BIGINT, si INT,
    mtid INT, model BINARY, cnt BIGINT, vmin FLOAT, vmax FLOAT, vsum DOUBLE
)
USING iceberg
PARTITIONED BY (bucket({n_buckets}, sid))
TBLPROPERTIES (
    'write.distribution-mode' = 'hash',
    'write.parquet.compression-codec' = 'zstd'
)
"""

# A table sort order is DDL state, not a TBLPROPERTY — a 'sort-order'
# property would be stored inert and rewrite_data_files(strategy=>'sort')
# would fail with "Cannot sort data without a valid sort order".
SEGMENT_SORT_DDL = (
    "ALTER TABLE {catalog}.{db}.segments WRITE ORDERED BY (sid, start_ts)"
)

TIER_DDL = """
CREATE TABLE IF NOT EXISTS {catalog}.{db}.tier_{name} (
    sid STRING, metric STRING, bucket_ts BIGINT, cnt BIGINT,
    vsum DOUBLE, vmin FLOAT, vmax FLOAT
)
USING iceberg
PARTITIONED BY (bucket({n_buckets}, sid))
TBLPROPERTIES ('write.distribution-mode' = 'hash')
"""

COMPACT_SQL = (
    "CALL {catalog}.system.rewrite_data_files("
    "table => '{db}.{table}', strategy => 'sort', "
    "sort_order => 'sid ASC NULLS FIRST, start_ts ASC NULLS FIRST')"
)


def iceberg_conf(
    warehouse: str,
    catalog: str = "mdbs",
    jar: str | None = None,
) -> dict[str, str]:
    """SparkSession config for a Hadoop-catalog Iceberg warehouse. Pass the
    result to session.build_session(extra_conf=...). `jar` is a local path
    (spark.jars) or None to fetch ICEBERG_MAVEN via spark.jars.packages."""
    conf = {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }
    if jar:
        conf["spark.jars"] = jar
    else:
        conf["spark.jars.packages"] = ICEBERG_MAVEN
    return conf


def iceberg_available(spark: Any) -> bool:
    """True if the Iceberg runtime is on this session's classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


_check = iceberg_available


def create_warehouse(
    spark: Any, catalog: str = "mdbs", db: str = "engine", n_buckets: int = 64
) -> None:
    """Create the segment + tier tables (requires the runtime jar)."""
    if not _check(spark):
        raise RuntimeError(
            "Iceberg runtime not on the classpath; launch with "
            f"--packages {ICEBERG_MAVEN} (or pass jar= to iceberg_conf). "
            "In this sandbox use sources/catalog.py, which reproduces the "
            "same bucketed layout on plain parquet."
        )
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{db}")
    spark.sql(SEGMENT_DDL.format(catalog=catalog, db=db, n_buckets=n_buckets))
    spark.sql(SEGMENT_SORT_DDL.format(catalog=catalog, db=db))
    for name in ("1m", "1h", "1d"):
        spark.sql(
            TIER_DDL.format(catalog=catalog, db=db, name=name, n_buckets=n_buckets)
        )


def compact(spark: Any, catalog: str = "mdbs", db: str = "engine",
            table: str = "segments") -> None:
    spark.sql(COMPACT_SQL.format(catalog=catalog, db=db, table=table))
