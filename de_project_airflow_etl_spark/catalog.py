"""Catalog & lake-maintenance layer (SURVEY.md §2.5 D1-D3 generalized,
§7.2 item 2).

The reference's catalog surface is: external partitioned table DDL
(`/root/reference/src/sql/ddl/launch_events.sql:1-14`), `USE schema`
(`src/sql/sync/launch_events.sql:1`), and Trino's
``sync_partition_metadata`` (`src/sql/sync/launch_events.sql:2`).
Spark-native equivalents plus the maintenance jobs a date-partitioned
lake needs at 100 TB:

* partition sync     -> ``MSCK REPAIR TABLE`` + relation-cache refresh
* retention          -> drop partitions older than a cutoff (metadata
                        op via ALTER TABLE DROP PARTITION; file cleanup
                        is the caller's lifecycle policy)
* compaction         -> rewrite one partition's many small files into
                        few large ones (the #1 operational issue of
                        incremental ingest: a daily append of small
                        batches makes scans seek-bound)
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def ensure_dynamic_overwrite(spark: SparkSession) -> None:
    """Defensively force dynamic partition-overwrite semantics.

    Every partitioned ``mode("overwrite")`` write of the lake relies on
    it; the session factory sets it, but the lake code also accepts a
    session built elsewhere, where Spark's default STATIC mode would
    wipe every partition under the path instead of the one being
    written. Runtime-settable, so set it at each write site — same
    defensive pattern as nanosAsLong in ``tables.load``."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")


def create_external_table(spark: SparkSession, name: str, location: str,
                          columns_ddl: str, partition_ddl: str) -> None:
    """External partitioned parquet table over an existing lake path
    (D1). Partition columns live in PARTITIONED BY only — same
    semantics as Trino's ``partitioned_by`` property."""
    spark.sql(f"""
        CREATE EXTERNAL TABLE IF NOT EXISTS {name} ({columns_ddl})
        USING PARQUET
        PARTITIONED BY ({partition_ddl})
        LOCATION '{location}'
    """)
    sync_partitions(spark, name)


def analyze_table(spark: SparkSession, name: str,
                  columns: tuple[str, ...] = ()) -> None:
    """ANALYZE TABLE: collect table row/size stats (and optional
    per-column NDV/min/max histograms) into the catalog. At 100 TB
    these statistics are what lets the cost-based optimizer pick
    broadcast vs shuffle joins and reorder multi-way joins — without
    them Catalyst falls back to size-on-disk heuristics."""
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    if columns:
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS "
                  f"FOR COLUMNS {', '.join(columns)}")


def table_stats(spark: SparkSession, name: str) -> dict[str, str]:
    """The catalog's view of a table's statistics (from DESCRIBE
    EXTENDED's Statistics row)."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    return {r["col_name"]: r["data_type"] for r in rows
            if r["col_name"] in ("Statistics",)}


def sync_partitions(spark: SparkSession, name: str) -> None:
    """Register on-disk partition dirs with the catalog (D3):
    ``sync_partition_metadata('ADD')`` == ``MSCK REPAIR``; the refresh
    drops any stale cached file listing for the table."""
    spark.sql(f"MSCK REPAIR TABLE {name}")
    spark.catalog.refreshTable(name)


def describe(spark: SparkSession, name: str) -> DataFrame:
    """DESCRIBE TABLE — column names/types + partition spec."""
    return spark.sql(f"DESCRIBE TABLE {name}")


def partitions(spark: SparkSession, name: str) -> list[str]:
    """Registered partition specs, e.g. ``['net=2024-12-01', ...]``."""
    return [r[0] for r in spark.sql(f"SHOW PARTITIONS {name}").collect()]


def drop_partitions_before(spark: SparkSession, name: str,
                           column: str, cutoff: str) -> list[str]:
    """Time-partition retention: deregister every partition whose value
    sorts before ``cutoff`` (ISO dates sort lexically). Metadata-only —
    external data files outlive the catalog entry, exactly like
    dropping an external table."""
    dropped = []
    for spec in partitions(spark, name):
        col, _, value = spec.partition("=")
        if col == column and value < cutoff:
            spark.sql(f"ALTER TABLE {name} DROP IF EXISTS "
                      f"PARTITION ({col}='{value}')")
            dropped.append(spec)
    if dropped:
        spark.catalog.refreshTable(name)
        log.info("retention dropped %d partitions from %s", len(dropped), name)
    return dropped


def compact_partition(spark: SparkSession, path: str, column: str,
                      value: str, target_files: int = 1) -> None:
    """Rewrite one hive partition directory into ``target_files``
    parquet files. Read -> coalesce -> dynamic-partition-overwrite of
    just that partition; readers before/after see identical rows.

    At 100 TB this runs per-partition as scheduled maintenance; the
    read is partition-pruned so cost is proportional to the one
    partition, and dynamic overwrite keeps the swap atomic per
    partition (the reference has no compaction story — its daily
    appends accumulate files unboundedly, SURVEY.md §7.4)."""
    df = (spark.read.parquet(path)
               .filter(F.col(column) == value))
    # localCheckpoint materializes the partition's rows and severs the
    # lineage to the source files — required to overwrite the same
    # location being read, and it pins the data before the swap.
    compacted = df.localCheckpoint(eager=True)
    ensure_dynamic_overwrite(spark)
    (compacted.coalesce(target_files)
       .write
       .partitionBy(column)
       .mode("overwrite")
       .parquet(path))
    spark.catalog.refreshByPath(path)
