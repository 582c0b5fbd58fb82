"""The launch-events pipeline, Spark-native end to end.

Reference parity map (SURVEY.md §2, file:line cites into
/root/reference/):

* ``ingest``     = S1+K1: incremental fetch -> idempotent raw JSON put
  (dags/rocket_launch_etl.py:24-63). Fetch is pluggable: a callable
  returning the API payload (tests inject fixtures; production wires a
  requests-based fetcher — driver-side, exactly like the reference).
* ``validate_raw`` = a data-quality gate between landing and transform:
  the count of corrupt raw documents is an observed metric
  (``pyspark.sql.Observation``) of one pass over the parsed day.
* ``transform``  = S2+T1-T4+K2: raw JSON -> explode results ->
  nested-path projection/rename -> to_date(net) -> silver parquet
  partitioned by net (dags/rocket_launch_etl.py:65-111). Where the
  reference needs ``pd.json_normalize``, Spark reads nested structs
  natively; the whole normalize step disappears into ``select``.
* ``publish``    = S3+T5+K3: copy one ``net`` partition from processed
  -> reports (dags/rocket_launch_etl.py:113-140). The reference reads
  the day back and rewrites it; here the silver partition's files are
  copied as they are, and no Spark job runs.
* ``register_table`` = D1-D3: external partitioned table over gold +
  partition-metadata sync (src/sql/ddl/launch_events.sql:1-14,
  src/sql/sync/launch_events.sql:1-2). ``MSCK REPAIR`` replaces
  Trino's ``sync_partition_metadata``.
* ``daily_launch_events`` = A1-A3: the flagship COUNT(DISTINCT) query
  (src/sql/query/daily_launch_events.sql:1-5).

Re-run semantics: the silver write uses dynamic partition overwrite and
publish swaps in a staged copy of the gold partition the same way
(delete, then rename), so re-running an interval replaces exactly that
partition (upgrade over the reference's append-on-rerun, SURVEY.md
§7.4 — deliberate divergence, documented).
"""

from __future__ import annotations

import datetime
import json
import logging
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from de_project_airflow_etl_spark import catalog
from de_project_airflow_etl_spark.hadoop_fs import hadoop_fs, replace_with_copy

log = logging.getLogger(__name__)

# Explicit raw schema (FIXTURES.md §1) — permissive inference would let
# a day where every record lacks `image` silently drop the nested path
# (SURVEY.md §7.4 hard-part #1).
RAW_LAUNCH_SCHEMA = T.StructType([
    T.StructField("count", T.LongType()),
    T.StructField("next", T.StringType()),
    T.StructField("previous", T.StringType()),
    T.StructField("results", T.ArrayType(T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("status", T.StructType([
            T.StructField("name", T.StringType()),
        ])),
        T.StructField("image", T.StructType([
            T.StructField("image_url", T.StringType()),
            T.StructField("license", T.StructType([
                T.StructField("name", T.StringType()),
            ])),
        ])),
        T.StructField("net", T.StringType()),
    ]))),
])

GOLD_COLUMNS = ("id", "url", "name", "status", "image_url", "license", "net")

# Declared zone schema (src/sql/ddl/launch_events.sql:2-8). Reads use it
# explicitly so an empty zone (day with no launches) is still readable —
# schema-on-write by declaration, not by inference.
SILVER_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("url", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("image_url", T.StringType()),
    T.StructField("license", T.StringType()),
    T.StructField("net", T.DateType()),
])

PayloadFetcher = Callable[[str], dict]


class LaunchPipeline:
    """Date-parameterized incremental pipeline over a local/posix lake
    layout ``{base}/raw|processed|reports/launch`` (the reference's
    three zones, s3://datalake/... -> file:// for tests; swap the base
    for an s3a:// URI + fs.s3a.* session confs on a real cluster)."""

    def __init__(self, spark: SparkSession, base_dir: str,
                 table_name: str = "launch_events"):
        self.spark = spark
        self.base = base_dir
        self.raw_dir = os.path.join(base_dir, "raw", "launch")
        self.silver_dir = os.path.join(base_dir, "processed", "launch")
        self.gold_dir = os.path.join(base_dir, "reports", "launch")
        self.table_name = table_name

    # -- stage 1: ingest (S1 + K1) ------------------------------------
    def ingest(self, run_date: str, fetch: PayloadFetcher) -> str:
        """Fetch the day's payload and put it in the raw zone,
        idempotently (skip if the key exists — reference behavior,
        dags/rocket_launch_etl.py:53-63). Local bare paths use the OS
        directly; URI bases (s3a://, file://, hdfs://) go through the
        Hadoop FileSystem so the same pipeline runs against an object
        store unchanged."""
        path = os.path.join(self.raw_dir, f"{run_date}.json")
        if "://" in self.base:
            fs, (jpath,) = hadoop_fs(self.spark, path)
            if fs.exists(jpath):
                log.info("raw key exists, skipping upload: %s", path)
                return path
            payload = fetch(run_date)
            out = fs.create(jpath, False)  # no overwrite: idempotent put
            try:
                out.write(bytearray(json.dumps(payload).encode("utf-8")))
            finally:
                out.close()
            log.info("uploaded raw launch data: %s", path)
            return path
        os.makedirs(self.raw_dir, exist_ok=True)
        if os.path.exists(path):
            log.info("raw key exists, skipping upload: %s", path)
            return path
        payload = fetch(run_date)
        with open(path, "w") as f:
            json.dump(payload, f)
        log.info("uploaded raw launch data: %s", path)
        return path

    # -- stage 2: transform (S2 + T1-T4 + K2) -------------------------
    @staticmethod
    def _flatten(raw: DataFrame) -> DataFrame:
        """T1-T4: unnest results, project/rename nested paths, cast the
        partition key. Shared by the batch and streaming paths."""
        return (
            raw.select(F.explode("results").alias("r"))    # T1 unnest
               .select(                                     # T2+T3 project/rename
                   F.col("r.id").alias("id"),
                   F.col("r.url").alias("url"),
                   F.col("r.name").alias("name"),
                   F.col("r.status.name").alias("status"),
                   F.col("r.image.image_url").alias("image_url"),
                   F.col("r.image.license.name").alias("license"),
                   F.to_date(F.to_timestamp("r.net")).alias("net"),  # T4 cast
               )
        )

    def validate_raw(self, run_date: str) -> int:
        """Count records the declared schema cannot parse (PERMISSIVE
        read with a corrupt-record column). The reference fails only on
        HTTP errors (`raise_for_status`); a lakehouse also needs a gate
        between landing and transform — callers treat a non-zero count
        as a quality failure for the interval.

        The count is an Observation-API data-quality metric over one
        ``noop`` write of the parsed day: one Spark job, nothing cached.
        (Spark rejects a query of ONLY the corrupt-record column from a
        raw scan; the write consumes every column, so it is allowed.)"""
        raw_path = os.path.join(self.raw_dir, f"{run_date}.json")
        schema = T.StructType(RAW_LAUNCH_SCHEMA.fields
                              + [T.StructField("_corrupt_record", T.StringType())])
        raw = (self.spark.read
               .schema(schema)
               .option("multiLine", True)
               .option("mode", "PERMISSIVE")
               .option("columnNameOfCorruptRecord", "_corrupt_record")
               .json(raw_path))
        quality = Observation()
        (raw.observe(quality, F.count_if(F.col("_corrupt_record").isNotNull())
                               .alias("corrupt"))
            .write.format("noop").mode("overwrite").save())
        n_bad = quality.get["corrupt"]
        if n_bad:
            log.warning("%d corrupt raw document(s) for %s", n_bad, run_date)
        return n_bad

    def transform(self, run_date: str) -> None:
        raw_path = os.path.join(self.raw_dir, f"{run_date}.json")
        raw = (self.spark.read
               .schema(RAW_LAUNCH_SCHEMA)
               .option("multiLine", True)   # one document per file
               .json(raw_path))
        catalog.ensure_dynamic_overwrite(self.spark)
        (self._flatten(raw).write
             .partitionBy("net")          # K2: hive-layout net=YYYY-MM-DD/
             .mode("overwrite")           # dynamic -> replaces only touched partitions
             .parquet(self.silver_dir))
        log.info("silver partition written for %s", run_date)

    def transform_stream(self, checkpoint_dir: str) -> None:
        """Streaming form of the incremental transform (SURVEY §7.2
        item 3): a file-source stream on the raw zone drained with
        ``availableNow``. The checkpoint remembers which raw days were
        processed, so each run touches only newly landed files — the
        streaming-native version of the reference's per-interval
        re-runnable batch (O1-O3), and foreachBatch keeps K2's dynamic
        partition overwrite semantics per micro-batch."""
        raw = (self.spark.readStream
               .schema(RAW_LAUNCH_SCHEMA)
               .option("multiLine", True)
               .option("pathGlobFilter", "*.json")
               .json(self.raw_dir))

        def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
            catalog.ensure_dynamic_overwrite(batch_df.sparkSession)
            (batch_df.write
                     .partitionBy("net")
                     .mode("overwrite")
                     .parquet(self.silver_dir))

        # imported here: the batch path (``run``) starts no stream
        from de_project_airflow_etl_spark.streaming.ingest import run_stream
        run_stream(self.spark,
                   self._flatten(raw).writeStream.foreachBatch(write_batch),
                   checkpoint=checkpoint_dir)
        self.spark.catalog.refreshByPath(self.silver_dir)
        log.info("streaming transform drained into %s", self.silver_dir)

    # -- stage 3: publish / sign-off (S3 + T5 + K3) -------------------
    def read_silver(self) -> DataFrame:
        return self.spark.read.schema(SILVER_SCHEMA).parquet(self.silver_dir)

    def read_gold(self) -> DataFrame:
        return self.spark.read.schema(SILVER_SCHEMA).parquet(self.gold_dir)

    def publish(self, run_date: str) -> None:
        """K3: copy the day's silver partition to gold. The gold
        partition of a day is its silver partition, so its part files
        are copied byte for byte into a hidden staging dir under gold
        and swapped into place (``hadoop_fs.replace_with_copy``): no
        Spark job decodes and re-encodes them. A day with no silver
        partition leaves gold as it is, as the zero-row dynamic
        overwrite did."""
        day = datetime.date.fromisoformat(run_date).isoformat()
        replace_with_copy(self.spark,
                          f"{self.silver_dir}/net={day}",
                          f"{self.gold_dir}/net={day}",
                          # "_" and no "=": hidden from partition discovery
                          f"{self.gold_dir}/_publishing_{day}")
        # The swap replaced the partition's files on disk; both path
        # readers and the registered table cache file listings —
        # invalidate them (the re-run analog of the reference's
        # partition sync, src/sql/sync/launch_events.sql:2). The table
        # relation cache is keyed by name, so refreshByPath alone is
        # not enough.
        self.spark.catalog.refreshByPath(self.gold_dir)
        if self.spark.catalog.tableExists(self.table_name):
            self.spark.catalog.refreshTable(self.table_name)
        log.info("gold partition published for %s", run_date)

    # -- catalog (D1-D3) ----------------------------------------------
    def register_table(self) -> None:
        """External partitioned table over gold + partition sync
        (Trino `sync_partition_metadata` -> Spark `MSCK REPAIR`)."""
        # Column comments mirror the reference DDL one-for-one
        # (src/sql/ddl/launch_events.sql:2-8).
        catalog.create_external_table(
            self.spark, self.table_name, self.gold_dir,
            columns_ddl="""
              id STRING COMMENT 'Unique identifier for the event',
              url STRING COMMENT 'URL associated with the event',
              name STRING COMMENT 'Name of the event',
              status STRING COMMENT 'Current status of the event',
              image_url STRING COMMENT 'URL of the event image',
              license STRING COMMENT 'License information'
            """,
            partition_ddl="net DATE COMMENT 'Net date for the event'")

    def sync_partitions(self) -> None:
        """Register newly-written partition dirs and drop stale file
        listings (``catalog.sync_partitions``)."""
        catalog.sync_partitions(self.spark, self.table_name)

    # -- flagship query (A1-A3) ---------------------------------------
    def daily_launch_events(self) -> DataFrame:
        return (
            self.spark.table(self.table_name)
                .groupBy("net")
                .agg(F.countDistinct("id").alias("event_count"))
        )

    # -- orchestration (O1-O3: linear stage chain per interval) -------
    def run(self, run_date: str, fetch: PayloadFetcher) -> None:
        self.ingest(run_date, fetch)
        self.transform(run_date)
        self.publish(run_date)
