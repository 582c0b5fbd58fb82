"""SparkSession factory.

Local-mode defaults are tuned for the test harness (local[N] on a
32-core box); the same builder settings are what we would ship to a
real cluster — AQE on (runtime partition coalescing + skew-join
handling), dynamic partition overwrite (idempotent per-partition
re-runs, SURVEY.md §2.6 O3/O4), Arrow for any pandas exchange.
"""

from __future__ import annotations

import os
from collections.abc import Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(app_name: str = "de_project_airflow_etl_spark") -> SparkSession:
    """Build (or fetch) the session.

    Shuffle partitions equal the local core count — on a real cluster
    you would size this to ~2-3x total executor cores or simply let AQE
    coalesce from a higher initial number; locally a value that matches
    cores avoids tiny-partition overhead at test scale.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.parquet carries TIMESTAMP(NANOS); read as long,
        # tables.load converts to a microsecond timestamp (matching what
        # DuckDB's ns->us truncation yields for the oracle).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    builder = _apply_object_store_profile(builder)
    if os.path.isdir("/dev/shm"):
        # local-mode only: tmpfs-backed ephemeral checkpoints for
        # streaming queries that don't pass their own location. A real
        # cluster points this at durable storage (HDFS/S3) instead —
        # recoverability is the point of a checkpoint there.
        builder = builder.config(
            "spark.sql.streaming.checkpointLocation",
            f"/dev/shm/spark_graft_ckpt_{os.getpid()}")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, confs: Mapping[str, str]):
    """Set each of ``confs`` for the block, then restore its previous
    value, or unset it if it was unset before."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _apply_object_store_profile(builder):
    """Wire s3a object-store credentials/endpoint from the environment,
    mirroring the reference's MinIO profile
    (/root/reference/hive/conf/metastore-site.xml:43-50 and
    trino/catalog/hive.properties:3-6): endpoint + path-style access +
    static keys. With no SPARK_GRAFT_S3_ENDPOINT set this is a no-op —
    local runs read file:// paths; on a cluster the same lake-relative
    code paths read s3a:// URIs through these confs."""
    endpoint = os.environ.get("SPARK_GRAFT_S3_ENDPOINT")
    if not endpoint:
        return builder
    return (
        builder
        .config("spark.hadoop.fs.s3a.endpoint", endpoint)
        .config("spark.hadoop.fs.s3a.access.key",
                os.environ.get("SPARK_GRAFT_S3_ACCESS_KEY", ""))
        .config("spark.hadoop.fs.s3a.secret.key",
                os.environ.get("SPARK_GRAFT_S3_SECRET_KEY", ""))
        .config("spark.hadoop.fs.s3a.path.style.access", "true")
        .config("spark.hadoop.fs.s3a.connection.ssl.enabled",
                os.environ.get("SPARK_GRAFT_S3_SSL", "false"))
        # directory-structured committer: atomic task commit without
        # the O(data) copy of the default FileOutputCommitter v1 rename
        # on object stores
        .config("spark.hadoop.fs.s3a.committer.name", "directory")
    )


def get_hive_spark(warehouse_dir: str) -> SparkSession:
    """Hive-metastore-backed session (embedded derby) — the catalog
    topology the reference runs: every query resolves tables through a
    Hive metastore service (metastore-site.xml;
    docker-compose.yaml:295-307), which Trino and Spark share. Locally
    the service collapses to derby-in-a-directory; on a cluster you
    point ``hive.metastore.uris`` at the shared service instead and the
    calling code is unchanged.

    MUST be the first session in the JVM: ``spark.sql.catalogImplementation``
    is static, so a process that already built an in-memory-catalog
    session cannot switch (tests exercise this factory in a
    subprocess).
    """
    os.makedirs(warehouse_dir, exist_ok=True)
    builder = (
        SparkSession.builder
        .master("local[4]")
        .appName("de_project_airflow_etl_spark_hive")
        .config("spark.sql.catalogImplementation", "hive")
        .config("spark.sql.warehouse.dir",
                os.path.join(warehouse_dir, "warehouse"))
        .config("spark.hadoop.javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={warehouse_dir}/metastore_db;"
                "create=true")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .enableHiveSupport()
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
