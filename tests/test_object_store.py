"""Object-store (s3a) round trip — runnable wherever a MinIO (or any
S3-compatible endpoint) is reachable; skipped in the offline sandbox.

The reference's whole lake lives on MinIO: the DAG writes raw/silver/
gold through s3fs (/root/reference/dags/rocket_launch_etl.py:72-76),
the metastore stores s3a warehouse locations
(/root/reference/hive/conf/metastore-site.xml:43-50), and Trino reads
them back (/root/reference/trino/catalog/hive.properties:3-6).
``session._apply_object_store_profile`` wires the same confs; this
module is the live exercise of them. ``docs/minio_profile.md``
documents a compose profile mirroring the reference stack; start it,
export the three SPARK_GRAFT_S3_* variables, and this test runs the
full pipeline against ``s3a://`` URIs — including the directory
committer behavior conf-asserted in tests/test_catalog.py.
"""

from __future__ import annotations

import os
import uuid

import pytest

MINIO_ENDPOINT = os.environ.get("SPARK_GRAFT_S3_ENDPOINT")
MINIO_BUCKET = os.environ.get("SPARK_GRAFT_S3_BUCKET", "lake")

pytestmark = pytest.mark.skipif(
    not MINIO_ENDPOINT,
    reason="no object store in the sandbox: set SPARK_GRAFT_S3_ENDPOINT "
           "(+ _ACCESS_KEY/_SECRET_KEY, see docs/minio_profile.md) to "
           "run the live s3a round trip",
)


def test_s3a_pipeline_round_trip():
    """ingest -> transform -> publish entirely on s3a://, then read the
    flagship aggregate back through the catalog."""
    from de_project_airflow_etl_spark.hadoop_fs import hadoop_fs
    from de_project_airflow_etl_spark.pipeline.fixtures import (
        launch_day_payload,
    )
    from de_project_airflow_etl_spark.pipeline.launch_etl import (
        LaunchPipeline,
    )
    from de_project_airflow_etl_spark.session import get_spark

    spark = get_spark("s3a_e2e")
    base = f"s3a://{MINIO_BUCKET}/e2e_{uuid.uuid4().hex[:8]}"
    p = LaunchPipeline(spark, base, table_name="s3a_launch_events")
    p.run("2024-12-01", lambda d: launch_day_payload(d, 5))
    p.run("2024-12-02", lambda d: launch_day_payload(d, 4))
    p.register_table()
    counts = {r["net"].isoformat(): r["event_count"]
              for r in p.daily_launch_events().collect()}
    assert counts == {"2024-12-01": 5, "2024-12-02": 4}

    # dynamic partition overwrite on the object store: re-running one
    # interval must replace exactly that partition (the committer
    # behavior that cannot be proven on file://). ingest keeps an
    # existing raw key (the idempotent put), so the day's new payload
    # lands only once its old raw key is deleted.
    fs, (raw_key,) = hadoop_fs(spark, f"{p.raw_dir}/2024-12-01.json")
    assert fs.delete(raw_key, False)
    p.run("2024-12-01", lambda d: launch_day_payload(d, 7))
    counts = {r["net"].isoformat(): r["event_count"]
              for r in p.daily_launch_events().collect()}
    assert counts == {"2024-12-01": 7, "2024-12-02": 4}
    # 7 launches + the payload's in-day duplicate record; an append
    # would leave 6 + 8 = 14 rows with the same 7 distinct ids
    assert p.read_gold().filter("net = '2024-12-01'").count() == 8


def test_s3a_confs_reach_hadoop_connector():
    """The session profile's fs.s3a.* confs must be visible to the
    Hadoop configuration the s3a connector actually reads (not just
    the Spark conf map)."""
    from de_project_airflow_etl_spark.session import get_spark

    spark = get_spark("s3a_conf_probe")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint") == MINIO_ENDPOINT
    assert hconf.get("fs.s3a.path.style.access") == "true"
