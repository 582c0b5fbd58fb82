"""Fixed costs of the build layer: a parquet footer is read once per
file version (``tables.read_parquet``), and a stream's state partitions
follow its source bytes (``streaming.ingest.stream_state_partitions``)."""

from __future__ import annotations

from de_project_airflow_etl_spark.streaming.ingest import (
    SHUFFLE_PARTITIONS, stream_shuffle_sizing, stream_state_partitions,
)
from de_project_airflow_etl_spark.tables import load


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_second_load_reads_no_footer(spark, sf_dir):
    load(spark, sf_dir, "orders")
    before = _jobs(spark)
    df = load(spark, sf_dir, "orders")
    assert _jobs(spark) == before
    assert "o_orderkey" in df.columns


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    spark.range(3).selectExpr("id AS r_regionkey").write.parquet(path)
    assert load(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    (spark.range(3).selectExpr("id AS r_regionkey", "'x' AS r_name")
          .write.mode("overwrite").parquet(path))
    df = load(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(r.r_name for r in df.collect()) == ["x", "x", "x"]


def test_stream_state_partitions_floor_at_one(spark, sf_dir):
    batch = spark.conf.get(SHUFFLE_PARTITIONS)
    with stream_shuffle_sizing(spark, sf_dir):
        assert spark.conf.get(SHUFFLE_PARTITIONS) == "1"
    assert spark.conf.get(SHUFFLE_PARTITIONS) == batch


def test_stream_state_partitions_capped_at_batch_setting(spark):
    advisory = spark.sparkContext._jvm.org.apache.spark.network.util \
        .JavaUtils.byteStringAsBytes(spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    cap = int(spark.conf.get(SHUFFLE_PARTITIONS))
    assert stream_state_partitions(spark, 0) == 1
    assert stream_state_partitions(spark, advisory + 1) == min(cap, 2)
    assert stream_state_partitions(spark, (cap + 1) * advisory) == cap
