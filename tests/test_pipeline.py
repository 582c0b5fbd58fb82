"""End-to-end launch pipeline tests (SURVEY.md §5 'our engine's test
strategy'): fixture JSON -> silver -> gold -> table -> flagship query,
plus the reference's correctness properties — idempotent raw put,
re-run safety, nested-null tolerance — and the per-day Spark work:
publish is a file copy (no job), validation one observed pass.
Partition pruning on a partitioned lake is covered by
``test_plans.py::test_partition_pruning_on_partitioned_lake``."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from de_project_airflow_etl_spark import catalog
from de_project_airflow_etl_spark.pipeline.fixtures import (
    DEFAULT_DAYS, launch_day_payload, write_raw_fixture,
)
from de_project_airflow_etl_spark.pipeline.launch_etl import (
    GOLD_COLUMNS, LaunchPipeline,
)


@pytest.fixture()
def pipeline(spark, tmp_path):
    return LaunchPipeline(spark, str(tmp_path), table_name=f"launch_events_{abs(hash(str(tmp_path))) % 10**8}")


def fetch(day: str) -> dict:
    return launch_day_payload(day, DEFAULT_DAYS.get(day, 2))


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _part_files(part_dir: str) -> dict[str, bytes]:
    """Name -> bytes of the data files of a partition dir (checksum
    side files are hidden: ``.<name>.crc``)."""
    out = {}
    for name in sorted(os.listdir(part_dir)):
        if not name.startswith((".", "_")):
            with open(os.path.join(part_dir, name), "rb") as f:
                out[name] = f.read()
    return out


def _assert_gold_is_silver_copy(pipeline, day: str) -> None:
    silver = _part_files(os.path.join(pipeline.silver_dir, f"net={day}"))
    gold = _part_files(os.path.join(pipeline.gold_dir, f"net={day}"))
    assert silver and gold == silver
    assert sorted(os.listdir(pipeline.gold_dir)) == sorted(
        n for n in os.listdir(pipeline.silver_dir) if n.startswith("net="))


def test_end_to_end_over_filesystem_uri(spark, tmp_path):
    """Run the whole pipeline with a ``file://`` URI base: the raw put
    goes through the Hadoop FileSystem API (the code path an s3a://
    base uses — see tests/test_object_store.py for the live MinIO
    variant), parquet zones are written/read via URIs, and idempotent
    re-ingest is enforced by FileSystem.create(overwrite=False)."""
    base = f"file://{tmp_path}/uri_lake"
    p = LaunchPipeline(spark, base, table_name="launch_events_uri_base")
    for day in DEFAULT_DAYS:
        p.run(day, fetch)
    # idempotent put through the Hadoop FS path: re-ingest is a no-op
    p.ingest("2024-12-01", lambda d: (_ for _ in ()).throw(
        AssertionError("fetch must not run for an existing raw key")))
    p.register_table()
    result = {str(r["net"]): r["event_count"]
              for r in p.daily_launch_events().collect()}
    assert result == {"2024-12-01": 5, "2024-12-02": 3}


def test_end_to_end_flagship(pipeline, spark):
    for day in DEFAULT_DAYS:
        pipeline.run(day, fetch)
    pipeline.register_table()
    result = {str(r["net"]): r["event_count"]
              for r in pipeline.daily_launch_events().collect()}
    # 5 launches on day 1 (+1 duplicated id -> still 5 distinct),
    # 3 on day 2 (+1 dup -> 3 distinct), day 3 empty -> absent.
    assert result == {"2024-12-01": 5, "2024-12-02": 3}
    # COUNT(DISTINCT) must differ from COUNT(*) (the dup id matters)
    totals = {str(r["net"]): r["n"]
              for r in spark.table(pipeline.table_name)
                            .groupBy("net").agg(F.count("*").alias("n")).collect()}
    assert totals["2024-12-01"] == 6


def test_gold_schema(pipeline, spark):
    pipeline.run("2024-12-01", fetch)
    gold = spark.read.parquet(pipeline.gold_dir)
    assert tuple(sorted(gold.columns)) == tuple(sorted(GOLD_COLUMNS))
    assert dict(gold.dtypes)["net"] == "date"


def test_nested_nulls_survive(pipeline, spark):
    """Records with image=null / license=null must keep their rows with
    null projected columns (SURVEY.md §7.4 hard part #1)."""
    pipeline.run("2024-12-01", fetch)
    silver = spark.read.parquet(pipeline.silver_dir)
    assert silver.filter(F.col("image_url").isNull()).count() > 0
    assert silver.filter(F.col("license").isNull()
                         & F.col("image_url").isNotNull()).count() > 0
    assert silver.filter(F.col("id").isNull()).count() == 0


def test_rerun_is_idempotent(pipeline, spark):
    """Re-running an interval must not duplicate data (dynamic partition
    overwrite — deliberate upgrade over the reference's append-on-rerun,
    SURVEY.md §7.4)."""
    pipeline.run("2024-12-01", fetch)
    first = sorted(r["id"] for r in spark.read.parquet(pipeline.gold_dir).collect())
    pipeline.run("2024-12-01", fetch)  # same interval again
    second = sorted(r["id"] for r in spark.read.parquet(pipeline.gold_dir).collect())
    assert first == second


def test_rerun_preserves_other_partitions(pipeline, spark):
    pipeline.run("2024-12-01", fetch)
    pipeline.run("2024-12-02", fetch)
    pipeline.transform("2024-12-01")  # re-transform one day only
    days = {str(r["net"]) for r in
            spark.read.parquet(pipeline.silver_dir).select("net").distinct().collect()}
    assert days == {"2024-12-01", "2024-12-02"}


def test_rerun_after_register_keeps_table_queryable(pipeline):
    """Re-publishing an interval replaces the gold files; the registered
    table must not serve a stale file listing (found by driving the
    public API: FILE_NOT_EXIST without the refresh)."""
    pipeline.run("2024-12-01", fetch)
    pipeline.register_table()
    before = {str(r["net"]): r["event_count"]
              for r in pipeline.daily_launch_events().collect()}
    pipeline.run("2024-12-01", fetch)  # overwrite the same partition
    after = {str(r["net"]): r["event_count"]
             for r in pipeline.daily_launch_events().collect()}
    assert before == after == {"2024-12-01": 5}


def test_raw_put_is_idempotent(pipeline):
    p1 = pipeline.ingest("2024-12-01", fetch)
    mtime = os.path.getmtime(p1)
    calls = []
    pipeline.ingest("2024-12-01", lambda d: calls.append(d) or fetch(d))
    assert not calls, "fetch must not be called when the raw key exists"
    assert os.path.getmtime(p1) == mtime


def test_empty_day(pipeline, spark):
    pipeline.run("2024-12-03", fetch)  # zero launches
    assert pipeline.read_silver().count() == 0
    assert pipeline.read_gold().count() == 0


def test_streaming_transform_incremental(spark, tmp_path):
    """transform_stream processes only newly landed raw days per run
    (checkpointed file-source), and its silver output matches what the
    batch transform produces for the same days."""
    import glob
    import os

    from de_project_airflow_etl_spark.pipeline.fixtures import (
        launch_day_payload, write_raw_fixture,
    )
    from de_project_airflow_etl_spark.pipeline.launch_etl import LaunchPipeline

    base = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    p = LaunchPipeline(spark, base, table_name="stream_t1")
    write_raw_fixture(p.raw_dir, {"2024-12-01": 5, "2024-12-02": 3})

    p.transform_stream(ckpt)
    silver = p.read_silver()
    assert silver.count() == 6 + 4  # n + 1 duplicate record per day
    assert {str(r["net"]) for r in silver.select("net").distinct().collect()} \
        == {"2024-12-01", "2024-12-02"}

    # batch/stream agreement on the same raw input
    base2 = str(tmp_path / "lake_batch")
    pb = LaunchPipeline(spark, base2, table_name="stream_t2")
    write_raw_fixture(pb.raw_dir, {"2024-12-01": 5, "2024-12-02": 3})
    pb.transform("2024-12-01")
    pb.transform("2024-12-02")
    a = sorted(map(tuple, silver.collect()))
    b = sorted(map(tuple, pb.read_silver().collect()))
    assert a == b

    # a new raw day lands; the next drain must process ONLY it
    day1_files = {f: os.path.getmtime(f) for f in glob.glob(
        os.path.join(p.silver_dir, "net=2024-12-01", "*.parquet"))}
    with open(os.path.join(p.raw_dir, "2024-12-04.json"), "w") as f:
        import json
        json.dump(launch_day_payload("2024-12-04", 2), f)
    p.transform_stream(ckpt)
    assert p.read_silver().filter("net = '2024-12-04'").count() == 3
    # old partition files untouched (incremental, not a full rewrite)
    for f, mtime in day1_files.items():
        assert os.path.getmtime(f) == mtime, f


def test_validate_raw_flags_corrupt_documents(spark, tmp_path):
    """A malformed raw landing must be detectable BEFORE transform
    (which, with a declared schema, would silently produce zero rows)."""
    import json
    import os

    from de_project_airflow_etl_spark.pipeline.fixtures import launch_day_payload
    from de_project_airflow_etl_spark.pipeline.launch_etl import LaunchPipeline

    base = str(tmp_path / "lake")
    p = LaunchPipeline(spark, base, table_name="corrupt_t1")
    os.makedirs(p.raw_dir)
    with open(os.path.join(p.raw_dir, "2024-12-01.json"), "w") as f:
        json.dump(launch_day_payload("2024-12-01", 3), f)
    with open(os.path.join(p.raw_dir, "2024-12-02.json"), "w") as f:
        f.write('{"count": 1, "results": [ TRUNCATED')

    assert p.validate_raw("2024-12-01") == 0
    assert p.validate_raw("2024-12-02") > 0


def test_publish_copies_silver_partition_without_a_spark_job(pipeline, spark):
    """Publish is a file-level copy of the day's silver partition: no
    Spark job, byte-identical part files in gold, no staging dir left."""
    day = "2024-12-01"
    pipeline.ingest(day, fetch)
    pipeline.transform(day)
    j0 = _jobs(spark)
    pipeline.publish(day)
    assert _jobs(spark) == j0
    _assert_gold_is_silver_copy(pipeline, day)
    assert pipeline.read_gold().count() == 6


def test_publish_without_silver_partition_keeps_gold(pipeline):
    """No silver partition for the day (as after a zero-row transform):
    publish leaves the gold partition as it is, as a zero-row dynamic
    overwrite would."""
    import shutil

    day = "2024-12-01"
    pipeline.run(day, fetch)
    shutil.rmtree(os.path.join(pipeline.silver_dir, f"net={day}"))
    pipeline.publish(day)
    assert pipeline.read_gold().count() == 6


def test_validate_raw_is_one_job_and_caches_nothing(spark, tmp_path):
    """One observed pass per day, on a clean and on a corrupt landing:
    exactly one Spark job, and no RDD left persisted."""
    import json

    p = LaunchPipeline(spark, str(tmp_path / "lake"), table_name="validate_jobs_t1")
    os.makedirs(p.raw_dir)
    with open(os.path.join(p.raw_dir, "2024-12-01.json"), "w") as f:
        json.dump(launch_day_payload("2024-12-01", 3), f)
    with open(os.path.join(p.raw_dir, "2024-12-02.json"), "w") as f:
        f.write('{"count": 1, "results": [ TRUNCATED')
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    for day, corrupt in (("2024-12-01", False), ("2024-12-02", True)):
        j0 = _jobs(spark)
        assert (p.validate_raw(day) > 0) == corrupt
        assert _jobs(spark) - j0 == 1, day
        assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) <= persisted


def test_republish_after_silver_compaction_keeps_only_silver_files(pipeline, spark):
    """A partition re-published after its silver files change (here:
    split into three, then compacted back to one) holds exactly
    silver's files — the staged copy replaces the partition, it does
    not merge into it."""
    day = "2024-12-01"
    pipeline.run(day, fetch)
    pipeline.register_table()
    (pipeline.read_silver().localCheckpoint().repartition(3)
             .write.partitionBy("net").mode("overwrite")
             .parquet(pipeline.silver_dir))
    pipeline.publish(day)
    assert len(_part_files(os.path.join(pipeline.gold_dir, f"net={day}"))) == 3
    catalog.compact_partition(spark, pipeline.silver_dir, "net", day)
    pipeline.publish(day)
    _assert_gold_is_silver_copy(pipeline, day)
    assert len(_part_files(os.path.join(pipeline.gold_dir, f"net={day}"))) == 1
    assert {str(r["net"]): r["event_count"]
            for r in pipeline.daily_launch_events().collect()} == {day: 5}
