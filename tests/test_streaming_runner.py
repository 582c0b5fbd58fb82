"""``streaming/ingest.py::run_stream``, the one place a package stream
starts: a stream checkpointed on ``file:`` renames its log and state
files through Spark's FileSystem-based checkpoint manager (the
FileContext manager forks ``readlink`` processes per rename when no
native libhadoop is loaded), every other scheme keeps Spark's
FileContext manager, and exactly-once across restarts still holds.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import functions as F

from de_project_airflow_etl_spark.streaming.ingest import (
    CHECKPOINT_MANAGER, FS_CHECKPOINT_MANAGER, _drained,
    checkpoint_manager_confs, read_event_stream, run_stream,
    windowed_counts,
)


def _managers(q) -> set[str]:
    """Class names of the offset log's and commit log's managers."""
    sq = q._jsq.streamingQuery()
    return {log.fileManager().getClass().getName()
            for log in (sq.offsetLog(), sq.commitLog())}


def test_local_drain_uses_filesystem_manager_and_unsets_it(spark, sf_dir):
    stream = read_event_stream(spark, sf_dir, with_watermark=None)
    q = _drained(windowed_counts(stream), spark, sf_dir, "complete")
    assert _managers(q) == {FS_CHECKPOINT_MANAGER}
    assert spark.conf.get(CHECKPOINT_MANAGER, None) is None


class _Untouchable:
    """A session stand-in that fails on any use: a decision made from
    the URI alone never reaches the JVM."""

    def __getattr__(self, name):
        raise AssertionError(f"session.{name} was used")


def _session_with_default_fs(uri: str):
    conf = {"fs.defaultFS": uri}
    return SimpleNamespace(sparkContext=SimpleNamespace(
        _jsc=SimpleNamespace(hadoopConfiguration=lambda: conf)))


def test_manager_follows_checkpoint_scheme(spark):
    local = {CHECKPOINT_MANAGER: FS_CHECKPOINT_MANAGER}
    for root in ("hdfs://nn:8020/ckpt", "s3a://bucket/ckpt"):
        assert checkpoint_manager_confs(_Untouchable(), root) == {}
    assert checkpoint_manager_confs(_Untouchable(), "file:/tmp/x") == local
    # a scheme-less root resolves through fs.defaultFS
    assert checkpoint_manager_confs(spark, "/tmp/x") == local
    hdfs_default = _session_with_default_fs("hdfs://nn:8020")
    assert checkpoint_manager_confs(hdfs_default, "/tmp/x") == {}
    assert checkpoint_manager_confs(
        _session_with_default_fs("file:///"), "/tmp/x") == local


def test_runner_resumes_exactly_once(spark, tmp_path):
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))

    def land(lo: int, hi: int) -> None:
        spark.range(lo, hi).selectExpr("id", "id % 7 AS k") \
             .coalesce(1).write.mode("append").parquet(src)

    def drain():
        stream = spark.readStream.schema("id long, k long").parquet(src)
        return run_stream(spark, stream.writeStream.format("parquet")
                                       .option("path", sink),
                          checkpoint=ckpt)

    def sink_rows():
        return spark.read.schema("id long, k long").parquet(sink)

    land(0, 300)
    q = drain()
    assert _managers(q) == {FS_CHECKPOINT_MANAGER}
    assert sink_rows().count() == 300

    land(300, 500)
    drain()
    got = sink_rows()
    assert got.count() == 500
    assert got.agg(F.countDistinct("id")).first()[0] == 500
    assert got.agg(F.min("id"), F.max("id")).first() == (0, 499)

    q = drain()  # nothing new landed
    assert sink_rows().count() == 500
    assert q.lastProgress is None or q.lastProgress["numInputRows"] == 0
    assert spark.conf.get(CHECKPOINT_MANAGER, None) is None
