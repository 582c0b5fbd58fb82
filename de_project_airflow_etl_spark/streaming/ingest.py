"""Structured Streaming: file-source ingest + windowed aggregation.

The reference's incremental daily batch (SURVEY.md §2.6 O1-O3) maps to
a Spark file-source stream with an ``availableNow`` trigger: each run
drains whatever new files landed, exactly once, checkpointed — the
streaming-native version of "re-runnable per-interval processing".

``streaming_windowed_counts`` runs the stream to completion inside the
call and returns the materialized result, so it is oracle-checkable
against the same batch SQL (tumbling 6h windows == DuckDB
``time_bucket``) — the streaming engine must agree with the batch
engine on the same input.
"""

from __future__ import annotations

import uuid
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from de_project_airflow_etl_spark.hadoop_fs import hadoop_fs
from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.session import scoped_conf
from de_project_airflow_etl_spark.tables import NANOS_AS_LONG, read_parquet

# Stateful streaming queries carry one state-store instance per shuffle
# partition per stateful operator (a stream-stream join carries four).
# Unlike batch shuffles, these are NOT free to over-provision: every
# store pays open/snapshot/commit per micro-batch (8 stores over the
# 600-row windowed state once summed ~1 s of commit time per drain).
# So a stream sizes its shuffle partitions to its SOURCE BYTES, the
# way AQE coalesces a batch shuffle: one partition per advisory
# partition size, at least 1 and at most the batch setting. The count
# is baked into the checkpoint at first start, so each new checkpoint
# picks it once; the testdata streams (27 KB - 2 MB) all get 1, a
# 100 TB stream gets the batch width.
SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
ADVISORY_PARTITION_BYTES = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def events_path(sf_dir: str) -> str:
    return f"{sf_dir}/events.parquet"


def byte_sized_partitions(spark: SparkSession, source_bytes: int,
                          cap: int) -> int:
    """ceil(source_bytes / advisory partition size), in [1, cap]."""
    advisory = spark.sparkContext._jvm.org.apache.spark.network.util \
        .JavaUtils.byteStringAsBytes(spark.conf.get(ADVISORY_PARTITION_BYTES))
    return max(1, min(cap, -(-source_bytes // advisory)))


def stream_state_partitions(spark: SparkSession, source_bytes: int) -> int:
    """``byte_sized_partitions`` capped at spark.sql.shuffle.partitions."""
    return byte_sized_partitions(spark, source_bytes,
                                 int(spark.conf.get(SHUFFLE_PARTITIONS)))


def source_bytes(spark: SparkSession, path: str) -> int:
    """Bytes under ``path`` through the Hadoop filesystem, so an
    object-store URI is sized the same way as a local file."""
    fs, (p,) = hadoop_fs(spark, path)
    return fs.getContentSummary(p).getLength()


def stream_shuffle_sizing(spark: SparkSession, sf_dir: str):
    """Size shuffle partitions for a stateful stream over ``sf_dir``'s
    events (``stream_state_partitions``) for a ``with`` block; restores
    the batch setting afterwards."""
    n = stream_state_partitions(spark, source_bytes(spark, events_path(sf_dir)))
    return scoped_conf(spark, {SHUFFLE_PARTITIONS: str(n)})


# Which CheckpointFileManager a stream's offset log, commit log and
# state store rename through. Spark's default on every scheme is the
# FileContext manager, whose rename on ``file:`` is Hadoop
# AbstractFileSystem's check-then-rename: getFileLinkStatus on source
# and destination, and without native libhadoop each of those forks a
# ``readlink`` process, for every file and again for its ``.crc`` (64
# of the 91 processes one windowed-counts drain forked). The
# FileSystem manager's rename is exists(dst) then rename: the same
# protocol without the forks, writing and verifying the same ``.crc``
# files. On any other scheme the FileContext manager stays, because
# its rename is the atomic one there (HDFS).
CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = ("org.apache.spark.sql.execution.streaming."
                         "checkpointing.FileSystemBasedCheckpointFileManager")
CHECKPOINT_LOCATION = "spark.sql.streaming.checkpointLocation"


def checkpoint_manager_confs(spark: SparkSession,
                             root: str) -> dict[str, str]:
    """The confs a stream checkpointed under ``root`` starts with: the
    FileSystem manager when ``root``'s URI scheme is ``file``, else
    none. A scheme-less root resolves through ``fs.defaultFS``. Decided
    from the URIs alone: no FileSystem is built."""
    scheme = urlsplit(root).scheme or urlsplit(
        spark.sparkContext._jsc.hadoopConfiguration()
             .get("fs.defaultFS", "file:///")).scheme
    if scheme != "file":
        return {}
    return {CHECKPOINT_MANAGER: FS_CHECKPOINT_MANAGER}


def run_stream(spark: SparkSession, writer: DataStreamWriter,
               checkpoint: str | None = None,
               timeout_s: float | None = None) -> StreamingQuery:
    """Start ``writer`` with ``Trigger.AvailableNow`` and wait until it
    has drained; returns the finished query. This is the one place a
    package stream starts.

    ``checkpoint`` is the query's checkpoint location; without one the
    query checkpoints under the session's
    ``spark.sql.streaming.checkpointLocation``, or in a local temp dir
    when that is unset. The manager ``checkpoint_manager_confs`` picks
    for that root is set from ``start()``, which clones the session
    with it, until the query has terminated. With ``timeout_s`` a query
    still running after that many seconds is stopped and the call
    raises, so no live stream outlives it in the shared session."""
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    root = (checkpoint or spark.conf.get(CHECKPOINT_LOCATION, None)
            or spark.sparkContext._jvm.java.lang.System.getProperty(
                "java.io.tmpdir"))
    with scoped_conf(spark, checkpoint_manager_confs(spark, root)):
        q = writer.trigger(availableNow=True).start()
        done = q.awaitTermination(timeout_s)
        if timeout_s is not None and not done:
            q.stop()
            raise RuntimeError(
                f"stream {q.name or q.id} still running after {timeout_s} s")
    return q


def _drained(stream_df: DataFrame, spark: SparkSession, sf_dir: str,
             output_mode: str) -> StreamingQuery:
    """Run ``stream_df`` to completion with ``run_stream`` into a
    memory sink, its state sized by ``stream_shuffle_sizing``; returns
    the finished query (its ``name`` is the sink's table)."""
    with stream_shuffle_sizing(spark, sf_dir):
        writer = (stream_df.writeStream.format("memory")
                           .queryName(f"stream_{uuid.uuid4().hex[:8]}")
                           .outputMode(output_mode))
        return run_stream(spark, writer)


def drain(stream_df: DataFrame, spark: SparkSession, sf_dir: str,
          output_mode: str) -> DataFrame:
    """The memory-sink ``availableNow`` drain of a stream over
    ``sf_dir``'s events: the materialized result as a table."""
    return spark.table(_drained(stream_df, spark, sf_dir, output_mode).name)


def windowed_counts(events: DataFrame) -> DataFrame:
    """The aggregation shared by the batch and streaming paths."""
    return (
        events.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
              .agg(F.count(F.lit(1)).alias("event_count"))
              .select(F.col("w.start").alias("window_start"),
                      "event_type", "event_count")
    )


def read_event_stream(spark: SparkSession, sf_dir: str,
                      with_watermark: str | None = "1 day") -> DataFrame:
    """File-source stream over the events parquet. Schema must be
    explicit for streaming reads (no inference at run time)."""
    # defensive for driver-supplied sessions (see tables.load): the
    # NANOS timestamp is unreadable without this runtime-settable conf
    spark.conf.set(NANOS_AS_LONG, "true")
    # file schema, its footer read once per file version
    schema = read_parquet(spark, events_path(sf_dir)).schema
    # File-source streams take a directory; pathGlobFilter narrows it to
    # the events table only.
    stream = (spark.readStream.schema(schema)
                   .format("parquet")
                   .option("pathGlobFilter", "events.parquet")
                   .load(sf_dir))
    # One normalizer for batch AND stream: the stream side must agree
    # with the batch side on the event-time type or the batch/stream-
    # agreement oracles drift (and a second inline copy of the logic
    # would, eventually).
    from de_project_airflow_etl_spark.tables import _normalize_event_ts
    stream = _normalize_event_ts(spark, stream)
    if with_watermark:
        stream = stream.withWatermark("ts", with_watermark)
    return stream


def run_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the windowed aggregate of the event stream and return it."""
    stream = read_event_stream(spark, sf_dir, with_watermark=None)
    return drain(windowed_counts(stream), spark, sf_dir, output_mode="complete")


@query(
    "streaming_windowed_counts",
    oracle="""
        SELECT time_bucket(INTERVAL 6 HOURS, ts) AS window_start,
               event_type,
               COUNT(*) AS event_count
        FROM events
        GROUP BY 1, 2
    """,
    doc="Structured Streaming tumbling-window aggregation, drained with "
        "Trigger.AvailableNow into a memory sink — checked against the "
        "batch oracle (stream/batch agreement).",
    tags=("streaming", "window"),
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(spark, sf_dir)


ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider")


@query(
    "streaming_windowed_counts_rocksdb",
    oracle="""
        SELECT time_bucket(INTERVAL 6 HOURS, ts) AS window_start,
               event_type,
               COUNT(*) AS event_count
        FROM events
        GROUP BY 1, 2
    """,
    doc="The same streaming tumbling-window aggregation with the "
        "RocksDB state store provider (rocksdbjni ships with Spark). "
        "The default HDFS-backed provider keeps all state keys on the "
        "executor heap; RocksDB spills state to local SSD with "
        "changelog checkpointing, which is what makes million-key "
        "windowed state (100 TB event streams) feasible. Same oracle "
        "as the default-provider query — the state backend must not "
        "change results.",
    tags=("streaming", "window", "rocksdb"),
)
def streaming_windowed_counts_rocksdb(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    # run_available_now fully drains the stream before returning, so
    # the provider conf is live for the whole query lifetime.
    with scoped_conf(spark, {"spark.sql.streaming.stateStore.providerClass":
                             ROCKSDB_PROVIDER}):
        return run_available_now(spark, sf_dir)


@query(
    "streaming_observed_ingest_metrics",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_negative_values,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                    AS DOUBLE) / 100 AS sum_value,
               epoch_us(MAX(ts)) AS max_ts_us
        FROM events
    """,
    doc="Streaming observability: the same Observation-API DQ metrics "
        "as observed_ingest_metrics, attached to a STREAM — metrics "
        "ride each micro-batch and surface through "
        "StreamingQueryProgress.observedMetrics, summed across data "
        "batches. Freshness is carried as unix_micros (a BIGINT) "
        "because progress serialization truncates timestamp metrics "
        "to seconds — a real integration gotcha this oracle locks in. "
        "This is how a 100 TB streaming ingest emits volume/validity/"
        "freshness telemetry per batch with zero extra passes.",
    tags=("streaming", "quality", "observe"),
)
def streaming_observed_ingest_metrics(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from de_project_airflow_etl_spark.operators.quality import (
        dq_observation_metrics,
    )

    stream = read_event_stream(spark, sf_dir, with_watermark=None)
    observed = stream.observe(
        f"ingest_dq_{uuid.uuid4().hex[:8]}",
        *dq_observation_metrics(),
        F.unix_micros(F.max("ts")).alias("max_ts_us"))
    # recentProgress is a ring buffer (spark.sql.streaming.
    # numRecentProgressUpdates, default 100): if availableNow ever
    # splits the source into more micro-batches than that (more files,
    # lower maxFilesPerTrigger), the earliest batches' observed
    # metrics would silently drop and the sums undercount. Raise it
    # for this run — deterministic, unlike a StreamingQueryListener
    # whose events are delivered async and may lag awaitTermination.
    with scoped_conf(spark, {"spark.sql.streaming.numRecentProgressUpdates":
                             "100000"}):
        q = _drained(observed.groupBy("event_type")
                             .agg(F.count(F.lit(1)).alias("n")),
                     spark, sf_dir, "complete")
    # cross-batch accumulation in exact integer cents — dividing once
    # at the end instead of summing per-batch doubles keeps the result
    # bit-equal to the oracle's SUM(cents)/100 under ANY batching
    totals = {"n_rows": 0, "n_negative_values": 0, "sum_value_cents": 0,
              "max_ts_us": None}
    for progress in q.recentProgress:
        for metrics in (progress.observedMetrics or {}).values():
            totals["n_rows"] += metrics["n_rows"]
            totals["n_negative_values"] += metrics["n_negative_values"]
            totals["sum_value_cents"] += metrics["sum_value_cents"]
            ts = metrics["max_ts_us"]
            if totals["max_ts_us"] is None or (ts is not None
                                               and ts > totals["max_ts_us"]):
                totals["max_ts_us"] = ts
    schema = T.StructType([
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_negative_values", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("max_ts_us", T.LongType()),
    ])
    return spark.createDataFrame(
        [(totals["n_rows"], totals["n_negative_values"],
          totals["sum_value_cents"] / 100, totals["max_ts_us"])], schema)


@query(
    "streaming_dedup_within_watermark",
    oracle="""
        SELECT DISTINCT event_type,
               CAST(CAST(ts AS DATE) AS VARCHAR) AS day
        FROM events
    """,
    doc="Streaming deduplication via dropDuplicatesWithinWatermark: "
        "keep the first event per (event_type, day) key, with state "
        "for a key evictable once the watermark passes its event time "
        "— the engine-native streaming dedup operator (bounded state, "
        "unlike dropDuplicates whose state grows forever) that "
        "completes the dedup family's streaming story: the batch side "
        "dedups a corpus, this dedups the ingest stream before it "
        "lands. Drained with Trigger.AvailableNow into a memory sink "
        "and checked against the batch DISTINCT oracle "
        "(stream/batch agreement; the whole table arrives within one "
        "batch here, so the within-watermark guarantee is exact). "
        "State scales with live keys inside the watermark horizon — "
        "here |event_types| x |days in flight|, at 100 TB whatever "
        "key the dedup contract names — and the RocksDB provider "
        "(exercised by streaming_windowed_counts_rocksdb) moves that "
        "state off-heap when it outgrows memory.",
    tags=("streaming", "dedup"),
)
def streaming_dedup_within_watermark(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    stream = read_event_stream(spark, sf_dir, with_watermark="1 day")
    deduped = (stream
               .withColumn("day", F.to_date("ts").cast("string"))
               .dropDuplicatesWithinWatermark(["event_type", "day"])
               .select("event_type", "day"))
    return drain(deduped, spark, sf_dir, output_mode="append")
