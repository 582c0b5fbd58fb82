"""Stateful Structured Streaming operators: exact streaming dedup and
a custom ``applyInPandasWithState`` session aggregator.

Both run the stream to completion (``availableNow``) and are checked
against *batch* oracles — the streaming engine must agree with the
batch engine on the same input (same contract as
``streaming_windowed_counts``).

Scale notes:

* Streaming dedup state is per-key; at 100 TB the production form is
  ``dropDuplicatesWithinWatermark`` so state is evicted once the
  watermark passes — unbounded-state dedup is a test-only luxury.
* Spark 4's newer ``transformWithStateInPandas`` API (typed value/
  list/map state, timers) is the successor surface; its python driver
  worker requires ``google.protobuf``, which this environment does not
  provide, so the operators here use ``applyInPandasWithState`` — the
  same state semantics, stable since 3.4. The same dependency gate
  applies to Spark 4.1's Declarative Pipelines (``spark-pipelines``
  CLI): it drives everything through Spark Connect, which needs
  ``grpcio``/``protobuf`` (verified: the CLI aborts on import in this
  environment). The declarative-pipeline SEMANTICS the reference's
  DAG encodes — date-parameterized idempotent stages, materialized
  outputs, restart-safe incremental refresh — are covered by
  ``pipeline/launch_etl.py`` + ``streaming/upsert.py`` instead.
* The stateful sessionizer is the ``applyInPandasWithState`` shape of
  the batch ``session_window`` aggregate: state is one open session per
  user, batches arrive Arrow-encoded, and the per-group work is
  O(events in batch). The testdata arrives as one file = one
  micro-batch, so emitting every session (and clearing state) exactly
  reproduces the batch result; in production the function would emit
  only sessions closed by the event-time timeout and keep the open one
  in state.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.streaming.ingest import (
    drain, read_event_stream,
)

SESSION_GAP_US = 30 * 60 * 1_000_000

_SESSION_ORACLE = f"""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                       > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sess
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, sess
"""


@query(
    "streaming_dedup_events",
    oracle="""
        SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
        FROM events
        GROUP BY event_type
    """,
    doc="Exact streaming dedup: dropDuplicates on event_id feeding a "
        "running aggregate, drained with availableNow — agrees with the "
        "batch COUNT(DISTINCT). 100 TB path: "
        "dropDuplicatesWithinWatermark to bound the dedup state.",
    tags=("streaming", "dedup"),
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_event_stream(spark, sf_dir, with_watermark=None)
    agg = (stream.dropDuplicates(["event_id"])
                 .groupBy("event_type")
                 .agg(F.count(F.lit(1)).alias("n_unique")))
    return drain(agg, spark, sf_dir, output_mode="complete")


@query(
    "streaming_dedup_bounded_state",
    oracle="""
        SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
        FROM events
        GROUP BY event_type
    """,
    doc="Bounded-state streaming dedup: dropDuplicatesWithinWatermark "
        "keeps a key in state only until the watermark passes it, so "
        "dedup state is sized by the lateness bound instead of growing "
        "with the whole stream — the difference between a dedup that "
        "runs forever on a 100 TB/day stream and one that OOMs. Same "
        "oracle as the unbounded variant: within the watermark horizon "
        "the semantics coincide (testdata has no cross-horizon "
        "duplicates).",
    tags=("streaming", "dedup", "watermark"),
)
def streaming_dedup_bounded_state(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    stream = read_event_stream(spark, sf_dir, with_watermark="90 days")
    agg = (stream.dropDuplicatesWithinWatermark(["event_id"])
                 .groupBy("event_type")
                 .agg(F.count(F.lit(1)).alias("n_unique")))
    return drain(agg, spark, sf_dir, output_mode="complete")


def _sessionize_group(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Gap-sessionize one user's events (see module doc for the
    single-batch emission contract): one int64 microsecond array per
    Arrow batch, sorted once; a session starts where the gap to the
    previous event is strictly greater than ``SESSION_GAP_US``."""
    parts = [pdf["ts"].to_numpy().astype("datetime64[us]").view(np.int64)
             for pdf in pdfs]
    if state.exists:
        parts.append(np.asarray(state.get[0], dtype=np.int64))
        state.remove()
    ts_us = np.sort(np.concatenate(parts))
    starts = np.flatnonzero(
        np.concatenate(([True], np.diff(ts_us) > SESSION_GAP_US)))
    ends = np.append(starts[1:], len(ts_us)) - 1

    yield pd.DataFrame({
        "user_id": np.full(len(starts), key[0], dtype=np.int64),
        "session_start": ts_us[starts].astype("datetime64[us]"),
        "session_end": ts_us[ends].astype("datetime64[us]"),
        "n_events": ends - starts + 1,
    })


@query(
    "streaming_stateful_sessions",
    oracle=_SESSION_ORACLE,
    doc="Custom stateful streaming operator: applyInPandasWithState "
        "gap-sessionization (30 min), one state entry per user, checked "
        "against the batch lag+cumsum oracle — the streaming twin of "
        "sessionize_events.",
    tags=("streaming", "session", "stateful"),
)
def streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_event_stream(spark, sf_dir, with_watermark=None)
    sessions = (
        stream.select("user_id", "ts")
              .groupBy("user_id")
              .applyInPandasWithState(
                  _sessionize_group,
                  outputStructType=("user_id bigint, session_start timestamp, "
                                    "session_end timestamp, n_events bigint"),
                  stateStructType="ts_us array<bigint>",
                  outputMode="update",
                  timeoutConf=GroupStateTimeout.NoTimeout,
              )
    )
    return drain(sessions, spark, sf_dir, output_mode="update")


@query(
    "streaming_static_join_segments",
    oracle="""
        SELECT c.c_mktsegment AS segment,
               COUNT(*) AS event_count
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment
    """,
    doc="Stream-static join: the event stream enriched against the "
        "static customer dimension (broadcast per micro-batch — the "
        "dimension is re-read each batch, so slowly-changing dims stay "
        "fresh), then a running aggregate; agrees with the batch join. "
        "The canonical lakehouse enrichment topology at 100 TB: stream "
        "facts, broadcast dims.",
    tags=("streaming", "join"),
)
def streaming_static_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.tables import load as load_static
    stream = read_event_stream(spark, sf_dir, with_watermark=None)
    customers = load_static(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment"))
    joined = stream.join(customers, stream.user_id == customers.c_custkey)
    # exact COUNT(DISTINCT) is unsupported on streams (use
    # streaming_dedup_events' dedup->count topology for that); the
    # running event count per segment is the enrichment payload here.
    agg = (joined.groupBy(F.col("c_mktsegment").alias("segment"))
                 .agg(F.count(F.lit(1)).alias("event_count")))
    return drain(agg, spark, sf_dir, output_mode="complete")


@query(
    "streaming_stream_stream_join",
    oracle="""
        WITH clicks AS (
          SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
        ),
        purchases AS (
          SELECT user_id, ts AS purchase_ts, event_id
          FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id, p.user_id,
               epoch_us(p.purchase_ts) - epoch_us(c.click_ts) AS gap_us
        FROM purchases p JOIN clicks c
          ON p.user_id = c.user_id
         AND c.click_ts BETWEEN p.purchase_ts - INTERVAL 1 HOUR
                            AND p.purchase_ts
    """,
    doc="Stream-stream inner join with an event-time range bound "
        "(purchases joined to clicks within the preceding hour) and "
        "watermarks on both sides — the watermark + range constraint "
        "is what lets the engine evict join state at 100 TB instead of "
        "buffering both streams forever. Drained with availableNow; "
        "agrees with the equivalent batch range join.",
    tags=("streaming", "join"),
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_event_stream(spark, sf_dir, with_watermark=None)
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("user_id", F.col("ts").alias("click_ts"))
                .withWatermark("click_ts", "2 hours"))
    ev2 = read_event_stream(spark, sf_dir, with_watermark=None)
    purchases = (ev2.filter(F.col("event_type") == "purchase")
                    .select(F.col("user_id").alias("p_user_id"),
                            F.col("ts").alias("purchase_ts"), "event_id")
                    .withWatermark("purchase_ts", "2 hours"))
    joined = purchases.join(
        clicks,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
    )
    out = joined.select(
        "event_id", F.col("p_user_id").alias("user_id"),
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("gap_us"))
    return drain(out, spark, sf_dir, output_mode="append")


@query(
    "streaming_session_window",
    oracle=_SESSION_ORACLE,
    doc="Built-in streaming session windows: the same "
        "``session_window`` operator the batch sessionize query uses, "
        "run in streaming mode (merging-session state store) and "
        "drained with availableNow in complete mode — the engine-native "
        "counterpart of the custom applyInPandasWithState sessionizer, "
        "verified against the identical batch oracle. In production "
        "this runs in append mode behind a watermark so closed "
        "sessions are finalized and state is evicted; complete mode "
        "here keeps the whole (small) result so the test sees every "
        "session.",
    tags=("streaming", "session", "window"),
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_event_stream(spark, sf_dir, with_watermark=None)
    agg = (stream.groupBy("user_id",
                          F.session_window("ts", "30 minutes").alias("w"))
                 .agg(F.min("ts").alias("session_start"),
                      F.max("ts").alias("session_end"),
                      F.count(F.lit(1)).alias("n_events"))
                 .select("user_id", "session_start", "session_end",
                         "n_events"))
    return drain(agg, spark, sf_dir, output_mode="complete")


@query(
    "streaming_stream_stream_left_join",
    oracle="""
        WITH clicks AS (
          SELECT user_id, ts AS click_ts FROM events
          WHERE event_type = 'click'
        ),
        purchases AS (
          SELECT user_id, ts AS purchase_ts, event_id
          FROM events WHERE event_type = 'purchase'
        ),
        -- The engine's global event-time watermark: per side,
        -- max event time floored to MILLISECONDS (Spark tracks
        -- event-time stats at ms precision) minus the 1s delay;
        -- globally the MIN over sides. An unmatched left row emits
        -- its null result only once the watermark passes it.
        wm AS (
          SELECT LEAST(
            (SELECT (epoch_us(MAX(click_ts)) // 1000) * 1000
             FROM clicks),
            (SELECT (epoch_us(MAX(purchase_ts)) // 1000) * 1000
             FROM purchases)) - 1000000 AS wm_us
        ),
        matched AS (
          SELECT p.event_id, p.user_id,
                 epoch_us(p.purchase_ts) - epoch_us(c.click_ts) AS gap_us
          FROM purchases p JOIN clicks c
            ON p.user_id = c.user_id
           AND c.click_ts BETWEEN p.purchase_ts - INTERVAL 1 HOUR
                              AND p.purchase_ts
        ),
        unmatched AS (
          SELECT p.event_id, p.user_id, CAST(NULL AS BIGINT) AS gap_us
          FROM purchases p, wm
          WHERE NOT EXISTS (
            SELECT 1 FROM clicks c
            WHERE c.user_id = p.user_id
              AND c.click_ts BETWEEN p.purchase_ts - INTERVAL 1 HOUR
                                 AND p.purchase_ts)
            AND epoch_us(p.purchase_ts) < wm.wm_us
        )
        SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
    doc="Stream-stream LEFT OUTER join with watermarks: purchases "
        "joined to clicks in the preceding hour; purchases with no "
        "click emit a null-gap row — but only once the global "
        "event-time watermark passes them, because an outer result "
        "is only safe to emit when no future match can arrive. The "
        "oracle encodes the engine's eviction rule exactly "
        "(min-over-sides of ms-floored max event time minus the "
        "delay), so the check verifies not just the join but the "
        "outer-emission semantics that make unbounded stream joins "
        "state-bounded at 100 TB.",
    tags=("streaming", "join", "outer"),
)
def streaming_stream_stream_left_join(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    return stream_stream_left_join_plan(spark, sf_dir, delay="1 second")


def stream_stream_left_join_plan(spark: SparkSession, sf_dir: str,
                                 delay: str) -> DataFrame:
    """The registry query's plan with the watermark delay exposed:
    the delay decides WHEN an unmatched purchase's null row may be
    emitted (watermark = min-over-sides max event time - delay must
    pass it), so running the same data at two delays proves the
    eviction rule, not the data, drives the nulls
    (tests/test_streaming_watermark.py)."""
    ev = read_event_stream(spark, sf_dir, with_watermark=None)
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("user_id", F.col("ts").alias("click_ts"))
                .withWatermark("click_ts", delay))
    ev2 = read_event_stream(spark, sf_dir, with_watermark=None)
    purchases = (ev2.filter(F.col("event_type") == "purchase")
                    .select(F.col("user_id").alias("p_user_id"),
                            F.col("ts").alias("purchase_ts"), "event_id")
                    .withWatermark("purchase_ts", delay))
    joined = purchases.join(
        clicks,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("click_ts")
           >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "leftOuter")
    out = joined.select(
        "event_id", F.col("p_user_id").alias("user_id"),
        (F.unix_micros("purchase_ts")
         - F.unix_micros("click_ts")).alias("gap_us"))
    return drain(out, spark, sf_dir, output_mode="append")
