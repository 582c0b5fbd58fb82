"""Round-10 promoted bank (staged as staged/round11c.py): two Spark-4 streaming surfaces
the registry does not cover yet — CHAINED stateful time-window
aggregations (hourly rollup re-aggregated to daily inside ONE
streaming query via window_time, Spark's multiple-stateful-operators
support) and the stream-stream LEFT SEMI join (the
did-a-qualifying-event-precede-this filter, state-evicted by
watermark + range bound like its inner/left/full siblings).

Same contract as every registered query: a DuckDB oracle over the same
parquet (stream/batch agreement), identical aliases, exact-integer
money. Streaming determinism notes: the chained-aggregation query
emits in APPEND mode, so only windows whose END the final watermark
(max event time - 1 day) has passed are output — the oracle applies
the SAME cutoff arithmetically; the semi join emits each left row at
most once on first match, so no watermark cutoff applies to its
output set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import sql_cents
from de_project_airflow_etl_spark.registry import query


@query(
    "streaming_chained_window_rollup",
    oracle=f"""
        WITH wm AS (
          SELECT MAX(ts) - INTERVAL 1 DAY AS cutoff FROM events
        ),
        daily AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(CAST(ts AS DATE) + 1 AS TIMESTAMP) AS day_end,
                 event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(SUM({sql_cents("value")}) AS BIGINT) AS cents
          FROM events GROUP BY 1, 2, 3
        )
        SELECT day, event_type, n_events, cents
        FROM daily, wm WHERE day_end <= cutoff
    """,
    doc="CHAINED stateful streaming aggregations (Spark 4 multiple-"
        "stateful-operators): an hourly tumbling-window rollup is "
        "re-aggregated to daily INSIDE the same streaming query via "
        "window_time() — the canonical multi-resolution rollup "
        "pipeline (hourly state feeds daily state, one pass, no "
        "intermediate sink), impossible before Spark 3.4 and the "
        "missing member next to the registered single-window counts. "
        "APPEND mode is mandatory for chained stateful ops, so only "
        "windows the final watermark (max event time - 1 day) has "
        "closed are emitted; the oracle applies the identical "
        "cutoff (day_end <= max_ts - 1 day) in plain SQL — the "
        "stream/batch-agreement bar with the eviction semantics "
        "made explicit. Counts/cents are exact integers, and "
        "hourly-then-daily integer sums equal direct daily sums. "
        "100 TB: both aggregation states are keyed by (window, "
        "type) — bounded by calendar x type, evicted as the "
        "watermark advances; the memory-sink drain is test "
        "plumbing, not the operator.",
    tags=("streaming",),
)
def streaming_chained_window_rollup(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.streaming.ingest import (
        drain, read_event_stream,
    )
    ev = read_event_stream(spark, sf_dir, with_watermark="1 day")
    hourly = (ev.selectExpr("ts", "event_type", f"{sql_cents('value')} AS c")
                .groupBy(F.window("ts", "1 hour").alias("w"),
                         "event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("c").alias("c")))
    daily = (hourly
             .groupBy(F.window(F.window_time("w"), "1 day").alias("d"),
                      "event_type")
             .agg(F.sum("n").cast("long").alias("n_events"),
                  F.sum("c").cast("long").alias("cents")))
    out = daily.select(
        F.col("d.start").cast("date").cast("string").alias("day"),
        "event_type", "n_events", "cents")
    return drain(out, spark, sf_dir, output_mode="append")


@query(
    "streaming_stream_stream_semi_join",
    oracle="""
        SELECT p.event_id, p.user_id
        FROM events p
        WHERE p.event_type = 'purchase'
          AND EXISTS (
            SELECT 1 FROM events c
            WHERE c.event_type = 'click'
              AND c.user_id = p.user_id
              AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
          )
    """,
    doc="Stream-stream LEFT SEMI join: purchases that had a click by "
        "the same user within the preceding hour — the existence "
        "FILTER variant completing the stream-stream join family "
        "(inner / left outer / full outer are registered). Each "
        "purchase emits AT MOST ONCE on first qualifying match (semi "
        "semantics — no click-multiplicity fan-out to dedup), so the "
        "output set equals the batch EXISTS oracle with no watermark "
        "cutoff. 100 TB: watermarks on both sides + the event-time "
        "range bound let the engine evict click state beyond one "
        "hour + delay instead of buffering the stream forever — the "
        "same state-eviction contract the sibling joins carry.",
    tags=("streaming", "join"),
)
def streaming_stream_stream_semi_join(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.streaming.ingest import (
        drain, read_event_stream,
    )
    ev = read_event_stream(spark, sf_dir, with_watermark=None)
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("user_id", F.col("ts").alias("click_ts"))
                .withWatermark("click_ts", "2 hours"))
    ev2 = read_event_stream(spark, sf_dir, with_watermark=None)
    purchases = (ev2.filter(F.col("event_type") == "purchase")
                    .select(F.col("user_id").alias("p_user_id"),
                            F.col("ts").alias("purchase_ts"),
                            "event_id")
                    .withWatermark("purchase_ts", "2 hours"))
    joined = purchases.join(
        clicks,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("click_ts")
           >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "left_semi")
    out = joined.select("event_id",
                        F.col("p_user_id").alias("user_id"))
    return drain(out, spark, sf_dir, output_mode="append")
