"""Round-10 promoted bank (staged as staged/round13b.py): two relational surfaces —
schema-aligned UNION BY NAME (column order/coverage independent
unioning, the schema-drift-tolerant append every multi-source
pipeline needs) and a sequence()-generated calendar spine with
gap-filling (the canonical fix for silent missing-day holes in
time-series rollups).

Same contract as every registered query: DuckDB oracle, identical
aliases, exact-integer money, no rand(), no collect().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import sql_cents
from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load


@query(
    "union_by_name_daily_mix",
    oracle=f"""
        WITH clicks AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n_click
          FROM events WHERE event_type = 'click' GROUP BY 1
        ),
        purchases AS (
          SELECT CAST(SUM({sql_cents("value")}) AS BIGINT) AS purchase_cents,
                 CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n_purchase
          FROM events WHERE event_type = 'purchase' GROUP BY day
        ),
        unioned AS (
          SELECT * FROM clicks
          UNION ALL BY NAME
          SELECT * FROM purchases
        )
        SELECT day,
               CAST(SUM(COALESCE(n_click, 0)) AS BIGINT) AS n_click,
               CAST(SUM(COALESCE(n_purchase, 0)) AS BIGINT)
                 AS n_purchase,
               CAST(SUM(COALESCE(purchase_cents, 0)) AS BIGINT)
                 AS purchase_cents
        FROM unioned GROUP BY day ORDER BY day
    """,
    doc="Schema-aligned UNION BY NAME: two rollups with DIFFERENT "
        "column orders and coverage (clicks lack purchase columns) "
        "append by column NAME, absent columns null-filled, then "
        "re-aggregate — the schema-drift-tolerant append every "
        "multi-source pipeline needs and positional UNION silently "
        "corrupts (the classic swapped-column bug). Spark side uses "
        "unionByName(allowMissingColumns=True); the oracle uses "
        "DuckDB's UNION ALL BY NAME — same semantics, value-verified. "
        "Plan: two filtered day rollups (each map-side combinable), "
        "one union, one re-aggregate on day — the union adds no "
        "exchange of its own.",
    tags=("sql-surface",),
)
def union_by_name_daily_mix(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    clicks = (ev.filter("event_type = 'click'")
                .selectExpr("CAST(CAST(ts AS DATE) AS STRING) AS day")
                .groupBy("day")
                .agg(F.count(F.lit(1)).cast("long").alias("n_click")))
    purchases = (ev.filter("event_type = 'purchase'")
                   .selectExpr(
                       f"{sql_cents('value')} AS c",
                       "CAST(CAST(ts AS DATE) AS STRING) AS day")
                   .groupBy("day")
                   .agg(F.sum("c").cast("long").alias("purchase_cents"),
                        F.count(F.lit(1)).cast("long")
                         .alias("n_purchase"))
                   # deliberately different column order than clicks
                   .select("purchase_cents", "day", "n_purchase"))
    unioned = clicks.unionByName(purchases, allowMissingColumns=True)
    return (unioned.groupBy("day")
            .agg(F.expr("CAST(SUM(COALESCE(n_click, 0)) AS BIGINT)")
                  .alias("n_click"),
                 F.expr("CAST(SUM(COALESCE(n_purchase, 0)) AS BIGINT)")
                  .alias("n_purchase"),
                 F.expr("CAST(SUM(COALESCE(purchase_cents, 0))"
                        " AS BIGINT)").alias("purchase_cents"))
            .orderBy("day"))


@query(
    "calendar_spine_gap_fill",
    oracle=f"""
        WITH bounds AS (
          SELECT CAST(MIN(ts) AS DATE) AS d0,
                 date_diff('day', CAST(MIN(ts) AS DATE),
                           CAST(MAX(ts) AS DATE)) AS n_days
          FROM events
        ),
        spine AS (
          SELECT CAST(CAST(d0 + CAST(off AS INTEGER) AS DATE)
                      AS VARCHAR) AS day
          FROM (SELECT d0, unnest(generate_series(0, n_days)) AS off
                FROM bounds)
        ),
        daily AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                          THEN {sql_cents("value")} ELSE 0 END) AS BIGINT)
                   AS purchase_cents,
                 CAST(COUNT(*) AS BIGINT) AS n_events
          FROM events GROUP BY 1
        )
        SELECT s.day,
               CAST(COALESCE(d.n_events, 0) AS BIGINT) AS n_events,
               CAST(COALESCE(d.purchase_cents, 0) AS BIGINT)
                 AS purchase_cents,
               CAST(CASE WHEN d.day IS NULL THEN 1 ELSE 0 END
                    AS BIGINT) AS is_gap
        FROM spine s LEFT JOIN daily d ON s.day = d.day
        ORDER BY s.day
    """,
    doc="Calendar-spine gap fill: a generated day spine from min to "
        "max event date LEFT-joined to the daily rollup, "
        "zero-filling and FLAGGING missing days — the canonical fix "
        "for the silent-hole failure mode of GROUP BY day (a day "
        "with no events simply vanishes from every daily rollup in "
        "the registry; downstream moving averages and forecasts "
        "then silently skip it). The spine generates via Spark "
        "explode(sequence()) / DuckDB unnest(generate_series()) "
        "from the observed date bounds. Plan: the spine is "
        "calendar-bounded (one row per day) and broadcasts onto the "
        "daily aggregate; ONE fact scan, one day-keyed map-side-"
        "combinable rollup, no data-sized shuffle.",
    tags=("sql-surface", "timeseries"),
)
def calendar_spine_gap_fill(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = (ev.selectExpr(
                "CAST(CAST(ts AS DATE) AS STRING) AS day",
                f"CASE WHEN event_type = 'purchase' THEN {sql_cents('value')}"
                " ELSE CAST(0 AS BIGINT) END AS pc")
               .groupBy("day")
               .agg(F.sum("pc").cast("long").alias("purchase_cents"),
                    F.count(F.lit(1)).cast("long").alias("n_events"))
               # bounds + the join consume the daily table; pin it so
               # the fact table scans once
               .localCheckpoint())
    bounds = daily.agg(
        F.expr("CAST(MIN(day) AS DATE)").alias("d0"),
        F.expr("datediff(CAST(MAX(day) AS DATE),"
               " CAST(MIN(day) AS DATE))").alias("n_days"))
    spine = (bounds.selectExpr(
        "explode(sequence(0, n_days)) AS off", "d0")
        .selectExpr(
            "CAST(date_add(d0, CAST(off AS INT)) AS STRING) AS day"))
    joined = (spine.join(F.broadcast(daily), "day", "left"))
    return (joined.selectExpr(
        "day",
        "CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events",
        "CAST(COALESCE(purchase_cents, 0) AS BIGINT) AS purchase_cents",
        "CAST(CASE WHEN n_events IS NULL THEN 1 ELSE 0 END AS BIGINT)"
        " AS is_gap")
        .orderBy("day"))
