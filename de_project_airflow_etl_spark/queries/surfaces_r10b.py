"""Round-9 promoted bank (staged round 7 as staged/round10b.py): exact mergeable-distinct
rollup (bitmap OR), discrete quantiles on the cell plan, Page-Hinkley
drift, the map higher-order-function family, and additive
Holt-Winters with weekly seasonality.

Same contract as every registered query (promotion history in
staged/__init__.py): ``(spark, sf_dir) ->
DataFrame`` plus an exact DuckDB oracle, identical column aliases on
both sides, exact-integer / fixed-point arithmetic for anything
accumulated, a 100 TB plan story per docstring, no ``rand()``, no
``.collect()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import cents, sql_cents
from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load


def _tdiv_spark(num: str, den: str) -> str:
    """Truncate-toward-zero integer division for possibly-negative
    numerators: Spark div truncates but DuckDB // floors, so both
    sides pin the CASE explicitly (the holt _tdiv2 precedent,
    generalized to any positive divisor)."""
    return (f"(CASE WHEN ({num}) >= 0 THEN ({num}) DIV ({den})"
            f" ELSE -((-({num})) DIV ({den})) END)")


def _tdiv_sql(num: str, den: str) -> str:
    return (f"(CASE WHEN ({num}) >= 0 THEN ({num}) // ({den})"
            f" ELSE -((-({num})) // ({den})) END)")


# -------------------- weekly exact distinct via bitmap OR rollup

@query(
    "weekly_users_bitmap_rollup",
    oracle="""
        SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS user_count
        FROM events GROUP BY 1
    """,
    doc="EXACT weekly distinct users by re-aggregating daily bitmap "
        "partials: per (day, bucket) bitmap_construct_agg builds the "
        "same fixed-width bitmaps the registered daily query counts, "
        "then bitmap_or_agg MERGES them to week grain and "
        "bitmap_count + SUM finishes — the exact twin of the HLL "
        "store-and-merge rollup (weekly_users_hll_rollup): no second "
        "pass over raw events, no approximation, and the partial "
        "state is a bounded-width bitmap instead of a hash set. At "
        "100 TB the daily (day, bucket) bitmap table IS the stored "
        "summary every coarser distinct rollup reads. Oracle: plain "
        "COUNT(DISTINCT) per ISO week.",
    tags=("aggregate", "bitmap"),
)
def weekly_users_bitmap_rollup(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = (ev.groupBy(
                 F.date_trunc("week", F.col("ts")).alias("week_start"),
                 F.to_date("ts").alias("day"),
                 F.expr("bitmap_bucket_number(user_id)").alias("bkt"))
               .agg(F.expr("bitmap_construct_agg("
                           "bitmap_bit_position(user_id))").alias("bm")))
    weekly = (daily.groupBy("week_start", "bkt")
                   .agg(F.expr("bitmap_count(bitmap_or_agg(bm))")
                         .alias("part_count")))
    return (weekly.groupBy("week_start")
                  .agg(F.sum("part_count").cast("long")
                        .alias("user_count")))


# ------------------ discrete quantiles (percentile_disc) by type

@query(
    "percentile_disc_bands_by_type",
    oracle=f"""
        WITH e AS (
          SELECT event_type, {sql_cents("value")} AS cv FROM events
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               quantile_disc(cv, 0.25) AS p25_c,
               quantile_disc(cv, 0.50) AS p50_c,
               quantile_disc(cv, 0.75) AS p75_c
        FROM e GROUP BY 1
    """,
    doc="DISCRETE quartiles per event type (the smallest actual value "
        "at-or-above each quantile position — what percentile_disc / "
        "quantile_disc return, always a member of the data unlike the "
        "interpolated _cont family already registered). Computed with "
        "the cell-cumulation plan: value at rank ceil(p*n) = smallest "
        "cell value whose cumulative count reaches it — exact integer "
        "selection, no doubles anywhere, never a raw-row per-group "
        "sort (percentile_disc, like percentile, buffers each group "
        "in one task — the hazard the cell plan removes). Completes "
        "the quantile family: cont (interpolated), disc (this), "
        "approx (sketch).",
    tags=("quantile", "aggregate"),
)
def percentile_disc_bands_by_type(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").selectExpr("event_type",
                                                 f"{sql_cents('value')} AS cv")
    cells = (e.groupBy("event_type", "cv")
              .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    wt = Window.partitionBy("event_type")
    c1 = (cells.withColumn(
              "cum", F.sum("cnt").over(
                  wt.orderBy("cv").rowsBetween(
                      Window.unboundedPreceding, Window.currentRow)))
               .withColumn("n", F.sum("cnt").over(wt)))

    # rank of the p-th discrete quantile: ceil(p * n) (1-based), with
    # p in quarters so p*n is exact: ceil(k*n/4) = (k*n + 3) div 4
    def _disc(k: int, alias: str) -> str:
        return (f"MIN(CASE WHEN cum >= ({k} * n + 3) div 4"
                f" THEN cv END) AS {alias}")
    return c1.groupBy("event_type").agg(
        F.max("n").alias("n_events"),
        F.expr(_disc(1, "p25_c")),
        F.expr(_disc(2, "p50_c")),
        F.expr(_disc(3, "p75_c")))


# ---------------------------- Page-Hinkley drift over daily revenue

# lambda = (grand mean daily cents) DIV 4: a pinned, data-derived
# alarm threshold; delta = 0. The running mean stays an exact
# (sum, t) rational; each increment quantizes once to 1e6 fixed point
# with truncate-toward-zero division (negative numerators pinned).
PH_SCALE = 1_000_000


def _ph_spark_expr() -> str:
    inc = _tdiv_spark(f"{PH_SCALE} * (e.cents * acc.t - acc.s)",
                      "acc.t")
    # acc: s = running cents sum (incl. current), t = day count,
    # ph = PH statistic e6, mn = running min of ph, rows
    return (
        "inline(aggregate(slice(arr, 2, size(arr) - 1),"
        " named_struct("
        "'s', element_at(arr, 1).cents, 't', CAST(1 AS BIGINT),"
        " 'ph', CAST(0 AS BIGINT), 'mn', CAST(0 AS BIGINT),"
        " 'rows', array(named_struct("
        "'day', element_at(arr, 1).day,"
        " 'cents', element_at(arr, 1).cents,"
        " 'ph_e6', CAST(0 AS BIGINT), 'gap_e6', CAST(0 AS BIGINT)))),"
        " (acc, e) -> named_struct("
        f"'s', acc.s + e.cents, 't', acc.t + 1,"
        f" 'ph', acc.ph + {inc},"
        f" 'mn', LEAST(acc.mn, acc.ph + {inc}),"
        f" 'rows', concat(acc.rows, array(named_struct("
        f"'day', e.day, 'cents', e.cents,"
        f" 'ph_e6', acc.ph + {inc},"
        f" 'gap_e6', acc.ph + {inc} - LEAST(acc.mn, acc.ph + {inc})))))"
        ", acc -> acc.rows))")


def _ph_oracle() -> str:
    inc = _tdiv_sql(f"{PH_SCALE} * (s.cents * i.t - i.s)", "i.t")
    return f"""
        WITH RECURSIVE daily AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(SUM({sql_cents("value")}) AS BIGINT) AS cents
          FROM events GROUP BY 1
        ),
        seq AS (
          SELECT day, cents,
                 CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t2
          FROM daily
        ),
        it AS (
          SELECT t2 AS t, day, cents, cents AS s,
                 CAST(0 AS BIGINT) AS ph_e6, CAST(0 AS BIGINT) AS mn
          FROM seq WHERE t2 = 1
          UNION ALL
          SELECT s.t2, s.day, s.cents, i.s + s.cents,
                 CAST(i.ph_e6 + {inc} AS BIGINT),
                 CAST(LEAST(i.mn, i.ph_e6 + {inc}) AS BIGINT)
          FROM it i JOIN seq s ON s.t2 = i.t + 1
        ),
        lam AS (
          SELECT CAST(SUM(cents) AS BIGINT)
                 // CAST(COUNT(*) AS BIGINT) // 4 * {PH_SCALE}
                 AS lambda_e6
          FROM daily
        )
        SELECT it.day, it.cents, it.ph_e6,
               it.ph_e6 - it.mn AS gap_e6,
               CASE WHEN it.ph_e6 - it.mn > lam.lambda_e6
                    THEN 1 ELSE 0 END AS alarm
        FROM it CROSS JOIN lam
    """


@query(
    "page_hinkley_drift_daily",
    oracle=_ph_oracle(),
    doc="Page-Hinkley drift detector over daily revenue — the "
        "sequential mean-shift monitor ML-observability stacks run "
        "beside CUSUM (registered) and the EWMA chart (registered): "
        "PH_t accumulates deviations from the RUNNING mean and alarms "
        "when it climbs lambda above its own minimum. The running "
        "mean stays an exact (sum, t) integer rational; each "
        "deviation quantizes ONCE to 1e6 fixed point with truncate-"
        "toward-zero division pinned by explicit CASE (negative "
        "numerators — Spark div truncates, DuckDB // floors); lambda "
        "= (grand mean daily cents) DIV 4, integer-derived. Spark "
        "folds the calendar-bounded sorted day array in ONE "
        "projection (CollapseProject lesson); the oracle is a "
        "recursive CTE with identical arithmetic. The corpus-scale "
        "work is the one daily rollup.",
    tags=("timeseries", "quality"),
)
def page_hinkley_drift_daily(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    daily = (load(spark, sf_dir, "events")
             .groupBy(F.to_date("ts").cast("string").alias("day"))
             .agg(F.sum(cents("value")).cast("long").alias("cents"))
             .localCheckpoint())  # feeds the fold AND lambda
    one = daily.agg(F.sort_array(
        F.collect_list(F.struct("day", "cents"))).alias("arr"))
    rows = one.select(F.expr(_ph_spark_expr()))
    lam = daily.agg(F.expr(
        f"CAST(SUM(cents) AS BIGINT) DIV COUNT(*) DIV 4 * {PH_SCALE}")
        .alias("lambda_e6"))
    return rows.crossJoin(F.broadcast(lam)).selectExpr(
        "day", "cents", "ph_e6", "gap_e6",
        "CASE WHEN gap_e6 > lambda_e6 THEN 1 ELSE 0 END AS alarm")


# --------------------- map higher-order-function family surface

MAPF_BUSY = 5  # per-day per-type count threshold for the filter demo


@query(
    "map_function_family_daily",
    oracle=f"""
        WITH c AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1, 2
        )
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(CASE WHEN cnt >= {MAPF_BUSY} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_busy,
               CAST(SUM(2 * cnt) AS BIGINT) AS doubled_total,
               CAST(COALESCE(MAX(CASE WHEN event_type = 'click'
                    THEN cnt END), 0) AS BIGINT) AS click_cnt
        FROM c GROUP BY day
    """,
    doc="The map higher-order-function family — map_from_entries, "
        "map_filter, transform_values, map_values, element_at — "
        "exercised end-to-end on a per-day (event_type -> count) map "
        "and reduced back to scalar columns (driver outputs stay "
        "scalar; the map lives inside the projection). The oracle is "
        "the relational equivalent of each map op, so a port that "
        "mis-handles map construction, filtering, value transforms, "
        "or missing-key lookups diverges. The map is built from the "
        "(day, type) AGGREGATE (vocabulary-bounded entries per day, "
        "never raw rows — the collect-audit rule); everything after "
        "is expression-level codegen. Plan: one map-side-combinable "
        "aggregate, one bounded per-day regroup.",
    tags=("sql-surface",),
)
def map_function_family_daily(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    c = (load(spark, sf_dir, "events")
         .groupBy(F.to_date("ts").cast("string").alias("day"),
                  "event_type")
         .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    m = (c.groupBy("day")
          .agg(F.expr("map_from_entries(sort_array("
                      "collect_list(struct(event_type, cnt))))")
                .alias("m")))
    return m.selectExpr(
        "day",
        "CAST(cardinality(m) AS BIGINT) AS n_types",
        f"CAST(cardinality(map_filter(m, (k, v) -> v >= {MAPF_BUSY}))"
        " AS BIGINT) AS n_busy",
        "aggregate(map_values(transform_values(m, (k, v) -> 2 * v)),"
        " CAST(0 AS BIGINT), (a, v) -> a + v) AS doubled_total",
        "CAST(COALESCE(element_at(m, 'click'), 0) AS BIGINT)"
        " AS click_cnt")


# --------------- additive Holt-Winters, weekly seasonality (7)

# alpha = beta = gamma = 1/2 (dyadic halving, truncate-toward-zero
# pinned on both engines). Seasonal slots are indexed by epoch-day
# mod 7; initialization: level = mean of the first 7 observed days
# (DIV 7), trend = 0, seasonal[i] = last of the first 7 days with
# dow=i minus the level (0 if a dow is absent).

_HW_SDOW_SQL = ("CASE s.dow WHEN 0 THEN i.s0 WHEN 1 THEN i.s1"
                " WHEN 2 THEN i.s2 WHEN 3 THEN i.s3 WHEN 4 THEN i.s4"
                " WHEN 5 THEN i.s5 ELSE i.s6 END")


def _hw_oracle() -> str:
    lnew = _tdiv_sql(f"s.cents - ({_HW_SDOW_SQL}) + i.l + i.b", "2")
    bnew = _tdiv_sql(f"({lnew}) - i.l + i.b", "2")
    snew = _tdiv_sql(f"s.cents - ({lnew}) + ({_HW_SDOW_SQL})", "2")
    s_cols = ", ".join(
        f"CAST(CASE WHEN s.dow = {i} THEN ({snew}) ELSE i.s{i} END"
        f" AS BIGINT) AS s{i}" for i in range(7))
    init_s = ", ".join(
        f"CAST(COALESCE(arg_max(cents, t2) FILTER (WHERE dow = {i}), l0)"
        f" - l0 AS BIGINT) AS s{i}" for i in range(7))
    return f"""
        WITH RECURSIVE daily AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   % 7 AS dow,
                 CAST(SUM({sql_cents("value")}) AS BIGINT) AS cents
          FROM events GROUP BY 1, 2
        ),
        seq AS (
          SELECT day, dow, cents,
                 CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t2
          FROM daily
        ),
        l0t AS (
          SELECT CAST(SUM(cents) // 7 AS BIGINT) AS l0
          FROM seq WHERE t2 <= 7
        ),
        init AS (
          SELECT CAST(7 AS BIGINT) AS t,
                 CAST(NULL AS VARCHAR) AS day,
                 CAST(0 AS BIGINT) AS cents, CAST(0 AS BIGINT) AS dow,
                 MAX(l0) AS l, CAST(0 AS BIGINT) AS b, {init_s},
                 CAST(0 AS BIGINT) AS level_c,
                 CAST(0 AS BIGINT) AS trend_c,
                 CAST(0 AS BIGINT) AS seasonal_c,
                 CAST(0 AS BIGINT) AS forecast_c
          FROM seq CROSS JOIN l0t
          WHERE t2 <= 7 GROUP BY l0
        ),
        it AS (
          SELECT * FROM init
          UNION ALL
          SELECT s.t2, s.day, s.cents, s.dow,
                 CAST({lnew} AS BIGINT) AS l,
                 CAST({bnew} AS BIGINT) AS b,
                 {s_cols},
                 CAST({lnew} AS BIGINT) AS level_c,
                 CAST({bnew} AS BIGINT) AS trend_c,
                 CAST({snew} AS BIGINT) AS seasonal_c,
                 CAST(i.l + i.b + ({_HW_SDOW_SQL}) AS BIGINT)
                   AS forecast_c
          FROM it i JOIN seq s ON s.t2 = i.t + 1
        )
        SELECT day, cents, level_c, trend_c, seasonal_c, forecast_c
        FROM it WHERE t >= 8
    """


def _hw_spark_expr() -> str:
    sdow = "element_at(acc.s, CAST(e.dow AS INT) + 1)"
    lnew = _tdiv_spark(f"e.cents - ({sdow}) + acc.l + acc.b", "2")
    bnew = _tdiv_spark(f"({lnew}) - acc.l + acc.b", "2")
    snew = _tdiv_spark(f"e.cents - ({lnew}) + ({sdow})", "2")
    init = (
        "named_struct("
        "'l', aggregate(slice(arr, 1, 7), CAST(0 AS BIGINT),"
        " (a, e) -> a + e.cents) DIV 7,"
        " 'b', CAST(0 AS BIGINT),"
        " 's', transform(sequence(0, 6), i ->"
        " aggregate(slice(arr, 1, 7), CAST(0 AS BIGINT),"
        " (a, e) -> IF(e.dow = i, e.cents"
        " - aggregate(slice(arr, 1, 7), CAST(0 AS BIGINT),"
        " (a2, e2) -> a2 + e2.cents) DIV 7, a))),"
        " 'rows', CAST(array() AS ARRAY<STRUCT<day: STRING,"
        " cents: BIGINT, level_c: BIGINT, trend_c: BIGINT,"
        " seasonal_c: BIGINT, forecast_c: BIGINT>>))")
    merge = (
        f"named_struct('l', {lnew}, 'b', {bnew},"
        f" 's', transform(acc.s, (v, i) ->"
        f" IF(i = CAST(e.dow AS INT), {snew}, v)),"
        f" 'rows', concat(acc.rows, array(named_struct("
        f"'day', e.day, 'cents', e.cents,"
        f" 'level_c', {lnew}, 'trend_c', {bnew},"
        f" 'seasonal_c', {snew},"
        f" 'forecast_c', acc.l + acc.b + ({sdow})))))")
    return (f"inline(aggregate(slice(arr, 8, size(arr) - 7), {init},"
            f" (acc, e) -> {merge}, acc -> acc.rows))")


@query(
    "holt_winters_additive_weekly",
    oracle=_hw_oracle(),
    doc="Additive Holt-Winters with weekly seasonality (alpha = beta "
        "= gamma = 1/2): per day the smoothed level, trend, the "
        "updated weekday seasonal, and the one-step forecast the "
        "PREVIOUS state implied — the seasonal completion of the "
        "exponential family (EWMA chart -> Holt linear -> this), and "
        "the classic baseline the seasonal-naive MASE benchmarks. "
        "The whole recurrence runs in integer cents with truncate-"
        "toward-zero halving pinned by explicit CASE on both engines; "
        "seasonal slots are indexed by epoch-day mod 7 and "
        "initialized from the first observed week (level = first-week "
        "mean DIV 7-day, trend = 0, seasonal = deviation from that "
        "mean, last write wins on duplicate weekdays, absent weekdays "
        "0 — all pinned). Spark folds the calendar-bounded sorted day "
        "array in ONE projection carrying a 7-slot seasonal array in "
        "the fold state (CollapseProject lesson); the oracle is a "
        "recursive CTE carrying s0..s6 columns with textually "
        "identical arithmetic. The corpus-scale work is the one "
        "daily rollup.",
    tags=("timeseries"),
)
def holt_winters_additive_weekly(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    daily = (load(spark, sf_dir, "events")
             .groupBy(F.to_date("ts").cast("string").alias("day"),
                      (F.datediff(F.to_date("ts"),
                                  F.lit("1970-01-01")) % 7).alias("dow"))
             .agg(F.sum(cents("value")).cast("long").alias("cents")))
    one = daily.agg(F.sort_array(
        F.collect_list(F.struct("day", "dow", "cents"))).alias("arr"))
    return one.select(F.expr(_hw_spark_expr()))
