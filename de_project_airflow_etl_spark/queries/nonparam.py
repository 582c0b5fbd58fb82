"""Round-9 promoted bank (staged round 7 as staged/round9b.py): survival/segment comparison
(log-rank), joint location-scale testing (Cucconi), seasonal trend
(seasonal Mann-Kendall), rank concordance (Kendall's W), the
dynamic-gap session_window surface, and the Arrow group-map
(applyInArrow) execution path.

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

from de_project_airflow_etl_spark.queries.util import (
    cents, fold_sorted_spark, fold_sorted_sql, sql_cents, wide,
)
from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load

_WKND_SPARK = "CASE WHEN (dayofweek(ts) - 1) IN (0, 6) THEN 1 ELSE 0 END"
_WKND_SQL = "CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END"


# --------------------------------- log-rank test: purchaser churn

_LR_V_TERM = ("CASE WHEN n_at > 1 THEN"
              " CAST(d_t AS DOUBLE) * n1_at / n_at"
              " * (CAST(n_at - n1_at AS DOUBLE) / n_at)"
              " * (CAST(n_at - d_t AS DOUBLE) / (n_at - 1))"
              " ELSE CAST(0.0 AS DOUBLE) END")


@query(
    "log_rank_test_ab_arms",
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 MIN(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
                   AS first_d,
                 MAX(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
                   AS last_d,
                 MIN(CASE WHEN event_type = 'purchase' THEN
                     date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                     END) AS conv_d,
                 MAX(CASE WHEN substring(md5(CAST(user_id AS VARCHAR)),
                          1, 1) < '8' THEN 1 ELSE 0 END) AS grp
          FROM events GROUP BY user_id
        ),
        life AS (
          SELECT grp,
                 CAST(COALESCE(conv_d, last_d) - first_d + 1 AS BIGINT)
                   AS t,
                 CASE WHEN conv_d IS NULL THEN 1 ELSE 0 END AS censored
          FROM u
        ),
        cell AS (
          SELECT t, CAST(COUNT(*) AS BIGINT) AS n_t,
                 CAST(SUM(1 - censored) AS BIGINT) AS d_t,
                 CAST(SUM(grp) AS BIGINT) AS n1_t,
                 CAST(SUM(grp * (1 - censored)) AS BIGINT) AS d1_t
          FROM life GROUP BY t
        ),
        risk AS (
          SELECT t, d_t, d1_t,
                 CAST(SUM(n_t) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_at,
                 CAST(SUM(n1_t) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n1_at
          FROM cell
        ),
        terms AS (
          SELECT CAST(SUM(d1_t) AS BIGINT) AS o1,
                 {fold_sorted_sql("list(CAST(d_t AS DOUBLE) * n1_at / n_at)")}
                   AS e1,
                 {fold_sorted_sql(f"list({_LR_V_TERM})")} AS v
          FROM risk WHERE d_t > 0
        ),
        sizes AS (
          SELECT CAST(SUM(grp) AS BIGINT) AS n_arm_a,
                 CAST(SUM(1 - grp) AS BIGINT) AS n_arm_b
          FROM u
        )
        SELECT s.n_arm_a, s.n_arm_b, t.o1, t.e1, t.v,
               (t.o1 - t.e1) / SQRT(t.v) AS z_stat,
               (t.o1 - t.e1) * (t.o1 - t.e1) / t.v AS chi2_stat
        FROM terms t CROSS JOIN sizes s
    """,
    doc="Two-sample log-rank test on the md5-nibble A/B arms (the "
        "same deterministic 50/50 assignment sample_ratio_mismatch_"
        "check audits): did the treatment change TIME TO FIRST "
        "PURCHASE? Duration = first-activity to first-purchase day; "
        "users who never purchase are right-censored at their last "
        "observed day (the KM churn construction censors everyone in "
        "this always-active corpus — conversion is the survival "
        "target with real events at every SF). THE standard "
        "comparison test for survival curves, completing the "
        "Kaplan-Meier (registered) / Nelson-Aalen (staged) family "
        "with inference: at each distinct conversion time the observed "
        "group-1 deaths, hypergeometric expectation d*n1/n and "
        "variance accumulate over the calendar-BOUNDED distinct-"
        "lifetime table — each term is an exact-operand IEEE product "
        "and the bounded sums ride the sorted-fold idiom, so both "
        "engines produce bit-identical E and V; O is an exact "
        "integer; one sqrt. Plan: one per-user rollup (the only "
        "corpus-scale shuffle), suffix-sum windows above the "
        "aggregate, one row out.",
    tags=("statistics", "survival"),
)
def log_rank_test_ab_arms(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
         .cast("long").alias("d"))
    u = e.groupBy("user_id").agg(
        F.min("d").alias("first_d"), F.max("d").alias("last_d"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("d")))
         .alias("conv_d"),
        F.max(F.expr("CASE WHEN substring(md5(CAST(user_id AS STRING)),"
                     " 1, 1) < '8' THEN 1 ELSE 0 END")).alias("grp"))
    life = (u.select("grp",
                     (F.coalesce("conv_d", "last_d") - F.col("first_d")
                      + 1).cast("long").alias("t"),
                     F.when(F.col("conv_d").isNull(), 1).otherwise(0)
                      .alias("censored"))
             .localCheckpoint())  # calendar x {0,1} bounded cells feed
    cell = life.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_t"),
        F.sum(1 - F.col("censored")).cast("long").alias("d_t"),
        F.sum("grp").cast("long").alias("n1_t"),
        F.sum(F.expr("grp * (1 - censored)")).cast("long").alias("d1_t"))
    w = (Window.orderBy(F.desc("t"))
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    risk = cell.select(
        "t", "d_t", "d1_t",
        F.sum("n_t").over(w).cast("long").alias("n_at"),
        F.sum("n1_t").over(w).cast("long").alias("n1_at"))
    terms = risk.filter("d_t > 0").agg(
        F.sum("d1_t").cast("long").alias("o1"),
        F.expr(fold_sorted_spark(
            "collect_list(CAST(d_t AS DOUBLE) * n1_at / n_at)"))
         .alias("e1"),
        F.expr(fold_sorted_spark(f"collect_list({_LR_V_TERM})")).alias("v"))
    sizes = life.agg(
        F.sum("grp").cast("long").alias("n_arm_a"),
        F.sum(1 - F.col("grp")).cast("long").alias("n_arm_b"))
    return (terms.crossJoin(F.broadcast(sizes))
                 .selectExpr("n_arm_a", "n_arm_b", "o1", "e1", "v",
                             "(o1 - e1) / SQRT(v) AS z_stat",
                             "(o1 - e1) * (o1 - e1) / v AS chi2_stat"))


# --------------------- dynamic-gap session_window surface

# Per-event inactivity gap: purchases hold a session open longer.
# session_window's dynamic gap must be CalendarIntervalType:
# make_interval(..., secs) qualifies, the DayTimeInterval a CASE of
# INTERVAL literals produces does not (measured)
_GAP_SPARK = ("make_interval(0, 0, 0, 0, 0, 0,"
              " CASE WHEN event_type = 'purchase'"
              " THEN 2700 ELSE 900 END)")
_GAP_SECONDS_SQL = ("CASE WHEN event_type = 'purchase'"
                    " THEN 2700 ELSE 900 END")


@query(
    "session_window_dynamic_gap",
    oracle=f"""
        WITH e AS (
          SELECT user_id, ts, event_id,
                 ts + to_seconds({_GAP_SECONDS_SQL}) AS w_end,
                 {sql_cents("value")} AS c
          FROM events
        ),
        flagged AS (
          SELECT user_id, ts, event_id, w_end, c,
                 CASE WHEN ts > MAX(w_end) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING)
                      THEN 1 ELSE 0 END AS new_sess
          FROM e
        ),
        islands AS (
          SELECT user_id, ts, event_id, w_end, c,
                 SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sess_id
          FROM flagged
        )
        SELECT user_id, MIN(ts) AS session_start,
               MAX(w_end) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(c) AS BIGINT) AS revenue_c
        FROM islands
        GROUP BY user_id, sess_id
    """,
    doc="session_window with a DYNAMIC per-event gap (purchases hold "
        "the session open 45 minutes, other events 15) — the "
        "expression-gap form of Spark's native session operator, "
        "which the registered static-gap sessionize queries don't "
        "exercise; the merging rule ('a new session starts when the "
        "event time clears every earlier event's time+gap') is pinned "
        "against a gaps-and-islands oracle built from a running MAX "
        "of window ends. Integer-second gaps, exact timestamp "
        "arithmetic, exact cents. Plan: ONE merging-session aggregate "
        "shuffled on the grows-with-data user key (the oracle's "
        "running-max window is likewise user-keyed).",
    tags=("timeseries", "sql-surface"),
)
def session_window_dynamic_gap(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").selectExpr(
        "user_id", "ts", "event_type", f"{sql_cents('value')} AS c")
    gap = F.expr(_GAP_SPARK)
    return (e.groupBy("user_id",
                      F.session_window("ts", gap).alias("w"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                  F.sum("c").cast("long").alias("revenue_c"))
             .select("user_id",
                     F.col("w.start").alias("session_start"),
                     F.col("w.end").alias("session_end"),
                     "n_events", "revenue_c"))


# ------------------- Cucconi joint location-scale test (weekend)

# Rank and contrary-rank squared sums over the distinct-cents cell
# cumulation, in 2x midrank units (m2 = 2*cum_prev + cnt + 1). The
# classical null moments assume continuous data; with midranks the
# statistic is DEFINED as computed here (pinned contract, both
# engines identical). DECIMAL(38,0) holds sum(n*m2^2) ~ (2N)^3/3 up
# to N ~ 1.6e12 rows; beyond that quantize m2 (documented bound).
_CUC_E = ("(CAST(n_we AS DOUBLE) * (n + 1) * (2 * n + 1) / 6)")
_CUC_VAR = ("(CAST(n_we AS DOUBLE) * n_wd * (n + 1)"
            " * (2 * n + 1) * (8 * n + 11) / 180)")
_CUC_RHO = ("(CAST(2 AS DOUBLE) * (CAST(n AS DOUBLE) * n - 4)"
            " / ((2 * n + 1) * (8 * n + 11)) - 1)")


@query(
    "cucconi_location_scale_weekend",
    oracle=f"""
        WITH e AS (
          SELECT {_WKND_SQL} AS wknd, {sql_cents("value")} AS c FROM events
        ),
        cells AS (
          SELECT c, CAST(SUM(wknd) AS BIGINT) AS n_we_c,
                 CAST(SUM(1 - wknd) AS BIGINT) AS n_wd_c
          FROM e GROUP BY c
        ),
        cum AS (
          SELECT c, n_we_c,
                 2 * COALESCE(SUM(n_we_c + n_wd_c) OVER (ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + (n_we_c + n_wd_c) + 1 AS m2
          FROM cells
        ),
        tot AS (
          SELECT CAST(SUM(n_we_c) AS BIGINT) AS n_we,
                 CAST(SUM(n_we_c + n_wd_c) AS BIGINT) AS n
          FROM cells
        ),
        s AS (
          SELECT CAST(SUM(CAST(n_we_c AS HUGEINT) * m2 * m2)
                      AS DECIMAL(38,0)) AS u4,
                 CAST(SUM(CAST(n_we_c AS HUGEINT)
                          * (2 * (t.n + 1) - m2)
                          * (2 * (t.n + 1) - m2)) AS DECIMAL(38,0))
                   AS v4,
                 MAX(t.n_we) AS n_we, MAX(t.n) AS n,
                 MAX(t.n) - MAX(t.n_we) AS n_wd
          FROM cum CROSS JOIN tot t
        ),
        z AS (
          SELECT n_we, n_wd, n,
                 ({wide('u4')} / 4 - {_CUC_E}) / SQRT({_CUC_VAR}) AS zu,
                 ({wide('v4')} / 4 - {_CUC_E}) / SQRT({_CUC_VAR}) AS zv,
                 {_CUC_RHO} AS rho
          FROM s
        )
        SELECT n_we AS n_weekend, n_wd AS n_weekday, zu, zv, rho,
               (zu * zu + zv * zv - 2 * rho * zu * zv)
                 / (2 * (1 - rho * rho)) AS cucconi_c
        FROM z
    """,
    doc="Cucconi's joint location-scale test for the weekend-vs-"
        "weekday value contrast: standardized squared rank-sum (ZU) "
        "and contrary-rank-sum (ZV) combined with their negative "
        "correlation rho — the ONE-statistic alternative to running "
        "Mann-Whitney (location) and Ansari-Bradley (scale) "
        "separately, sensitive to shifts in either. Ranks are 2x "
        "integer midranks from the distinct-cents cumulation (never a "
        "raw-row rank); the squared-rank sums stay exact in "
        "DECIMAL(38,0); moments/rho are closed-form rationals of "
        "(n_we, n_wd, N) evaluated in identical double expressions. "
        "Plan: one map-side-combinable cell aggregate over the scan, "
        "one bounded cumulation window, one row out.",
    tags=("statistics",),
)
def cucconi_location_scale_weekend(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").selectExpr(
        f"{_WKND_SPARK} AS wknd", f"{sql_cents('value')} AS c")
    cells = e.groupBy("c").agg(
        F.sum("wknd").cast("long").alias("n_we_c"),
        F.sum(1 - F.col("wknd")).cast("long").alias("n_wd_c"))
    wc = (Window.orderBy("c")
                .rowsBetween(Window.unboundedPreceding, -1))
    cum = cells.select(
        "n_we_c",
        (2 * F.coalesce(F.sum(F.col("n_we_c") + F.col("n_wd_c"))
                        .over(wc), F.lit(0))
         + F.col("n_we_c") + F.col("n_wd_c") + 1).alias("m2"))
    tot = cells.agg(
        F.sum("n_we_c").cast("long").alias("n_we"),
        F.expr("CAST(SUM(n_we_c + n_wd_c) AS BIGINT)").alias("n"))
    s = (cum.crossJoin(F.broadcast(tot))
            .agg(F.expr("CAST(SUM(CAST(n_we_c AS DECIMAL(38,0))"
                        " * m2 * m2) AS DECIMAL(38,0))").alias("u4"),
                 F.expr("CAST(SUM(CAST(n_we_c AS DECIMAL(38,0))"
                        " * (2 * (n + 1) - m2)"
                        " * (2 * (n + 1) - m2)) AS DECIMAL(38,0))")
                  .alias("v4"),
                 F.max("n_we").alias("n_we"), F.max("n").alias("n"))
            .selectExpr("u4", "v4", "n_we", "n", "n - n_we AS n_wd"))
    z = s.selectExpr(
        "n_we", "n_wd", "n",
        f"({wide('u4')} / 4 - {_CUC_E}) / SQRT({_CUC_VAR}) AS zu",
        f"({wide('v4')} / 4 - {_CUC_E}) / SQRT({_CUC_VAR}) AS zv",
        f"{_CUC_RHO} AS rho")
    return z.selectExpr(
        "n_we AS n_weekend", "n_wd AS n_weekday", "zu", "zv", "rho",
        "(zu * zu + zv * zv - 2 * rho * zu * zv)"
        " / (2 * (1 - rho * rho)) AS cucconi_c")


# ----------------- seasonal (per-weekday) Mann-Kendall trend test

@query(
    "seasonal_mann_kendall_dow",
    oracle="""
        WITH daily AS (
          SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   AS x,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1
        ),
        d AS (SELECT x, x % 7 AS dow, cents FROM daily),
        pairs AS (
          SELECT a.dow,
                 CASE WHEN b.cents > a.cents THEN 1
                      WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn
          FROM d a JOIN d b ON b.dow = a.dow AND b.x > a.x
        ),
        s_w AS (
          SELECT dow, CAST(SUM(sgn) AS BIGINT) AS s
          FROM pairs GROUP BY dow
        ),
        ties AS (
          SELECT dow,
                 CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
          FROM (SELECT dow, cents, CAST(COUNT(*) AS BIGINT) AS t
                FROM d GROUP BY dow, cents) g
          GROUP BY dow
        ),
        n_w AS (
          SELECT dow, CAST(COUNT(*) AS BIGINT) AS n
          FROM d GROUP BY dow
        ),
        tot AS (
          SELECT CAST(SUM(s_w.s) AS BIGINT) AS s_total,
                 CAST(SUM(n_w.n * (n_w.n - 1) * (2 * n_w.n + 5)
                          - ties.tie18) AS BIGINT) AS var18
          FROM s_w JOIN ties USING (dow) JOIN n_w USING (dow)
        )
        SELECT s_total,
               CAST(var18 AS DOUBLE) / 18 AS var_s,
               CASE WHEN s_total > 0 THEN (s_total - 1)
                      / SQRT(CAST(var18 AS DOUBLE) / 18)
                    WHEN s_total < 0 THEN (s_total + 1)
                      / SQRT(CAST(var18 AS DOUBLE) / 18)
                    ELSE 0 END AS z_stat
        FROM tot
    """,
    doc="Seasonal Mann-Kendall trend test of daily revenue with the "
        "seven weekdays as seasons (Hirsch-Slack): the per-season S "
        "statistics and tie-corrected variances sum, so a monotone "
        "trend is detected WITHOUT the weekly cycle masquerading as "
        "one — the seasonal extension of the staged Mann-Kendall, "
        "sharing its exact integer pair-sign arithmetic. Weekday = "
        "epoch-day mod 7 (engine-free calendar arithmetic). The pair "
        "join is per-weekday over the calendar-bounded daily rollup "
        "(<= (days/7)^2 * 7 / 2 pairs at any corpus size — the "
        "theil_sen precedent); variance stays in 18x integer units "
        "until one final division; continuity-corrected Z, one sqrt. "
        "Plan: one daily rollup (the only corpus-scale work), bounded "
        "pair join, one row out.",
    tags=("statistics", "timeseries"),
)
def seasonal_mann_kendall_dow(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    daily = (load(spark, sf_dir, "events")
             .groupBy(F.datediff(F.to_date("ts"),
                                 F.lit("1970-01-01")).alias("x"))
             .agg(F.sum(cents("value")).cast("long").alias("cents"))
             .selectExpr("x", "x % 7 AS dow", "cents")
             .localCheckpoint())  # calendar-bounded; feeds 3 consumers
    a = daily.selectExpr("dow", "x AS xa", "cents AS ca")
    b = daily.selectExpr("dow AS dow_b", "x AS xb", "cents AS cb")
    pairs = (a.join(b, (F.col("dow") == F.col("dow_b"))
                    & (F.col("xb") > F.col("xa")))
              .selectExpr("dow",
                          "CASE WHEN cb > ca THEN 1"
                          " WHEN cb < ca THEN -1 ELSE 0 END AS sgn"))
    s_w = pairs.groupBy("dow").agg(F.sum("sgn").cast("long").alias("s"))
    ties = (daily.groupBy("dow", "cents")
                 .agg(F.count(F.lit(1)).cast("long").alias("t"))
                 .groupBy("dow")
                 .agg(F.expr("CAST(SUM(t * (t - 1) * (2 * t + 5))"
                             " AS BIGINT)").alias("tie18")))
    n_w = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    tot = (s_w.join(ties, "dow").join(n_w, "dow")
              .agg(F.sum("s").cast("long").alias("s_total"),
                   F.expr("CAST(SUM(n * (n - 1) * (2 * n + 5) - tie18)"
                          " AS BIGINT)").alias("var18")))
    return tot.selectExpr(
        "s_total",
        "CAST(var18 AS DOUBLE) / 18 AS var_s",
        "CASE WHEN s_total > 0 THEN (s_total - 1)"
        " / SQRT(CAST(var18 AS DOUBLE) / 18)"
        " WHEN s_total < 0 THEN (s_total + 1)"
        " / SQRT(CAST(var18 AS DOUBLE) / 18)"
        " ELSE 0 END AS z_stat")


# ------------------ Kendall's W: weekday concordance across weeks

KW_K = 7  # treatments: the seven weekdays


@query(
    "kendalls_w_dow_concordance",
    oracle=f"""
        WITH daily AS (
          SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   AS x,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1
        ),
        d AS (SELECT x // 7 AS wk, x % 7 AS dow, cents FROM daily),
        complete AS (
          SELECT wk FROM d GROUP BY wk HAVING COUNT(*) = {KW_K}
        ),
        blk AS (
          SELECT d.wk, d.dow, d.cents FROM d JOIN complete USING (wk)
        ),
        r AS (
          SELECT a.wk, a.dow,
                 CAST(SUM(CASE WHEN b.cents < a.cents THEN 2
                          WHEN b.cents = a.cents THEN 1
                          ELSE 0 END) AS BIGINT) + 1 AS r2
          FROM blk a JOIN blk b ON b.wk = a.wk
          GROUP BY a.wk, a.dow
        ),
        rj AS (
          SELECT dow, CAST(SUM(r2) AS BIGINT) AS r2_sum
          FROM r GROUP BY dow
        ),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_weeks FROM complete),
        ties AS (
          SELECT CAST(COALESCE(SUM(t * t * t - t), 0) AS BIGINT) AS tt
          FROM (SELECT wk, cents, CAST(COUNT(*) AS BIGINT) AS t
                FROM blk GROUP BY wk, cents) g
        ),
        s AS (
          SELECT CAST(SUM((r2_sum - m.n_weeks * ({KW_K} + 1))
                          * (r2_sum - m.n_weeks * ({KW_K} + 1)))
                      AS BIGINT) AS s4,
                 MAX(m.n_weeks) AS n_weeks
          FROM rj CROSS JOIN m
        )
        SELECT s.n_weeks, s.s4, ties.tt AS tie_t,
               CAST(3 * s.s4 AS DOUBLE)
                 / (CAST(s.n_weeks AS DOUBLE) * s.n_weeks
                    * ({KW_K} * {KW_K} * {KW_K} - {KW_K})
                    - CAST(s.n_weeks AS DOUBLE) * ties.tt)
                 AS kendalls_w
        FROM s CROSS JOIN ties
    """,
    doc="Kendall's coefficient of concordance W for the weekday "
        "effect: complete epoch-aligned weeks are judges, the seven "
        "weekdays are ranked items — W in [0,1] measures how "
        "CONSISTENTLY the weekly revenue profile repeats (the "
        "agreement view of the effect the staged Friedman/Quade tests "
        "score; W = chi2_F / (m(k-1)) links them). Within-block 2x "
        "midranks come from a 7x7 in-block pair aggregate (49 rows "
        "per block, blocks grow with the calendar); S4 = sum_j "
        "(R2_j - m(k+1))^2 and the tie term sum(t^3 - t) stay exact "
        "integers, and W = 3*S4 / (m^2(k^3-k) - m*T) is one exact-"
        "operand division. Plan: one daily rollup, bounded block "
        "joins above it, one row out.",
    tags=("statistics",),
)
def kendalls_w_dow_concordance(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    daily = (load(spark, sf_dir, "events")
             .groupBy(F.datediff(F.to_date("ts"),
                                 F.lit("1970-01-01")).alias("x"))
             .agg(F.sum(cents("value")).cast("long").alias("cents"))
             .selectExpr("x DIV 7 AS wk", "x % 7 AS dow", "cents")
             .localCheckpoint())  # calendar-bounded; feeds 4 consumers
    complete = (daily.groupBy("wk")
                     .agg(F.count(F.lit(1)).alias("n_d"))
                     .filter(F.col("n_d") == KW_K).select("wk"))
    blk = daily.join(complete, "wk").localCheckpoint()
    other = blk.selectExpr("wk AS wk_b", "cents AS cents_b")
    r = (blk.join(other, F.col("wk") == F.col("wk_b"))
            .groupBy("wk", "dow")
            .agg((F.sum(F.expr(
                "CASE WHEN cents_b < cents THEN 2"
                " WHEN cents_b = cents THEN 1 ELSE 0 END"))
                  .cast("long") + 1).alias("r2")))
    rj = r.groupBy("dow").agg(F.sum("r2").cast("long").alias("r2_sum"))
    m = complete.agg(F.count(F.lit(1)).cast("long").alias("n_weeks"))
    ties = (blk.groupBy("wk", "cents")
               .agg(F.count(F.lit(1)).cast("long").alias("t"))
               .agg(F.expr("CAST(COALESCE(SUM(t * t * t - t), 0)"
                           " AS BIGINT)").alias("tt")))
    s = (rj.crossJoin(F.broadcast(m))
           .agg(F.expr(f"CAST(SUM((r2_sum - n_weeks * ({KW_K} + 1))"
                       f" * (r2_sum - n_weeks * ({KW_K} + 1)))"
                       " AS BIGINT)").alias("s4"),
                F.max("n_weeks").alias("n_weeks")))
    return (s.crossJoin(F.broadcast(ties))
             .selectExpr("n_weeks", "s4", "tt AS tie_t",
                         f"CAST(3 * s4 AS DOUBLE)"
                         f" / (CAST(n_weeks AS DOUBLE) * n_weeks"
                         f" * ({KW_K} * {KW_K} * {KW_K} - {KW_K})"
                         f" - CAST(n_weeks AS DOUBLE) * tt)"
                         " AS kendalls_w"))


# ---------------- Arrow group-map (applyInArrow) execution surface

ARROW_BKT_SPAN = 64  # vec_ids per group: groups stay bounded


def _arrow_label_stats(table):
    """pyarrow.Table -> pyarrow.Table: per-(label, bucket) count and
    exact integer sum of floor(1e6 * dim0)."""
    import math

    import pyarrow as pa
    label = table.column("label")[0].as_py()
    bkt = table.column("bkt")[0].as_py()
    d0 = table.column("d0").to_pylist()
    s = sum(math.floor(1_000_000 * v) for v in d0)
    return pa.table({"label": pa.array([label], pa.int32()),
                     "bkt": pa.array([bkt], pa.int64()),
                     "n_vecs": pa.array([len(d0)], pa.int64()),
                     "sum_d0_e6": pa.array([s], pa.int64())})


@query(
    "group_apply_arrow_label_stats",
    oracle="""
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(CAST(FLOOR(1000000
                    * CAST(embedding[1] AS DOUBLE)) AS BIGINT))
                    AS BIGINT) AS sum_d0_e6,
               CAST(SUM(CAST(FLOOR(1000000
                    * CAST(embedding[1] AS DOUBLE)) AS BIGINT))
                    AS DOUBLE) / COUNT(*) / 1000000 AS mean_d0
        FROM embeddings GROUP BY label
    """,
    doc="The Arrow group-map path — DataFrame.groupBy().applyInArrow, "
        "Spark 4's zero-pandas grouped UDF — completing the Python-"
        "execution matrix (mapInPandas / mapInArrow / applyInPandas / "
        "applyInPandasWithState / Arrow-optimized scalar UDF / UDTF / "
        "pandas UDAF all already covered). Per-(label, vec_id-range) "
        "group the function emits a count and the exact integer sum "
        "of floor(1e6 * dim0) — the 1e6 quantization makes the group "
        "partials order-free exact integers, so the SQL re-aggregate "
        "to label grain matches the relational oracle bit-for-bit "
        "(the 1e12-grid idiom at UDF scale). Groups are bounded by "
        "the id span (never label-sized — the collect-audit hazard "
        "applied to group-map UDFs); the re-aggregate is map-side "
        "combinable.",
    tags=("udf", "similarity"),
)
def group_apply_arrow_label_stats(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "label", f"vec_id DIV {ARROW_BKT_SPAN} AS bkt",
        "CAST(element_at(embedding, 1) AS DOUBLE) AS d0")
    parts = (e.groupBy("label", "bkt")
              .applyInArrow(_arrow_label_stats,
                            "label int, bkt long, n_vecs long,"
                            " sum_d0_e6 long"))
    return (parts.groupBy("label")
                 .agg(F.sum("n_vecs").cast("long").alias("n_vecs"),
                      F.sum("sum_d0_e6").cast("long").alias("sum_d0_e6"))
                 .selectExpr("label", "n_vecs", "sum_d0_e6",
                             "CAST(sum_d0_e6 AS DOUBLE) / n_vecs"
                             " / 1000000 AS mean_d0"))
