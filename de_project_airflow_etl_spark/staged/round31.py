"""Round-31 staged bank: three forecast/survival/frequency
completions on the daily panel — the Diebold-Mariano test comparing
the naive (lag-1) and seasonal-naive (lag-7) forecasters' squared-
error losses (is the seasonal model SIGNIFICANTLY better, the
pairwise-inference step the registered MASE/SMAPE/Theil-U point
metrics don't give), the restricted mean survival time at 30 days
from the Kaplan-Meier retention curve (the single-number "expected
active days per user in the first month" summary of the registered
curve — the estimand clinicians report when hazards aren't
proportional), and the periodogram power at the weekly frequency
(how much daily-revenue variance sits at period 7 — the frequency-
domain complement to the registered seasonal_strength/autocorr
diagnostics).

Exactness: DM's loss differentials are exact integer cents^2
(DECIMAL/HUGEINT sufficient statistics, one string-route division,
sqrt last); RMST reuses the registered KM sequential-product idiom
with widths from a lead window and a sorted fold of the S*width
terms; the periodogram uses HARDCODED cos/sin literals for the 7
residue classes (identical decimal text parses to identical doubles
on both engines — no cos()/sin() engine calls, the recorded
transcendental rule) with exact integer demeaning. Definitions
follow Diebold & Mariano 1995 (h=1, zero-lag variance), Royston &
Parmar 2013 (RMST from the KM step function), and the classical
Schuster periodogram — no external code.

Same contract as every staged query (see staged/__init__.py):
``(spark, sf_dir) -> DataFrame`` plus an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import (
    cents, fold_sorted_spark, fold_sorted_sql, wide,
)
from de_project_airflow_etl_spark.staged import staged_query
from de_project_airflow_etl_spark.tables import load


_SQL_DAILY_T = """
        daily AS (
          SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   AS x,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS y
          FROM events GROUP BY 1
        ),
        seq AS (
          SELECT x, y,
                 CAST(ROW_NUMBER() OVER (ORDER BY x) AS BIGINT) AS t
          FROM daily
        )"""


def _spark_daily_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (load(spark, sf_dir, "events")
             .groupBy(F.datediff(F.to_date("ts"),
                                 F.lit("1970-01-01")).alias("x"))
             .agg(F.sum(cents("value")).cast("long").alias("y")))
    return (daily
            .select("x", "y",
                    F.row_number().over(Window.orderBy("x"))
                     .cast("long").alias("t"))
            .localCheckpoint())


# ---------------------------------------------------------------------
# Diebold-Mariano: naive lag-1 vs seasonal-naive lag-7, squared loss.
#
# d_t = e1_t^2 - e2_t^2 over days where both forecasts exist; with
# S = sum d, Q = sum d^2, n terms:
#   DM = dbar / sqrt(var(d)/n) = S * sqrt(n) / sqrt(n*Q - S^2).


@staged_query(
    "diebold_mariano_forecasts",
    oracle=f"""
        WITH {_SQL_DAILY_T},
        fc AS (
          SELECT t,
                 y - LAG(y, 1) OVER (ORDER BY t) AS e1,
                 y - LAG(y, 7) OVER (ORDER BY t) AS e2
          FROM seq
        ),
        d AS (
          SELECT CAST(e1 AS HUGEINT) * e1
                 - CAST(e2 AS HUGEINT) * e2 AS dd
          FROM fc WHERE e1 IS NOT NULL AND e2 IS NOT NULL
        ),
        s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(dd) AS sd,
                 SUM(dd * dd) AS qd
          FROM d
        )
        SELECT n AS n_common_days,
               CASE WHEN n = 0 THEN NULL
                 ELSE {wide('sd')} / n END AS mean_loss_diff,
               CASE WHEN n < 2 OR n * qd - sd * sd = 0 THEN NULL
                 ELSE {wide('sd')} * SQRT(CAST(n AS DOUBLE))
                   / SQRT({wide('n * qd - sd * sd')})
               END AS dm_stat
        FROM s
    """,
    doc="Diebold-Mariano test (h=1, squared loss, zero-lag variance "
        "— documented estimator choices) comparing the naive lag-1 "
        "and seasonal-naive lag-7 daily-revenue forecasters: "
        "DM < 0 means the naive model's squared errors are "
        "systematically SMALLER, DM > 0 favors the seasonal model — "
        "the pairwise significance readout that the registered "
        "seasonal_naive_mase / theil_u point metrics (which compare "
        "magnitudes, not sampling noise) cannot give. Loss "
        "differentials d_t = e1^2 - e2^2 are exact integer cents^2 "
        "in HUGEINT/DECIMAL(38,0); DM = S*sqrt(n)/sqrt(n*Q - S^2) "
        "is two correctly-rounded sqrts around ONE string-route "
        "division. NULL when fewer than 2 common days or identical "
        "losses. Plan: one daily aggregate, two lag windows over "
        "the calendar-bounded panel, 1-row out.",
    tags=("staged", "statistics", "timeseries", "evaluation"),
)
def diebold_mariano_forecasts(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    seq = _spark_daily_t(spark, sf_dir)
    w = Window.orderBy("t")
    fc = seq.select(
        (F.col("y") - F.lag("y", 1).over(w)).alias("e1"),
        (F.col("y") - F.lag("y", 7).over(w)).alias("e2"))
    d = (fc.where("e1 IS NOT NULL AND e2 IS NOT NULL")
         .selectExpr("CAST(e1 AS DECIMAL(38,0)) * e1"
                     " - CAST(e2 AS DECIMAL(38,0)) * e2 AS dd"))
    s = d.agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum("dd").alias("sd"),
              F.expr("SUM(dd * dd)").alias("qd"))
    return s.selectExpr(
        "n AS n_common_days",
        f"CASE WHEN n = 0 THEN NULL ELSE {wide('sd')} / n END"
        " AS mean_loss_diff",
        "CASE WHEN n < 2 OR n * qd - sd * sd = 0 THEN NULL"
        f" ELSE {wide('sd')} * SQRT(CAST(n AS DOUBLE))"
        f" / SQRT({wide('n * qd - sd * sd')}) END AS dm_stat")


# ---------------------------------------------------------------------
# Restricted mean survival time at 30 days from the KM curve.
#
# Same lifetime/censoring construction as the registered
# survival_retention_curve (queries/mining.py): lifetime = first-to-
# last active day + 1; users last seen within KM_CENSOR_DAYS of
# corpus end are censored. RMST(tau) = integral of the KM step
# function on [0, tau]:
#   min(t_1, tau) * 1 + sum_{t_i < tau} S(t_i) * (min(t_{i+1}, tau)
#   - t_i),  t_{k+1} := tau.

RMST_TAU = 30
_RMST_CENSOR_DAYS = 7  # mirrors mining.KM_CENSOR_DAYS


@staged_query(
    "rmst_user_lifetimes",
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 MIN(date_diff('day', DATE '1970-01-01',
                     CAST(ts AS DATE))) AS first_d,
                 MAX(date_diff('day', DATE '1970-01-01',
                     CAST(ts AS DATE))) AS last_d
          FROM events GROUP BY user_id
        ),
        bounds AS (SELECT MAX(last_d) AS corpus_end FROM u),
        life AS (
          SELECT CAST(u.last_d - u.first_d + 1 AS BIGINT) AS t,
                 CASE WHEN b.corpus_end - u.last_d
                      < {_RMST_CENSOR_DAYS} THEN 1 ELSE 0 END
                   AS censored
          FROM u CROSS JOIN bounds b
        ),
        risk AS (
          SELECT t AS t_days,
                 CAST(SUM(COUNT(*)) OVER (
                        ORDER BY t DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS n_at_risk,
                 CAST(SUM(1 - censored) AS BIGINT) AS d_churned
          FROM life GROUP BY t
        ),
        terms AS (
          SELECT t_days,
                 1.0 - CAST(d_churned AS DOUBLE)
                     / CAST(n_at_risk AS DOUBLE) AS term
          FROM risk
        ),
        arr AS (
          SELECT list({{'t_days': t_days, 'term': term}}
                      ORDER BY t_days) AS a FROM terms
        ),
        surv AS (
          SELECT t.t_days,
                 list_reduce(
                   list_prepend(CAST(1.0 AS DOUBLE),
                     list_transform(
                       list_filter(arr.a, x -> x.t_days <= t.t_days),
                       x -> x.term)),
                   (acc, v) -> acc * v) AS s,
                 LEAD(t.t_days) OVER (ORDER BY t.t_days) AS next_t
          FROM terms t CROSS JOIN arr
        ),
        segs AS (
          SELECT CASE WHEN t_days >= {RMST_TAU} THEN CAST(0 AS DOUBLE)
                   ELSE s * (LEAST(COALESCE(next_t, {RMST_TAU}),
                                   {RMST_TAU}) - t_days) END AS seg
          FROM surv
        ),
        head AS (
          SELECT CAST(LEAST(MIN(t_days), {RMST_TAU}) AS DOUBLE)
                   AS first_seg,
                 CAST(COUNT(*) AS BIGINT) AS n_times
          FROM terms
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM life) AS n_users,
               CAST({RMST_TAU} AS BIGINT) AS tau_days,
               head.first_seg + {fold_sorted_sql('list(seg)')} AS rmst_days
        FROM segs CROSS JOIN head
        GROUP BY head.first_seg
    """,
    doc=f"Restricted mean survival time at tau = {RMST_TAU} days "
        "from the Kaplan-Meier retention curve (same lifetime and "
        "7-day right-censoring construction as the registered "
        "survival_retention_curve): the expected number of active "
        "days per user within the first month — the single-number "
        "KM summary that stays valid when hazards cross (where a "
        "median or hazard ratio misleads), and the number a "
        "retention team can multiply by user value directly. "
        "RMST integrates the KM step function exactly: S(t_i) rides "
        "the registered sequential-product fold over the calendar-"
        "bounded distinct-lifetime panel, segment widths come from "
        "one lead window, and the <= ~30 S*width terms fold sorted "
        "from 0.0 (the head segment [0, t_1) has S = 1 exactly). "
        "Plan: one user-grain rollup (the only corpus-scale "
        "shuffle), then bounded-panel math.",
    tags=("staged", "statistics", "timeseries"),
)
def rmst_user_lifetimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (load(spark, sf_dir, "events")
         .groupBy("user_id")
         .agg(F.expr("MIN(datediff(CAST(ts AS DATE),"
                     " DATE '1970-01-01'))").alias("first_d"),
              F.expr("MAX(datediff(CAST(ts AS DATE),"
                     " DATE '1970-01-01'))").alias("last_d"))
         # u feeds bounds, life->risk AND the n_users count: without a
         # checkpoint each reference re-scans the corpus (the
         # multi-consumer rule; user-grain aggregate-sized)
         .localCheckpoint())
    bounds = u.agg(F.max("last_d").alias("corpus_end"))
    life = (u.crossJoin(F.broadcast(bounds))
            .selectExpr(
                "CAST(last_d - first_d + 1 AS BIGINT) AS t",
                f"CASE WHEN corpus_end - last_d < {_RMST_CENSOR_DAYS}"
                " THEN 1 ELSE 0 END AS censored"))
    wdesc = (Window.orderBy(F.col("t_days").desc())
             .rowsBetween(Window.unboundedPreceding, 0))
    risk = (life.groupBy(F.col("t").alias("t_days"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"),
                 F.expr("CAST(SUM(1 - censored) AS BIGINT)")
                  .alias("d_churned"))
            .select("t_days", "d_churned",
                    F.sum("cnt").over(wdesc).cast("long")
                     .alias("n_at_risk")))
    terms = risk.selectExpr(
        "t_days",
        "CAST(1.0 AS DOUBLE) - CAST(d_churned AS DOUBLE)"
        " / CAST(n_at_risk AS DOUBLE) AS term")
    arr = terms.agg(F.expr(
        "array_sort(collect_list(struct(t_days, term)))").alias("a"))
    wlead = Window.orderBy("t_days")
    surv = (terms.crossJoin(F.broadcast(arr))
            .select("t_days",
                    F.expr("aggregate(transform(filter(a,"
                           " x -> x.t_days <= t_days), x -> x.term),"
                           " CAST(1.0 AS DOUBLE),"
                           " (acc, v) -> acc * v)").alias("s"))
            .select("t_days", "s",
                    F.lead("t_days").over(wlead).alias("next_t")))
    segs = surv.selectExpr(
        f"CASE WHEN t_days >= {RMST_TAU} THEN CAST(0 AS DOUBLE)"
        f" ELSE s * (LEAST(COALESCE(next_t, {RMST_TAU}),"
        f" {RMST_TAU}) - t_days) END AS seg")
    head = terms.agg(
        F.expr(f"CAST(LEAST(MIN(t_days), {RMST_TAU}) AS DOUBLE)")
         .alias("first_seg"))
    n_users = life.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    return (segs.crossJoin(F.broadcast(head))
            .crossJoin(F.broadcast(n_users))
            .groupBy("first_seg", "n_users")
            .agg(F.expr(fold_sorted_spark("collect_list(seg)")).alias("f"))
            .selectExpr("n_users",
                        f"CAST({RMST_TAU} AS BIGINT) AS tau_days",
                        "first_seg + f AS rmst_days"))


# ---------------------------------------------------------------------
# Periodogram power at the weekly frequency (period 7).
#
# Hardcoded cos/sin literals for the 7 residue classes of
# 2*pi*k/7 — identical decimal text parses to identical doubles on
# both engines (no cos()/sin() calls). With exact integer demeaning
# z_t = n*y_t - Sy:  C = sum z_t cos[t%7], S = sum z_t sin[t%7]
# (sorted folds);  I_7 = (C^2 + S^2) / n^3  (cents^2),
# var_fraction = 2*(C^2 + S^2) / (n * B),  B = sum z_t^2.

_COS7 = ["1.0", "0.6234898018587336", "-0.22252093395631434",
         "-0.900968867902419", "-0.9009688679024191",
         "-0.2225209339563146", "0.6234898018587334"]
_SIN7 = ["0.0", "0.7818314824680298", "0.9749279121818236",
         "0.43388373911755823", "-0.433883739117558",
         "-0.9749279121818236", "-0.7818314824680299"]


def _trig_case(vals: list[str]) -> str:
    whens = " ".join(f"WHEN {k} THEN CAST({v} AS DOUBLE)"
                     for k, v in enumerate(vals))
    return f"CASE t % 7 {whens} END"


@staged_query(
    "periodogram_weekly_power",
    oracle=f"""
        WITH {_SQL_DAILY_T},
        s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(y) AS BIGINT) AS sy
          FROM seq
        ),
        z AS (
          SELECT seq.t, s.n,
                 {wide('CAST(s.n AS HUGEINT) * seq.y - s.sy')} AS zz,
                 CAST(s.n AS HUGEINT) * seq.y - s.sy AS zi
          FROM seq, s
        ),
        f AS (
          SELECT MAX(n) AS n,
                 {fold_sorted_sql("list(zz * (" + _trig_case(_COS7) + "))")} AS c,
                 {fold_sorted_sql("list(zz * (" + _trig_case(_SIN7) + "))")} AS sn,
                 SUM(zi * zi) AS b
          FROM z
        )
        SELECT n AS n_days,
               (c * c + sn * sn)
                 / (CAST(n AS DOUBLE) * n * n) AS power_weekly,
               CASE WHEN b = 0 THEN NULL
                 ELSE 2 * (c * c + sn * sn)
                   / (CAST(n AS DOUBLE) * {wide('b')})
               END AS var_fraction_weekly
        FROM f
    """,
    doc="Schuster periodogram power of daily revenue at the weekly "
        "frequency (period 7): I(1/7) = ((sum z_t cos(2pi t/7))^2 + "
        "(sum z_t sin(2pi t/7))^2) / n over the exactly-demeaned "
        "series, plus the fraction of sample variance it explains "
        "(2I/(n*sigma^2)) — the frequency-domain measurement of the "
        "weekday cycle the registered seasonal_strength_weekly and "
        "autocorr diagnostics see only in the time domain. The 7 "
        "cos/sin values are HARDCODED decimal literals (identical "
        "text -> identical doubles on both engines; cos()/sin() "
        "calls are engine-rounding-specific, the recorded rule); "
        "demeaning is exact integer (n*y - Sy, string-routed once "
        "per day); both trig sums fold sorted from 0.0; the variance "
        "denominator B = sum z^2 stays an exact HUGEINT/"
        "DECIMAL(38,0) integer. NULL fraction on a constant series. "
        "Plan: one daily aggregate, bounded-panel folds, 1-row out.",
    tags=("staged", "statistics", "timeseries"),
)
def periodogram_weekly_power(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    seq = _spark_daily_t(spark, sf_dir)
    s = seq.agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("y").cast("long").alias("sy"))
    z = (seq.crossJoin(F.broadcast(s))
         .selectExpr(
             "t", "n",
             f"{wide('CAST(n AS DECIMAL(38,0)) * y - sy')} AS zz",
             "CAST(n AS DECIMAL(38,0)) * y - sy AS zi"))
    f = z.agg(
        F.max("n").alias("n"),
        F.expr(fold_sorted_spark(
            "collect_list(zz * (" + _trig_case(_COS7) + "))"))
         .alias("c"),
        F.expr(fold_sorted_spark(
            "collect_list(zz * (" + _trig_case(_SIN7) + "))"))
         .alias("sn"),
        F.expr("SUM(zi * zi)").alias("b"))
    return f.selectExpr(
        "n AS n_days",
        "(c * c + sn * sn) / (CAST(n AS DOUBLE) * n * n)"
        " AS power_weekly",
        "CASE WHEN b = 0 THEN NULL"
        " ELSE 2 * (c * c + sn * sn)"
        f" / (CAST(n AS DOUBLE) * {wide('b')}) END"
        " AS var_fraction_weekly")
