"""Round-28 staged bank: five regression-diagnostic / structural-
stability completions over the daily revenue panel — the Breusch-
Pagan heteroskedasticity test (does residual VARIANCE trend with
time, invalidating the registered OLS trend's standard errors), the
Chow test for a structural break at mid-sample (did the trend's
coefficients CHANGE, the confirmatory complement to the registered
Pettitt/CUSUM detectors), OLS influence diagnostics (leverage +
Cook's distance: WHICH days move the fitted trend — the
observation-level audit the registered grubbs/dixon outlier tests
don't give), the KPSS level-stationarity statistic (partial-sum
variance ratio; the null-reversal complement to the registered
Mann-Kendall trend tests), and the Lo-MacKinlay variance ratio at
the weekly horizon (is daily revenue a random walk or mean-
reverting/trending at q=7).

All five regress on the observed-day SEQUENCE index t (row_number
over the daily rollup — gap days compress out; documented, identical
on both engines). Sufficient statistics are exact integers
(DECIMAL(38,0)/HUGEINT for products of cents); residuals become
doubles through ONE string-route division each and any sum of
per-day double terms folds SORTED from a 0.0 seed (the recorded
deterministic-reduction idiom). Statistic definitions follow the
classical publications (Breusch & Pagan 1979; Chow 1960; Cook 1977;
Kwiatkowski, Phillips, Schmidt & Shin 1992 — short-run variance,
zero-lag; Lo & MacKinlay 1988) — no external code.

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


#: daily cents rollup with the observed-sequence index t = 1..n
#: (epoch-day key x kept for date reconstruction).
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
    """Daily cents rollup + sequence index: the only corpus-scale work
    is one map-side-combinable aggregate; the row_number window is
    unpartitioned but sits over the calendar-bounded daily panel (the
    audited-safe post-aggregate shape). localCheckpoint because every
    caller folds it 2+ times (multi-consumer rule, aggregate-sized)."""
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
# Breusch-Pagan: regress squared OLS residuals on t; BP = n * R^2.
#
# Exact pieces: St, Stt, Sy, Sty in BIGINT/DECIMAL; slope numerator
# b_num = n*Sty - St*Sy, D = n*Stt - St^2. The residual
#   e_i = (D*(n*y_i - Sy) - b_num*(n*t_i - St)) / (n*D)
# is ONE string-route division per day (numerator exact in
# DECIMAL(38,0)); u_i = e_i^2 and the aux-regression sums
# Su, Stu, Suu fold sorted. BP = n * (n*Stu - St*Su)^2
# / (D * (n*Suu - Su^2)).


@staged_query(
    "breusch_pagan_daily_trend",
    oracle=f"""
        WITH {_SQL_DAILY_T},
        s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(t) AS BIGINT) AS st,
                 CAST(SUM(t * t) AS BIGINT) AS stt,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 SUM(CAST(t AS HUGEINT) * y) AS sty
          FROM seq
        ),
        r AS (
          SELECT seq.t, s.n, s.st, s.stt,
                 {wide("(CAST(s.n AS HUGEINT) * s.stt - "
                       "CAST(s.st AS HUGEINT) * s.st)"
                       " * (CAST(s.n AS HUGEINT) * seq.y - s.sy)"
                       " - (CAST(s.n AS HUGEINT) * s.sty"
                       "    - CAST(s.st AS HUGEINT) * s.sy)"
                       " * (CAST(s.n AS HUGEINT) * seq.t - s.st)")}
                   / {wide("CAST(s.n AS HUGEINT)"
                           " * (CAST(s.n AS HUGEINT) * s.stt"
                           "    - CAST(s.st AS HUGEINT) * s.st)")}
                   AS e
          FROM seq, s
        ),
        f AS (
          SELECT MAX(n) AS n, MAX(st) AS st, MAX(stt) AS stt,
                 {fold_sorted_sql("list(e * e)")} AS su,
                 {fold_sorted_sql("list(t * e * e)")} AS stu,
                 {fold_sorted_sql("list(e * e * e * e)")} AS suu
          FROM r
        )
        SELECT n AS n_days,
               CASE WHEN n < 3
                      OR CAST(n AS HUGEINT) * stt
                         - CAST(st AS HUGEINT) * st = 0
                      OR n * suu - su * su <= 0 THEN NULL
                 ELSE n * (n * stu - st * su) * (n * stu - st * su)
                   / ({wide("CAST(n AS HUGEINT) * stt"
                            " - CAST(st AS HUGEINT) * st")}
                      * (n * suu - su * su))
               END AS bp_stat,
               CAST(1 AS BIGINT) AS df
        FROM f
    """,
    doc="Breusch-Pagan heteroskedasticity test on the daily-revenue "
        "trend: regress the SQUARED residuals of the OLS fit "
        "(revenue cents on the observed-day index) back on the day "
        "index; BP = n*R^2 of that auxiliary regression, large when "
        "residual variance grows or shrinks with time — exactly the "
        "condition that invalidates the trend's homoskedastic "
        "standard errors. Sufficient statistics are exact "
        "(DECIMAL(38,0)/HUGEINT); each residual is ONE string-route "
        "division of an exact integer numerator, and every "
        "double-term sum (u, t*u, u^2) folds sorted from a 0.0 seed "
        "— bit-identical on both engines. NULL when the fit is "
        "degenerate (n<3, zero regressor variance, or a perfect "
        "fit). Plan: one map-side-combinable daily aggregate, "
        "bounded-panel windows/folds, 1-row panel out.",
    tags=("staged", "statistics", "timeseries"),
)
def breusch_pagan_daily_trend(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    seq = _spark_daily_t(spark, sf_dir)
    s = seq.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.expr("CAST(SUM(t * t) AS BIGINT)").alias("stt"),
        F.sum("y").cast("long").alias("sy"),
        F.expr("SUM(CAST(t AS DECIMAL(38,0)) * y)").alias("sty"))
    e_num = ("(CAST(n AS DECIMAL(38,0)) * stt"
             " - CAST(st AS DECIMAL(38,0)) * st)"
             " * (CAST(n AS DECIMAL(38,0)) * y - sy)"
             " - (CAST(n AS DECIMAL(38,0)) * sty"
             "    - CAST(st AS DECIMAL(38,0)) * sy)"
             " * (CAST(n AS DECIMAL(38,0)) * t - st)")
    e_den = ("CAST(n AS DECIMAL(38,0))"
             " * (CAST(n AS DECIMAL(38,0)) * stt"
             "    - CAST(st AS DECIMAL(38,0)) * st)")
    r = (seq.crossJoin(F.broadcast(s))
         .selectExpr("t", "n", "st", "stt",
                     f"{wide(e_num)} / {wide(e_den)} AS e"))
    f = r.agg(
        F.max("n").alias("n"), F.max("st").alias("st"),
        F.max("stt").alias("stt"),
        F.expr(fold_sorted_spark("collect_list(e * e)")).alias("su"),
        F.expr(fold_sorted_spark("collect_list(t * e * e)")).alias("stu"),
        F.expr(fold_sorted_spark("collect_list(e * e * e * e)")).alias("suu"))
    d_wide = wide("CAST(n AS DECIMAL(38,0)) * stt"
                  " - CAST(st AS DECIMAL(38,0)) * st")
    return f.selectExpr(
        "n AS n_days",
        "CASE WHEN n < 3"
        " OR CAST(n AS DECIMAL(38,0)) * stt"
        "    - CAST(st AS DECIMAL(38,0)) * st = 0"
        " OR n * suu - su * su <= 0 THEN NULL"
        " ELSE n * (n * stu - st * su) * (n * stu - st * su)"
        f" / ({d_wide} * (n * suu - su * su)) END AS bp_stat",
        "CAST(1 AS BIGINT) AS df")


# ---------------------------------------------------------------------
# Chow structural-break test at mid-sample (t <= n/2 vs t > n/2).
#
# Per segment (and pooled): RSS = (A - B^2/C) / ns with
# A = ns*Syy - Sy^2, B = ns*Sty - St*Sy, C = ns*Stt - St^2 (exact
# DECIMAL integers, string-routed once). F = ((RSS_p - RSS1 - RSS2)/2)
# / ((RSS1 + RSS2)/(n - 4)).

_CHOW_SEGS = (("p", "TRUE"), ("a", "2 * t <= n"), ("b", "2 * t > n"))


def _chow_rss(tag: str) -> str:
    """RSS of segment `tag` from its exact integer moment columns."""
    a = wide(f"n_{tag} * syy_{tag} - sy_{tag} * sy_{tag}")
    b = wide(f"n_{tag} * sty_{tag} - st_{tag} * sy_{tag}")
    c = f"n_{tag} * stt_{tag} - st_{tag} * st_{tag}"
    return (f"CASE WHEN {c} = 0 THEN NULL ELSE"
            f" ({a} - {b} * {b} / {wide(c)})"
            f" / CAST(n_{tag} AS DOUBLE) END")


def _chow_moments_sql(tag: str, cond: str, big: str) -> str:
    return (f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_{tag},"
            f" CAST(SUM(CASE WHEN {cond} THEN t ELSE 0 END) AS BIGINT)"
            f" AS st_{tag},"
            f" SUM(CASE WHEN {cond} THEN CAST(t AS {big}) * t"
            f" ELSE 0 END) AS stt_{tag},"
            f" SUM(CASE WHEN {cond} THEN CAST(y AS {big}) ELSE 0 END)"
            f" AS sy_{tag},"
            f" SUM(CASE WHEN {cond} THEN CAST(t AS {big}) * y"
            f" ELSE 0 END) AS sty_{tag},"
            f" SUM(CASE WHEN {cond} THEN CAST(y AS {big}) * y"
            f" ELSE 0 END) AS syy_{tag}")


@staged_query(
    "chow_break_test_daily",
    oracle=f"""
        WITH {_SQL_DAILY_T},
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM seq),
        m AS (
          SELECT {", ".join(_chow_moments_sql(tag, cond, "HUGEINT")
                            for tag, cond in _CHOW_SEGS)}
          FROM seq, nn
        ),
        rss AS (
          SELECT n_p AS n_days, n_a, n_b,
                 {_chow_rss('p')} AS rss_p,
                 {_chow_rss('a')} AS rss_a,
                 {_chow_rss('b')} AS rss_b
          FROM m
        )
        SELECT n_days, n_a AS n_first, n_b AS n_second,
               rss_p AS rss_pooled,
               CASE WHEN n_a < 3 OR n_b < 3 OR n_days < 7
                      OR rss_a IS NULL OR rss_b IS NULL
                      OR rss_p IS NULL OR rss_a + rss_b <= 0 THEN NULL
                 ELSE ((rss_p - rss_a - rss_b) / 2.0)
                   / ((rss_a + rss_b) / CAST(n_days - 4 AS DOUBLE))
               END AS chow_f
        FROM rss
    """,
    doc="Chow test for a structural break in the daily-revenue trend "
        "at mid-sample: fit the OLS line pooled and separately on the "
        "first/second half of the observed-day sequence, and compare "
        "residual sums of squares — F large when the intercept/slope "
        "CHANGED, the confirmatory parametric complement to the "
        "registered pettitt_changepoint / cusum detectors (which "
        "locate a shift, Chow quantifies the fit improvement of "
        "admitting one). Each segment's RSS comes from exact "
        "DECIMAL(38,0)/HUGEINT moments (A - B^2/C scaled by 1/ns) "
        "with string-route casts and IEEE-exact scalar arithmetic — "
        "no folded double accumulation at all. NULL when a segment "
        "is too short (<3), the panel is shorter than 7 days, a "
        "segment fit is degenerate, or the halves fit perfectly. "
        "Plan: one daily aggregate, one bounded row_number window, "
        "ONE conditional-sum pass building all 18 moments, 1-row "
        "panel out.",
    tags=("staged", "statistics", "timeseries"),
)
def chow_break_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = _spark_daily_t(spark, sf_dir)
    nn = seq.agg(F.count(F.lit(1)).cast("long").alias("n"))
    moment_cols = []
    for tag, cond in _CHOW_SEGS:
        moment_cols += [
            F.expr(f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END)"
                   f" AS BIGINT)").alias(f"n_{tag}"),
            F.expr(f"CAST(SUM(CASE WHEN {cond} THEN t ELSE 0 END)"
                   f" AS BIGINT)").alias(f"st_{tag}"),
            F.expr(f"SUM(CASE WHEN {cond} THEN"
                   f" CAST(t AS DECIMAL(38,0)) * t ELSE 0 END)")
             .alias(f"stt_{tag}"),
            F.expr(f"SUM(CASE WHEN {cond} THEN"
                   f" CAST(y AS DECIMAL(38,0)) ELSE 0 END)")
             .alias(f"sy_{tag}"),
            F.expr(f"SUM(CASE WHEN {cond} THEN"
                   f" CAST(t AS DECIMAL(38,0)) * y ELSE 0 END)")
             .alias(f"sty_{tag}"),
            F.expr(f"SUM(CASE WHEN {cond} THEN"
                   f" CAST(y AS DECIMAL(38,0)) * y ELSE 0 END)")
             .alias(f"syy_{tag}"),
        ]
    m = (seq.crossJoin(F.broadcast(nn))
         .selectExpr("t", "y", "n")
         .agg(*moment_cols))
    rss = m.selectExpr(
        "n_p AS n_days", "n_a", "n_b",
        f"{_chow_rss('p')} AS rss_p",
        f"{_chow_rss('a')} AS rss_a",
        f"{_chow_rss('b')} AS rss_b")
    return rss.selectExpr(
        "n_days", "n_a AS n_first", "n_b AS n_second",
        "rss_p AS rss_pooled",
        "CASE WHEN n_a < 3 OR n_b < 3 OR n_days < 7"
        " OR rss_a IS NULL OR rss_b IS NULL OR rss_p IS NULL"
        " OR rss_a + rss_b <= 0 THEN NULL"
        " ELSE ((rss_p - rss_a - rss_b) / CAST(2 AS DOUBLE))"
        " / ((rss_a + rss_b) / CAST(n_days - 4 AS DOUBLE)) END"
        " AS chow_f")


# ---------------------------------------------------------------------
# OLS influence diagnostics: leverage + Cook's distance, top-5 days.


@staged_query(
    "ols_influence_diagnostics_daily",
    oracle=f"""
        WITH {_SQL_DAILY_T},
        s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(t) AS BIGINT) AS st,
                 CAST(SUM(t * t) AS BIGINT) AS stt,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 SUM(CAST(t AS HUGEINT) * y) AS sty
          FROM seq
        ),
        r AS (
          SELECT seq.x, seq.t, s.n,
                 {wide("(CAST(s.n AS HUGEINT) * s.stt - "
                       "CAST(s.st AS HUGEINT) * s.st)"
                       " * (CAST(s.n AS HUGEINT) * seq.y - s.sy)"
                       " - (CAST(s.n AS HUGEINT) * s.sty"
                       "    - CAST(s.st AS HUGEINT) * s.sy)"
                       " * (CAST(s.n AS HUGEINT) * seq.t - s.st)")}
                   / {wide("CAST(s.n AS HUGEINT)"
                           " * (CAST(s.n AS HUGEINT) * s.stt"
                           "    - CAST(s.st AS HUGEINT) * s.st)")}
                   AS e,
                 CAST(1 AS DOUBLE) / s.n
                   + {wide("(CAST(s.n AS HUGEINT) * seq.t - s.st)"
                           " * (CAST(s.n AS HUGEINT) * seq.t"
                           "    - s.st)")}
                     / (CAST(s.n AS DOUBLE)
                        * {wide("CAST(s.n AS HUGEINT) * s.stt"
                                " - CAST(s.st AS HUGEINT) * s.st")})
                   AS h
          FROM seq, s
          WHERE CAST(s.n AS HUGEINT) * s.stt
                - CAST(s.st AS HUGEINT) * s.st > 0 AND s.n > 2
        ),
        s2 AS (
          SELECT {fold_sorted_sql("list(e * e)")} AS sse, MAX(n) AS n FROM r
        )
        SELECT CAST(DATE '1970-01-01' + CAST(r.x AS INTEGER)
                    AS TIMESTAMP) AS day,
               r.e AS resid, r.h AS leverage,
               CASE WHEN s2.sse <= 0 OR r.h >= 1 THEN NULL
                 ELSE r.e * r.e * r.h
                   / (2.0 * (s2.sse / (s2.n - 2))
                      * (1 - r.h) * (1 - r.h))
               END AS cooks_d
        FROM r, s2
        ORDER BY cooks_d DESC NULLS LAST, day
        LIMIT 5
    """,
    doc="OLS influence diagnostics for the daily-revenue trend: "
        "leverage h_i = 1/n + (t_i - tbar)^2 / S_tt and Cook's "
        "distance D_i = e_i^2 h_i / (k s^2 (1-h_i)^2), reporting the "
        "5 most influential days — WHICH observations move the "
        "fitted line, the observation-level audit that the "
        "registered grubbs/dixon value-outlier tests (which ignore "
        "the fit) cannot give. Leverage is an exact rational of "
        "integer sums string-routed once; residuals are ONE exact-"
        "numerator division each; the SSE folds sorted; Cook's D is "
        "IEEE-exact scalar arithmetic on those. Ties in D break by "
        "day, so the LIMIT is deterministic. NULL Cook's D on a "
        "perfect fit. Plan: one daily aggregate, bounded-panel "
        "window + folds, top-5 of a calendar-bounded panel.",
    tags=("staged", "statistics", "timeseries"),
)
def ols_influence_diagnostics_daily(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    seq = _spark_daily_t(spark, sf_dir)
    s = seq.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.expr("CAST(SUM(t * t) AS BIGINT)").alias("stt"),
        F.sum("y").cast("long").alias("sy"),
        F.expr("SUM(CAST(t AS DECIMAL(38,0)) * y)").alias("sty"))
    dvar = ("CAST(n AS DECIMAL(38,0)) * stt"
            " - CAST(st AS DECIMAL(38,0)) * st")
    e_num = (f"({dvar}) * (CAST(n AS DECIMAL(38,0)) * y - sy)"
             " - (CAST(n AS DECIMAL(38,0)) * sty"
             "    - CAST(st AS DECIMAL(38,0)) * sy)"
             " * (CAST(n AS DECIMAL(38,0)) * t - st)")
    lev_num = wide("(CAST(n AS DECIMAL(38,0)) * t - st)"
                   " * (CAST(n AS DECIMAL(38,0)) * t - st)")
    r = (seq.crossJoin(F.broadcast(s))
         .where(F.expr(f"({dvar}) > 0 AND n > 2"))
         .selectExpr(
             "x",
             f"{wide(e_num)}"
             f" / {wide(f'CAST(n AS DECIMAL(38,0)) * ({dvar})')} AS e",
             f"CAST(1 AS DOUBLE) / n + {lev_num}"
             f" / (CAST(n AS DOUBLE) * {wide(dvar)}) AS h"))
    # r is referenced twice (SSE panel + final projection) but NOT
    # checkpointed: seq below it already is, so the recompute is
    # panel-sized, and a checkpoint here would hide the interior
    # broadcast joins and windows from the plan gates (round-6 rule).
    # the degeneracy WHERE is a broadcast-scalar predicate: r is either
    # empty or the full panel, so count(r) == n of the regression
    s2 = r.agg(F.expr(fold_sorted_spark("collect_list(e * e)")).alias("sse"),
               F.count(F.lit(1)).cast("long").alias("n"))
    return (r.crossJoin(F.broadcast(s2))
            .selectExpr(
                "CAST(date_add(DATE '1970-01-01', CAST(x AS INT))"
                " AS TIMESTAMP) AS day",
                "e AS resid", "h AS leverage",
                "CASE WHEN sse <= 0 OR h >= 1 THEN NULL"
                " ELSE e * e * h / (CAST(2 AS DOUBLE)"
                " * (sse / (n - 2)) * (1 - h) * (1 - h)) END"
                " AS cooks_d")
            .orderBy(F.col("cooks_d").desc_nulls_last(), "day")
            .limit(5))


# ---------------------------------------------------------------------
# KPSS level-stationarity statistic (zero-lag short-run variance).
#
#   eta = sum_t S_t^2 / (n^2 * sigma^2),  S_t = partial sums of
#   demeaned y. n-scaled exact: A = sum (n*PS_t - t*Sy)^2,
#   B = sum (n*y_i - Sy)^2  ->  eta = A / (n * B).


@staged_query(
    "kpss_level_stationarity_daily",
    oracle=f"""
        WITH {_SQL_DAILY_T},
        ps AS (
          SELECT t, y,
                 CAST(SUM(y) OVER (ORDER BY t) AS BIGINT) AS psum
          FROM seq
        ),
        s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(y) AS BIGINT) AS sy
          FROM seq
        ),
        agg AS (
          SELECT s.n,
                 SUM((CAST(s.n AS HUGEINT) * ps.psum - ps.t * s.sy)
                     * (CAST(s.n AS HUGEINT) * ps.psum
                        - ps.t * s.sy)) AS a,
                 SUM((CAST(s.n AS HUGEINT) * ps.y - s.sy)
                     * (CAST(s.n AS HUGEINT) * ps.y - s.sy)) AS b
          FROM ps, s
          GROUP BY s.n
        )
        SELECT n AS n_days,
               CASE WHEN b = 0 THEN NULL
                 ELSE {wide('a')} / (CAST(n AS DOUBLE) * {wide('b')})
               END AS kpss_eta
        FROM agg
    """,
    doc="KPSS level-stationarity statistic for daily revenue: the "
        "normalized variance of the partial sums of the demeaned "
        "series, eta = sum S_t^2 / (n^2 sigma^2) with the zero-lag "
        "short-run variance (documented estimator choice) — large "
        "when shocks ACCUMULATE (unit root / level drift), the "
        "null-reversal complement to the registered mann_kendall / "
        "cox_stuart trend tests (stationarity is the null here, not "
        "the alternative). The n-scaled form keeps everything an "
        "exact integer: A = sum(n*PS_t - t*Sy)^2 and "
        "B = sum(n*y - Sy)^2 in HUGEINT/DECIMAL(38,0), then "
        "eta = A/(n*B) via string-route casts and ONE division. NULL "
        "on a constant series. Plan: one daily aggregate, one "
        "running-sum window over the calendar-bounded panel, 1-row "
        "out.",
    tags=("staged", "statistics", "timeseries"),
)
def kpss_level_stationarity_daily(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    seq = _spark_daily_t(spark, sf_dir)
    cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    ps = seq.select("t", "y",
                    F.sum("y").over(cum).cast("long").alias("psum"))
    s = seq.agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("y").cast("long").alias("sy"))
    agg = (ps.crossJoin(F.broadcast(s))
           .groupBy("n")
           .agg(F.expr("SUM((CAST(n AS DECIMAL(38,0)) * psum - t * sy)"
                       " * (CAST(n AS DECIMAL(38,0)) * psum"
                       "    - t * sy))").alias("a"),
                F.expr("SUM((CAST(n AS DECIMAL(38,0)) * y - sy)"
                       " * (CAST(n AS DECIMAL(38,0)) * y - sy))")
                 .alias("b")))
    return agg.selectExpr(
        "n AS n_days",
        f"CASE WHEN b = 0 THEN NULL ELSE {wide('a')}"
        f" / (CAST(n AS DOUBLE) * {wide('b')}) END AS kpss_eta")


# ---------------------------------------------------------------------
# Lo-MacKinlay variance ratio at the weekly horizon (q = 7).

_VR_Q = 7


@staged_query(
    "variance_ratio_daily_revenue",
    oracle=f"""
        WITH {_SQL_DAILY_T},
        d AS (
          SELECT t,
                 y - LAG(y, 1) OVER (ORDER BY t) AS d1,
                 y - LAG(y, {_VR_Q}) OVER (ORDER BY t) AS dq
          FROM seq
        ),
        s AS (
          SELECT CAST(COUNT(d1) AS BIGINT) AS m1,
                 CAST(SUM(d1) AS BIGINT) AS s1,
                 SUM(CAST(d1 AS HUGEINT) * d1) AS ss1,
                 CAST(COUNT(dq) AS BIGINT) AS mq,
                 CAST(SUM(dq) AS BIGINT) AS sq,
                 SUM(CAST(dq AS HUGEINT) * dq) AS ssq
          FROM d
        )
        SELECT m1 AS n_diffs, mq AS n_qdiffs,
               CASE WHEN mq < 2 OR m1 < 2
                      OR m1 * ss1 - CAST(s1 AS HUGEINT) * s1 = 0
                      THEN NULL
                 ELSE {wide("(mq * ssq - CAST(sq AS HUGEINT) * sq)"
                            " * m1 * m1")}
                   / ({_VR_Q}.0
                      * {wide("(m1 * ss1 - CAST(s1 AS HUGEINT) * s1)"
                              " * mq * mq")})
               END AS vr_stat
        FROM s
    """,
    doc=f"Lo-MacKinlay variance ratio of daily revenue at the weekly "
        f"horizon q={_VR_Q}: the population variance of overlapping "
        f"{_VR_Q}-step differences over {_VR_Q}x the variance of "
        "1-step differences — 1 under a random walk, >1 when daily "
        "shocks REINFORCE across the week (trending), <1 when they "
        "mean-revert; the horizon-specific complement to the "
        "registered autocorr/rescaled-range diagnostics. Differences "
        "are taken on the observed-day sequence (gaps compress out, "
        "documented); both variances are exact integer rationals "
        "(m*SS - S^2 in HUGEINT/DECIMAL(38,0)), combined in ONE "
        "string-route division with the exact m1^2/mq^2 "
        "normalization. NULL when either difference series is "
        "degenerate. Plan: one daily aggregate, two lag windows over "
        "the calendar-bounded panel, 1-row out.",
    tags=("staged", "statistics", "timeseries"),
)
def variance_ratio_daily_revenue(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    seq = _spark_daily_t(spark, sf_dir)
    w = Window.orderBy("t")
    d = seq.select(
        (F.col("y") - F.lag("y", 1).over(w)).alias("d1"),
        (F.col("y") - F.lag("y", _VR_Q).over(w)).alias("dq"))
    s = d.agg(
        F.count("d1").cast("long").alias("m1"),
        F.sum("d1").cast("long").alias("s1"),
        F.expr("SUM(CAST(d1 AS DECIMAL(38,0)) * d1)").alias("ss1"),
        F.count("dq").cast("long").alias("mq"),
        F.sum("dq").cast("long").alias("sq"),
        F.expr("SUM(CAST(dq AS DECIMAL(38,0)) * dq)").alias("ssq"))
    num = wide("(mq * ssq - CAST(sq AS DECIMAL(38,0)) * sq)"
               " * m1 * m1")
    den = wide("(m1 * ss1 - CAST(s1 AS DECIMAL(38,0)) * s1)"
               " * mq * mq")
    return s.selectExpr(
        "m1 AS n_diffs", "mq AS n_qdiffs",
        "CASE WHEN mq < 2 OR m1 < 2"
        " OR m1 * ss1 - CAST(s1 AS DECIMAL(38,0)) * s1 = 0 THEN NULL"
        f" ELSE {num} / (CAST({_VR_Q} AS DOUBLE) * {den})"
        " END AS vr_stat")
