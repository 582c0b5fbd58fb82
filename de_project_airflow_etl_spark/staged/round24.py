"""Round-24 staged bank: three exact-arithmetic tests completing the
rank-inference families — the Brunner-Munzel generalized Wilcoxon
(the rank test that stays valid under UNEQUAL variances/shapes, where
Mann-Whitney's null breaks), Cochran's Q for k related binary
outcomes (did each user purchase in week 1..k — the repeated-measures
extension of McNemar), and the Bartels rank von Neumann ratio (the
rank-based serial-randomness test — the locally-most-powerful rank
complement to round-21's runs test).

Exactness: pooled AND within-group 2x integer midranks from one
distinct-cents cell cumulation (Brunner-Munzel's squared deviations
stay integer after multiplying through by 2*n_g), pure-integer
contingency sums for Q, and 4x-integer rank differences for the von
Neumann ratio; doubles only in the final closed-form moments.
Statistic definitions follow the classical publications (Brunner &
Munzel 2000; Cochran 1950; Bartels 1982).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import cents, sql_cents, wide
from de_project_airflow_etl_spark.staged import staged_query
from de_project_airflow_etl_spark.tables import load

_WKND_SPARK = "CASE WHEN (dayofweek(ts) - 1) IN (0, 6) THEN 1 ELSE 0 END"
_WKND_SQL = "CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END"

_SQL_DAILY = """
        daily AS (
          SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   AS x,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1
        )"""


# ---------------------------------------------------------------------
# Brunner-Munzel test: weekend vs weekday event values.
#
# Per distinct-cents cell: pooled 2x midrank m2 = 2*cum(t) + t + 1 and
# within-group 2x midranks m2g = 2*cum(t_g) + t_g + 1. The squared
# deviation term of group g, multiplied through by 2*n_g, is the
# INTEGER U_g = n_g*(m2 - m2g) - S2_g + n_g*(n_g + 1), where S2_g =
# sum(t_g * m2) is the group's pooled 2x rank sum. Then
#   S_g^2 = sum(t_g * U_g^2) / (4 n_g^2 (n_g - 1))
#   W = (n1*S2_2 - n2*S2_1) / (N * sqrt(sum_t1U1^2/(n1(n1-1))
#                                       + sum_t2U2^2/(n2(n2-1))))
#   p_hat = (S2_2 - n2*(n2+1)) / (2 n1 n2)   (P(X < Y) + .5 P(X = Y))

_BM_CELLS_SQL = f"""
        e AS (
          SELECT {_WKND_SQL} AS wknd, {sql_cents("value")} AS c FROM events
        ),
        cells AS (
          SELECT c, CAST(SUM(wknd) AS BIGINT) AS t1,
                 CAST(SUM(1 - wknd) AS BIGINT) AS t2
          FROM e GROUP BY c
        ),
        cum AS (
          SELECT c, t1, t2,
                 2 * COALESCE(SUM(t1 + t2) OVER w, 0) + t1 + t2 + 1
                   AS m2,
                 2 * COALESCE(SUM(t1) OVER w, 0) + t1 + 1 AS m2g1,
                 2 * COALESCE(SUM(t2) OVER w, 0) + t2 + 1 AS m2g2
          FROM cells
          WINDOW w AS (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING)
        ),
        tot AS (
          SELECT CAST(SUM(t1) AS BIGINT) AS n1,
                 CAST(SUM(t2) AS BIGINT) AS n2,
                 CAST(SUM(t1 * m2) AS BIGINT) AS s21,
                 CAST(SUM(t2 * m2) AS BIGINT) AS s22
          FROM cum
        ),
        dev AS (
          SELECT CAST(SUM(CAST(t1 AS HUGEINT)
                   * (n1 * (m2 - m2g1) - s21 + n1 * (n1 + 1))
                   * (n1 * (m2 - m2g1) - s21 + n1 * (n1 + 1)))
                 AS DECIMAL(38,0)) AS u1sq,
                 CAST(SUM(CAST(t2 AS HUGEINT)
                   * (n2 * (m2 - m2g2) - s22 + n2 * (n2 + 1))
                   * (n2 * (m2 - m2g2) - s22 + n2 * (n2 + 1)))
                 AS DECIMAL(38,0)) AS u2sq,
                 MAX(n1) AS n1, MAX(n2) AS n2,
                 MAX(s21) AS s21, MAX(s22) AS s22
          FROM cum CROSS JOIN tot
        )"""


@staged_query(
    "brunner_munzel_weekend",
    oracle=f"""
        WITH {_BM_CELLS_SQL}
        SELECT n1 AS n_weekend, n2 AS n_weekday,
               CAST(s22 - n2 * (n2 + 1) AS DOUBLE)
                 / (2 * CAST(n1 AS DOUBLE) * n2) AS p_hat,
               (CAST(n1 AS DOUBLE) * s22 - CAST(n2 AS DOUBLE) * s21)
               / ((n1 + n2)
                  * SQRT({wide('u1sq')}
                           / (CAST(n1 AS DOUBLE) * (n1 - 1))
                         + {wide('u2sq')}
                           / (CAST(n2 AS DOUBLE) * (n2 - 1))))
                 AS w_bm
        FROM dev
    """,
    doc="Brunner-Munzel generalized Wilcoxon test for the weekend-vs-"
        "weekday value contrast: tests P(X < Y) + 0.5 P(X = Y) = 1/2 "
        "WITHOUT Mann-Whitney's equal-variance assumption (under "
        "unequal spreads the Wilcoxon null distribution is wrong even "
        "when medians agree — the Behrens-Fisher problem in ranks). "
        "Pooled and within-group 2x integer midranks come from ONE "
        "cumulation over the distinct-cents cells; the squared "
        "deviation terms multiply through by 2*n_g to the integer "
        "U_g = n_g(m2 - m2g) - S2_g + n_g(n_g+1), accumulated as "
        "t_g * U_g^2 in HUGEINT/DECIMAL(38,0) (~1e31 at sf0.1; the "
        "1e38 cap binds only past ~1e9 rows per arm — at that scale "
        "the terms convert to the recorded sorted-fold double "
        "reduction); the statistic and p_hat are closed-form doubles "
        "of five exact integers. Plan: one map-side-combinable cell "
        "aggregate over the scan, one bounded cumulation window, one "
        "row out.",
    tags=("staged", "statistics"),
)
def brunner_munzel_weekend(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").selectExpr(
        f"{_WKND_SPARK} AS wknd", f"{sql_cents('value')} AS c")
    cells = e.groupBy("c").agg(
        F.sum("wknd").cast("long").alias("t1"),
        F.sum(1 - F.col("wknd")).cast("long").alias("t2"))
    cells = cells.localCheckpoint()  # bounded; feeds cum AND tot
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    cum = cells.select(
        "c", "t1", "t2",
        (2 * F.coalesce(F.sum(F.col("t1") + F.col("t2")).over(w),
                        F.lit(0))
         + F.col("t1") + F.col("t2") + 1).alias("m2"),
        (2 * F.coalesce(F.sum("t1").over(w), F.lit(0))
         + F.col("t1") + 1).alias("m2g1"),
        (2 * F.coalesce(F.sum("t2").over(w), F.lit(0))
         + F.col("t2") + 1).alias("m2g2"))
    tot = cum.agg(
        F.sum("t1").cast("long").alias("n1"),
        F.sum("t2").cast("long").alias("n2"),
        F.expr("CAST(SUM(t1 * m2) AS BIGINT)").alias("s21"),
        F.expr("CAST(SUM(t2 * m2) AS BIGINT)").alias("s22"))
    dev = (cum.crossJoin(F.broadcast(tot))
              .agg(F.expr(
                  "CAST(SUM(CAST(t1 AS DECIMAL(38,0))"
                  " * (n1 * (m2 - m2g1) - s21 + n1 * (n1 + 1))"
                  " * (n1 * (m2 - m2g1) - s21 + n1 * (n1 + 1)))"
                  " AS DECIMAL(38,0))").alias("u1sq"),
                  F.expr(
                  "CAST(SUM(CAST(t2 AS DECIMAL(38,0))"
                  " * (n2 * (m2 - m2g2) - s22 + n2 * (n2 + 1))"
                  " * (n2 * (m2 - m2g2) - s22 + n2 * (n2 + 1)))"
                  " AS DECIMAL(38,0))").alias("u2sq"),
                  F.max("n1").alias("n1"), F.max("n2").alias("n2"),
                  F.max("s21").alias("s21"), F.max("s22").alias("s22")))
    return dev.selectExpr(
        "n1 AS n_weekend", "n2 AS n_weekday",
        "CAST(s22 - n2 * (n2 + 1) AS DOUBLE)"
        " / (2 * CAST(n1 AS DOUBLE) * n2) AS p_hat",
        "(CAST(n1 AS DOUBLE) * s22 - CAST(n2 AS DOUBLE) * s21)"
        " / ((n1 + n2)"
        f" * SQRT({wide('u1sq')}"
        " / (CAST(n1 AS DOUBLE) * (n1 - 1))"
        f" + {wide('u2sq')}"
        " / (CAST(n2 AS DOUBLE) * (n2 - 1))))"
        " AS w_bm")


# ---------------------------------------------------------------------
# Cochran's Q: does the purchase propensity differ across the k
# complete epoch-weeks? One binary flag per (user, week).


@staged_query(
    "cochrans_q_weekly_purchase",
    oracle=f"""
        WITH {_SQL_DAILY},
        span AS (
          SELECT MIN(x) AS lo, MAX(x) AS hi FROM daily
        ),
        weeks AS (
          SELECT wk FROM (
            SELECT DISTINCT x // 7 AS wk FROM daily
          ) w, span
          WHERE wk * 7 >= span.lo AND wk * 7 + 6 <= span.hi
        ),
        u AS (
          SELECT user_id,
                 date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   // 7 AS wk,
                 MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                     END) AS flag
          FROM events
          GROUP BY 1, 2
        ),
        uw AS (
          SELECT u.user_id, u.wk, u.flag
          FROM u JOIN weeks w ON w.wk = u.wk
        ),
        rows_ AS (
          SELECT user_id, CAST(SUM(flag) AS BIGINT) AS r
          FROM uw GROUP BY user_id
        ),
        cols AS (
          SELECT wk, CAST(SUM(flag) AS BIGINT) AS cj
          FROM uw GROUP BY wk
        ),
        agg AS (
          SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM weeks) AS k,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM rows_)
                   AS n_users,
                 (SELECT CAST(SUM(cj * cj) AS BIGINT) FROM cols)
                   AS sum_cj2,
                 (SELECT CAST(SUM(r) AS BIGINT) FROM rows_) AS t,
                 (SELECT CAST(SUM(r * r) AS BIGINT) FROM rows_)
                   AS sum_r2
        )
        SELECT n_users, k AS k_weeks, k - 1 AS df,
               CASE WHEN k * t - sum_r2 = 0 THEN CAST(NULL AS DOUBLE)
                    ELSE CAST((k - 1) * (k * sum_cj2 - t * t)
                              AS DOUBLE) / (k * t - sum_r2)
               END AS q_stat
        FROM agg
    """,
    doc="Cochran's Q test of whether purchase propensity differs "
        "across the k complete epoch-weeks of the corpus: each user "
        "contributes one binary did-purchase flag per week, and Q = "
        "(k-1)(k*sum Cj^2 - T^2) / (kT - sum Ri^2) — the repeated-"
        "measures extension of McNemar (registered) to k > 2 matched "
        "binary treatments, chi-square with k-1 df under exchange-"
        "ability. Zero flags contribute nothing to T, sum Cj^2 or "
        "sum Ri^2, so the zero-filled user x week grid is never "
        "materialized: one EQUI-join of the (user, week) flag "
        "aggregate onto the broadcast week spine (hash join, no "
        "nested loop) yields the identical statistic; n_users counts "
        "users with at least one event inside a complete week. "
        "Complete weeks gate on the daily span (wk*7 >= min_x AND "
        "wk*7+6 <= max_x) — exact integers from one rollup. Q is an "
        "exact integer rational with one double division (NULL on "
        "the degenerate all-identical-rows input). Plan: one "
        "user-week aggregate (the only corpus-scale work), bounded "
        "week-spine broadcast join, one row out.",
    tags=("staged", "statistics"),
)
def cochrans_q_weekly_purchase(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    daily = (load(spark, sf_dir, "events")
             .groupBy(F.datediff(F.to_date("ts"),
                                 F.lit("1970-01-01")).alias("x"))
             .agg(F.count(F.lit(1)).alias("nev"))
             .localCheckpoint())  # calendar-bounded; 2 consumers
    span = daily.agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    # distinct AFTER the span filter so the broadcast build's plan
    # root is an Aggregate — provably bounded for the BNLJ gate
    weeks = (daily.selectExpr("x div 7 AS wk")
                  .crossJoin(F.broadcast(span))
                  .filter("wk * 7 >= lo AND wk * 7 + 6 <= hi")
                  .select("wk").distinct())
    u = (load(spark, sf_dir, "events")
         .selectExpr("user_id",
                     "datediff(to_date(ts), DATE '1970-01-01') div 7"
                     " AS wk",
                     "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0"
                     " END AS p")
         .groupBy("user_id", "wk")
         .agg(F.max("p").alias("flag")))
    # zero-filled grid cells contribute nothing to T, sum Cj^2 or
    # sum Ri^2, so an EQUI-join onto the week spine (broadcast hash,
    # never a nested loop) yields the identical statistic
    uw = u.join(F.broadcast(weeks), "wk")
    uw = uw.localCheckpoint()  # user-week flags; 2 consumers
    rows_ = uw.groupBy("user_id").agg(
        F.sum("flag").cast("long").alias("r"))
    cols = uw.groupBy("wk").agg(
        F.sum("flag").cast("long").alias("cj"))
    agg = (weeks.agg(F.count(F.lit(1)).cast("long").alias("k"))
           .crossJoin(F.broadcast(rows_.agg(
               F.count(F.lit(1)).cast("long").alias("n_users"),
               F.sum("r").cast("long").alias("t"),
               F.expr("CAST(SUM(r * r) AS BIGINT)").alias("sum_r2"))))
           .crossJoin(F.broadcast(cols.agg(
               F.expr("CAST(SUM(cj * cj) AS BIGINT)")
                .alias("sum_cj2")))))
    return agg.selectExpr(
        "n_users", "k AS k_weeks", "k - 1 AS df",
        "CASE WHEN k * t - sum_r2 = 0 THEN CAST(NULL AS DOUBLE)"
        " ELSE CAST((k - 1) * (k * sum_cj2 - t * t) AS DOUBLE)"
        " / (k * t - sum_r2) END AS q_stat")


# ---------------------------------------------------------------------
# Bartels rank von Neumann ratio: rank-based serial randomness of the
# daily revenue sequence.


@staged_query(
    "bartels_rank_von_neumann_daily",
    oracle=f"""
        WITH {_SQL_DAILY},
        r AS (
          SELECT x,
                 2 * RANK() OVER (ORDER BY cents)
                   + COUNT(*) OVER (PARTITION BY cents) - 1 AS m2
          FROM daily
        ),
        d AS (
          SELECT x, m2,
                 LEAD(m2) OVER (ORDER BY x) AS m2_next,
                 COUNT(*) OVER () AS n
          FROM r
        ),
        agg AS (
          SELECT CAST(MAX(n) AS BIGINT) AS n_days,
                 CAST(SUM(CASE WHEN m2_next IS NOT NULL THEN
                   (m2 - m2_next) * (m2 - m2_next) ELSE 0 END)
                   AS BIGINT) AS num4,
                 CAST(SUM((m2 - n - 1) * (m2 - n - 1)) AS BIGINT)
                   AS den4
          FROM d
        )
        SELECT n_days, num4, den4,
               CAST(num4 AS DOUBLE) / den4 AS rvn,
               (CAST(num4 AS DOUBLE) / den4 - 2)
               / SQRT(CAST(4 AS DOUBLE) * (n_days - 2)
                      * (5 * CAST(n_days AS DOUBLE) * n_days
                         - 2 * n_days - 9)
                      / (5 * CAST(n_days AS DOUBLE) * (n_days + 1)
                         * (n_days - 1) * (n_days - 1))) AS z_rvn
        FROM agg
    """,
    doc="Bartels rank von Neumann ratio for the daily revenue "
        "sequence: RVN = sum (R_i - R_{{i+1}})^2 / sum (R_i - "
        "Rbar)^2 on the daily midranks — the locally-most-powerful "
        "RANK test of serial randomness (Bartels 1982), sharper than "
        "round-21's runs test against smooth trends and the rank "
        "counterpart of the registered Durbin-Watson (which uses raw "
        "residuals). RVN near 2 = exchangeable; < 2 = positive serial "
        "dependence; > 2 = oscillation. 2x integer midranks make "
        "both quadratic forms exact BIGINTs (num4 = 4*numerator, "
        "den4 = 4*denominator — the 4s cancel in the ratio); "
        "classical no-tie moments E[RVN] = 2, Var = 4(n-2)(5n^2-2n-9)"
        "/(5n(n+1)(n-1)^2) in explicit double CASTs at emit. Plan: "
        "one map-side-combinable daily rollup (the only corpus-scale "
        "work), bounded rank/lag windows over the calendar-sized "
        "daily table, one row out.",
    tags=("staged", "statistics", "timeseries"),
)
def bartels_rank_von_neumann_daily(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    daily = (load(spark, sf_dir, "events")
             .groupBy(F.datediff(F.to_date("ts"),
                                 F.lit("1970-01-01")).alias("x"))
             .agg(F.sum(cents("value")).cast("long").alias("cents")))
    r = daily.select(
        "x",
        (2 * F.rank().over(Window.orderBy("cents"))
         + F.count(F.lit(1)).over(Window.partitionBy("cents")) - 1)
        .alias("m2"))
    d = r.select(
        "x", "m2",
        F.lead("m2").over(Window.orderBy("x")).alias("m2_next"),
        F.count(F.lit(1)).over(
            Window.partitionBy(F.lit(1))).alias("n"))
    agg = d.agg(
        F.max("n").cast("long").alias("n_days"),
        F.expr("CAST(SUM(CASE WHEN m2_next IS NOT NULL THEN"
               " (m2 - m2_next) * (m2 - m2_next) ELSE 0 END)"
               " AS BIGINT)").alias("num4"),
        F.expr("CAST(SUM((m2 - n - 1) * (m2 - n - 1)) AS BIGINT)")
         .alias("den4"))
    return agg.selectExpr(
        "n_days", "num4", "den4",
        "CAST(num4 AS DOUBLE) / den4 AS rvn",
        "(CAST(num4 AS DOUBLE) / den4 - 2)"
        " / SQRT(CAST(4 AS DOUBLE) * (n_days - 2)"
        " * (5 * CAST(n_days AS DOUBLE) * n_days - 2 * n_days - 9)"
        " / (5 * CAST(n_days AS DOUBLE) * (n_days + 1)"
        " * (n_days - 1) * (n_days - 1))) AS z_rvn")
