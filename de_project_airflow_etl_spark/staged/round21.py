"""Round-21 staged bank: five exact-arithmetic nonparametric tests
the registry does not yet carry — the Wald-Wolfowitz runs test
(randomness of the daily revenue sequence), Mood's squared-rank SCALE
test (the dispersion complement to the registered mood_median
location test), the two-sample ENERGY distance (Szekely's E-statistic
from exact pairwise |difference| sums, never a pair join), Hoeffding's
D dependence statistic (the rank-based independence test that detects
NON-monotone dependence Kendall/Spearman miss), and Page's L trend
test for ordered alternatives across blocked ranks (the ordered
counterpart of the registered Friedman/Kendall-W family).

All five follow the repo's exact-arithmetic contract: 2x integer
midranks from distinct-cents cell cumulations (never a raw-row rank),
DECIMAL(38,0) for accumulated products, doubles only in the final
closed-form moments, identical column aliases on both engines.
Reference semantics: the test-statistic definitions follow the
classical formulations (Wald & Wolfowitz 1940; Mood 1954; Szekely &
Rizzo 2004; Hoeffding 1948; Page 1963) as published — no external
code.

Same contract as every staged query (see staged/__init__.py):
``(spark, sf_dir) -> DataFrame`` plus an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import cents, sql_cents, wide
from de_project_airflow_etl_spark.staged import staged_query
from de_project_airflow_etl_spark.tables import load

_WKND_SPARK = "CASE WHEN (dayofweek(ts) - 1) IN (0, 6) THEN 1 ELSE 0 END"
_WKND_SQL = "CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END"

#: daily revenue rollup keyed by epoch-day (engine-free calendar
#: arithmetic) — the seasonal_mann_kendall / theil_sen precedent.
_SQL_DAILY = """
        daily AS (
          SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   AS x,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1
        )"""


def _spark_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cents rollup: the ONLY corpus-scale work in the daily
    tests below — one map-side-combinable aggregate, then everything
    downstream is calendar-bounded. localCheckpoint because every
    caller references it 2+ times (multi-consumer re-execution rule)."""
    return (load(spark, sf_dir, "events")
            .groupBy(F.datediff(F.to_date("ts"),
                                F.lit("1970-01-01")).alias("x"))
            .agg(F.sum(cents("value")).cast("long").alias("cents"))
            .localCheckpoint())


# ---------------------------------------------------------------------
# Wald-Wolfowitz runs test on the daily revenue sequence.


@staged_query(
    "wald_wolfowitz_runs_daily",
    oracle=f"""
        WITH {_SQL_DAILY},
        med AS (
          SELECT cents AS m
          FROM (SELECT cents,
                       ROW_NUMBER() OVER (ORDER BY cents) AS rn,
                       COUNT(*) OVER () AS nn
                FROM daily)
          WHERE rn = (nn + 1) // 2
        ),
        s AS (
          SELECT x, CASE WHEN cents > (SELECT m FROM med) THEN 1
                         ELSE -1 END AS sgn
          FROM daily WHERE cents <> (SELECT m FROM med)
        ),
        runs AS (
          SELECT sgn,
                 LAG(sgn) OVER (ORDER BY x) AS prev
          FROM s
        ),
        agg AS (
          SELECT CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_above,
                 CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_below,
                 CAST(1 + SUM(CASE WHEN prev IS NOT NULL
                                    AND sgn <> prev THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_runs
          FROM runs
        )
        SELECT n_above, n_below, n_runs,
               (n_runs - (CAST(2 * n_above * n_below AS DOUBLE)
                          / (n_above + n_below) + 1))
               / SQRT(CAST(2 * n_above * n_below
                           * (2 * n_above * n_below
                              - n_above - n_below) AS DOUBLE)
                      / (CAST(n_above + n_below AS DOUBLE)
                         * (n_above + n_below)
                         * (n_above + n_below - 1))) AS z_runs
        FROM agg
    """,
    doc="Wald-Wolfowitz runs test of the daily revenue sequence: "
        "days are classified above/below the LOWER MEDIAN of the "
        "daily cents (exact order statistic, ties-with-median days "
        "dropped — the classical dichotomization), and the number of "
        "runs of consecutive same-side days is compared to its "
        "exact null moments mu = 2ab/n + 1, var = 2ab(2ab-n)/"
        "(n^2(n-1)). A z near 0 means the sequence is exchangeable; "
        "too FEW runs = positive serial dependence (trends/regimes), "
        "too MANY = oscillation — the randomness gate that validates "
        "the iid assumption behind the registered bootstrap/control-"
        "chart queries. Counts stay BIGINT (a, b <= days, 2ab "
        "fits easily); one double division + sqrt at the end. Plan: "
        "ONE map-side-combinable daily rollup is the only corpus-"
        "scale work; the median, lag and run count act on the "
        "calendar-bounded daily table (lag window over an Aggregate "
        "subtree — the bounded-window shape the hazard audit "
        "accepts).",
    tags=("staged", "statistics", "timeseries"),
)
def wald_wolfowitz_runs_daily(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    daily = _spark_daily(spark, sf_dir)
    med = daily.selectExpr(
        "element_at(array_sort(collect_list(cents)),"
        " CAST((count(*) + 1) div 2 AS INT)) AS m")
    s = (daily.crossJoin(F.broadcast(med))
              .filter("cents <> m")
              .selectExpr("x", "CASE WHEN cents > m THEN 1 ELSE -1 END"
                          " AS sgn"))
    runs = s.select(
        "sgn", F.lag("sgn").over(Window.orderBy("x")).alias("prev"))
    agg = runs.agg(
        F.expr("CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)"
               " AS BIGINT)").alias("n_above"),
        F.expr("CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)"
               " AS BIGINT)").alias("n_below"),
        F.expr("CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND sgn <> prev"
               " THEN 1 ELSE 0 END) AS BIGINT)").alias("n_runs"))
    return agg.selectExpr(
        "n_above", "n_below", "n_runs",
        "(n_runs - (CAST(2 * n_above * n_below AS DOUBLE)"
        " / (n_above + n_below) + 1))"
        " / SQRT(CAST(2 * n_above * n_below * (2 * n_above * n_below"
        " - n_above - n_below) AS DOUBLE)"
        " / (CAST(n_above + n_below AS DOUBLE) * (n_above + n_below)"
        " * (n_above + n_below - 1))) AS z_runs")


# ---------------------------------------------------------------------
# Mood's squared-rank scale test: weekend vs weekday event values.
#
# Scores a(p) = (p - (N+1)/2)^2 on pooled midranks. With 2x integer
# midranks m2 (= 2*cum_before + t + 1 per distinct-cents cell, the
# cucconi construction) the score is ((m2 - N - 1)/2)^2, so
# 4*T = sum over weekend rows of (m2 - N - 1)^2 stays integer.
# Null moments (midrank scores, classical no-tie form): E[T] =
# n1(N^2-1)/12, Var[T] = n1 n2 (N+1)(N^2-4)/180.

_MOOD_T4 = ("SUM(CAST(n_we_c AS {w}) * (m2 - n - 1) * (m2 - n - 1))")


@staged_query(
    "mood_scale_test_weekend",
    oracle=f"""
        WITH e AS (
          SELECT {_WKND_SQL} AS wknd, {sql_cents("value")} AS c FROM events
        ),
        cells AS (
          SELECT c, CAST(SUM(wknd) AS BIGINT) AS n_we_c,
                 CAST(COUNT(*) AS BIGINT) AS t
          FROM e GROUP BY c
        ),
        cum AS (
          SELECT c, n_we_c, t,
                 2 * COALESCE(SUM(t) OVER (ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + t + 1 AS m2
          FROM cells
        ),
        tot AS (
          SELECT CAST(SUM(n_we_c) AS BIGINT) AS n_we,
                 CAST(SUM(t) AS BIGINT) AS n
          FROM cells
        ),
        s AS (
          SELECT CAST({_MOOD_T4.format(w='HUGEINT')} AS DECIMAL(38,0))
                   AS t4,
                 MAX(tt.n_we) AS n_we, MAX(tt.n) AS n
          FROM cum CROSS JOIN tot tt
        )
        SELECT n_we AS n_weekend, n - n_we AS n_weekday,
               {wide('t4')} / 4 AS mood_t,
               ({wide('t4')} / 4
                - CAST(n_we AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1)
                  / 12)
               / SQRT(CAST(n_we AS DOUBLE) * (n - n_we) * (n + 1)
                      * (CAST(n AS DOUBLE) * n - 4) / 180) AS z_mood
        FROM s
    """,
    doc="Mood's squared-rank SCALE test for the weekend-vs-weekday "
        "value contrast: T = sum over weekend rows of "
        "(rank - (N+1)/2)^2 detects dispersion differences around a "
        "common center — the scale complement to the registered "
        "mood_median location test and the third scale statistic "
        "beside Ansari-Bradley and Cucconi (Mood's quadratic scores "
        "weight extreme ranks harder than AB's linear scores). Ranks "
        "are 2x integer midranks from the distinct-cents cell "
        "cumulation (never a raw-row rank); 4T accumulates in "
        "DECIMAL(38,0) ((m2-N-1)^2 <= 4N^2 per row, ~4e12 at sf0.1 "
        "with ~2e6 rows -> ~1e19 total; the DECIMAL cap is reached "
        "only past ~1e10 rows per arm, and the cells carry "
        "multiplicities so the SUM is over the value-domain-bounded "
        "cell table, not raw rows); classical no-tie moments in "
        "doubles at emit (midrank scores, the standard large-sample "
        "practice). Plan: one map-side-combinable cell aggregate, "
        "one bounded cumulation window over cells, one row out.",
    tags=("staged", "statistics"),
)
def mood_scale_test_weekend(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").selectExpr(
        f"{_WKND_SPARK} AS wknd", f"{sql_cents('value')} AS c")
    cells = e.groupBy("c").agg(
        F.sum("wknd").cast("long").alias("n_we_c"),
        F.count(F.lit(1)).cast("long").alias("t"))
    # value-domain-bounded aggregate feeding TWO consumers (cum, tot):
    # checkpoint so the corpus is scanned once, not twice
    cells = cells.localCheckpoint()
    wc = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    cum = cells.select(
        "n_we_c", "t",
        (2 * F.coalesce(F.sum("t").over(wc), F.lit(0))
         + F.col("t") + 1).alias("m2"))
    tot = cells.agg(
        F.sum("n_we_c").cast("long").alias("n_we"),
        F.sum("t").cast("long").alias("n"))
    s = (cum.crossJoin(F.broadcast(tot))
            .agg(F.expr("CAST(" + _MOOD_T4.format(w="DECIMAL(38,0)")
                        + " AS DECIMAL(38,0))").alias("t4"),
                 F.max("n_we").alias("n_we"), F.max("n").alias("n")))
    return s.selectExpr(
        "n_we AS n_weekend", "n - n_we AS n_weekday",
        f"{wide('t4')} / 4 AS mood_t",
        f"({wide('t4')} / 4"
        " - CAST(n_we AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1) / 12)"
        " / SQRT(CAST(n_we AS DOUBLE) * (n - n_we) * (n + 1)"
        " * (CAST(n AS DOUBLE) * n - 4) / 180) AS z_mood")


# ---------------------------------------------------------------------
# Two-sample energy distance (Szekely & Rizzo): weekend vs weekday.
#
# All three mean pairwise |difference| terms come from ONE pass over
# the sorted distinct-cents cells with per-group running counts and
# running value sums:
#   S_gg  = sum_k t_g(k) * (C_g(<k) * v_k - V_g(<k))      (within)
#   S_12  = sum_k [t_1(k) (C_2(<k) v_k - V_2(<k))
#                + t_2(k) (C_1(<k) v_k - V_1(<k))]        (cross)
# D^2 = 2 S12/(n1 n2) - 2 S11/n1^2 - 2 S22/n2^2  (V-statistic form).

_ENERGY_CUM = """
          SELECT c, n_we_c, n_wd_c,
                 COALESCE(SUM(n_we_c) OVER w, 0) AS cw1,
                 COALESCE(SUM(n_wd_c) OVER w, 0) AS cw2,
                 COALESCE(SUM(n_we_c * c) OVER w, 0) AS vw1,
                 COALESCE(SUM(n_wd_c * c) OVER w, 0) AS vw2
          FROM cells
          WINDOW w AS (ORDER BY c
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING)"""


@staged_query(
    "energy_distance_weekend",
    oracle=f"""
        WITH e AS (
          SELECT {_WKND_SQL} AS wknd, {sql_cents("value")} AS c FROM events
        ),
        cells AS (
          SELECT c, CAST(SUM(wknd) AS BIGINT) AS n_we_c,
                 CAST(SUM(1 - wknd) AS BIGINT) AS n_wd_c
          FROM e GROUP BY c
        ),
        cum AS ({_ENERGY_CUM}),
        s AS (
          SELECT CAST(SUM(CAST(n_we_c AS HUGEINT)
                          * (cw1 * c - vw1)) AS DECIMAL(38,0)) AS s11,
                 CAST(SUM(CAST(n_wd_c AS HUGEINT)
                          * (cw2 * c - vw2)) AS DECIMAL(38,0)) AS s22,
                 CAST(SUM(CAST(n_we_c AS HUGEINT) * (cw2 * c - vw2)
                          + CAST(n_wd_c AS HUGEINT)
                            * (cw1 * c - vw1)) AS DECIMAL(38,0)) AS s12,
                 CAST(SUM(n_we_c) AS BIGINT) AS n1,
                 CAST(SUM(n_wd_c) AS BIGINT) AS n2
          FROM cum
        )
        SELECT n1 AS n_weekend, n2 AS n_weekday,
               {wide('s12')} / (CAST(n1 AS DOUBLE) * n2) / 100
                 AS mean_cross_absdiff,
               (2 * {wide('s12')} / (CAST(n1 AS DOUBLE) * n2)
                - 2 * {wide('s11')} / (CAST(n1 AS DOUBLE) * n1)
                - 2 * {wide('s22')} / (CAST(n2 AS DOUBLE) * n2)) / 100
                 AS energy_dist_dollars
        FROM s
    """,
    doc="Two-sample ENERGY distance (Szekely-Rizzo E-statistic) "
        "between the weekend and weekday value distributions: D^2 = "
        "2E|X-Y| - E|X-X'| - E|Y-Y'|, the distribution-free "
        "two-sample distance that is zero iff the distributions "
        "coincide — strictly stronger than the registered "
        "mean/quantile drift panels (it integrates the SQUARED "
        "difference of characteristic functions) and the metric "
        "SemDedup-style distribution matching would use at corpus "
        "scale. Every pairwise |difference| sum is EXACT: one "
        "cumulation over the sorted distinct-cents cells yields all "
        "three terms via the sorted-prefix identity sum_{{i<j}} "
        "(v_j - v_i) = sum_j t_j (C(<j) v_j - V(<j)) — never an "
        "n^2 pair join. Products ride HUGEINT/DECIMAL(38,0) "
        "(~1e17 at sf0.1; the 1e38 cap allows ~1e12 rows per arm at "
        "cents values <= 1e7). V-statistic normalization (divide by "
        "n^2, not n(n-1)) so the null value is exactly 0 in "
        "expectation terms both engines compute identically; doubles "
        "only at the final three divisions. Plan: one map-side-"
        "combinable cell aggregate over the scan, one bounded "
        "cumulation window (value-domain-sized cells), one row out.",
    tags=("staged", "statistics"),
)
def energy_distance_weekend(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").selectExpr(
        f"{_WKND_SPARK} AS wknd", f"{sql_cents('value')} AS c")
    cells = e.groupBy("c").agg(
        F.sum("wknd").cast("long").alias("n_we_c"),
        F.sum(1 - F.col("wknd")).cast("long").alias("n_wd_c"))
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    cum = cells.select(
        "c", "n_we_c", "n_wd_c",
        F.coalesce(F.sum("n_we_c").over(w), F.lit(0)).alias("cw1"),
        F.coalesce(F.sum("n_wd_c").over(w), F.lit(0)).alias("cw2"),
        F.coalesce(F.sum(F.col("n_we_c") * F.col("c")).over(w),
                   F.lit(0)).alias("vw1"),
        F.coalesce(F.sum(F.col("n_wd_c") * F.col("c")).over(w),
                   F.lit(0)).alias("vw2"))
    s = cum.agg(
        F.expr("CAST(SUM(CAST(n_we_c AS DECIMAL(38,0))"
               " * (cw1 * c - vw1)) AS DECIMAL(38,0))").alias("s11"),
        F.expr("CAST(SUM(CAST(n_wd_c AS DECIMAL(38,0))"
               " * (cw2 * c - vw2)) AS DECIMAL(38,0))").alias("s22"),
        F.expr("CAST(SUM(CAST(n_we_c AS DECIMAL(38,0))"
               " * (cw2 * c - vw2) + CAST(n_wd_c AS DECIMAL(38,0))"
               " * (cw1 * c - vw1)) AS DECIMAL(38,0))").alias("s12"),
        F.sum("n_we_c").cast("long").alias("n1"),
        F.sum("n_wd_c").cast("long").alias("n2"))
    return s.selectExpr(
        "n1 AS n_weekend", "n2 AS n_weekday",
        f"{wide('s12')} / (CAST(n1 AS DOUBLE) * n2) / 100"
        " AS mean_cross_absdiff",
        f"(2 * {wide('s12')} / (CAST(n1 AS DOUBLE) * n2)"
        f" - 2 * {wide('s11')} / (CAST(n1 AS DOUBLE) * n1)"
        f" - 2 * {wide('s22')} / (CAST(n2 AS DOUBLE) * n2)) / 100"
        " AS energy_dist_dollars")


# ---------------------------------------------------------------------
# Hoeffding's D between day index and daily revenue.
#
# Days are distinct (no x-ties); y-ties use midranks. In 2x units:
#   R2_i = 2*rank(x_i)          (exact, no ties)
#   S2_i = 2*midrank(y_i)       (2*cum_before + t + 1 per y-cell)
#   Q2_i = 2*#{{x_j<x_i & y_j<y_i}} + #{{x_j<x_i & y_j=y_i}}
# and with D1*4 = sum (Q2-2)(Q2-4), D2*16 = sum (R2-2)(R2-4)(S2-2)
# (S2-4), D3*8 = sum (R2-4)(S2-4)(Q2-2):
#   16*num = 4(n-2)(n-3)*D1_4 + D2_16 - 4(n-2)*D3_8
#   D = 30*num16 / (16 n(n-1)(n-2)(n-3)(n-4)).

#: final projection, identical text on both engines: num16 stays in
#: DECIMAL(38,0)/HUGEINT (4(n-2)(n-3)*D1_4 alone passes 1e19 at ten
#: years of days), and every double step routes through explicit
#: CASTs — a bare 30.0/16.0 literal would plan as DECIMAL division on
#: Spark (the recorded decimal-literal trap) while DuckDB reads it as
#: DOUBLE.
_HOEFF_NUM16 = ("CAST(4 * (n_days - 2) * (n_days - 3) AS {dec})"
                " * d1_4 + d2_16"
                " - CAST(4 * (n_days - 2) AS {dec}) * d3_8")


def _hoeff_select(dec: str) -> str:
    num16 = _HOEFF_NUM16.format(dec=dec)
    return f"""
        SELECT n_days, d1_4, {wide('d2_16')} AS d2_16_wide, d3_8,
               CAST(CAST({num16} AS STRING) AS DOUBLE) * 30
               / (CAST(16 AS DOUBLE) * n_days * (n_days - 1)
                  * (n_days - 2) * (n_days - 3) * (n_days - 4))
                 AS hoeffding_d"""


@staged_query(
    "hoeffding_d_daily",
    oracle=f"""
        WITH {_SQL_DAILY},
        r AS (
          SELECT x, cents,
                 2 * RANK() OVER (ORDER BY x) AS r2,
                 2 * RANK() OVER (ORDER BY cents)
                   + COUNT(*) OVER (PARTITION BY cents) - 1 AS s2
          FROM daily
        ),
        q AS (
          SELECT a.x, a.r2, a.s2,
                 CAST(COALESCE(SUM(CASE WHEN b.cents < a.cents THEN 2
                                        WHEN b.cents = a.cents THEN 1
                                        ELSE 0 END), 0) + 2 AS BIGINT)
                   AS q2
          FROM r a LEFT JOIN daily b ON b.x < a.x
          GROUP BY a.x, a.r2, a.s2
        ),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                 CAST(SUM((q2 - 2) * (q2 - 4)) AS BIGINT) AS d1_4,
                 CAST(SUM(CAST(r2 - 2 AS HUGEINT) * (r2 - 4)
                          * (s2 - 2) * (s2 - 4)) AS DECIMAL(38,0))
                   AS d2_16,
                 CAST(SUM((r2 - 4) * (s2 - 4) * (q2 - 2)) AS BIGINT)
                   AS d3_8
          FROM q
        )
        {_hoeff_select('DECIMAL(38,0)')}
        FROM agg
    """,
    doc="Hoeffding's D statistic between the day index and daily "
        "revenue: the rank-based dependence measure whose population "
        "value is zero IFF the coordinates are independent — it "
        "detects U-shaped / non-monotone dependence that the "
        "registered Kendall/Spearman/Mann-Kendall monotone statistics "
        "structurally miss. Q_i (the bivariate rank: points strictly "
        "southwest of i, y-ties half-weighted) rides 2x integer "
        "units, as do the x-ranks (days are distinct) and y-midranks, "
        "so D1, D3 are EXACT BIGINTs and D2 / the 16-scaled numerator "
        "EXACT DECIMAL(38,0)/HUGEINTs on both engines (D2 ~ 16 n^5 "
        "passes int64 at ~10 years of days; every double step routes "
        "through explicit CASTs per the recorded decimal-literal "
        "trap); one double division at emit (Hoeffding's "
        "1948 closed form, x30 so independence ~ 0 and max ~ 1/30 "
        "scaling convention matches R's hoeffd). The bounded pair "
        "comparison is over the CALENDAR-SIZED daily table (<= "
        "days^2 pairs), never raw rows. Plan: one map-side-"
        "combinable daily rollup, one bounded self-join + three "
        "bounded windows, one row out.",
    tags=("staged", "statistics", "timeseries"),
)
def hoeffding_d_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _spark_daily(spark, sf_dir)
    r = daily.select(
        "x", "cents",
        (2 * F.rank().over(Window.orderBy("x"))).alias("r2"),
        (2 * F.rank().over(Window.orderBy("cents"))
         + F.count(F.lit(1)).over(Window.partitionBy("cents")) - 1)
        .alias("s2"))
    b = daily.selectExpr("x AS xb", "cents AS cb")
    q = (r.join(F.broadcast(b), F.col("xb") < F.col("x"), "left")
          .groupBy("x", "r2", "s2")
          .agg(F.expr(
              "CAST(COALESCE(SUM(CASE WHEN cb < cents THEN 2"
              " WHEN cb = cents THEN 1 ELSE 0 END), 0) + 2 AS BIGINT)")
              .alias("q2")))
    agg = q.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr("CAST(SUM((q2 - 2) * (q2 - 4)) AS BIGINT)")
         .alias("d1_4"),
        F.expr("CAST(SUM(CAST(r2 - 2 AS DECIMAL(38,0)) * (r2 - 4)"
               " * (s2 - 2) * (s2 - 4)) AS DECIMAL(38,0))")
         .alias("d2_16"),
        F.expr("CAST(SUM((r2 - 4) * (s2 - 4) * (q2 - 2)) AS BIGINT)")
         .alias("d3_8"))
    num16 = _HOEFF_NUM16.format(dec="DECIMAL(38,0)")
    return agg.selectExpr(
        "n_days", "d1_4", f"{wide('d2_16')} AS d2_16_wide", "d3_8",
        f"CAST(CAST({num16} AS STRING) AS DOUBLE) * 30"
        " / (CAST(16 AS DOUBLE) * n_days * (n_days - 1)"
        " * (n_days - 2) * (n_days - 3) * (n_days - 4))"
        " AS hoeffding_d")


# ---------------------------------------------------------------------
# Page's L trend test: ordered weekday effect across complete weeks.
#
# Blocks = epoch-weeks with all 7 weekdays present; treatments =
# weekday 0..6 in calendar order (the ordered alternative: revenue
# drifts monotonically across the week). Within-block 2x midranks;
# L2 = sum_blocks sum_j (j+1) * m2(b, j). No-tie moments:
# E[L] = b k (k+1)^2 / 4,  Var[L] = b k^2 (k+1) (k^2 - 1) / 144.


@staged_query(
    "page_l_trend_dow",
    oracle=f"""
        WITH {_SQL_DAILY},
        d AS (
          SELECT x // 7 AS wk, x % 7 AS dow, cents FROM daily
        ),
        full_wk AS (
          SELECT wk FROM d GROUP BY wk HAVING COUNT(*) = 7
        ),
        ranked AS (
          SELECT wk, dow,
                 2 * RANK() OVER (PARTITION BY wk ORDER BY cents)
                   + COUNT(*) OVER (PARTITION BY wk, cents) - 1 AS m2
          FROM d WHERE wk IN (SELECT wk FROM full_wk)
        ),
        agg AS (
          SELECT CAST(COUNT(DISTINCT wk) AS BIGINT) AS n_weeks,
                 CAST(SUM((dow + 1) * m2) AS BIGINT) AS l2
          FROM ranked
        )
        SELECT n_weeks, CAST(l2 AS DOUBLE) / 2 AS page_l,
               (CAST(l2 AS DOUBLE) / 2
                - CAST(n_weeks * 7 * 64 AS DOUBLE) / 4)
               / SQRT(CAST(n_weeks AS DOUBLE) * 49 * 8 * 48 / 144)
                 AS z_page
        FROM agg
    """,
    doc="Page's L test for an ORDERED weekday trend across complete "
        "epoch-weeks: within each week the 7 daily revenues get 2x "
        "integer midranks, and L = sum over weeks of sum_j j * "
        "rank(day j) weights the hypothesized order — significant L "
        "means revenue drifts monotonically across the week, the "
        "ordered-alternative refinement of the registered Friedman / "
        "Kendall-W unordered concordance family (Page's L is to "
        "Friedman what Jonckheere-Terpstra — also registered — is to "
        "Kruskal-Wallis). Incomplete boundary weeks are dropped "
        "(exact HAVING COUNT(*) = 7 gate, deterministic); L rides 2x "
        "BIGINT units; classical no-tie moments E[L] = b*k(k+1)^2/4, "
        "Var[L] = b*k^2(k+1)(k^2-1)/144 with k = 7 folded to integer "
        "constants in doubles at emit. Plan: one map-side-combinable "
        "daily rollup (the only corpus-scale work), per-week bounded "
        "midrank windows over the calendar-sized daily table, one "
        "row out.",
    tags=("staged", "statistics", "timeseries"),
)
def page_l_trend_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _spark_daily(spark, sf_dir)
    d = daily.selectExpr("x div 7 AS wk", "x % 7 AS dow", "cents")
    full_wk = (d.groupBy("wk").agg(F.count(F.lit(1)).alias("nd"))
                .filter("nd = 7").select("wk"))
    ranked = (d.join(full_wk, "wk")
               .select("wk", "dow",
                       (2 * F.rank().over(
                           Window.partitionBy("wk").orderBy("cents"))
                        + F.count(F.lit(1)).over(
                            Window.partitionBy("wk", "cents")) - 1)
                       .alias("m2")))
    agg = ranked.agg(
        F.countDistinct("wk").cast("long").alias("n_weeks"),
        F.expr("CAST(SUM((dow + 1) * m2) AS BIGINT)").alias("l2"))
    return agg.selectExpr(
        "n_weeks", "CAST(l2 AS DOUBLE) / 2 AS page_l",
        "(CAST(l2 AS DOUBLE) / 2"
        " - CAST(n_weeks * 7 * 64 AS DOUBLE) / 4)"
        " / SQRT(CAST(n_weeks AS DOUBLE) * 49 * 8 * 48 / 144)"
        " AS z_page")
