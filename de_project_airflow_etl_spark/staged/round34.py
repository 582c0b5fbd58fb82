"""Round-34 staged bank: two inference completions — the partial
autocorrelation function of daily revenue at lags 1..3 via the
Durbin-Levinson recursion (WHICH lag carries direct dependence once
shorter lags are controlled — the AR-order diagnostic the registered
autocorr/ljung_box pair cannot answer: ACF conflates direct and
propagated dependence), and the ANOVA effect-size panel (eta^2,
omega^2, epsilon^2) for event-type value differences (the registered
anova_event_type_value reports the F statistic; these report HOW
MUCH variance the grouping explains, with omega/epsilon correcting
eta's small-sample optimism).

Exactness: autocovariances and ANOVA sums are exact integers
(DECIMAL(38,0)/HUGEINT n-scaled centering), ratios go through the
string-route cast, the per-group s_g^2/n_g terms fold SORTED from a
0.0 seed (the recorded ANOVA idiom), and the Durbin-Levinson
recursion is a FIXED IEEE expression tree over the three exact
autocorrelation ratios — deterministic on both engines. Definitions
follow Box & Jenkins (Durbin-Levinson PACF, biased-acv convention)
and Hays / Olejnik-Algina (effect sizes) — no external code.

Same contract as every staged query (see staged/__init__.py):
``(spark, sf_dir) -> DataFrame`` plus an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import (
    cents, fold_sorted_spark, fold_sorted_sql, sql_cents, wide,
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
# PACF at lags 1..3 (Durbin-Levinson over exact acv ratios).
#
# Biased-acv convention (divisor n, full-sample mean): the 1/n and
# the n^2 centering scale cancel in rho_k = c_k / c_0 with
# c_k = sum_{t<=n-k} (n y_t - S)(n y_{t+k} - S)  (exact integers).
#   phi11 = rho1
#   phi22 = (rho2 - rho1^2) / (1 - rho1^2)
#   phi21 = rho1 * (1 - phi22)
#   phi33 = (rho3 - phi21 rho2 - phi22 rho1)
#           / (1 - phi21 rho1 - phi22 rho2)

_PACF_FINAL = """
        SELECT n AS n_days, rho1, rho2, rho3,
               rho1 AS pacf1,
               CASE WHEN 1 - rho1 * rho1 = 0 THEN NULL
                 ELSE (rho2 - rho1 * rho1) / (1 - rho1 * rho1)
               END AS pacf2,
               CASE WHEN 1 - rho1 * rho1 = 0 THEN NULL
                 WHEN 1 - (rho1 * (1 - (rho2 - rho1 * rho1)
                             / (1 - rho1 * rho1))) * rho1
                      - ((rho2 - rho1 * rho1) / (1 - rho1 * rho1))
                        * rho2 = 0 THEN NULL
                 ELSE (rho3
                       - (rho1 * (1 - (rho2 - rho1 * rho1)
                            / (1 - rho1 * rho1))) * rho2
                       - ((rho2 - rho1 * rho1) / (1 - rho1 * rho1))
                         * rho1)
                   / (1 - (rho1 * (1 - (rho2 - rho1 * rho1)
                             / (1 - rho1 * rho1))) * rho1
                        - ((rho2 - rho1 * rho1) / (1 - rho1 * rho1))
                          * rho2)
               END AS pacf3
        FROM rho
"""


@staged_query(
    "pacf_daily_revenue",
    oracle=f"""
        WITH {_SQL_DAILY_T},
        s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(y) AS BIGINT) AS sy
          FROM seq
        ),
        z AS (
          SELECT seq.t, s.n,
                 CAST(s.n AS HUGEINT) * seq.y - s.sy AS z
          FROM seq, s
        ),
        c AS (
          SELECT MAX(a.n) AS n,
                 SUM(a.z * a.z) AS c0,
                 SUM(CASE WHEN b1.z IS NOT NULL
                     THEN a.z * b1.z ELSE 0 END) AS c1,
                 SUM(CASE WHEN b2.z IS NOT NULL
                     THEN a.z * b2.z ELSE 0 END) AS c2,
                 SUM(CASE WHEN b3.z IS NOT NULL
                     THEN a.z * b3.z ELSE 0 END) AS c3
          FROM z a
          LEFT JOIN z b1 ON b1.t = a.t + 1
          LEFT JOIN z b2 ON b2.t = a.t + 2
          LEFT JOIN z b3 ON b3.t = a.t + 3
        ),
        rho AS (
          SELECT n,
                 CASE WHEN c0 = 0 THEN NULL
                   ELSE {wide('c1')} / {wide('c0')} END AS rho1,
                 CASE WHEN c0 = 0 THEN NULL
                   ELSE {wide('c2')} / {wide('c0')} END AS rho2,
                 CASE WHEN c0 = 0 THEN NULL
                   ELSE {wide('c3')} / {wide('c0')} END AS rho3
          FROM c
        )
        {_PACF_FINAL}
    """,
    doc="Partial autocorrelation of daily revenue at lags 1..3 via "
        "the Durbin-Levinson recursion: the DIRECT lag-k dependence "
        "with shorter lags partialled out — the AR-order diagnostic "
        "(an AR(p) series has PACF cutting off after p) that the "
        "registered autocorr_daily_revenue / ljung_box pair cannot "
        "give, since raw ACF conflates direct and propagated "
        "dependence. Autocovariances use exact n-scaled integer "
        "centering (c_k = sum (n*y_t - S)(n*y_{{t+k}} - S) in "
        "HUGEINT/DECIMAL(38,0); the biased-acv n-divisors cancel in "
        "the ratios), each rho_k is ONE string-route division, and "
        "the recursion is a FIXED IEEE expression tree over the "
        "three rhos — identical on both engines; NULL on constant "
        "series or degenerate denominators. Plan: one daily "
        "aggregate, three lag self-joins over the calendar-bounded "
        "panel, 1-row out.",
    tags=("staged", "statistics", "timeseries"),
)
def pacf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = _spark_daily_t(spark, sf_dir)
    s = seq.agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("y").cast("long").alias("sy"))
    z = (seq.crossJoin(F.broadcast(s))
         .selectExpr("t", "n",
                     "CAST(n AS DECIMAL(38,0)) * y - sy AS z"))
    w = Window.orderBy("t")
    lagged = z.select(
        "n", "z",
        F.lead("z", 1).over(w).alias("z1"),
        F.lead("z", 2).over(w).alias("z2"),
        F.lead("z", 3).over(w).alias("z3"))
    c = lagged.agg(
        F.max("n").alias("n"),
        F.expr("SUM(z * z)").alias("c0"),
        F.expr("SUM(CASE WHEN z1 IS NOT NULL THEN z * z1"
               " ELSE CAST(0 AS DECIMAL(38,0)) END)").alias("c1"),
        F.expr("SUM(CASE WHEN z2 IS NOT NULL THEN z * z2"
               " ELSE CAST(0 AS DECIMAL(38,0)) END)").alias("c2"),
        F.expr("SUM(CASE WHEN z3 IS NOT NULL THEN z * z3"
               " ELSE CAST(0 AS DECIMAL(38,0)) END)").alias("c3"))
    rho = c.selectExpr(
        "n",
        f"CASE WHEN c0 = 0 THEN NULL ELSE {wide('c1')}"
        f" / {wide('c0')} END AS rho1",
        f"CASE WHEN c0 = 0 THEN NULL ELSE {wide('c2')}"
        f" / {wide('c0')} END AS rho2",
        f"CASE WHEN c0 = 0 THEN NULL ELSE {wide('c3')}"
        f" / {wide('c0')} END AS rho3")
    rho.createOrReplaceTempView("rho")
    return spark.sql(_PACF_FINAL)


# ---------------------------------------------------------------------
# ANOVA effect sizes for event-type value differences.
#
# With S = sum cents, Q = sum cents^2, per-group (n_g, s_g), k groups:
#   SST = Q - S^2/n;  SSB = sum s_g^2/n_g - S^2/n  (sorted fold of
#   the k rationals — the recorded ANOVA idiom);  MSW = SSW/(n-k).
#   eta^2 = SSB/SST
#   omega^2 = (SSB - (k-1) MSW) / (SST + MSW)
#   epsilon^2 = (SSB - (k-1) MSW) / SST


@staged_query(
    "anova_effect_sizes_event_type",
    oracle=f"""
        WITH v AS (
          SELECT event_type AS g, {sql_cents("value")} AS c FROM events
        ),
        grp AS (
          SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g,
                 CAST(SUM(c) AS BIGINT) AS s_g
          FROM v GROUP BY g
        ),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(c) AS BIGINT) AS s,
                 SUM(CAST(c AS HUGEINT) * c) AS q
          FROM v
        ),
        f AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS k,
                 {fold_sorted_sql(
                     "list(" + wide("CAST(s_g AS HUGEINT) * s_g") + " / n_g)")}
                   AS fb
          FROM grp
        ),
        parts AS (
          SELECT t.n, f.k,
                 {wide('t.q')} - {wide("CAST(t.s AS HUGEINT) * t.s")}
                   / t.n AS sst,
                 f.fb - {wide("CAST(t.s AS HUGEINT) * t.s")} / t.n
                   AS ssb
          FROM tot t, f
        )
        SELECT n AS n_events, k AS k_groups,
               CASE WHEN sst <= 0 THEN NULL ELSE ssb / sst END
                 AS eta_sq,
               CASE WHEN sst <= 0 OR n <= k THEN NULL
                 ELSE (ssb - (k - 1) * ((sst - ssb) / (n - k)))
                   / (sst + (sst - ssb) / (n - k))
               END AS omega_sq,
               CASE WHEN sst <= 0 OR n <= k THEN NULL
                 ELSE (ssb - (k - 1) * ((sst - ssb) / (n - k))) / sst
               END AS epsilon_sq
        FROM parts
    """,
    doc="ANOVA effect-size panel for event-type value differences: "
        "eta^2 (variance share the grouping explains), omega^2 and "
        "epsilon^2 (the small-sample-corrected estimates that "
        "subtract the within-group noise a sample eta^2 absorbs) — "
        "the magnitude companions to the registered "
        "anova_event_type_value F statistic, which says only whether "
        "the differences are detectable, not whether they matter. "
        "All sums are exact (HUGEINT/DECIMAL(38,0) cents and "
        "cents^2); the k per-group s_g^2/n_g terms fold sorted from "
        "0.0 (the recorded deterministic-reduction ANOVA idiom); "
        "SST/SSB combine as string-routed doubles in a fixed "
        "expression; NULL on a constant corpus or n <= k. Plan: one "
        "map-side-combinable (type) aggregate plus one scalar-panel "
        "aggregate over the same scan, 1-row out.",
    tags=("staged", "statistics"),
)
def anova_effect_sizes_event_type(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    v = (load(spark, sf_dir, "events")
         .selectExpr("event_type AS g", f"{sql_cents('value')} AS c")
         # feeds the group panel AND the totals panel
         .localCheckpoint())
    grp = v.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n_g"),
                             F.sum("c").cast("long").alias("s_g"))
    tot = v.agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("c").cast("long").alias("s"),
                F.expr("SUM(CAST(c AS DECIMAL(38,0)) * c)").alias("q"))
    f = grp.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.expr(fold_sorted_spark(
            "collect_list("
            + wide("CAST(s_g AS DECIMAL(38,0)) * s_g") + " / n_g)"))
         .alias("fb"))
    s2n = wide("CAST(s AS DECIMAL(38,0)) * s")
    parts = (f.crossJoin(F.broadcast(tot))
             .selectExpr("n", "k",
                         f"{wide('q')} - {s2n} / n AS sst",
                         f"fb - {s2n} / n AS ssb"))
    return parts.selectExpr(
        "n AS n_events", "k AS k_groups",
        "CASE WHEN sst <= 0 THEN NULL ELSE ssb / sst END AS eta_sq",
        "CASE WHEN sst <= 0 OR n <= k THEN NULL"
        " ELSE (ssb - (k - 1) * ((sst - ssb) / (n - k)))"
        " / (sst + (sst - ssb) / (n - k)) END AS omega_sq",
        "CASE WHEN sst <= 0 OR n <= k THEN NULL"
        " ELSE (ssb - (k - 1) * ((sst - ssb) / (n - k))) / sst END"
        " AS epsilon_sq")
