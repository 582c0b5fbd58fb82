"""Round-33 staged bank: four exact-arithmetic completions — the
Gehan-Breslow-Wilcoxon survival test on the md5 A/B arms (the
EARLY-difference-weighted companion to the registered log-rank,
which weights all event times equally; together they bracket the
proportional-hazards question), the one-way intraclass correlation
ICC(1,1) for the three document-quality raters (the ANOVA-based
reliability coefficient beside the registered Cronbach alpha —
absolute agreement, not just internal consistency), the Poisson
dispersion test of daily event counts (is traffic Poisson or
over-dispersed/bursty — the count-model gate before the registered
negative-binomial fit is even warranted), and Mahalanobis outlier
days over the (revenue, event-count) daily pair (the
covariance-aware 2-D complement to the registered 1-D z-score /
Grubbs detectors: a day can be normal in each margin but wildly off
the joint ellipse).

Exactness: Gehan's U is an exact integer (w_j = n_j cancels the
hypergeometric denominator), its variance terms and ICC /
dispersion are integer rationals (DECIMAL(38,0)/HUGEINT), and
Mahalanobis routes the 2x2 closed-form inverse through string-route
doubles (products pass 10^38) with exact integer centering.
Definitions follow Gehan 1965 / Breslow 1970, Shrout & Fleiss 1979
(ICC(1,1)), the classical Fisher dispersion index, and the standard
Mahalanobis distance — no external code.

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


# ---------------------------------------------------------------------
# Gehan-Breslow-Wilcoxon: the w_j = n_j weighted log-rank on the
# same conversion-survival construction as log_rank_test_ab_arms.
#
#   U = sum_j (n_j * d1_j - n1_j * d_j)            (exact integer)
#   V = sum_j n1_j (n_j - n1_j) d_j (n_j - d_j) / (n_j - 1)
#   z = U / sqrt(V)

_GW_V_TERM = ("CASE WHEN n_at > 1 THEN "
              + wide("CAST(n1_at AS @BIG@) * (n_at - n1_at)"
                     " * d_t * (n_at - d_t)")
              + " / (n_at - 1) ELSE CAST(0.0 AS DOUBLE) END")


@staged_query(
    "gehan_wilcoxon_ab_arms",
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 MIN(date_diff('day', DATE '1970-01-01',
                     CAST(ts AS DATE))) AS first_d,
                 MAX(date_diff('day', DATE '1970-01-01',
                     CAST(ts AS DATE))) AS last_d,
                 MIN(CASE WHEN event_type = 'purchase' THEN
                     date_diff('day', DATE '1970-01-01',
                               CAST(ts AS DATE)) END) AS conv_d,
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
          SELECT SUM(CAST(n_at AS HUGEINT) * d1_t
                     - CAST(n1_at AS HUGEINT) * d_t) AS u_stat,
                 {fold_sorted_sql(
                     f"list({_GW_V_TERM.replace('@BIG@', 'HUGEINT')})")}
                   AS v
          FROM risk WHERE d_t > 0
        ),
        sizes AS (
          SELECT CAST(SUM(grp) AS BIGINT) AS n_arm_a,
                 CAST(SUM(1 - grp) AS BIGINT) AS n_arm_b
          FROM u
        )
        SELECT s.n_arm_a, s.n_arm_b,
               {wide('t.u_stat')} AS gehan_u, t.v AS gehan_var,
               CASE WHEN t.v <= 0 THEN NULL
                 ELSE {wide('t.u_stat')} / SQRT(t.v) END AS z_stat
        FROM terms t CROSS JOIN sizes s
    """,
    doc="Gehan-Breslow-Wilcoxon test on the md5-nibble A/B arms "
        "(identical time-to-first-purchase construction as the "
        "registered log_rank_test_ab_arms): the n_j-weighted "
        "log-rank, which up-weights EARLY conversion-time "
        "differences where the risk set is large — log-rank and "
        "Gehan disagreeing is the classic non-proportional-hazards "
        "signal, so shipping both brackets the question. The n_j "
        "weight cancels the hypergeometric denominator, making "
        "U = sum(n_j d1_j - n1_j d_j) an EXACT integer in HUGEINT/"
        "DECIMAL(38,0); each variance term n1(n-n1)d(n-d)/(n-1) is "
        "one string-route division folded sorted from 0.0; one "
        "final sqrt; NULL z on zero variance. Plan: one per-user "
        "rollup (the only corpus-scale shuffle), suffix-sum windows "
        "over the calendar-bounded lifetime cells, 1-row out.",
    tags=("staged", "statistics", "survival"),
)
def gehan_wilcoxon_ab_arms(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
         .cast("long").alias("d"))
    u = e.groupBy("user_id").agg(
        F.min("d").alias("first_d"), F.max("d").alias("last_d"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("d")))
         .alias("conv_d"),
        F.max(F.expr("CASE WHEN substring(md5(CAST(user_id AS"
                     " STRING)), 1, 1) < '8' THEN 1 ELSE 0 END"))
         .alias("grp"))
    life = (u.select("grp",
                     (F.coalesce("conv_d", "last_d")
                      - F.col("first_d") + 1).cast("long").alias("t"),
                     F.when(F.col("conv_d").isNull(), 1).otherwise(0)
                      .alias("censored"))
            .localCheckpoint())
    cell = life.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_t"),
        F.sum(1 - F.col("censored")).cast("long").alias("d_t"),
        F.sum("grp").cast("long").alias("n1_t"),
        F.sum(F.expr("grp * (1 - censored)")).cast("long")
         .alias("d1_t"))
    w = (Window.orderBy(F.desc("t"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    risk = cell.select(
        "t", "d_t", "d1_t",
        F.sum("n_t").over(w).cast("long").alias("n_at"),
        F.sum("n1_t").over(w).cast("long").alias("n1_at"))
    terms = risk.filter("d_t > 0").agg(
        F.expr("SUM(CAST(n_at AS DECIMAL(38,0)) * d1_t"
               " - CAST(n1_at AS DECIMAL(38,0)) * d_t)")
         .alias("u_stat"),
        F.expr(fold_sorted_spark("collect_list("
                                 + _GW_V_TERM.replace("@BIG@",
                                                "DECIMAL(38,0)")
                                 + ")")).alias("v"))
    sizes = life.agg(
        F.sum("grp").cast("long").alias("n_arm_a"),
        F.sum(1 - F.col("grp")).cast("long").alias("n_arm_b"))
    return (terms.crossJoin(F.broadcast(sizes))
            .selectExpr("n_arm_a", "n_arm_b",
                        f"{wide('u_stat')} AS gehan_u",
                        "v AS gehan_var",
                        "CASE WHEN v <= 0 THEN NULL"
                        f" ELSE {wide('u_stat')} / SQRT(v) END"
                        " AS z_stat"))


# ---------------------------------------------------------------------
# ICC(1,1) for the three binary quality raters.
#
# One-way random-effects ANOVA on the n x 3 vote matrix. With
# P = sum pos_i, Q = sum pos_i^2 (pos_i = positive votes on doc i):
#   SSB = (1/3) sum (pos_i - P/n)^2          [between docs, x k]
#       -> 9 n^2 SSB = 3 n^2 sum(...) ... use scaled integers:
#   B := sum (n*pos_i - P)^2 = n^2 Q - ... exact: n^2*Q - 2nP*P + nP^2
#        = n^2 Q - n P^2   (integer)
#   MSB = B / (3 n^2 (n-1));  MSW = (3P - Q) / (6n)
#   ICC = (MSB - MSW) / (MSB + 2 MSW)
#       = (2 B - n (n-1)(3P - Q)) / (2 B + 2 n (n-1)(3P - Q))

_ICC_RATERS_SQL = (
    "CASE WHEN contains(text, 'data') THEN 1 ELSE 0 END",
    "CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END",
    "CASE WHEN contains(text, '.') THEN 1 ELSE 0 END",
)


@staged_query(
    "icc_quality_raters",
    oracle=f"""
        WITH r AS (
          SELECT ({_ICC_RATERS_SQL[0]}) + ({_ICC_RATERS_SQL[1]})
                 + ({_ICC_RATERS_SQL[2]}) AS pos
          FROM documents
        ),
        s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(pos) AS BIGINT) AS p,
                 CAST(SUM(pos * pos) AS BIGINT) AS q
          FROM r
        ),
        m AS (
          SELECT n, p, q,
                 CAST(n AS HUGEINT) * n * q
                   - CAST(n AS HUGEINT) * p * p AS b,
                 CAST(n AS HUGEINT) * (n - 1) * (3 * p - q) AS ww
          FROM s
        )
        SELECT n AS n_docs,
               CASE WHEN n < 2 OR 2 * b + 2 * ww = 0 THEN NULL
                 ELSE {wide('2 * b - ww')} / {wide('2 * b + 2 * ww')}
               END AS icc_1_1
        FROM m
    """,
    doc="Intraclass correlation ICC(1,1) (one-way random effects, "
        "single rater, absolute agreement — Shrout & Fleiss 1979) "
        "for the three deterministic document-quality raters: the "
        "reliability coefficient that asks how much of the vote "
        "variance is BETWEEN documents rather than between raters "
        "within a document — absolute-agreement reliability, where "
        "the registered cronbachs_alpha measures only internal "
        "consistency and the kappa family only chance-corrected "
        "categorical agreement. For k=3 binary raters it reduces to "
        "an exact integer rational of n, sum(pos), sum(pos^2): "
        "ICC = (2B - n(n-1)(3P-Q)) / (2B + 2n(n-1)(3P-Q)) "
        "with B = n^2 Q - n P^2 — HUGEINT/DECIMAL(38,0) products, "
        "ONE string-route division; NULL on a degenerate corpus. "
        "Plan: one corpus pass to a 3-integer panel, zero joins.",
    tags=("staged", "statistics", "quality"),
)
def icc_quality_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos = (load(spark, sf_dir, "documents")
           .selectExpr(f"({_ICC_RATERS_SQL[0]}) + ({_ICC_RATERS_SQL[1]})"
                       f" + ({_ICC_RATERS_SQL[2]}) AS pos"))
    s = pos.agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("pos").cast("long").alias("p"),
                F.expr("CAST(SUM(pos * pos) AS BIGINT)").alias("q"))
    m = s.selectExpr(
        "n",
        "CAST(n AS DECIMAL(38,0)) * n * q"
        " - CAST(n AS DECIMAL(38,0)) * p * p AS b",
        "CAST(n AS DECIMAL(38,0)) * (n - 1) * (3 * p - q) AS ww")
    return m.selectExpr(
        "n AS n_docs",
        "CASE WHEN n < 2 OR 2 * b + 2 * ww = 0 THEN NULL"
        f" ELSE {wide('2 * b - ww')} / {wide('2 * b + 2 * ww')} END"
        " AS icc_1_1")


# ---------------------------------------------------------------------
# Poisson dispersion test of daily event counts.
#
#   D = sum (c_t - cbar)^2 / cbar = sum (n c_t - S)^2 / (n S)
#   (chi-square with n-1 df under Poisson); index = s^2/xbar =
#   D / (n - 1) — 1 under Poisson, > 1 over-dispersed.


@staged_query(
    "poisson_dispersion_daily_counts",
    oracle=f"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1
        ),
        s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(c) AS BIGINT) AS sc
          FROM daily
        ),
        agg AS (
          SELECT s.n, s.sc,
                 SUM((CAST(s.n AS HUGEINT) * daily.c - s.sc)
                     * (CAST(s.n AS HUGEINT) * daily.c - s.sc)) AS a
          FROM daily, s GROUP BY s.n, s.sc
        )
        SELECT n AS n_days, sc AS n_events,
               CASE WHEN sc = 0 THEN NULL
                 ELSE {wide('a')} / (CAST(n AS DOUBLE) * sc)
               END AS dispersion_stat,
               CASE WHEN sc = 0 OR n < 2 THEN NULL
                 ELSE {wide('a')} / (CAST(n AS DOUBLE) * sc * (n - 1))
               END AS dispersion_index
        FROM agg
    """,
    doc="Fisher's Poisson dispersion test on daily event counts: "
        "D = sum (c_t - cbar)^2 / cbar, chi-square with n-1 df when "
        "arrivals are Poisson, and the per-day dispersion index "
        "D/(n-1) — 1 under Poisson, above 1 for bursty/clumped "
        "traffic. This is the count-model GATE: the registered "
        "negative_binomial_user_counts fit is only warranted when "
        "this rejects equidispersion. The n-scaled form keeps "
        "everything exact: sum(n*c - S)^2 in HUGEINT/DECIMAL(38,0), "
        "TWO string-route divisions; NULL on an empty corpus. Plan: "
        "one date-keyed map-side-combinable aggregate, a one-row "
        "totals panel, 1-row out.",
    tags=("staged", "statistics", "timeseries"),
)
def poisson_dispersion_daily_counts(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    daily = (load(spark, sf_dir, "events")
             .groupBy(F.to_date("ts").alias("d"))
             .agg(F.count(F.lit(1)).cast("long").alias("c"))
             .localCheckpoint())
    s = daily.agg(F.count(F.lit(1)).cast("long").alias("n"),
                  F.sum("c").cast("long").alias("sc"))
    agg = (daily.crossJoin(F.broadcast(s))
           .groupBy("n", "sc")
           .agg(F.expr("SUM((CAST(n AS DECIMAL(38,0)) * c - sc)"
                       " * (CAST(n AS DECIMAL(38,0)) * c - sc))")
                 .alias("a")))
    return agg.selectExpr(
        "n AS n_days", "sc AS n_events",
        f"CASE WHEN sc = 0 THEN NULL ELSE {wide('a')}"
        " / (CAST(n AS DOUBLE) * sc) END AS dispersion_stat",
        f"CASE WHEN sc = 0 OR n < 2 THEN NULL ELSE {wide('a')}"
        " / (CAST(n AS DOUBLE) * sc * (n - 1)) END"
        " AS dispersion_index")


# ---------------------------------------------------------------------
# Mahalanobis outlier days over the (revenue, count) daily pair.
#
# With u = n*a - Sa, v = n*b - Sb (exact integer centering) and the
# scaled scatter Suu, Svv, Suv:
#   D^2_i = (n-1) (Svv u^2 - 2 Suv u v + Suu v^2)
#           / (Suu Svv - Suv^2)
# — numerator products pass 10^38, so each factor string-routes to
# DOUBLE first and the combination is a fixed IEEE expression.


@staged_query(
    "mahalanobis_outlier_days",
    oracle=f"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                      AS BIGINT) AS a,
                 CAST(COUNT(*) AS BIGINT) AS b
          FROM events GROUP BY 1
        ),
        s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(a) AS BIGINT) AS sa,
                 CAST(SUM(b) AS BIGINT) AS sb
          FROM daily
        ),
        cen AS (
          SELECT daily.d, s.n,
                 CAST(s.n AS HUGEINT) * daily.a - s.sa AS u,
                 CAST(s.n AS HUGEINT) * daily.b - s.sb AS v
          FROM daily, s
        ),
        sc AS (
          SELECT MAX(n) AS n,
                 {wide('SUM(u * u)')} AS suu,
                 {wide('SUM(v * v)')} AS svv,
                 {wide('SUM(u * v)')} AS suv
          FROM cen
        )
        SELECT CAST(c.d AS TIMESTAMP) AS day,
               CASE WHEN sc.suu * sc.svv - sc.suv * sc.suv <= 0
                 THEN NULL
                 ELSE (sc.n - 1)
                   * (sc.svv * {wide('c.u')} * {wide('c.u')}
                      - 2 * sc.suv * {wide('c.u')} * {wide('c.v')}
                      + sc.suu * {wide('c.v')} * {wide('c.v')})
                   / (sc.suu * sc.svv - sc.suv * sc.suv)
               END AS mahalanobis_d2
        FROM cen c CROSS JOIN sc
        ORDER BY mahalanobis_d2 DESC NULLS LAST, day
        LIMIT 5
    """,
    doc="Mahalanobis outlier days over the joint (daily revenue "
        "cents, daily event count) pair: the covariance-aware 2-D "
        "distance that flags days off the JOINT ellipse — e.g. "
        "normal revenue on abnormally few events — which the "
        "registered 1-D z-score / Grubbs / Dixon detectors are "
        "blind to; top-5 days reported with day tie-break. "
        "Centering is exact (n*x - S integers in HUGEINT/"
        "DECIMAL(38,0)); the scatter entries and the 2x2 closed-"
        "form inverse combine as string-routed doubles in a FIXED "
        "IEEE expression (the cross products pass 10^38, the "
        "recorded widening route); NULL on a singular scatter "
        "(collinear days). Plan: one daily aggregate, a broadcast "
        "3-cell scatter panel, top-5 of the calendar-bounded panel.",
    tags=("staged", "statistics", "timeseries"),
)
def mahalanobis_outlier_days(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    daily = (load(spark, sf_dir, "events")
             .groupBy(F.to_date("ts").alias("d"))
             .agg(F.sum(cents("value")).cast("long").alias("a"),
                  F.count(F.lit(1)).cast("long").alias("b"))
             .localCheckpoint())
    s = daily.agg(F.count(F.lit(1)).cast("long").alias("n"),
                  F.sum("a").cast("long").alias("sa"),
                  F.sum("b").cast("long").alias("sb"))
    cen = (daily.crossJoin(F.broadcast(s))
           .selectExpr("d", "n",
                       "CAST(n AS DECIMAL(38,0)) * a - sa AS u",
                       "CAST(n AS DECIMAL(38,0)) * b - sb AS v"))
    sc = cen.agg(F.max("n").alias("nn"),
                 F.expr(f"{wide('SUM(u * u)')}").alias("suu"),
                 F.expr(f"{wide('SUM(v * v)')}").alias("svv"),
                 F.expr(f"{wide('SUM(u * v)')}").alias("suv"))
    return (cen.crossJoin(F.broadcast(sc))
            .selectExpr(
                "CAST(d AS TIMESTAMP) AS day",
                "CASE WHEN suu * svv - suv * suv <= 0 THEN NULL"
                " ELSE (nn - 1)"
                f" * (svv * {wide('u')} * {wide('u')}"
                f" - 2 * suv * {wide('u')} * {wide('v')}"
                f" + suu * {wide('v')} * {wide('v')})"
                " / (suu * svv - suv * suv) END AS mahalanobis_d2")
            .orderBy(F.col("mahalanobis_d2").desc_nulls_last(), "day")
            .limit(5))
