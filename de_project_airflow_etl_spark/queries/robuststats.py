"""Round-9 promoted bank (staged round 8 as staged/round10c.py): the pooled-EDF two-sample
panel (Anderson-Darling + KS D+/D- + Kuiper's V over value cells),
classical additive decomposition strength, Grubbs' max studentized
deviation, the winsorized-mean robust location panel, and pooled
within-group (partial) correlation.

Same contract as every registered query (promotion history in
staged/__init__.py): ``(spark, sf_dir) ->
DataFrame`` plus an exact DuckDB oracle, identical column aliases on
both sides, exact-integer / fixed-point arithmetic for anything
accumulated, a 100 TB plan story per docstring, no ``rand()``, no
``.collect()``. Value-distribution statistics run on the VALUE-
DOMAIN-BOUNDED distinct-cents cell table (the brown_forsythe /
mad_outlier precedent): cumulations are windows over a post-
aggregate input, never over raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import (
    SQL_DAILY_CENTS, daily_cents, fold_sorted_spark, fold_sorted_sql,
    sql_cents, wide,
)
from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load

_WKND_SPARK = "CASE WHEN (dayofweek(ts) - 1) IN (0, 6) THEN 1 ELSE 0 END"
_WKND_SQL = "CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END"


# ---------------------------------------------------------------------
# Pooled-EDF two-sample panel: weekend vs weekday event values.
#
# One cell cumulation drives four statistics. Per distinct cents
# value j (pooled order): l_j = ties, B_j = pooled cumulative count,
# M_j = weekend cumulative count. KS distances compare the EDFs as
# exact integer numerators n2*M_j - n1*(B_j - M_j) scaled by n1*n2;
# Anderson-Darling (Scholz-Stephens discrete k=2 form, full-sample
# version excluding B_j = N) sums l_j/N * (N*M_j - n1*B_j)^2 /
# (B_j*(N - B_j)) / n1 over both samples — the sample-2 term has the
# same numerator (N*M2_j - n2*B_j = -(N*M_j - n1*B_j)), so the inner
# sum collapses to a single pass with the (1/n1 + 1/n2) factor.


@query(
    "edf_two_sample_panel_weekend",
    oracle=f"""
        WITH v AS (
          SELECT {sql_cents("value")} AS c, {_WKND_SQL} AS w
          FROM events
        ),
        cell AS (
          SELECT c, CAST(COUNT(*) AS BIGINT) AS l_j,
                 CAST(SUM(w) AS BIGINT) AS w_j
          FROM v GROUP BY c
        ),
        cum AS (
          SELECT c, l_j,
                 CAST(SUM(l_j) OVER (ORDER BY c) AS BIGINT) AS b_j,
                 CAST(SUM(w_j) OVER (ORDER BY c) AS BIGINT) AS m_j
          FROM cell
        ),
        sizes AS (
          SELECT CAST(SUM(l_j) AS BIGINT) AS n,
                 CAST(SUM(w_j) AS BIGINT) AS n1
          FROM cell
        ),
        panel AS (
          SELECT s.n1 AS n_weekend, s.n - s.n1 AS n_weekday,
                 CAST(MAX(CAST(s.n - s.n1 AS HUGEINT) * m_j
                          - CAST(s.n1 AS HUGEINT) * (b_j - m_j))
                      AS DOUBLE)
                   / (CAST(s.n1 AS DOUBLE) * (s.n - s.n1)) AS d_plus,
                 CAST(MAX(CAST(s.n1 AS HUGEINT) * (b_j - m_j)
                          - CAST(s.n - s.n1 AS HUGEINT) * m_j)
                      AS DOUBLE)
                   / (CAST(s.n1 AS DOUBLE) * (s.n - s.n1)) AS d_minus,
                 {fold_sorted_sql(
                     "list(CASE WHEN b_j < s.n THEN "
                     "CAST(l_j AS DOUBLE) / s.n "
                     "* CAST(CAST(CAST(s.n AS HUGEINT) * m_j "
                     "- CAST(s.n1 AS HUGEINT) * b_j AS VARCHAR) "
                     "AS DOUBLE) "
                     "* CAST(CAST(CAST(s.n AS HUGEINT) * m_j "
                     "- CAST(s.n1 AS HUGEINT) * b_j AS VARCHAR) "
                     "AS DOUBLE) "
                     "/ (CAST(b_j AS DOUBLE) * (s.n - b_j)) "
                     "ELSE CAST(0.0 AS DOUBLE) END)")}
                   * (CAST(1.0 AS DOUBLE) / s.n1
                      + CAST(1.0 AS DOUBLE) / (s.n - s.n1)) AS ad_stat
          FROM cum, sizes s
          GROUP BY s.n, s.n1
        )
        SELECT n_weekend, n_weekday, d_plus, d_minus,
               GREATEST(d_plus, d_minus) AS ks_d,
               d_plus + d_minus AS kuiper_v,
               ad_stat
        FROM panel
    """,
    doc="Pooled-EDF two-sample panel comparing weekend vs weekday "
        "event values: KS one-sided distances D+/D-, the two-sided "
        "KS D, Kuiper's V = D+ + D- (sensitive to tail AND shift "
        "alternatives), and the Anderson-Darling two-sample "
        "statistic (Scholz-Stephens discrete form — the "
        "tail-weighted member the registered cramer_von_mises_"
        "weekend lacks). ONE value-cell cumulation drives all four: "
        "KS maxima are exact HUGEINT/DECIMAL(38,0) integer "
        "numerators with one final division; AD terms are rationals "
        "of exact cumulative counts folded SORTED from 0.0 "
        "(identical both engines). Plan: one scan, one cents-keyed "
        "map-side-combinable cell aggregate, ONE unpartitioned "
        "window over the value-domain-bounded cell table (post-"
        "aggregate — the audited-safe shape), 1-row panel.",
    tags=("statistics",),
)
def edf_two_sample_panel_weekend(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    cell = (load(spark, sf_dir, "events")
            .selectExpr(f"{sql_cents('value')} AS c", f"{_WKND_SPARK} AS w")
            .groupBy("c")
            .agg(F.count(F.lit(1)).cast("long").alias("l_j"),
                 F.sum("w").cast("long").alias("w_j"))
            # the cumulation AND the sizes panel both consume the
            # value-domain-bounded cells; pin them so the fact table
            # scans once (multi-consumer intermediates re-execute)
            .localCheckpoint())
    wcum = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = cell.select(
        "c", "l_j",
        F.sum("l_j").over(wcum).cast("long").alias("b_j"),
        F.sum("w_j").over(wcum).cast("long").alias("m_j"))
    sizes = cell.agg(F.sum("l_j").cast("long").alias("n"),
                     F.sum("w_j").cast("long").alias("n1"))
    ad_term = (
        "CASE WHEN b_j < n THEN CAST(l_j AS DOUBLE) / n"
        " * CAST(CAST(CAST(n AS DECIMAL(38,0)) * m_j"
        " - CAST(n1 AS DECIMAL(38,0)) * b_j AS STRING) AS DOUBLE)"
        " * CAST(CAST(CAST(n AS DECIMAL(38,0)) * m_j"
        " - CAST(n1 AS DECIMAL(38,0)) * b_j AS STRING) AS DOUBLE)"
        " / (CAST(b_j AS DOUBLE) * (n - b_j))"
        " ELSE CAST(0.0 AS DOUBLE) END")
    panel = (cum.crossJoin(F.broadcast(sizes))
             .groupBy("n", "n1")
             .agg(F.expr(
                     "CAST(MAX(CAST(n - n1 AS DECIMAL(38,0)) * m_j"
                     " - CAST(n1 AS DECIMAL(38,0)) * (b_j - m_j))"
                     " AS DOUBLE)"
                     " / (CAST(n1 AS DOUBLE) * (n - n1))")
                   .alias("d_plus"),
                  F.expr(
                     "CAST(MAX(CAST(n1 AS DECIMAL(38,0)) * (b_j - m_j)"
                     " - CAST(n - n1 AS DECIMAL(38,0)) * m_j)"
                     " AS DOUBLE)"
                     " / (CAST(n1 AS DOUBLE) * (n - n1))")
                   .alias("d_minus"),
                  F.expr(fold_sorted_spark(f"collect_list({ad_term})")
                         + " * (CAST(1.0 AS DOUBLE) / n1"
                         " + CAST(1.0 AS DOUBLE) / (n - n1))")
                   .alias("ad_stat")))
    return panel.selectExpr(
        "n1 AS n_weekend", "n - n1 AS n_weekday",
        "d_plus", "d_minus",
        "GREATEST(d_plus, d_minus) AS ks_d",
        "d_plus + d_minus AS kuiper_v",
        "ad_stat")


# ---------------------------------------------------------------------
# Classical additive decomposition strength (Hyndman F-statistics).


@query(
    "seasonal_strength_weekly",
    oracle=f"""
        WITH {SQL_DAILY_CENTS},
        arr AS (
          SELECT list(cents ORDER BY day) AS a,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM d
        ),
        det AS (
          -- centered 7-term MA trend; detrended = x - trend, one
          -- double division by 7 per point (identical both engines)
          SELECT n,
                 list_transform(generate_series(4, CAST(n AS INT) - 3),
                   t -> struct_pack(
                     dow := (t - 1) % 7,
                     v := CAST(a[t] AS DOUBLE)
                          - CAST(a[t-3] + a[t-2] + a[t-1] + a[t]
                                 + a[t+1] + a[t+2] + a[t+3] AS DOUBLE)
                            / 7)) AS dt
          FROM arr
        ),
        season AS (
          SELECT n, dt,
                 list_transform(generate_series(0, 6), g ->
                   {fold_sorted_sql("list_transform(list_filter(dt,"
                                    " x -> x.dow = g), x -> x.v)")}
                   / len(list_filter(dt, x -> x.dow = g))) AS s_idx
          FROM det
        ),
        moments AS (
          SELECT CAST(len(dt) AS BIGINT) AS n_mid,
                 {fold_sorted_sql("list_transform(dt, x -> x.v)")} AS sd1,
                 {fold_sorted_sql("list_transform(dt, x -> x.v * x.v)")}
                   AS sq1,
                 {fold_sorted_sql("list_transform(dt,"
                                  " x -> x.v - s_idx[x.dow + 1])")} AS sr1,
                 {fold_sorted_sql("list_transform(dt,"
                                  " x -> (x.v - s_idx[x.dow + 1])"
                                  " * (x.v - s_idx[x.dow + 1]))")} AS rq1
          FROM season
        )
        SELECT n_mid,
               (sq1 - sd1 * sd1 / n_mid) / n_mid AS var_detrended,
               (rq1 - sr1 * sr1 / n_mid) / n_mid AS var_remainder,
               GREATEST(CAST(0.0 AS DOUBLE),
                 1 - ((rq1 - sr1 * sr1 / n_mid) / n_mid)
                   / ((sq1 - sd1 * sd1 / n_mid) / n_mid))
                 AS seasonal_strength
        FROM moments
    """,
    doc="Strength of weekly seasonality via classical additive "
        "decomposition (the STL-strength diagnostic, Hyndman's F_s = "
        "max(0, 1 - Var(remainder)/Var(detrended))): trend is the "
        "centered 7-term moving average, seasonal indices are per-"
        "weekday means of the detrended series, remainder is what's "
        "left. Complements the Holt-Winters forecaster (staged "
        "round10b) with the decide-if-seasonal-modeling-is-worth-it "
        "gate. Each detrended value divides the same exact 7-term "
        "integer sum by 7 once; every subsequent sum of double terms "
        "folds SORTED from 0.0 on both engines (the dow-index lookup "
        "is positional, not order-dependent). Plan: one daily "
        "rollup; ALL decomposition arithmetic is in-array on the "
        "calendar-bounded row — no self-join, no window.",
    tags=("timeseries", "statistics"),
)
def seasonal_strength_weekly(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    arr = daily_cents(spark, sf_dir).agg(
        F.expr("transform(array_sort(collect_list(struct(day, cents))),"
               " x -> x.cents)").alias("a"),
        F.count(F.lit(1)).cast("long").alias("n"))
    det = arr.selectExpr(
        "n",
        "transform(sequence(4, CAST(n AS INT) - 3), t -> struct("
        " (t - 1) % 7 AS dow,"
        " CAST(element_at(a, t) AS DOUBLE)"
        " - CAST(element_at(a, t-3) + element_at(a, t-2)"
        " + element_at(a, t-1) + element_at(a, t)"
        " + element_at(a, t+1) + element_at(a, t+2)"
        " + element_at(a, t+3) AS DOUBLE) / 7 AS v)) AS dt")
    season = det.selectExpr(
        "n", "dt",
        "transform(sequence(0, 6), g -> "
        + fold_sorted_spark("transform(filter(dt, x -> x.dow = g),"
                            " x -> x.v)")
        + " / size(filter(dt, x -> x.dow = g))) AS s_idx")
    moments = season.selectExpr(
        "CAST(size(dt) AS BIGINT) AS n_mid",
        fold_sorted_spark("transform(dt, x -> x.v)") + " AS sd1",
        fold_sorted_spark("transform(dt, x -> x.v * x.v)") + " AS sq1",
        fold_sorted_spark("transform(dt,"
                          " x -> x.v - element_at(s_idx, x.dow + 1))")
        + " AS sr1",
        fold_sorted_spark("transform(dt,"
                          " x -> (x.v - element_at(s_idx, x.dow + 1))"
                          " * (x.v - element_at(s_idx, x.dow + 1)))")
        + " AS rq1")
    return moments.selectExpr(
        "n_mid",
        "(sq1 - sd1 * sd1 / n_mid) / n_mid AS var_detrended",
        "(rq1 - sr1 * sr1 / n_mid) / n_mid AS var_remainder",
        "GREATEST(CAST(0.0 AS DOUBLE),"
        " 1 - ((rq1 - sr1 * sr1 / n_mid) / n_mid)"
        " / ((sq1 - sd1 * sd1 / n_mid) / n_mid)) AS seasonal_strength")


# ---------------------------------------------------------------------
# Grubbs' max studentized deviation on daily revenue.


@query(
    "grubbs_max_deviation_daily",
    oracle=f"""
        WITH {SQL_DAILY_CENTS},
        m AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(cents) AS BIGINT) AS s,
                 SUM(CAST(cents AS HUGEINT) * cents) AS q
          FROM d
        ),
        dev AS (
          SELECT d.day, m.n, m.s, m.q,
                 abs(CAST(m.n AS HUGEINT) * d.cents - m.s) AS num
          FROM d, m
        ),
        top AS (
          SELECT day, n, s, q, num
          FROM dev ORDER BY num DESC, day LIMIT 1
        )
        SELECT day AS peak_day, n AS n_days,
               {wide("num")} / n
                 / SQRT(({wide("CAST(n AS HUGEINT) * q"
                               " - CAST(s AS HUGEINT) * s")})
                        / (CAST(n AS DOUBLE) * (n - 1))) AS g_stat
        FROM top
    """,
    doc="Grubbs' statistic G = max|x - mean| / s over daily revenue, "
        "plus WHICH day peaks: the single-outlier studentized screen "
        "complementing the registered MAD gate (mad_outlier_events "
        "is robust/multi-outlier; Grubbs is the classical normal-"
        "theory single-spike detector — run both, disagreement "
        "flags masking). n-scaled centering keeps the deviation "
        "numerator |n*x - S| an exact HUGEINT/DECIMAL(38,0) integer "
        "(argmax over exact integers — no double ties), and the "
        "variance assembles from exact (n, S, Q) with the wide "
        "string-route cast and one sqrt. Plan: one daily rollup, a "
        "1-row moment panel broadcast back, a 1-row TakeOrdered "
        "argmax — no windows.",
    tags=("timeseries", "statistics"),
)
def grubbs_max_deviation_daily(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    d = daily_cents(spark, sf_dir).localCheckpoint()
    m = d.agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum("cents").cast("long").alias("s"),
              F.expr("SUM(CAST(cents AS DECIMAL(38,0)) * cents)")
               .alias("q"))
    dev = (d.crossJoin(F.broadcast(m))
            .selectExpr("day", "n", "s", "q",
                        "abs(CAST(n AS DECIMAL(38,0)) * cents - s)"
                        " AS num"))
    top = dev.orderBy(F.desc("num"), "day").limit(1)
    ssq = wide("CAST(n AS DECIMAL(38,0)) * q"
               " - CAST(s AS DECIMAL(38,0)) * s")
    return top.selectExpr(
        "day AS peak_day", "n AS n_days",
        f"{wide('num')} / n"
        f" / SQRT(({ssq}) / (CAST(n AS DOUBLE) * (n - 1))) AS g_stat")


# ---------------------------------------------------------------------
# Winsorized mean of event values (5% / 95%).


@query(
    "winsorized_mean_value",
    oracle=f"""
        WITH cell AS (
          SELECT {sql_cents("value")} AS c, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1
        ),
        cum AS (
          SELECT c, cnt,
                 CAST(SUM(cnt) OVER (ORDER BY c) AS BIGINT) AS cum_n
          FROM cell
        ),
        sz AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM cell),
        bounds AS (
          -- discrete order statistics: the ceil(0.05 n)-th and
          -- ceil(0.95 n)-th values via exact integer thresholds
          SELECT (SELECT MIN(c) FROM cum, sz
                  WHERE 20 * cum_n >= n) AS p05,
                 (SELECT MIN(c) FROM cum, sz
                  WHERE 20 * cum_n >= 19 * n) AS p95
        ),
        w AS (
          SELECT sz.n, b.p05, b.p95,
                 SUM(CAST(CASE WHEN cell.c < b.p05 THEN b.p05
                          WHEN cell.c > b.p95 THEN b.p95
                          ELSE cell.c END AS HUGEINT) * cell.cnt)
                   AS wsum,
                 SUM(CAST(cell.c AS HUGEINT) * cell.cnt) AS rsum
          FROM cell, bounds b, sz
          GROUP BY sz.n, b.p05, b.p95
        )
        SELECT n AS n_events, p05 AS p05_cents, p95 AS p95_cents,
               {wide("wsum")} / n / 100 AS winsorized_mean,
               {wide("rsum")} / n / 100 AS raw_mean
        FROM w
    """,
    doc="5%-winsorized mean of event values: clamp (don't drop) the "
        "tails at the exact discrete 5th/95th percentile order "
        "statistics, then average — the robust-location sibling of "
        "the trimmed mean (udaf_trimmed_mean_segment DROPS tail "
        "mass per segment via a pandas UDAF; this CLAMPS corpus-"
        "wide in pure exchange-free-after-aggregate SQL, and the "
        "two react differently to asymmetric tails). Percentile "
        "thresholds are exact integer comparisons (20*cum >= k*n — "
        "no interpolation, no doubles); the clamped sum accumulates "
        "in HUGEINT/DECIMAL(38,0) with ONE wide cast. Plan: one "
        "scan, one cents-cell aggregate, one post-aggregate "
        "cumulative window over the value-domain-bounded cells, "
        "broadcast 1-row bounds join back onto the cells.",
    tags=("statistics",),
)
def winsorized_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell = (load(spark, sf_dir, "events")
            .selectExpr(f"{sql_cents('value')} AS c")
            .groupBy("c")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            # bounds + winsorized sum both consume the cells; pin the
            # bounded table so the fact scan runs once
            .localCheckpoint())
    wcum = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = cell.select(
        "c", F.sum("cnt").over(wcum).cast("long").alias("cum_n"))
    sz = cell.agg(F.sum("cnt").cast("long").alias("n"))
    p05 = (cum.crossJoin(F.broadcast(sz))
              .filter("20 * cum_n >= n")
              .agg(F.min("c").alias("p05")))
    p95 = (cum.crossJoin(F.broadcast(sz))
              .filter("20 * cum_n >= 19 * n")
              .agg(F.min("c").alias("p95")))
    w = (cell.crossJoin(F.broadcast(p05))
             .crossJoin(F.broadcast(p95))
             .crossJoin(F.broadcast(sz))
             .groupBy("n", "p05", "p95")
             .agg(F.expr(
                      "SUM(CAST(CASE WHEN c < p05 THEN p05"
                      " WHEN c > p95 THEN p95 ELSE c END"
                      " AS DECIMAL(38,0)) * cnt)").alias("wsum"),
                  F.expr("SUM(CAST(c AS DECIMAL(38,0)) * cnt)")
                   .alias("rsum")))
    return w.selectExpr(
        "n AS n_events", "p05 AS p05_cents", "p95 AS p95_cents",
        f"{wide('wsum')} / n / 100 AS winsorized_mean",
        f"{wide('rsum')} / n / 100 AS raw_mean")


# ---------------------------------------------------------------------
# Pooled within-group correlation (partial correlation given dow).


@query(
    "partial_corr_revenue_count_dow",
    oracle=f"""
        WITH day_t AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 dayofweek(MIN(ts)) AS dow,
                 CAST(SUM({sql_cents("value")}) AS BIGINT) AS x,
                 CAST(COUNT(*) AS BIGINT) AS y
          FROM events GROUP BY 1
        ),
        g AS (
          SELECT dow, CAST(COUNT(*) AS BIGINT) AS m,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 SUM(CAST(x AS HUGEINT) * x) AS qx,
                 SUM(CAST(y AS HUGEINT) * y) AS qy,
                 SUM(CAST(x AS HUGEINT) * y) AS qxy
          FROM day_t GROUP BY dow
        ),
        folds AS (
          SELECT {fold_sorted_sql(
                     "list(CAST(CAST(CAST(m AS HUGEINT) * qx"
                     " - CAST(sx AS HUGEINT) * sx AS VARCHAR)"
                     " AS DOUBLE) / m)")} AS sxx_w,
                 {fold_sorted_sql(
                     "list(CAST(CAST(CAST(m AS HUGEINT) * qy"
                     " - CAST(sy AS HUGEINT) * sy AS VARCHAR)"
                     " AS DOUBLE) / m)")} AS syy_w,
                 {fold_sorted_sql(
                     "list(CAST(CAST(CAST(m AS HUGEINT) * qxy"
                     " - CAST(sx AS HUGEINT) * sy AS VARCHAR)"
                     " AS DOUBLE) / m)")} AS sxy_w
          FROM g WHERE m > 1
        )
        SELECT sxy_w / SQRT(sxx_w * syy_w) AS partial_corr,
               sxx_w, syy_w, sxy_w
        FROM folds
    """,
    doc="Pooled within-group correlation of (daily revenue, daily "
        "event count) controlling for weekday — exactly the partial "
        "correlation given the dow category (residualizing on group "
        "means): does revenue track volume BEYOND the shared weekly "
        "rhythm? The confounder-adjusted companion to ccf_0 (cross_"
        "correlation_revenue_count measures raw contemporaneous "
        "association). Per-dow scatter terms (m*Q - S^2)/m use exact "
        "HUGEINT/DECIMAL(38,0) integer numerators, one wide cast and "
        "one division each; the <= 7 per-group double terms fold "
        "SORTED from 0.0. Plan: one daily rollup, one 7-group "
        "aggregate, a 1-row panel — no windows, no joins.",
    tags=("statistics", "timeseries"),
)
def partial_corr_revenue_count_dow(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    day_t = (load(spark, sf_dir, "events")
             .selectExpr("CAST(CAST(ts AS DATE) AS STRING) AS day",
                         "ts", f"{sql_cents('value')} AS c")
             .groupBy("day")
             .agg(F.expr("dayofweek(MIN(ts)) - 1").alias("dow"),
                  F.sum("c").cast("long").alias("x"),
                  F.count(F.lit(1)).cast("long").alias("y")))
    g = day_t.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * x)").alias("qx"),
        F.expr("SUM(CAST(y AS DECIMAL(38,0)) * y)").alias("qy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * y)").alias("qxy"))
    folds = g.filter("m > 1").agg(
        F.expr(fold_sorted_spark(
            "collect_list(CAST(CAST(CAST(m AS DECIMAL(38,0)) * qx"
            " - CAST(sx AS DECIMAL(38,0)) * sx AS STRING)"
            " AS DOUBLE) / m)")).alias("sxx_w"),
        F.expr(fold_sorted_spark(
            "collect_list(CAST(CAST(CAST(m AS DECIMAL(38,0)) * qy"
            " - CAST(sy AS DECIMAL(38,0)) * sy AS STRING)"
            " AS DOUBLE) / m)")).alias("syy_w"),
        F.expr(fold_sorted_spark(
            "collect_list(CAST(CAST(CAST(m AS DECIMAL(38,0)) * qxy"
            " - CAST(sx AS DECIMAL(38,0)) * sy AS STRING)"
            " AS DOUBLE) / m)")).alias("sxy_w"))
    return folds.selectExpr(
        "sxy_w / SQRT(sxx_w * syy_w) AS partial_corr",
        "sxx_w", "syy_w", "sxy_w")
