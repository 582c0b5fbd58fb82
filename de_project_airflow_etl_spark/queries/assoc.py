"""Round-9 promoted bank (staged round 8 as staged/round9c.py): serial-correlation diagnostics
(ACF/Ljung-Box, lagged cross-correlation), categorical-trend and
symmetry inference (Cochran-Armitage, Bowker, Mantel-Haenszel),
ordinal association (gamma / Somers' D / tau-b), forecast-error and
quantile-loss panels (sMAPE, pinball), cascade retrieval evaluation
(ERR), first-digit conformance (Benford), a lexical-dominance panel,
and the strict ordered-funnel operator.

Same contract as every registered query (promotion history in
staged/__init__.py): ``(spark, sf_dir) ->
DataFrame`` plus an exact DuckDB oracle, identical column aliases on
both sides, exact-integer / fixed-point arithmetic for anything
accumulated, a 100 TB plan story per docstring, no ``rand()``, no
``.collect()``.

Determinism rules inherited from the round-7b/8 banks: +-*/ and sqrt
only (ln/log2/exp are not correctly rounded cross-engine — Benford's
log10 expectations are precomputed ONCE in Python and inlined as
identical repr() literals into both engines, the NDCG-discount
precedent); integer products accumulate in Spark DECIMAL(38,0) /
DuckDB HUGEINT (identical digits, then one wide string-route cast to
double); bounded sums of per-group double terms fold over SORTED
arrays from an explicit 0.0 seed on both engines; sequential
rank-ordered folds (ERR's cascade product) run over rank-sorted
arrays, deterministic because rank is unique.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import (
    SQL_DAILY_CENTS, daily_cents, dlit, fold_sorted_spark, fold_sorted_sql,
    sql_cents, wide,
)
from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load


# ---------------------------------------------------------------------
# ACF lags 1..7 + Ljung-Box portmanteau on daily revenue.
#
# n-scaled centering keeps every autocovariance term an exact integer:
# (n*a_t - S) = n*(a_t - mean), so num_k = sum_{t>k} (n*a_t - S)
# (n*a_{t-k} - S) = n^2 * acov_k and den = sum_t (n*a_t - S)^2 = n^2 *
# acov_0 — the n^2 factors cancel in rho_k = num_k/den. Products reach
# ~(n*cents)^2, far past 2^63 at scale: Spark folds in DECIMAL(38,0),
# DuckDB in HUGEINT (identical digits), then ONE wide cast each.

_LB_LAGS = 7


def _lb_rho_sql(k: int) -> str:
    return (f"CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), "
            f"list_transform(generate_series({k + 1}, CAST(n AS INT)), "
            f"t -> CAST(n * a[t] - s AS HUGEINT) "
            f"* (n * a[t - {k}] - s))), (acc, v) -> acc + v) AS VARCHAR)")


def _lb_rho_spark(k: int) -> str:
    return (f"CAST(aggregate(transform(sequence({k + 1}, CAST(n AS INT)), "
            f"t -> CAST(n * element_at(a, t) - s AS DECIMAL(38,0)) "
            f"* (n * element_at(a, t - {k}) - s)), "
            f"CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v) AS STRING)")


_LB_DEN_SQL = ("CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), "
               "list_transform(generate_series(1, CAST(n AS INT)), "
               "t -> CAST(n * a[t] - s AS HUGEINT) * (n * a[t] - s))), "
               "(acc, v) -> acc + v) AS VARCHAR)")

_LB_DEN_SPARK = ("CAST(aggregate(transform(sequence(1, CAST(n AS INT)), "
                 "t -> CAST(n * element_at(a, t) - s AS DECIMAL(38,0)) "
                 "* (n * element_at(a, t) - s)), "
                 "CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v) "
                 "AS STRING)")

_LB_Q = (" + ".join(
    f"(acf_{k} * acf_{k}) / (CAST(n_days AS DOUBLE) - {k})"
    for k in range(1, _LB_LAGS + 1)))


@query(
    "ljung_box_daily_revenue",
    oracle=f"""
        WITH {SQL_DAILY_CENTS},
        arr AS (
          SELECT list(cents ORDER BY day) AS a,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(cents) AS BIGINT) AS s
          FROM d
        ),
        rho AS (
          SELECT n AS n_days,
                 {", ".join(
                     f"CAST({_lb_rho_sql(k)} AS DOUBLE)"
                     f" / CAST({_LB_DEN_SQL} AS DOUBLE) AS acf_{k}"
                     for k in range(1, _LB_LAGS + 1))}
          FROM arr
        )
        SELECT n_days,
               {", ".join(f"acf_{k}" for k in range(1, _LB_LAGS + 1))},
               CAST(n_days AS DOUBLE) * (n_days + 2) * ({_LB_Q})
                 AS lb_q_stat
        FROM rho
    """,
    doc="Autocorrelation function (lags 1-7) of daily revenue plus "
        "the Ljung-Box portmanteau Q — THE standard is-it-white-noise "
        "diagnostic, completing the serial-dependence family next to "
        "Durbin-Watson (registered; DW only sees lag 1). n-scaled "
        "centering keeps every autocovariance an exact integer "
        "(Spark DECIMAL(38,0) / DuckDB HUGEINT folds, identical "
        "digits, ONE wide cast each), so each rho_k is one exact "
        "division; Q folds the 7 rho^2/(n-k) terms in a fixed "
        "left-to-right literal sum (bounded lag count, written out "
        "rather than array-folded). Plan: one map-side-combinable "
        "daily rollup; the O(n*lags) pair sweep runs inside ONE "
        "row's array lambda over the calendar-bounded series — never "
        "a self-join, no window over raw rows.",
    tags=("timeseries", "statistics"),
)
def ljung_box_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    arr = daily_cents(spark, sf_dir).agg(
        F.expr("transform(array_sort(collect_list(struct(day, cents))),"
               " x -> x.cents)").alias("a"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"))
    rho = arr.selectExpr(
        "n AS n_days",
        *[f"CAST({_lb_rho_spark(k)} AS DOUBLE)"
          f" / CAST({_LB_DEN_SPARK} AS DOUBLE) AS acf_{k}"
          for k in range(1, _LB_LAGS + 1)])
    return rho.selectExpr(
        "n_days",
        *[f"acf_{k}" for k in range(1, _LB_LAGS + 1)],
        f"CAST(n_days AS DOUBLE) * (n_days + 2) * ({_LB_Q})"
        " AS lb_q_stat")


# ---------------------------------------------------------------------
# Lagged cross-correlation: daily revenue vs daily event count.

_CC_LAGS = (-3, -2, -1, 0, 1, 2, 3)


def _cc_num_sql(k: int) -> str:
    return (f"CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), "
            f"list_transform(generate_series({1 + max(0, k)}, "
            f"CAST(n AS INT){f' - {-k}' if k < 0 else ''}), "
            f"t -> CAST(n * ax[t] - sx AS HUGEINT) "
            f"* (n * ay[t - {k}] - sy) "
            f")), (acc, v) -> acc + v) AS VARCHAR)")


def _cc_num_spark(k: int) -> str:
    return (f"CAST(aggregate(transform(sequence({1 + max(0, k)}, "
            f"CAST(n AS INT){f' - {-k}' if k < 0 else ''}), "
            f"t -> CAST(n * element_at(ax, t) - sx AS DECIMAL(38,0)) "
            f"* (n * element_at(ay, t - {k}) - sy)), "
            f"CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v) AS STRING)")


_CC_DEN_SQL = {
    "x": ("CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), "
          "list_transform(generate_series(1, CAST(n AS INT)), "
          "t -> CAST(n * ax[t] - sx AS HUGEINT) * (n * ax[t] - sx))), "
          "(acc, v) -> acc + v) AS VARCHAR)"),
    "y": ("CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), "
          "list_transform(generate_series(1, CAST(n AS INT)), "
          "t -> CAST(n * ay[t] - sy AS HUGEINT) * (n * ay[t] - sy))), "
          "(acc, v) -> acc + v) AS VARCHAR)"),
}

_CC_DEN_SPARK = {
    "x": ("CAST(aggregate(transform(sequence(1, CAST(n AS INT)), "
          "t -> CAST(n * element_at(ax, t) - sx AS DECIMAL(38,0)) "
          "* (n * element_at(ax, t) - sx)), "
          "CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v) AS STRING)"),
    "y": ("CAST(aggregate(transform(sequence(1, CAST(n AS INT)), "
          "t -> CAST(n * element_at(ay, t) - sy AS DECIMAL(38,0)) "
          "* (n * element_at(ay, t) - sy)), "
          "CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v) AS STRING)"),
}


def _cc_col(k: int) -> str:
    return f"ccf_m{-k}" if k < 0 else f"ccf_{k}"


@query(
    "cross_correlation_revenue_count",
    oracle=f"""
        WITH base AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(SUM({sql_cents("value")}) AS BIGINT) AS cents,
                 CAST(COUNT(*) AS BIGINT) AS n_ev
          FROM events GROUP BY 1
        ),
        arr AS (
          SELECT list(cents ORDER BY day) AS ax,
                 list(n_ev ORDER BY day) AS ay,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(cents) AS BIGINT) AS sx,
                 CAST(SUM(n_ev) AS BIGINT) AS sy
          FROM base
        )
        SELECT n AS n_days,
               {", ".join(
                   f"CAST({_cc_num_sql(k)} AS DOUBLE) / "
                   f"SQRT(CAST({_CC_DEN_SQL['x']} AS DOUBLE) * "
                   f"CAST({_CC_DEN_SQL['y']} AS DOUBLE)) AS {_cc_col(k)}"
                   for k in _CC_LAGS)}
        FROM arr
    """,
    doc="Lagged cross-correlation (lags -3..+3) between the daily "
        "revenue and daily event-count series: does volume LEAD "
        "revenue (positive lag) or lag it? The lead-lag companion to "
        "the registered Pearson matrix (corr_matrix_lineitem measures "
        "contemporaneous association only). Same n-scaled exact-"
        "integer centering as ljung_box: every cross-covariance is an "
        "exact DECIMAL(38,0)/HUGEINT integer, one wide cast, one "
        "division by the sqrt of the two exact variance integers "
        "(IEEE sqrt is correctly rounded — bit-identical). Plan: ONE "
        "daily rollup computes both series in the same aggregate (no "
        "second fact scan); all lag arithmetic is in-array on the "
        "calendar-bounded row.",
    tags=("timeseries", "statistics"),
)
def cross_correlation_revenue_count(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    arr = (load(spark, sf_dir, "events")
           .selectExpr("CAST(CAST(ts AS DATE) AS STRING) AS day",
                       f"{sql_cents('value')} AS c")
           .groupBy("day")
           .agg(F.sum("c").cast("long").alias("cents"),
                F.count(F.lit(1)).cast("long").alias("n_ev"))
           .agg(F.expr("transform(array_sort(collect_list("
                       "struct(day, cents))), x -> x.cents)").alias("ax"),
                F.expr("transform(array_sort(collect_list("
                       "struct(day, n_ev))), x -> x.n_ev)").alias("ay"),
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("cents").cast("long").alias("sx"),
                F.sum("n_ev").cast("long").alias("sy")))
    return arr.selectExpr(
        "n AS n_days",
        *[f"CAST({_cc_num_spark(k)} AS DOUBLE) / "
          f"SQRT(CAST({_CC_DEN_SPARK['x']} AS DOUBLE) * "
          f"CAST({_CC_DEN_SPARK['y']} AS DOUBLE)) AS {_cc_col(k)}"
          for k in _CC_LAGS])


# ---------------------------------------------------------------------
# Cochran-Armitage trend test: purchase share across ordered weekdays.
#
# With integer scores s_i (dow 0..6), counts n_i and successes d_i:
#   T_num = N * sum(s_i d_i) - D * sum(s_i n_i)          (exact int)
#   Var*N^2 = D (N - D) * (N * sum(s_i^2 n_i) - (sum(s_i n_i))^2) / N
#   z = T_num / sqrt(D (N-D) (N sum(s^2 n) - (sum(s n))^2) / N)
# Every sufficient statistic is an exact integer; z is built from
# wide casts and one sqrt.


@query(
    "cochran_armitage_dow_trend",
    oracle=f"""
        WITH cell AS (
          SELECT dayofweek(ts) AS s,
                 CAST(COUNT(*) AS BIGINT) AS n_i,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                          THEN 1 ELSE 0 END) AS BIGINT) AS d_i
          FROM events GROUP BY 1
        ),
        suff AS (
          SELECT CAST(SUM(n_i) AS BIGINT) AS n,
                 CAST(SUM(d_i) AS BIGINT) AS d,
                 CAST(SUM(s * d_i) AS BIGINT) AS sd,
                 CAST(SUM(s * n_i) AS BIGINT) AS sn,
                 CAST(SUM(s * s * n_i) AS BIGINT) AS ssn
          FROM cell
        )
        SELECT n AS n_events, d AS n_purchases,
               CAST(CAST(CAST(n AS HUGEINT) * sd
                    - CAST(d AS HUGEINT) * sn AS VARCHAR) AS DOUBLE)
                 AS t_num,
               {wide("CAST(d AS HUGEINT) * (n - d)"
                     " * (CAST(n AS HUGEINT) * ssn"
                     " - CAST(sn AS HUGEINT) * sn)")}
                 / CAST(n AS DOUBLE) AS var_scaled,
               CAST(CAST(CAST(n AS HUGEINT) * sd
                    - CAST(d AS HUGEINT) * sn AS VARCHAR) AS DOUBLE)
                 / SQRT({wide("CAST(d AS HUGEINT) * (n - d)"
                              " * (CAST(n AS HUGEINT) * ssn"
                              " - CAST(sn AS HUGEINT) * sn)")}
                        / CAST(n AS DOUBLE)) AS z_stat
        FROM suff
    """,
    doc="Cochran-Armitage test for a LINEAR TREND in purchase "
        "proportion across the ordered weekday scores 0..6 — the "
        "dose-response companion to chi2 independence (registered "
        "cramers_v treats weekday as nominal; this asks the sharper "
        "monotone question and is the standard A/B-dose audit). All "
        "five sufficient statistics are map-side-combinable integer "
        "sums over the 7-row weekday cell table; T and Var assemble "
        "in HUGEINT/DECIMAL(38,0) products (magnitudes reach N^2*36 "
        "— past 2^63 at corpus scale), wide-cast once, one sqrt. "
        "Plan: one scan, one 7-group aggregate, a 1-row panel — "
        "zero joins, zero windows.",
    tags=("statistics",),
)
def cochran_armitage_dow_trend(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    cell = (load(spark, sf_dir, "events")
            .selectExpr("dayofweek(ts) - 1 AS s",
                        "CASE WHEN event_type = 'purchase' THEN 1 "
                        "ELSE 0 END AS is_p")
            .groupBy("s")
            .agg(F.count(F.lit(1)).cast("long").alias("n_i"),
                 F.sum("is_p").cast("long").alias("d_i")))
    suff = cell.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.sum("d_i").cast("long").alias("d"),
        F.expr("CAST(SUM(s * d_i) AS BIGINT)").alias("sd"),
        F.expr("CAST(SUM(s * n_i) AS BIGINT)").alias("sn"),
        F.expr("CAST(SUM(s * s * n_i) AS BIGINT)").alias("ssn"))
    t_num = ("CAST(CAST(CAST(n AS DECIMAL(38,0)) * sd"
             " - CAST(d AS DECIMAL(38,0)) * sn AS STRING) AS DOUBLE)")
    var_s = (wide("CAST(d AS DECIMAL(38,0)) * (n - d)"
                  " * (CAST(n AS DECIMAL(38,0)) * ssn"
                  " - CAST(sn AS DECIMAL(38,0)) * sn)")
             + " / CAST(n AS DOUBLE)")
    return suff.selectExpr(
        "n AS n_events", "d AS n_purchases",
        f"{t_num} AS t_num",
        f"{var_s} AS var_scaled",
        f"{t_num} / SQRT({var_s}) AS z_stat")


# ---------------------------------------------------------------------
# Bowker symmetry test on per-user event-type transitions.


@query(
    "bowker_symmetry_event_transitions",
    oracle=f"""
        WITH trans AS (
          SELECT lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS p,
                 event_type AS c
          FROM events
        ),
        pair AS (
          SELECT least(p, c) AS t1, greatest(p, c) AS t2,
                 CAST(SUM(CASE WHEN p < c THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_fwd,
                 CAST(SUM(CASE WHEN p > c THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_rev
          FROM trans WHERE p IS NOT NULL AND p <> c
          GROUP BY 1, 2
        )
        SELECT CAST(SUM(n_fwd + n_rev) AS BIGINT) AS n_transitions,
               CAST(COUNT(*) AS BIGINT) AS df,
               {fold_sorted_sql(
                   "list(CAST(n_fwd - n_rev AS DOUBLE)"
                   " * (n_fwd - n_rev) / (n_fwd + n_rev))")}
                 AS bowker_stat
        FROM pair WHERE n_fwd + n_rev > 0
    """,
    doc="Bowker's test of symmetry on the per-user event-type "
        "transition matrix: are click->purchase moves as common as "
        "purchase->click? The k x k generalization of the registered "
        "McNemar (which only handles 2x2), asking whether the "
        "session-flow graph is directionally balanced. Transitions "
        "come from ONE lag window partitioned by user_id (grows-with-"
        "data key — per-user groups shrink relative to the corpus; "
        "(ts, event_id) ordering pins retry determinism); the "
        "unordered-pair trick (least/greatest + two conditional "
        "sums) collapses the matrix to <= C(5,2) rows in a single "
        "map-side-combinable aggregate — no self-join of the cell "
        "table. The <= 10 double terms fold sorted from a 0.0 seed "
        "(bit-identical both engines).",
    tags=("statistics",),
)
def bowker_symmetry_event_transitions(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (load(spark, sf_dir, "events")
             .select(F.lag("event_type").over(w).alias("p"),
                     F.col("event_type").alias("c"))
             .filter("p IS NOT NULL AND p <> c"))
    pair = (trans
            .selectExpr("least(p, c) AS t1", "greatest(p, c) AS t2",
                        "CASE WHEN p < c THEN 1 ELSE 0 END AS fwd")
            .groupBy("t1", "t2")
            .agg(F.sum("fwd").cast("long").alias("n_fwd"),
                 F.expr("CAST(SUM(1 - fwd) AS BIGINT)").alias("n_rev")))
    return (pair.filter("n_fwd + n_rev > 0")
            .agg(F.expr("CAST(SUM(n_fwd + n_rev) AS BIGINT)")
                  .alias("n_transitions"),
                 F.count(F.lit(1)).cast("long").alias("df"),
                 F.expr(fold_sorted_spark(
                     "collect_list(CAST(n_fwd - n_rev AS DOUBLE)"
                     " * (n_fwd - n_rev) / (n_fwd + n_rev))"))
                  .alias("bowker_stat")))


# ---------------------------------------------------------------------
# Ordinal association: weekday (0..6) x fixed value band (1..4).
#
# Pair classification over the <= 28-row cell table runs INSIDE one
# row's array lambda (the mann_kendall in-array idiom): C/D/T_X/T_Y
# accumulate as exact HUGEINT/DECIMAL(38,0) products of cell counts,
# then gamma, Somers' D (both directions) and tau-b are a handful of
# wide-cast divisions and one sqrt each.

_BAND_SQL = ("CASE WHEN {c} < 1000 THEN 1 WHEN {c} < 5000 THEN 2 "
             "WHEN {c} < 20000 THEN 3 ELSE 4 END")

# pair sweep over the cell array (concordant / discordant /
# tied-x-only / tied-y-only; tied-both never pairs i<j cells because
# (x, y) is the grouping key)
def _oa_sweep_sql(cond: str, alias: str) -> str:
    return (
        "CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), "
        "flatten(list_transform(generate_series(1, len(cells) - 1), "
        "i -> list_transform(generate_series(i + 1, len(cells)), "
        "j -> CASE WHEN " + cond + " THEN "
        "CAST(cells[i].cnt AS HUGEINT) * cells[j].cnt "
        "ELSE CAST(0 AS HUGEINT) END)))), "
        f"(acc, v) -> acc + v) AS VARCHAR) AS {alias}")


def _oa_sweep_spark(cond: str, alias: str) -> str:
    return (
        "CAST(aggregate(flatten(transform("
        "sequence(1, size(cells) - 1), i -> transform("
        "sequence(i + 1, size(cells)), j -> CASE WHEN "
        + cond +
        " THEN CAST(element_at(cells, i).cnt AS DECIMAL(38,0))"
        " * element_at(cells, j).cnt"
        " ELSE CAST(0 AS DECIMAL(38,0)) END))),"
        " CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v)"
        f" AS STRING) AS {alias}")


_OA_CONDS = {
    "c_pairs": ("(xi < xj AND yi < yj) OR (xi > xj AND yi > yj)"),
    "d_pairs": ("(xi < xj AND yi > yj) OR (xi > xj AND yi < yj)"),
    "tx_pairs": "xi = xj AND yi <> yj",
    "ty_pairs": "yi = yj AND xi <> xj",
}


def _oa_cond_sql(c: str) -> str:
    return (c.replace("xi", "cells[i].x").replace("xj", "cells[j].x")
             .replace("yi", "cells[i].y").replace("yj", "cells[j].y"))


def _oa_cond_spark(c: str) -> str:
    return (c.replace("xi", "element_at(cells, i).x")
             .replace("xj", "element_at(cells, j).x")
             .replace("yi", "element_at(cells, i).y")
             .replace("yj", "element_at(cells, j).y"))


@query(
    "ordinal_association_dow_band",
    oracle=f"""
        WITH cell AS (
          SELECT dayofweek(ts) AS x,
                 {_BAND_SQL.format(c=sql_cents("value"))} AS y,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1, 2
        ),
        arr AS (
          SELECT list(struct_pack(x := x, y := y, cnt := cnt)
                      ORDER BY x, y) AS cells
          FROM cell
        ),
        sweep AS (
          SELECT {", ".join(
              _oa_sweep_sql(_oa_cond_sql(c), a)
              for a, c in (("c_pairs", _OA_CONDS["c_pairs"]),
                           ("d_pairs", _OA_CONDS["d_pairs"]),
                           ("tx_pairs", _OA_CONDS["tx_pairs"]),
                           ("ty_pairs", _OA_CONDS["ty_pairs"])))}
          FROM arr
        )
        SELECT CAST(c_pairs AS DOUBLE) AS c_pairs,
               CAST(d_pairs AS DOUBLE) AS d_pairs,
               (CAST(c_pairs AS DOUBLE) - CAST(d_pairs AS DOUBLE))
                 / (CAST(c_pairs AS DOUBLE) + CAST(d_pairs AS DOUBLE))
                 AS gamma,
               (CAST(c_pairs AS DOUBLE) - CAST(d_pairs AS DOUBLE))
                 / (CAST(c_pairs AS DOUBLE) + CAST(d_pairs AS DOUBLE)
                    + CAST(ty_pairs AS DOUBLE)) AS somers_d_yx,
               (CAST(c_pairs AS DOUBLE) - CAST(d_pairs AS DOUBLE))
                 / (CAST(c_pairs AS DOUBLE) + CAST(d_pairs AS DOUBLE)
                    + CAST(tx_pairs AS DOUBLE)) AS somers_d_xy,
               (CAST(c_pairs AS DOUBLE) - CAST(d_pairs AS DOUBLE))
                 / SQRT((CAST(c_pairs AS DOUBLE) + CAST(d_pairs AS DOUBLE)
                         + CAST(tx_pairs AS DOUBLE))
                        * (CAST(c_pairs AS DOUBLE)
                           + CAST(d_pairs AS DOUBLE)
                           + CAST(ty_pairs AS DOUBLE))) AS tau_b
        FROM sweep
    """,
    doc="Ordinal-association panel between weekday order (0..6) and "
        "a fixed value band (four literal cents thresholds — no "
        "quantile estimation, so the banding is deterministic and "
        "scale-stable): Goodman-Kruskal gamma, Somers' D in both "
        "directions, and Kendall's tau-b, all from the same "
        "concordant/discordant/tied pair decomposition. The "
        "kendall_tau_rankings sibling (registered) ranks AGGREGATE "
        "rows; this measures raw-event ordinal dependence, the "
        "effect-size companion to cochran_armitage's z. Pair "
        "classification is an O(28^2) in-array sweep over the "
        "fixed-cardinality (dow x band) cell table inside ONE row — "
        "never a cell self-join (no BNLJ to justify); counts "
        "multiply in HUGEINT/DECIMAL(38,0) (cnt^2 passes 2^63 at "
        "corpus scale), wide-cast once. Plan: one scan, one 28-group "
        "map-side-combinable aggregate, a 1-row panel.",
    tags=("statistics",),
)
def ordinal_association_dow_band(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    cell = (load(spark, sf_dir, "events")
            .selectExpr("dayofweek(ts) - 1 AS x",
                        _BAND_SQL.format(c=sql_cents("value")) + " AS y")
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    arr = cell.agg(F.expr(
        "array_sort(collect_list(struct(x, y, cnt)))").alias("cells"))
    sweep = arr.selectExpr(
        *[_oa_sweep_spark(_oa_cond_spark(c), a)
          for a, c in (("c_pairs", _OA_CONDS["c_pairs"]),
                       ("d_pairs", _OA_CONDS["d_pairs"]),
                       ("tx_pairs", _OA_CONDS["tx_pairs"]),
                       ("ty_pairs", _OA_CONDS["ty_pairs"]))])
    cd = "(CAST(c_pairs AS DOUBLE) - CAST(d_pairs AS DOUBLE))"
    cpd = "(CAST(c_pairs AS DOUBLE) + CAST(d_pairs AS DOUBLE))"
    return sweep.selectExpr(
        "CAST(c_pairs AS DOUBLE) AS c_pairs",
        "CAST(d_pairs AS DOUBLE) AS d_pairs",
        f"{cd} / {cpd} AS gamma",
        f"{cd} / ({cpd[1:-1]} + CAST(ty_pairs AS DOUBLE)) AS somers_d_yx",
        f"{cd} / ({cpd[1:-1]} + CAST(tx_pairs AS DOUBLE)) AS somers_d_xy",
        f"{cd} / SQRT(({cpd[1:-1]} + CAST(tx_pairs AS DOUBLE))"
        f" * ({cpd[1:-1]} + CAST(ty_pairs AS DOUBLE))) AS tau_b")


# ---------------------------------------------------------------------
# Cochran-Mantel-Haenszel: weekend x purchase across week strata.


@query(
    "cmh_weekend_purchase_weeks",
    oracle=f"""
        WITH strat AS (
          SELECT CAST(FLOOR((day(ts) - 1) / 7) AS BIGINT) AS wk,
                 CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END
                   AS w,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS p
          FROM events
        ),
        cell AS (
          SELECT wk,
                 CAST(SUM(w * p) AS BIGINT) AS a,
                 CAST(SUM(w * (1 - p)) AS BIGINT) AS b,
                 CAST(SUM((1 - w) * p) AS BIGINT) AS c,
                 CAST(SUM((1 - w) * (1 - p)) AS BIGINT) AS n_d,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM strat GROUP BY wk
        ),
        folds AS (
          SELECT CAST(SUM(a) AS BIGINT) AS sum_a,
                 {fold_sorted_sql(
                     "list(CAST(a + b AS DOUBLE) * (a + c) / n)")}
                   AS sum_e,
                 {fold_sorted_sql(
                     "list(CAST(a + b AS DOUBLE) * (c + n_d) / n"
                     " * (a + c) / n * (CAST(b + n_d AS DOUBLE)"
                     " / (n - 1)))")} AS sum_v,
                 {fold_sorted_sql("list(CAST(a AS DOUBLE) * n_d / n)")}
                   AS or_num,
                 {fold_sorted_sql("list(CAST(b AS DOUBLE) * c / n)")}
                   AS or_den
          FROM cell WHERE n > 1
        )
        SELECT sum_a, sum_e, sum_v,
               (sum_a - sum_e) * (sum_a - sum_e) / sum_v AS cmh_stat,
               or_num / or_den AS or_mh
        FROM folds
    """,
    doc="Cochran-Mantel-Haenszel test of the weekend/purchase "
        "association STRATIFIED by calendar week (five Jan-2024 "
        "strata via exact day-of-month arithmetic — no engine-"
        "specific week() semantics), plus the Mantel-Haenszel common "
        "odds ratio: does the weekend effect survive once week-level "
        "drift is controlled? The confounding-aware upgrade of the "
        "registered two_proportion_drift_test. Each stratum's "
        "hypergeometric E and V are rationals of exact integer "
        "margins (one double division chain per stratum, identical "
        "operand order both engines); the <= 5 double terms per fold "
        "accumulate SORTED from a 0.0 seed. Plan: one scan, one "
        "5-group map-side-combinable aggregate, a 1-row panel.",
    tags=("statistics",),
)
def cmh_weekend_purchase_weeks(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    cell = (load(spark, sf_dir, "events")
            .selectExpr("CAST((day(ts) - 1) / 7 AS BIGINT) AS wk",
                        "CASE WHEN (dayofweek(ts) - 1) IN (0, 6)"
                        " THEN 1 ELSE 0 END AS w",
                        "CASE WHEN event_type = 'purchase'"
                        " THEN 1 ELSE 0 END AS p")
            .groupBy("wk")
            .agg(F.expr("CAST(SUM(w * p) AS BIGINT)").alias("a"),
                 F.expr("CAST(SUM(w * (1 - p)) AS BIGINT)").alias("b"),
                 F.expr("CAST(SUM((1 - w) * p) AS BIGINT)").alias("c"),
                 F.expr("CAST(SUM((1 - w) * (1 - p)) AS BIGINT)")
                  .alias("n_d"),
                 F.count(F.lit(1)).cast("long").alias("n")))
    folds = (cell.filter("n > 1").agg(
        F.sum("a").cast("long").alias("sum_a"),
        F.expr(fold_sorted_spark(
            "collect_list(CAST(a + b AS DOUBLE) * (a + c) / n)"))
         .alias("sum_e"),
        F.expr(fold_sorted_spark(
            "collect_list(CAST(a + b AS DOUBLE) * (c + n_d) / n"
            " * (a + c) / n * (CAST(b + n_d AS DOUBLE) / (n - 1)))"))
         .alias("sum_v"),
        F.expr(fold_sorted_spark("collect_list(CAST(a AS DOUBLE) * n_d / n)"))
         .alias("or_num"),
        F.expr(fold_sorted_spark("collect_list(CAST(b AS DOUBLE) * c / n)"))
         .alias("or_den")))
    return folds.selectExpr(
        "sum_a", "sum_e", "sum_v",
        "(sum_a - sum_e) * (sum_a - sum_e) / sum_v AS cmh_stat",
        "or_num / or_den AS or_mh")


# ---------------------------------------------------------------------
# Expected Reciprocal Rank over the shared graded-retrieval panel.
#
# Binary relevance: R_r = rel_r / 2 (the (2^g - 1)/2^gmax gain with
# g in {0,1}). ERR folds the cascade SEQUENTIALLY in rank order —
# deterministic because rank is unique per query — with a struct
# accumulator (err so far, survival probability).

from de_project_airflow_etl_spark.queries.diagnostics import (  # noqa: E402
    _SQL_TOPK_REL as _DIAG_TOPK,
)

_ERR_K = 10


@query(
    "err_retrieval_eval",
    oracle=f"""
        WITH {{topk}},
        per AS (
          SELECT qid,
                 list_reduce(
                   list_prepend(struct_pack(e := CAST(0.0 AS DOUBLE),
                                            p := CAST(1.0 AS DOUBLE)),
                     list_transform(list(struct_pack(rn := rn,
                                                     rel := rel)
                                         ORDER BY rn),
                       x -> struct_pack(
                         e := CAST(x.rel AS DOUBLE) / 2 / x.rn,
                         p := CAST(1.0 AS DOUBLE)
                              - CAST(x.rel AS DOUBLE) / 2))),
                   (acc, x) -> struct_pack(e := acc.e + acc.p * x.e,
                                           p := acc.p * x.p)).e
                   AS err
          FROM top GROUP BY qid
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               {{fold_err}} / COUNT(*) AS mean_err
        FROM per
    """.format(
        topk=_DIAG_TOPK,
        fold_err=fold_sorted_sql("list(err)")),
    doc="Expected Reciprocal Rank @10 over the SAME deterministic "
        "20-anchor retrieval panel as ndcg/mrr_retrieval_eval: the "
        "cascade metric (a relevant document at rank r only counts "
        "if the user got past ranks 1..r-1), completing the graded "
        "retrieval-evaluation family — ERR is the diminishing-"
        "returns complement to NDCG's positional discount. The "
        "cascade product folds SEQUENTIALLY over the rank-sorted "
        "top-10 structs with a (err, survival) struct accumulator — "
        "deterministic on both engines because rank is unique — and "
        "the 20 per-query ERRs fold sorted from 0.0. Plan: identical "
        "to the verified ndcg plan (broadcast 20-anchor panel over "
        "the corpus, WindowGroupLimit top-k per anchor); the final "
        "panel is 1 row.",
    tags=("evaluation", "similarity"),
)
def err_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.queries.diagnostics import (
        _spark_topk_rel,
    )
    top = _spark_topk_rel(spark, sf_dir)
    per = (top.groupBy("qid").agg(F.expr(
        "aggregate(array_sort(collect_list(struct(rn, rel))),"
        " named_struct('e', CAST(0.0 AS DOUBLE),"
        "              'p', CAST(1.0 AS DOUBLE)),"
        " (acc, x) -> named_struct("
        "   'e', acc.e + acc.p * (CAST(x.rel AS DOUBLE) / 2 / x.rn),"
        "   'p', acc.p * (CAST(1.0 AS DOUBLE)"
        "        - CAST(x.rel AS DOUBLE) / 2)),"
        " acc -> acc.e)").alias("err")))
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.expr(f"{fold_sorted_spark('collect_list(err)')} / COUNT(*)")
         .alias("mean_err"))


# ---------------------------------------------------------------------
# Seasonal-naive forecast error panel: sMAPE / MAPE / RMSE.


@query(
    "smape_daily_forecasts",
    oracle=f"""
        WITH {SQL_DAILY_CENTS},
        arr AS (
          SELECT list(cents ORDER BY day) AS a,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM d
        ),
        terms AS (
          SELECT n - 7 AS n_pairs,
                 {fold_sorted_sql(
                     "list_transform(generate_series(8, CAST(n AS INT)), "
                     "t -> 2.0 * abs(CAST(a[t] - a[t - 7] AS DOUBLE)) "
                     "/ (CAST(a[t] AS DOUBLE) + a[t - 7]))")} AS s_sm,
                 {fold_sorted_sql(
                     "list_transform(generate_series(8, CAST(n AS INT)), "
                     "t -> abs(CAST(a[t] - a[t - 7] AS DOUBLE)) "
                     "/ CAST(a[t] AS DOUBLE))")} AS s_ma,
                 CAST(CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
                     list_transform(generate_series(8, CAST(n AS INT)),
                       t -> CAST(a[t] - a[t - 7] AS HUGEINT)
                            * (a[t] - a[t - 7]))),
                     (acc, v) -> acc + v) AS VARCHAR) AS DOUBLE) AS s_sq
          FROM arr
        )
        SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
               s_sm / n_pairs AS smape,
               s_ma / n_pairs AS mape,
               SQRT(s_sq / n_pairs) AS rmse_cents
        FROM terms
    """,
    doc="Forecast-error panel for the seasonal-naive (t-7) forecast "
        "of daily revenue: sMAPE, MAPE and RMSE — the scale-free and "
        "absolute companions to the registered MASE (which "
        "normalizes by in-sample error) and Theil's U (which "
        "normalizes by the naive walk). Error terms are rationals of "
        "exact integer cents (both engines divide the same exact "
        "operands in the same order); the squared errors accumulate "
        "in HUGEINT/DECIMAL(38,0) before ONE wide cast; the <= 23 "
        "double terms fold sorted from 0.0. Plan: one map-side-"
        "combinable daily rollup, all lag arithmetic in-array on the "
        "calendar-bounded row — no self-join, no window.",
    tags=("timeseries", "evaluation"),
)
def smape_daily_forecasts(spark: SparkSession, sf_dir: str) -> DataFrame:
    arr = daily_cents(spark, sf_dir).agg(
        F.expr("transform(array_sort(collect_list(struct(day, cents))),"
               " x -> x.cents)").alias("a"),
        F.count(F.lit(1)).cast("long").alias("n"))
    terms = arr.selectExpr(
        "n - 7 AS n_pairs",
        fold_sorted_spark(
            "transform(sequence(8, CAST(n AS INT)), "
            "t -> 2.0D * abs(CAST(element_at(a, t)"
            " - element_at(a, t - 7) AS DOUBLE)) "
            "/ (CAST(element_at(a, t) AS DOUBLE)"
            " + element_at(a, t - 7)))") + " AS s_sm",
        fold_sorted_spark(
            "transform(sequence(8, CAST(n AS INT)), "
            "t -> abs(CAST(element_at(a, t)"
            " - element_at(a, t - 7) AS DOUBLE)) "
            "/ CAST(element_at(a, t) AS DOUBLE))") + " AS s_ma",
        "CAST(CAST(aggregate(transform(sequence(8, CAST(n AS INT)), "
        "t -> CAST(element_at(a, t) - element_at(a, t - 7)"
        " AS DECIMAL(38,0)) * (element_at(a, t) - element_at(a, t - 7))), "
        "CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v)"
        " AS STRING) AS DOUBLE) AS s_sq")
    return terms.selectExpr(
        "CAST(n_pairs AS BIGINT) AS n_pairs",
        "s_sm / n_pairs AS smape",
        "s_ma / n_pairs AS mape",
        "SQRT(s_sq / n_pairs) AS rmse_cents")


# ---------------------------------------------------------------------
# Pinball (quantile) loss of trailing-7-day discrete-quantile
# forecasts. EXACT fixed-point: tau = 1/2 and 9/10 keep the loss an
# integer number of half-/tenth-cents until ONE final division.


@query(
    "pinball_loss_quantile_forecast",
    oracle=f"""
        WITH {SQL_DAILY_CENTS},
        arr AS (
          SELECT list(cents ORDER BY day) AS a,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM d
        ),
        win AS (
          SELECT n - 7 AS n_days,
                 list_transform(generate_series(8, CAST(n AS INT)),
                   t -> struct_pack(
                     act := a[t],
                     f50 := list_sort(a[t - 7:t - 1])[4],
                     f90 := list_sort(a[t - 7:t - 1])[7])) AS w
          FROM arr
        )
        SELECT CAST(n_days AS BIGINT) AS n_days,
               CAST(CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
                   list_transform(w, x -> CAST(abs(x.act - x.f50)
                     AS HUGEINT))), (acc, v) -> acc + v) AS VARCHAR)
                 AS DOUBLE) / (2 * n_days) AS pinball_p50,
               CAST(CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
                   list_transform(w, x -> CASE WHEN x.act > x.f90
                     THEN CAST(9 AS HUGEINT) * (x.act - x.f90)
                     ELSE CAST(x.f90 - x.act AS HUGEINT) END)),
                   (acc, v) -> acc + v) AS VARCHAR) AS DOUBLE)
                 / (10 * n_days) AS pinball_p90
        FROM win
    """,
    doc="Pinball (quantile) loss of trailing-7-day DISCRETE-quantile "
        "forecasts of daily revenue at tau = 0.5 and 0.9 — the proper "
        "scoring rule for quantile forecasts, extending the point-"
        "forecast panel (MASE / Theil's U / sMAPE) to distributional "
        "evaluation. The forecast is an order statistic of the "
        "trailing window (4th and 7th of 7 — exact integer "
        "selection, no interpolation), and tau in {{1/2, 9/10}} "
        "keeps the accumulated loss an EXACT integer of half-/tenth-"
        "cents (2L = sum|A-F|; 10L = sum 9(A-F)+ + (F-A)+) in "
        "HUGEINT/DECIMAL(38,0) until one final division. Plan: one "
        "daily rollup; the trailing windows are in-array slices of "
        "the calendar-bounded series — no self-join, no running "
        "window over raw rows.",
    tags=("timeseries", "evaluation"),
)
def pinball_loss_quantile_forecast(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    arr = daily_cents(spark, sf_dir).agg(
        F.expr("transform(array_sort(collect_list(struct(day, cents))),"
               " x -> x.cents)").alias("a"),
        F.count(F.lit(1)).cast("long").alias("n"))
    win = arr.selectExpr(
        "n - 7 AS n_days",
        "transform(sequence(8, CAST(n AS INT)), t -> struct("
        " element_at(a, t) AS act,"
        " element_at(array_sort(slice(a, t - 7, 7)), 4) AS f50,"
        " element_at(array_sort(slice(a, t - 7, 7)), 7) AS f90)) AS w")
    return win.selectExpr(
        "CAST(n_days AS BIGINT) AS n_days",
        "CAST(CAST(aggregate(transform(w, x -> CAST(abs(x.act - x.f50)"
        " AS DECIMAL(38,0))), CAST(0 AS DECIMAL(38,0)),"
        " (acc, v) -> acc + v) AS STRING) AS DOUBLE)"
        " / (2 * n_days) AS pinball_p50",
        "CAST(CAST(aggregate(transform(w, x -> CASE WHEN x.act > x.f90"
        " THEN CAST(9 AS DECIMAL(38,0)) * (x.act - x.f90)"
        " ELSE CAST(x.f90 - x.act AS DECIMAL(38,0)) END),"
        " CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v)"
        " AS STRING) AS DOUBLE) / (10 * n_days) AS pinball_p90")


# ---------------------------------------------------------------------
# Benford first-digit conformance of event values.
#
# The log10 expectations are the one unavoidable log: computed ONCE in
# Python at module import and inlined as identical repr() literals
# into both engines (the NDCG-discount precedent).

import math as _math

_BENFORD_P = [_math.log10(1.0 + 1.0 / d) for d in range(1, 10)]


def _benford_chi2(n: str) -> str:
    return " + ".join(
        f"(o_{d} - {n} * {dlit(_BENFORD_P[d - 1])})"
        f" * (o_{d} - {n} * {dlit(_BENFORD_P[d - 1])})"
        f" / ({n} * {dlit(_BENFORD_P[d - 1])})"
        for d in range(1, 10))


def _benford_mad(n: str) -> str:
    return ("(" + " + ".join(
        f"abs(o_{d} / {n} - {dlit(_BENFORD_P[d - 1])})"
        for d in range(1, 10)) + ") / 9")


@query(
    "benford_first_digit_value",
    oracle=f"""
        WITH pos AS (
          SELECT CAST(substring(CAST({sql_cents("value")} AS VARCHAR), 1, 1)
                      AS BIGINT) AS fd
          FROM events WHERE {sql_cents("value")} > 0
        ),
        o AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 {", ".join(
                     f"CAST(SUM(CASE WHEN fd = {d} THEN 1 ELSE 0 END)"
                     f" AS DOUBLE) AS o_{d}" for d in range(1, 10))}
          FROM pos
        )
        SELECT n AS n_values,
               {_benford_chi2("CAST(n AS DOUBLE)")} AS chi2_stat,
               {_benford_mad("CAST(n AS DOUBLE)")} AS mad_stat
        FROM o
    """,
    doc="Benford's-law first-digit conformance of positive event "
        "cents: chi-square distance and the mean absolute deviation "
        "of digit proportions from log10(1 + 1/d) — the standard "
        "fabricated-data / instrumentation-drift screen for a "
        "value column, extending the data-quality family "
        "(dq_expectations gates nulls/ranges; this gates the value "
        "DISTRIBUTION's leading digits). The nine expectations are "
        "Python-evaluated literals inlined identically into both "
        "engines; digit counts are nine conditional sums in ONE "
        "map-side-combinable aggregate; chi2/MAD are fixed 9-term "
        "literal sums of exact-count doubles. Plan: one scan, one "
        "1-row aggregate — zero joins, zero shuffles beyond the "
        "scalar combine.",
    tags=("statistics", "quality"),
)
def benford_first_digit_value(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    o = (load(spark, sf_dir, "events")
         .selectExpr(f"{sql_cents('value')} AS cents")
         .filter("cents > 0")
         .selectExpr("CAST(substring(CAST(cents AS STRING), 1, 1)"
                     " AS BIGINT) AS fd")
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              *[F.expr(f"CAST(SUM(CASE WHEN fd = {d} THEN 1 ELSE 0 END)"
                       f" AS DOUBLE)").alias(f"o_{d}")
                for d in range(1, 10)]))
    return o.selectExpr(
        "n AS n_values",
        f"{_benford_chi2('CAST(n AS DOUBLE)')} AS chi2_stat",
        f"{_benford_mad('CAST(n AS DOUBLE)')} AS mad_stat")


# ---------------------------------------------------------------------
# Lexical-dominance panel per source.


@query(
    "lexical_dominance_panel",
    oracle="""
        WITH tok AS (
          SELECT source, unnest(string_split(text, ' ')) AS term
          FROM documents
        ),
        tf AS (
          SELECT source, term, CAST(COUNT(*) AS BIGINT) AS f
          FROM tok WHERE term <> '' GROUP BY 1, 2
        ),
        panel AS (
          SELECT source,
                 CAST(SUM(f) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS vocab,
                 CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS v1,
                 CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS v2,
                 CAST(MAX(f) AS BIGINT) AS max_f,
                 SUM(CAST(f AS HUGEINT) * (f - 1)) AS rep_pairs
          FROM tf GROUP BY source
        )
        SELECT source, n_tokens, vocab,
               CAST(max_f AS DOUBLE) / n_tokens AS berger_parker,
               CAST(CAST(rep_pairs AS VARCHAR) AS DOUBLE)
                 / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1))
                 AS simpson_d,
               CAST(v1 AS DOUBLE) / vocab AS hapax_ratio,
               CAST(v2 AS DOUBLE) / vocab AS sichel_s
        FROM panel ORDER BY source
    """,
    doc="Lexical-dominance panel per document source: Berger-Parker "
        "dominance (top-term share), Simpson's repeat rate D (the "
        "probability two random tokens coincide — Yule's K without "
        "the x10^4 scaling, exact as a HUGEINT/DECIMAL(38,0) "
        "rational), hapax ratio V1/V and Sichel's S = V2/V — the "
        "vocabulary-concentration complements to the registered "
        "yules_k_by_source and vocab_growth_curve, all log-free so "
        "every figure is an exact integer ratio. Plan: one (source, "
        "term) count (shuffle on the reduced token key, never raw "
        "text), one 5-group rollup, ordered 5-row output.",
    tags=("text", "statistics"),
)
def lexical_dominance_panel(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    tf = (load(spark, sf_dir, "documents")
          .select("source",
                  F.explode(F.split("text", " ")).alias("term"))
          .filter(F.col("term") != "")
          .groupBy("source", "term")
          .agg(F.count(F.lit(1)).cast("long").alias("f")))
    panel = (tf.groupBy("source").agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.expr("CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)")
         .alias("v1"),
        F.expr("CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT)")
         .alias("v2"),
        F.max("f").cast("long").alias("max_f"),
        F.expr("SUM(CAST(f AS DECIMAL(38,0)) * (f - 1))")
         .alias("rep_pairs")))
    return (panel.selectExpr(
        "source", "n_tokens", "vocab",
        "CAST(max_f AS DOUBLE) / n_tokens AS berger_parker",
        "CAST(CAST(rep_pairs AS STRING) AS DOUBLE)"
        " / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)) AS simpson_d",
        "CAST(v1 AS DOUBLE) / vocab AS hapax_ratio",
        "CAST(v2 AS DOUBLE) / vocab AS sichel_s")
        .orderBy("source"))


# ---------------------------------------------------------------------
# Strict ordered first-touch funnel: signup -> view -> click ->
# purchase. Step times are (epoch_us, event_id) packed into ONE exact
# HUGEINT/DECIMAL(38,0) key, so "strictly after" is a deterministic
# integer comparison on both engines (micros truncation + id tiebreak
# — immune to the nanosecond-precision gap between the engines).

_FUNNEL_STEPS = ("signup", "view", "click", "purchase")


def _funnel_key_sql() -> str:
    return ("CAST(epoch_us(ts) AS HUGEINT) * 10000000000 + event_id")


def _funnel_key_spark() -> str:
    return ("CAST(unix_micros(ts) AS DECIMAL(38,0)) * 10000000000"
            " + event_id")


@query(
    "funnel_conversion_steps",
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 {", ".join(
                     f"MIN(CASE WHEN event_type = '{s}' THEN"
                     f" {_funnel_key_sql()} END) AS k{i + 1}"
                     for i, s in enumerate(_FUNNEL_STEPS))}
          FROM events GROUP BY user_id
        ),
        flags AS (
          SELECT CASE WHEN k1 IS NOT NULL THEN 1 ELSE 0 END AS s1,
                 CASE WHEN k1 IS NOT NULL AND k2 > k1
                      THEN 1 ELSE 0 END AS s2,
                 CASE WHEN k1 IS NOT NULL AND k2 > k1 AND k3 > k2
                      THEN 1 ELSE 0 END AS s3,
                 CASE WHEN k1 IS NOT NULL AND k2 > k1 AND k3 > k2
                       AND k4 > k3 THEN 1 ELSE 0 END AS s4
          FROM u
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(s1) AS BIGINT) AS n_signup,
               CAST(SUM(s2) AS BIGINT) AS n_view_after,
               CAST(SUM(s3) AS BIGINT) AS n_click_after,
               CAST(SUM(s4) AS BIGINT) AS n_purchase_after,
               CAST(SUM(s2) AS DOUBLE) / NULLIF(SUM(s1), 0)
                 AS conv_view,
               CAST(SUM(s3) AS DOUBLE) / NULLIF(SUM(s2), 0)
                 AS conv_click,
               CAST(SUM(s4) AS DOUBLE) / NULLIF(SUM(s3), 0)
                 AS conv_purchase
        FROM flags
    """,
    doc="Strict ordered first-touch funnel signup -> view -> click "
        "-> purchase: a user advances to step k only if their FIRST "
        "step-k event lands strictly after their first step-(k-1) "
        "event — the product-analytics staple missing from the "
        "sessionize/path family (session_path_counts orders within "
        "sessions; this orders lifetime first-touches). Step times "
        "pack (epoch-micros, event_id) into one exact HUGEINT/"
        "DECIMAL(38,0) key, so every 'strictly after' is an integer "
        "comparison immune to the engines' timestamp-precision gap. "
        "Plan: ONE user-keyed map-side-combinable aggregate (four "
        "conditional MINs — grows-with-data key, partial agg per map "
        "task), then a 1-row flag rollup; no windows, no joins.",
    tags=("analytics",),
)
def funnel_conversion_steps(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    u = (load(spark, sf_dir, "events")
         .groupBy("user_id")
         .agg(*[F.expr(f"MIN(CASE WHEN event_type = '{s}' THEN"
                       f" {_funnel_key_spark()} END)").alias(f"k{i + 1}")
                for i, s in enumerate(_FUNNEL_STEPS)]))
    flags = u.selectExpr(
        "CASE WHEN k1 IS NOT NULL THEN 1 ELSE 0 END AS s1",
        "CASE WHEN k1 IS NOT NULL AND k2 > k1 THEN 1 ELSE 0 END AS s2",
        "CASE WHEN k1 IS NOT NULL AND k2 > k1 AND k3 > k2"
        " THEN 1 ELSE 0 END AS s3",
        "CASE WHEN k1 IS NOT NULL AND k2 > k1 AND k3 > k2 AND k4 > k3"
        " THEN 1 ELSE 0 END AS s4")
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.expr("CAST(SUM(s1) AS BIGINT)").alias("n_signup"),
        F.expr("CAST(SUM(s2) AS BIGINT)").alias("n_view_after"),
        F.expr("CAST(SUM(s3) AS BIGINT)").alias("n_click_after"),
        F.expr("CAST(SUM(s4) AS BIGINT)").alias("n_purchase_after"),
        F.expr("CAST(SUM(s2) AS DOUBLE) / NULLIF(SUM(s1), 0)")
         .alias("conv_view"),
        F.expr("CAST(SUM(s3) AS DOUBLE) / NULLIF(SUM(s2), 0)")
         .alias("conv_click"),
        F.expr("CAST(SUM(s4) AS DOUBLE) / NULLIF(SUM(s3), 0)")
         .alias("conv_purchase"))
