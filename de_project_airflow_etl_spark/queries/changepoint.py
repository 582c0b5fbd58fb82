"""Round-9 promoted bank (staged as staged/round11.py): changepoint and randomness diagnostics
over the daily revenue series (Pettitt, Cox-Stuart, Dixon's Q,
turning points), a vocabulary-inequality scorecard (token-frequency
Gini via the run-sum spectrum), and the Nelson-Aalen cumulative
hazard companion to the registered Kaplan-Meier curve.

Same contract and determinism rules as staged/round8.py. The Pettitt
statistic extends the mann_kendall in-array idiom with the
U_t = U_{t-1} + V_t recurrence, so the pair sweep stays O(n^2) over
the CALENDAR-BOUNDED daily array (the naive triple loop would be
O(n^3) — noted because a decade-long daily series makes that real).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import (
    SQL_DAILY_CENTS, daily_cents, wide,
)
from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.queries.mining import KM_CENSOR_DAYS
from de_project_airflow_etl_spark.tables import load

# --------------------------- Pettitt changepoint test on daily revenue


@query(
    "pettitt_changepoint_daily",
    oracle=f"""
        WITH {SQL_DAILY_CENTS},
        arr AS (
          SELECT list(cents ORDER BY day) AS a,
                 list(day ORDER BY day) AS days,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM d
        ),
        v AS (
          SELECT n, days,
                 list_transform(generate_series(1, n),
                   t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(generate_series(1, n),
                       j -> CAST(CASE WHEN a[t] > a[j] THEN 1
                                 WHEN a[t] < a[j] THEN -1
                                 ELSE 0 END AS BIGINT))),
                     (acc, x) -> acc + x)) AS vs
          FROM arr
        ),
        u AS (
          SELECT n, days,
                 list_transform(generate_series(1, n - 1),
                   t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                          vs[1:t]), (acc, x) -> acc + x)) AS us
          FROM v
        ),
        k AS (
          SELECT n, days, us,
                 list_max(list_transform(us, x -> abs(x))) AS k_stat
          FROM u
        )
        SELECT n AS n_days, k_stat,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(generate_series(1, n - 1),
                   t -> CASE WHEN abs(us[t]) = k_stat AND
                     len(list_filter(us[1:t-1],
                       x -> abs(x) = k_stat)) = 0
                     THEN t ELSE 0 END)), (acc, x) -> acc + x)
                 AS t_change_idx,
               us[CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(generate_series(1, n - 1),
                   t -> CASE WHEN abs(us[t]) = k_stat AND
                     len(list_filter(us[1:t-1],
                       x -> abs(x) = k_stat)) = 0
                     THEN t ELSE 0 END)), (acc, x) -> acc + x)
                 AS BIGINT)] AS u_at_change,
               days[CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(generate_series(1, n - 1),
                   t -> CASE WHEN abs(us[t]) = k_stat AND
                     len(list_filter(us[1:t-1],
                       x -> abs(x) = k_stat)) = 0
                     THEN t ELSE 0 END)), (acc, x) -> acc + x)
                 AS BIGINT)] AS change_day
        FROM k
    """,
    doc="Pettitt changepoint test on daily revenue: K = max_t |U_t| "
        "with U_t the rank-based shift statistic between the first t "
        "and remaining days — the standard nonparametric single-"
        "changepoint locator (where did the level SHIFT, where "
        "Mann-Kendall asks whether it DRIFTS). The O(n^3) definition "
        "collapses to O(n^2) via U_t = U_(t-1) + V_t with V_t = "
        "sum_j sgn(a_t - a_j): one V sweep then a prefix fold, all "
        "inside one row's array lambdas over the calendar-bounded "
        "daily series — all integers, order-free. The changepoint "
        "index takes the EARLIEST argmax (pinned tie rule); the "
        "asymptotic p needs exp() (not correctly rounded cross-"
        "engine) and is deliberately left to the reader. Plan: one "
        "map-side-combinable daily rollup, then 1-row folds.",
    tags=("timeseries", "statistics"),
)
def pettitt_changepoint_daily(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    dd = daily_cents(spark, sf_dir)
    arr = dd.agg(
        F.expr("transform(array_sort(collect_list(struct(day, cents))),"
               " x -> x.cents)").alias("a"),
        F.expr("transform(array_sort(collect_list(struct(day, cents))),"
               " x -> x.day)").alias("days"),
        F.count(F.lit(1)).cast("long").alias("n"))
    v = arr.selectExpr(
        "n", "days",
        "transform(sequence(1, CAST(n AS INT)),"
        " t -> aggregate(transform(sequence(1, CAST(n AS INT)),"
        " j -> CAST(CASE WHEN element_at(a, t) > element_at(a, j)"
        " THEN 1 WHEN element_at(a, t) < element_at(a, j) THEN -1"
        " ELSE 0 END AS BIGINT)), CAST(0 AS BIGINT),"
        " (acc, x) -> acc + x)) AS vs")
    u = v.selectExpr(
        "n", "days",
        "transform(sequence(1, CAST(n AS INT) - 1),"
        " t -> aggregate(slice(vs, 1, t), CAST(0 AS BIGINT),"
        " (acc, x) -> acc + x)) AS us")
    k = u.selectExpr(
        "n", "days", "us",
        "array_max(transform(us, x -> abs(x))) AS k_stat")
    # earliest argmax: fold emits t once (guarded by 'no earlier hit')
    argmax = ("aggregate(transform(sequence(1, CAST(n AS INT) - 1),"
              " t -> CASE WHEN abs(element_at(us, t)) = k_stat AND"
              " size(filter(slice(us, 1, t - 1),"
              " x -> abs(x) = k_stat)) = 0 THEN CAST(t AS BIGINT)"
              " ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT),"
              " (acc, x) -> acc + x)")
    return k.selectExpr(
        "n AS n_days", "k_stat",
        f"{argmax} AS t_change_idx",
        f"element_at(us, CAST({argmax} AS INT)) AS u_at_change",
        f"element_at(days, CAST({argmax} AS INT)) AS change_day")


# ------------------------------ Cox-Stuart trend test on daily revenue


@query(
    "cox_stuart_trend_daily",
    oracle=f"""
        WITH {SQL_DAILY_CENTS},
        arr AS (
          SELECT list(cents ORDER BY day) AS a,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM d
        ),
        s AS (
          SELECT n, n // 2 AS h, n - (n // 2) AS off,
                 list_transform(generate_series(1, n // 2),
                   i -> CAST(CASE
                     WHEN a[i + (n - (n // 2))] > a[i] THEN 1
                     WHEN a[i + (n - (n // 2))] < a[i] THEN -1
                     ELSE 0 END AS BIGINT)) AS signs
          FROM arr
        ),
        c AS (
          SELECT n, h,
                 CAST(len(list_filter(signs, x -> x = 1)) AS BIGINT)
                   AS n_up,
                 CAST(len(list_filter(signs, x -> x = -1)) AS BIGINT)
                   AS n_down
          FROM s
        )
        SELECT n AS n_days, n_up, n_down,
               CASE WHEN n_up + n_down = 0 THEN CAST(NULL AS DOUBLE)
                    ELSE (2.0 * GREATEST(n_up, n_down)
                          - (n_up + n_down) - 1.0)
                         / SQRT(CAST(n_up + n_down AS DOUBLE)) END
                 AS z_stat
        FROM c
    """,
    doc="Cox-Stuart trend test on daily revenue: pair each day in "
        "the first half with its opposite number in the second half "
        "(odd middle day dropped) and sign-test the pairs — the "
        "long-horizon trend check that, unlike the registered sign "
        "test on CONSECUTIVE days, is immune to short-range "
        "autocorrelation because every pair spans half the series. "
        "Exact integer pair signs built inside one row's array "
        "lambda; continuity-corrected binomial z; ties excluded per "
        "the standard procedure. Plan: one map-side-combinable "
        "daily rollup, then a 1-row array fold.",
    tags=("timeseries", "statistics"),
)
def cox_stuart_trend_daily(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    dd = daily_cents(spark, sf_dir)
    arr = dd.agg(
        F.expr("transform(array_sort(collect_list(struct(day, cents))),"
               " x -> x.cents)").alias("a"),
        F.count(F.lit(1)).cast("long").alias("n"))
    s = arr.selectExpr(
        "n", "n DIV 2 AS h",
        "transform(sequence(1, CAST(n DIV 2 AS INT)),"
        " i -> CAST(CASE"
        " WHEN element_at(a, CAST(i + (n - (n DIV 2)) AS INT))"
        " > element_at(a, i) THEN 1"
        " WHEN element_at(a, CAST(i + (n - (n DIV 2)) AS INT))"
        " < element_at(a, i) THEN -1"
        " ELSE 0 END AS BIGINT)) AS signs")
    c = s.selectExpr(
        "n", "h",
        "CAST(size(filter(signs, x -> x = 1)) AS BIGINT) AS n_up",
        "CAST(size(filter(signs, x -> x = -1)) AS BIGINT) AS n_down")
    return c.selectExpr(
        "n AS n_days", "n_up", "n_down",
        "CASE WHEN n_up + n_down = 0 THEN CAST(NULL AS DOUBLE)"
        " ELSE (2.0 * GREATEST(n_up, n_down) - (n_up + n_down) - 1.0)"
        " / SQRT(CAST(n_up + n_down AS DOUBLE)) END AS z_stat")


# ----------------------------- Dixon's Q on the daily extreme values


@query(
    "dixon_q_daily_extremes",
    oracle=f"""
        WITH {SQL_DAILY_CENTS},
        arr AS (
          SELECT list_sort(list(cents)) AS s,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM d
        )
        SELECT n AS n_days,
               CAST(s[1] AS DOUBLE) / 100 AS min_revenue,
               CAST(s[CAST(n AS BIGINT)] AS DOUBLE) / 100
                 AS max_revenue,
               CASE WHEN s[CAST(n AS BIGINT)] = s[1]
                    THEN CAST(NULL AS DOUBLE)
                    ELSE CAST(s[2] - s[1] AS DOUBLE)
                         / (s[CAST(n AS BIGINT)] - s[1]) END AS q_min,
               CASE WHEN s[CAST(n AS BIGINT)] = s[1]
                    THEN CAST(NULL AS DOUBLE)
                    ELSE CAST(s[CAST(n AS BIGINT)]
                              - s[CAST(n AS BIGINT) - 1] AS DOUBLE)
                         / (s[CAST(n AS BIGINT)] - s[1]) END AS q_max
        FROM arr
    """,
    doc="Dixon's Q on the daily revenue extremes: the gap from each "
        "extreme to its nearest neighbor over the full range — the "
        "small-sample single-outlier screen (is the best/worst day "
        "real or a glitch) that needs no distributional moments at "
        "all. Both ratios are one exact integer difference over "
        "another with a single double division; degenerate ranges "
        "emit NULL. Plan: one map-side-combinable daily rollup, one "
        "1-row sorted array.",
    tags=("timeseries", "statistics"),
)
def dixon_q_daily_extremes(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    dd = daily_cents(spark, sf_dir)
    arr = dd.agg(F.expr("array_sort(collect_list(cents))").alias("s"),
                 F.count(F.lit(1)).cast("long").alias("n"))
    return arr.selectExpr(
        "n AS n_days",
        "CAST(element_at(s, 1) AS DOUBLE) / 100 AS min_revenue",
        "CAST(element_at(s, CAST(n AS INT)) AS DOUBLE) / 100"
        " AS max_revenue",
        "CASE WHEN element_at(s, CAST(n AS INT)) = element_at(s, 1)"
        " THEN CAST(NULL AS DOUBLE)"
        " ELSE CAST(element_at(s, 2) - element_at(s, 1) AS DOUBLE)"
        " / (element_at(s, CAST(n AS INT)) - element_at(s, 1)) END"
        " AS q_min",
        "CASE WHEN element_at(s, CAST(n AS INT)) = element_at(s, 1)"
        " THEN CAST(NULL AS DOUBLE)"
        " ELSE CAST(element_at(s, CAST(n AS INT))"
        " - element_at(s, CAST(n AS INT) - 1) AS DOUBLE)"
        " / (element_at(s, CAST(n AS INT)) - element_at(s, 1)) END"
        " AS q_max")


# -------------------------- turning-points randomness test (daily)


@query(
    "turning_points_daily",
    oracle=f"""
        WITH {SQL_DAILY_CENTS},
        arr AS (
          SELECT list(cents ORDER BY day) AS a,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM d
        ),
        tp AS (
          SELECT n,
                 CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(2, n - 1),
                     i -> CAST(CASE WHEN (a[i] > a[i-1] AND
                                          a[i] > a[i+1])
                                 OR (a[i] < a[i-1] AND a[i] < a[i+1])
                               THEN 1 ELSE 0 END AS BIGINT))),
                   (acc, x) -> acc + x) AS BIGINT) AS n_turns
          FROM arr
        )
        SELECT n AS n_days, n_turns,
               CAST(2 * (n - 2) AS DOUBLE) / 3.0 AS e_turns,
               CAST(16 * n - 29 AS DOUBLE) / 90.0 AS var_turns,
               (n_turns - CAST(2 * (n - 2) AS DOUBLE) / 3.0)
                 / SQRT(CAST(16 * n - 29 AS DOUBLE) / 90.0) AS z_stat
        FROM tp
    """,
    doc="Turning-points test on daily revenue: count strict local "
        "peaks and troughs and compare to the 2(n-2)/3 expected "
        "under randomness — the oscillation-rate check that "
        "complements the runs test (runs sees the SIGN sequence of "
        "changes; turning points see the shape). Strict "
        "inequalities make ties conservative (a flat shoulder is "
        "not a turn), counted inside one row's array lambda; the "
        "closed-form mean/variance use identical IEEE ops and one "
        "sqrt. Plan: one map-side-combinable daily rollup, then a "
        "1-row fold.",
    tags=("timeseries", "statistics"),
)
def turning_points_daily(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    dd = daily_cents(spark, sf_dir)
    arr = dd.agg(
        F.expr("transform(array_sort(collect_list(struct(day, cents))),"
               " x -> x.cents)").alias("a"),
        F.count(F.lit(1)).cast("long").alias("n"))
    tp = arr.selectExpr(
        "n",
        "CAST(aggregate(transform(sequence(2, CAST(n AS INT) - 1),"
        " i -> CAST(CASE WHEN (element_at(a, i) > element_at(a, i-1)"
        " AND element_at(a, i) > element_at(a, i+1))"
        " OR (element_at(a, i) < element_at(a, i-1)"
        " AND element_at(a, i) < element_at(a, i+1))"
        " THEN 1 ELSE 0 END AS BIGINT)), CAST(0 AS BIGINT),"
        " (acc, x) -> acc + x) AS BIGINT) AS n_turns")
    return tp.selectExpr(
        "n AS n_days", "n_turns",
        "CAST(2 * (n - 2) AS DOUBLE) / 3.0 AS e_turns",
        "CAST(16 * n - 29 AS DOUBLE) / 90.0 AS var_turns",
        "(n_turns - CAST(2 * (n - 2) AS DOUBLE) / 3.0)"
        " / SQRT(CAST(16 * n - 29 AS DOUBLE) / 90.0) AS z_stat")


# ---------------- Gini of token frequencies per source (inequality)


@query(
    "token_gini_by_source",
    oracle="""
        WITH tok AS (
          SELECT source, unnest(string_split(text, ' ')) AS term
          FROM documents
        ),
        tf AS (
          SELECT source, term, CAST(COUNT(*) AS BIGINT) AS f
          FROM tok WHERE term <> '' GROUP BY 1, 2
        ),
        spec AS (
          SELECT source, f, CAST(COUNT(*) AS BIGINT) AS m
          FROM tf GROUP BY source, f
        ),
        cum AS (
          SELECT source, f, m,
                 COALESCE(CAST(SUM(m) OVER (PARTITION BY source
                   ORDER BY f ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING) AS BIGINT), 0) AS c
          FROM spec
        ),
        agg AS (
          SELECT source,
                 CAST(SUM(m) AS BIGINT) AS n_types,
                 CAST(SUM(CAST(f AS DECIMAL(38,0)) * m) AS BIGINT)
                   AS n_tokens,
                 SUM(CAST(f AS DECIMAL(38,0))
                     * (2 * m * c + m * (m + 1))) AS two_ranksum
          FROM cum GROUP BY source
        )
        SELECT source, n_types, n_tokens,
               CAST(CAST(two_ranksum AS STRING) AS DOUBLE)
                 / (CAST(n_types AS DOUBLE) * n_tokens)
                 - (n_types + 1.0) / n_types AS gini
        FROM agg
    """,
    doc="Gini coefficient of the token-frequency distribution per "
        "source: how unequally token mass concentrates on few types "
        "— the Lorenz-curve single number for vocabulary inequality "
        "(Zipfian corpora sit high; templated/boilerplate sources "
        "sit higher still), complementing Yule's K (a moment) with "
        "an order statistic. NO per-type ranking exists anywhere: "
        "the frequency SPECTRUM (how many types occur f times — "
        "bounded by the max frequency) carries run-sums of ranks in "
        "closed form, 2*sum(i*x_i) = sum_f f*(2mc + m(m+1)), exact "
        "in DECIMAL(38,0); the cumulation window runs over the "
        "bounded spectrum. G = 2*sum(i x_i)/(n*sum x) - (n+1)/n with "
        "identical IEEE ops at emit. Plan: tokenize-explode feeds "
        "one (source, term) count, one (source, f) spectrum, then "
        "tiny math.",
    tags=("text", "statistics"),
)
def token_gini_by_source(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    tf = (load(spark, sf_dir, "documents")
          .select("source",
                  F.explode(F.split("text", " ")).alias("term"))
          .filter(F.col("term") != "")
          .groupBy("source", "term")
          .agg(F.count(F.lit(1)).cast("long").alias("f")))
    spec = (tf.groupBy("source", "f")
              .agg(F.count(F.lit(1)).cast("long").alias("m"))
              # bounded spectrum feeds the cumulation AND the rollup
              .localCheckpoint())
    cumw = (Window.partitionBy("source").orderBy("f")
                  .rowsBetween(Window.unboundedPreceding, -1))
    cum = spec.select(
        "source", "f", "m",
        F.coalesce(F.sum("m").over(cumw).cast("long"), F.lit(0))
         .alias("c"))
    agg = cum.groupBy("source").agg(
        F.sum("m").cast("long").alias("n_types"),
        F.expr("CAST(SUM(CAST(f AS DECIMAL(38,0)) * m) AS BIGINT)")
         .alias("n_tokens"),
        F.expr("SUM(CAST(f AS DECIMAL(38,0))"
               " * (2 * m * c + m * (m + 1)))").alias("two_ranksum"))
    return agg.selectExpr(
        "source", "n_types", "n_tokens",
        f"{wide('two_ranksum')}"
        " / (CAST(n_types AS DOUBLE) * n_tokens)"
        " - (n_types + 1.0) / n_types AS gini")


# --------------- Nelson-Aalen cumulative hazard of user lifetimes


@query(
    "nelson_aalen_user_lifetimes",
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
                 CASE WHEN b.corpus_end - u.last_d < {KM_CENSOR_DAYS}
                      THEN 1 ELSE 0 END AS censored
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
        arr AS (
          SELECT list({{'t_days': t_days,
                       'h': CAST(d_churned AS DOUBLE) / n_at_risk}}
                      ORDER BY t_days) AS a
          FROM risk
        )
        SELECT r.t_days, r.n_at_risk, r.d_churned,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(
                   list_filter(arr.a, x -> x.t_days <= r.t_days),
                   x -> x.h)), (acc, v) -> acc + v) AS cum_hazard
        FROM risk r, arr
    """,
    doc="Nelson-Aalen cumulative hazard of user lifetimes: H(t) = "
        "sum over event times <= t of d_i/n_i — the additive "
        "companion to the registered Kaplan-Meier product (same "
        "lifetime construction, same 3-day censoring window): "
        "KM answers 'what fraction survives', Nelson-Aalen answers "
        "'how much churn FORCE has accumulated', and its increments "
        "are the per-tenure churn intensities a retention team "
        "reads directly. The hazard terms are deterministic doubles "
        "(one division each) prefix-folded in t order from a 0.0 "
        "seed — identical association on both engines (a running "
        "window sum of doubles would NOT be, per the round-7b "
        "rule). Plan: one per-user aggregate, one bounded lifetime "
        "rollup; the at-risk cumulation and the fold run over the "
        "tenure-bounded risk table.",
    tags=("statistics", "timeseries"),
)
def nelson_aalen_user_lifetimes(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
         .cast("long").alias("d"))
    u = e.groupBy("user_id").agg(F.min("d").alias("first_d"),
                                 F.max("d").alias("last_d"))
    bounds = u.agg(F.max("last_d").alias("corpus_end"))
    life = (u.crossJoin(F.broadcast(bounds))
             .selectExpr("CAST(last_d - first_d + 1 AS BIGINT) AS t",
                         f"CASE WHEN corpus_end - last_d"
                         f" < {KM_CENSOR_DAYS}"
                         " THEN 1 ELSE 0 END AS censored"))
    riskw = (Window.orderBy(F.desc("t_days"))
                   .rowsBetween(Window.unboundedPreceding, 0))
    risk = (life.groupBy(F.col("t").alias("t_days"))
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.sum(F.expr("1 - censored")).cast("long")
                      .alias("d_churned"))
                .select("t_days", "d_churned",
                        F.sum("cnt").over(riskw).cast("long")
                         .alias("n_at_risk"))
                # the bounded risk table feeds the term array AND the
                # per-row join-back
                .localCheckpoint())
    arr = risk.agg(F.expr(
        "array_sort(collect_list(struct(t_days,"
        " CAST(d_churned AS DOUBLE) / n_at_risk AS h)))").alias("a"))
    return (risk.crossJoin(F.broadcast(arr))
                .selectExpr(
                    "t_days", "n_at_risk", "d_churned",
                    "aggregate(transform(filter(a,"
                    " x -> x.t_days <= t_days), x -> x.h),"
                    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
                    " AS cum_hazard"))
