"""Round-32 staged bank: two decision-policy completions — the
CROSS-FITTED doubly-robust off-policy value estimate (the DR/DML
recipe: an outcome model fit on the OPPOSITE md5 fold corrects the
direct-method bias while the IPS term corrects the model's — the
variance-reduced upgrade of the round-26 staged IPS/SNIPS pair), and
a deterministic epsilon-greedy bandit REPLAY over the daily panel
(two arms = purchase vs click volume, md5-driven exploration,
exact-integer running averages compared by cross-multiplication;
reports the realized regret against the best fixed arm — the
sequential-decision harness an experimentation stack replays before
deploying an adaptive policy).

Exactness: the DR estimate reduces to 4 per-(fold, context) terms,
each ONE division of exact integer panel cells (DECIMAL(38,0)/
HUGEINT), folded sorted from 0.0; the bandit replay is a pure
integer sequential fold (Spark: ONE aggregate() over the sorted day
array — the holt_linear idiom; oracle: a recursive CTE with
identical arithmetic), with md5 nibbles for the 1/4 exploration rate
and arm choice — no rand() anywhere. Definitions follow Robins,
Rotnitzky & Zhao 1994 / Chernozhukov et al. 2018 (cross-fitting) and
the standard epsilon-greedy replay evaluation (Li et al. 2011) — no
external code.

Same contract as every staged query (see staged/__init__.py):
``(spark, sf_dir) -> DataFrame`` plus an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import (
    fold_sorted_spark, fold_sorted_sql, wide,
)
from de_project_airflow_etl_spark.staged import staged_query
from de_project_airflow_etl_spark.tables import load

# logged arm: first md5 nibble (the round-26 / log_rank / SRM arms);
# cross-fitting fold: SECOND md5 nibble — independent of the arm.
_ARM_SQL = ("CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)"
            " < '8' THEN 1 ELSE 0 END")
_ARM_SPARK = ("CASE WHEN substring(md5(CAST(user_id AS STRING)), 1, 1)"
              " < '8' THEN 1 ELSE 0 END")
_FOLD_SQL = ("CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 2, 1)"
             " < '8' THEN 1 ELSE 0 END")
_FOLD_SPARK = ("CASE WHEN substring(md5(CAST(user_id AS STRING)), 2,"
               " 1) < '8' THEN 1 ELSE 0 END")


# ---------------------------------------------------------------------
# Cross-fitted doubly-robust off-policy value.
#
# Target policy pi(x) = 1 iff the user's first event falls on a
# weekend (the round-26 policy). Outcome model q(x, a) = mean reward
# of the (x, a) cell fit on the OPPOSITE fold. Per (fold F, context
# w), with matched cell (c_m, s_m) = counts/cents of F's users with
# a = pi = w, model cell (c_o, s_o) = same context-and-matched-arm
# cell of the other fold, and n_fw = F's users with context w:
#   sum of DR contributions = (n_fw*s_o + 2*s_m*c_o - 2*c_m*s_o)/c_o
# (the 2 is 1/p for the known p = 1/2). V_DR = sum / n / 100.


@staged_query(
    "doubly_robust_offpolicy_value",
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 MAX({_ARM_SQL}) AS a,
                 MAX({_FOLD_SQL}) AS f,
                 CASE WHEN dayofweek(MIN(CAST(ts AS DATE))) IN (0, 6)
                      THEN 1 ELSE 0 END AS w,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                          THEN CAST(ROUND(value * 100) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS r
          FROM events GROUP BY user_id
        ),
        cells AS (
          SELECT f, w, a, CAST(COUNT(*) AS BIGINT) AS c,
                 CAST(SUM(r) AS BIGINT) AS s
          FROM u GROUP BY f, w, a
        ),
        nfw AS (
          SELECT f, w, CAST(SUM(c) AS BIGINT) AS n_fw
          FROM cells GROUP BY f, w
        ),
        matched AS (SELECT f, w, c AS c_m, s AS s_m
                    FROM cells WHERE a = w),
        terms AS (
          SELECT n.f, n.w, n.n_fw, m.c_m, m.s_m, o.c_m AS c_o,
                 o.s_m AS s_o
          FROM nfw n
          LEFT JOIN matched m ON m.f = n.f AND m.w = n.w
          LEFT JOIN matched o ON o.f = 1 - n.f AND o.w = n.w
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u),
        agg AS (
          SELECT CAST(SUM(CASE WHEN c_o IS NULL OR c_o = 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
                 {fold_sorted_sql(
                     "list(CASE WHEN c_o IS NULL OR c_o = 0 THEN 0.0 ELSE"
                     " (" + wide(
                         "CAST(n_fw AS HUGEINT) * s_o"
                         " + 2 * CAST(COALESCE(s_m, 0) AS HUGEINT)"
                         "   * c_o"
                         " - 2 * CAST(COALESCE(c_m, 0) AS HUGEINT)"
                         "   * s_o") + ") / c_o END)")} AS dr_sum,
                 {fold_sorted_sql(
                     "list(CASE WHEN c_o IS NULL OR c_o = 0 THEN 0.0 ELSE"
                     " (" + wide("CAST(n_fw AS HUGEINT) * s_o")
                     + ") / c_o END)")} AS dm_sum
          FROM terms
        )
        SELECT t.n AS n_users,
               CASE WHEN a.n_bad > 0 THEN NULL
                 ELSE a.dr_sum / t.n / 100 END AS v_dr,
               CASE WHEN a.n_bad > 0 THEN NULL
                 ELSE a.dm_sum / t.n / 100 END AS v_dm
        FROM agg a, tot t
    """,
    doc="Cross-fitted doubly-robust value of the weekend-first "
        "target policy replayed over the md5-randomized logged arms: "
        "the outcome model (per-context-and-arm mean reward) is fit "
        "on the OPPOSITE md5 fold of each user — the DR/DML "
        "cross-fitting that keeps the correction term non-degenerate "
        "(a same-sample model makes DR collapse to the direct "
        "method identically) — and the known propensity 1/2 scales "
        "the matched-residual correction. Reported beside the pure "
        "direct-method estimate; the round-26 staged IPS/SNIPS pair "
        "completes the triangle. Each of the 4 (fold, context) "
        "contributions is ONE division of exact HUGEINT/"
        "DECIMAL(38,0) panel cells, folded sorted from 0.0; NULL "
        "when any opposite-fold model cell is empty (undefined "
        "model). Plan: one user-grain hash aggregate (the only "
        "corpus-scale exchange), an 8-cell panel with broadcast "
        "self-joins, 1-row out.",
    tags=("staged", "experimentation", "evaluation"),
)
def doubly_robust_offpolicy_value(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    u = (load(spark, sf_dir, "events")
         .groupBy("user_id")
         .agg(F.expr(f"MAX({_ARM_SPARK})").alias("a"),
              F.expr(f"MAX({_FOLD_SPARK})").alias("f"),
              F.expr("CASE WHEN dayofweek(MIN(CAST(ts AS DATE)))"
                     " IN (1, 7) THEN 1 ELSE 0 END").alias("w"),
              F.expr("CAST(SUM(CASE WHEN event_type = 'purchase'"
                     " THEN CAST(ROUND(value * 100) AS BIGINT)"
                     " ELSE 0 END) AS BIGINT)").alias("r"))
         # feeds the cell panel AND the n_users count
         .localCheckpoint())
    cells = (u.groupBy("f", "w", "a")
             .agg(F.count(F.lit(1)).cast("long").alias("c"),
                  F.sum("r").cast("long").alias("s")))
    nfw = cells.groupBy("f", "w").agg(
        F.sum("c").cast("long").alias("n_fw"))
    matched = cells.where("a = w").select("f", "w",
                                          F.col("c").alias("c_m"),
                                          F.col("s").alias("s_m"))
    m = matched.select(F.col("f").alias("fm"), F.col("w").alias("wm"),
                       "c_m", "s_m")
    o = matched.select(F.col("f").alias("fo"), F.col("w").alias("wo"),
                       F.col("c_m").alias("c_o"),
                       F.col("s_m").alias("s_o"))
    terms = (nfw
             .join(F.broadcast(m), (F.col("f") == F.col("fm"))
                   & (F.col("w") == F.col("wm")), "left")
             .join(F.broadcast(o), (F.expr("f = 1 - fo"))
                   & (F.col("w") == F.col("wo")), "left")
             .select("n_fw", "c_m", "s_m", "c_o", "s_o"))
    tot = u.agg(F.count(F.lit(1)).cast("long").alias("n"))
    dr_num = wide("CAST(n_fw AS DECIMAL(38,0)) * s_o"
                  " + 2 * CAST(COALESCE(s_m, 0) AS DECIMAL(38,0))"
                  " * c_o"
                  " - 2 * CAST(COALESCE(c_m, 0) AS DECIMAL(38,0))"
                  " * s_o")
    dm_num = wide("CAST(n_fw AS DECIMAL(38,0)) * s_o")
    agg = terms.agg(
        F.expr("CAST(SUM(CASE WHEN c_o IS NULL OR c_o = 0 THEN 1"
               " ELSE 0 END) AS BIGINT)").alias("n_bad"),
        F.expr(fold_sorted_spark(
            "collect_list(CASE WHEN c_o IS NULL OR c_o = 0 THEN"
            f" CAST(0.0 AS DOUBLE) ELSE ({dr_num}) / c_o END)"))
         .alias("dr_sum"),
        F.expr(fold_sorted_spark(
            "collect_list(CASE WHEN c_o IS NULL OR c_o = 0 THEN"
            f" CAST(0.0 AS DOUBLE) ELSE ({dm_num}) / c_o END)"))
         .alias("dm_sum"))
    return (agg.crossJoin(F.broadcast(tot))
            .selectExpr(
                "n AS n_users",
                "CASE WHEN n_bad > 0 THEN NULL"
                " ELSE dr_sum / n / 100 END AS v_dr",
                "CASE WHEN n_bad > 0 THEN NULL"
                " ELSE dm_sum / n / 100 END AS v_dm"))


# ---------------------------------------------------------------------
# Deterministic epsilon-greedy bandit replay over the daily panel.
#
# Arms: 0 = purchase volume, 1 = click volume (events of that type
# that day). Exploration: first md5 nibble of the day string < '4'
# (rate 1/4); the explored arm is 0 iff the second nibble < '8'.
# Exploitation: the arm with the higher exact running average,
# compared by cross-multiplication (s0 * p1 >= s1 * p0, ties and
# never-played arms prefer arm 0 / the unplayed arm).

_EG_EXPLORE = "substring(md5(day), 1, 1) < '4'"
_EG_EXP_ARM0 = "substring(md5(day), 2, 1) < '8'"


def _eg_arm_case(acc: str, e: str) -> str:
    """The arm decision (0/1) given accumulator and element exprs."""
    return (f"CASE WHEN {_EG_EXPLORE.replace('day', e + '.day')} THEN"
            f" (CASE WHEN {_EG_EXP_ARM0.replace('day', e + '.day')}"
            " THEN 0 ELSE 1 END)"
            f" WHEN {acc}.p0 = 0 THEN 0"
            f" WHEN {acc}.p1 = 0 THEN 1"
            f" WHEN {acc}.s0 * {acc}.p1 >= {acc}.s1 * {acc}.p0 THEN 0"
            " ELSE 1 END")


_EG_ARM = _eg_arm_case("i", "s")

_EG_ORACLE = f"""
        WITH RECURSIVE daily AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                          ELSE 0 END) AS BIGINT) AS r0,
                 CAST(SUM(CASE WHEN event_type = 'click' THEN 1
                          ELSE 0 END) AS BIGINT) AS r1
          FROM events GROUP BY 1
        ),
        seq AS (
          SELECT day, r0, r1,
                 CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
          FROM daily
        ),
        it AS (
          SELECT CAST(0 AS BIGINT) AS t, CAST(0 AS BIGINT) AS s0,
                 CAST(0 AS BIGINT) AS p0, CAST(0 AS BIGINT) AS s1,
                 CAST(0 AS BIGINT) AS p1, CAST(0 AS BIGINT) AS coll,
                 CAST(0 AS BIGINT) AS expl
          UNION ALL
          SELECT s.t,
                 i.s0 + CASE WHEN ({_EG_ARM}) = 0 THEN s.r0
                        ELSE 0 END,
                 i.p0 + CASE WHEN ({_EG_ARM}) = 0 THEN 1 ELSE 0 END,
                 i.s1 + CASE WHEN ({_EG_ARM}) = 1 THEN s.r1
                        ELSE 0 END,
                 i.p1 + CASE WHEN ({_EG_ARM}) = 1 THEN 1 ELSE 0 END,
                 i.coll + CASE WHEN ({_EG_ARM}) = 0 THEN s.r0
                          ELSE s.r1 END,
                 i.expl + CASE WHEN
                   {_EG_EXPLORE.replace('day', 's.day')}
                   THEN 1 ELSE 0 END
          FROM it i JOIN seq s ON s.t = i.t + 1
        ),
        fin AS (
          SELECT it.* FROM it
          WHERE it.t = (SELECT COUNT(*) FROM seq)
        ),
        best AS (
          SELECT CAST(SUM(r0) AS BIGINT) AS b0,
                 CAST(SUM(r1) AS BIGINT) AS b1
          FROM daily
        )
        SELECT f.t AS n_days, f.expl AS n_explore_days,
               f.coll AS collected_reward,
               GREATEST(b.b0, b.b1) AS best_fixed_reward,
               GREATEST(b.b0, b.b1) - f.coll AS regret,
               CASE WHEN b.b0 >= b.b1 THEN 'purchase' ELSE 'click'
                 END AS best_arm
        FROM fin f, best b
    """


@staged_query(
    "epsilon_greedy_replay_regret",
    oracle=_EG_ORACLE,
    doc="Deterministic epsilon-greedy bandit replay over the daily "
        "panel: each day the agent plays 'purchase' or 'click' and "
        "collects that day's event count for the chosen type; with "
        "probability 1/4 (first md5 nibble of the DAY string — the "
        "repo's no-rand determinism) it explores (arm picked by the "
        "second nibble), otherwise it exploits the arm with the "
        "higher exact running average, compared by integer "
        "CROSS-MULTIPLICATION (s0*p1 >= s1*p0 — no division, no "
        "doubles), unplayed arms first. Reports the realized regret "
        "against the best fixed arm in hindsight — the "
        "sequential-decision replay harness an experimentation "
        "stack runs over logged data before deploying an adaptive "
        "policy (Li et al. 2011 replay evaluation; the off-policy "
        "DR/IPS family above scores STATIC policies, this scores a "
        "LEARNING one). Spark folds the calendar-bounded sorted day "
        "array in ONE sequential aggregate() (the holt_linear "
        "idiom); the oracle is a recursive CTE with identical "
        "integer arithmetic — state is 6 BIGINTs, exact at any "
        "scale. Plan: one daily aggregate (map-side combinable), "
        "one bounded-array fold, 1-row out.",
    tags=("staged", "experimentation", "iterative"),
)
def epsilon_greedy_replay_regret(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    daily = (load(spark, sf_dir, "events")
             .groupBy(F.to_date("ts").cast("string").alias("day"))
             .agg(F.expr("CAST(SUM(CASE WHEN event_type = 'purchase'"
                         " THEN 1 ELSE 0 END) AS BIGINT)").alias("r0"),
                  F.expr("CAST(SUM(CASE WHEN event_type = 'click'"
                         " THEN 1 ELSE 0 END) AS BIGINT)").alias("r1"))
             # feeds the fold AND the best-fixed-arm totals
             .localCheckpoint())
    one = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "r0", "r1")))
         .alias("arr"),
        F.expr("CAST(SUM(r0) AS BIGINT)").alias("b0"),
        F.expr("CAST(SUM(r1) AS BIGINT)").alias("b1"))
    arm = _eg_arm_case("acc", "e")
    zero = "CAST(0 AS BIGINT)"
    fold = (
        f"aggregate(arr, named_struct("
        f"'s0', {zero}, 'p0', {zero}, 's1', {zero}, 'p1', {zero},"
        f" 'coll', {zero}, 'expl', {zero}),"
        f" (acc, e) -> named_struct("
        f"'s0', acc.s0 + CASE WHEN ({arm}) = 0 THEN e.r0"
        f" ELSE {zero} END,"
        f" 'p0', acc.p0 + CASE WHEN ({arm}) = 0 THEN 1 ELSE 0 END,"
        f" 's1', acc.s1 + CASE WHEN ({arm}) = 1 THEN e.r1"
        f" ELSE {zero} END,"
        f" 'p1', acc.p1 + CASE WHEN ({arm}) = 1 THEN 1 ELSE 0 END,"
        f" 'coll', acc.coll + CASE WHEN ({arm}) = 0 THEN e.r0"
        f" ELSE e.r1 END,"
        f" 'expl', acc.expl + CASE WHEN"
        f" {_EG_EXPLORE.replace('day', 'e.day')} THEN 1 ELSE 0 END))")
    return one.selectExpr(
        "CAST(size(arr) AS BIGINT) AS n_days",
        f"({fold}).expl AS n_explore_days",
        f"({fold}).coll AS collected_reward",
        "GREATEST(b0, b1) AS best_fixed_reward",
        f"GREATEST(b0, b1) - ({fold}).coll AS regret",
        "CASE WHEN b0 >= b1 THEN 'purchase' ELSE 'click' END"
        " AS best_arm")
