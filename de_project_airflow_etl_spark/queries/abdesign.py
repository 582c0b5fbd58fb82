"""Round-10 promoted bank (staged as staged/round12b.py): experimentation readouts
(difference-in-differences, pre-experiment power/MDE), multi-rater
agreement (Fleiss' kappa), and survey-statistics variance for ratio
estimators (leave-one-out jackknife).

Same contract as every registered query: ``(spark, sf_dir) ->
DataFrame`` plus an exact DuckDB oracle, identical column aliases on
both sides, exact-integer / fixed-point arithmetic for anything
accumulated, a 100 TB plan story per docstring, no ``rand()``, no
``.collect()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import (
    cents, fold_sorted_spark, fold_sorted_sql, sql_cents, wide,
)
from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load

# the md5-nibble 50/50 arm the SRM/log-rank bank uses
_ARM_SPARK = ("CASE WHEN substring(md5(CAST(user_id AS STRING)), 1, 1)"
              " < '8' THEN 1 ELSE 0 END")
_ARM_SQL = ("CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)"
            " < '8' THEN 1 ELSE 0 END")
DID_CUTOFF = "2024-01-16"  # mid-corpus: both periods populated


# ---------------- difference-in-differences on the hash arms

# Four cells (arm x period): exact one-pass moments; DiD point
# estimate and its SE from per-cell variances (independent-samples
# normal approximation). Every double op is a shared exact-operand
# expression; one sqrt.
_CELL_MEAN = "{s} / CAST({n} AS DOUBLE)"
_CELL_VARN = ("(({q} - {s} * {s} / {n}) / ({n} - 1)) / {n}")


def _did_cells(which: str) -> dict[str, str]:
    return {"n": f"n_{which}", "s": f"{wide(f's_{which}')}",
            "q": f"{wide(f'q_{which}')}"}


def _did_final() -> str:
    terms = []
    for w in ("a1", "a0", "b1", "b0"):
        c = _did_cells(w)
        terms.append(
            f"{_CELL_MEAN.format(**c)} AS mean_{w}, "
            f"{_CELL_VARN.format(**c)} AS varn_{w}")
    return ", ".join(terms)


@query(
    "difference_in_differences_arms",
    oracle=f"""
        WITH e AS (
          SELECT {_ARM_SQL} AS arm,
                 CASE WHEN ts < TIMESTAMP '{DID_CUTOFF}'
                      THEN 0 ELSE 1 END AS post,
                 {sql_cents("value")} AS c
          FROM events
        ),
        m AS (
          SELECT
            CAST(SUM(CASE WHEN arm = 1 AND post = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_a1,
            SUM(CASE WHEN arm = 1 AND post = 1
                THEN CAST(c AS DECIMAL(38,0)) ELSE 0 END) AS s_a1,
            SUM(CASE WHEN arm = 1 AND post = 1
                THEN CAST(c AS DECIMAL(38,0)) * c ELSE 0 END) AS q_a1,
            CAST(SUM(CASE WHEN arm = 1 AND post = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_a0,
            SUM(CASE WHEN arm = 1 AND post = 0
                THEN CAST(c AS DECIMAL(38,0)) ELSE 0 END) AS s_a0,
            SUM(CASE WHEN arm = 1 AND post = 0
                THEN CAST(c AS DECIMAL(38,0)) * c ELSE 0 END) AS q_a0,
            CAST(SUM(CASE WHEN arm = 0 AND post = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_b1,
            SUM(CASE WHEN arm = 0 AND post = 1
                THEN CAST(c AS DECIMAL(38,0)) ELSE 0 END) AS s_b1,
            SUM(CASE WHEN arm = 0 AND post = 1
                THEN CAST(c AS DECIMAL(38,0)) * c ELSE 0 END) AS q_b1,
            CAST(SUM(CASE WHEN arm = 0 AND post = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_b0,
            SUM(CASE WHEN arm = 0 AND post = 0
                THEN CAST(c AS DECIMAL(38,0)) ELSE 0 END) AS s_b0,
            SUM(CASE WHEN arm = 0 AND post = 0
                THEN CAST(c AS DECIMAL(38,0)) * c ELSE 0 END) AS q_b0
          FROM e
        ),
        cells AS (SELECT {_did_final()} FROM m)
        SELECT (mean_a1 - mean_a0) - (mean_b1 - mean_b0) AS did_cents,
               ((mean_a1 - mean_a0) - (mean_b1 - mean_b0)) / 100
                 AS did_dollars,
               SQRT(varn_a1 + varn_a0 + varn_b1 + varn_b0) AS se_cents,
               ((mean_a1 - mean_a0) - (mean_b1 - mean_b0))
                 / SQRT(varn_a1 + varn_a0 + varn_b1 + varn_b0) AS z_stat
        FROM cells
    """,
    doc="Difference-in-differences readout on the md5-nibble A/B arms "
        "with a mid-corpus pre/post cutoff: (treatment post - pre) - "
        "(control post - pre) in event value, with the independent-"
        "samples SE and Z — the experimentation estimator that "
        "removes shared time trends, completing the bank's A/B "
        "toolkit (SRM gate, CUPED variance reduction, log-rank "
        "duration test). All four cells' moments (n, sum cents, sum "
        "cents^2) accumulate exactly in ONE map-side-combinable pass; "
        "every double op afterwards is a shared exact-operand formula "
        "with one sqrt. Plan: one aggregate over the scan, one row.",
    tags=("statistics", "experimentation"),
)
def difference_in_differences_arms(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").selectExpr(
        f"{_ARM_SPARK} AS arm",
        f"CASE WHEN ts < TIMESTAMP '{DID_CUTOFF}' THEN 0 ELSE 1 END"
        " AS post",
        f"{sql_cents('value')} AS c")
    aggs = []
    for w, arm, post in (("a1", 1, 1), ("a0", 1, 0),
                         ("b1", 0, 1), ("b0", 0, 0)):
        cond = f"arm = {arm} AND post = {post}"
        aggs += [
            F.expr(f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END)"
                   f" AS BIGINT)").alias(f"n_{w}"),
            F.expr(f"SUM(CASE WHEN {cond}"
                   f" THEN CAST(c AS DECIMAL(38,0)) ELSE 0 END)")
             .alias(f"s_{w}"),
            F.expr(f"SUM(CASE WHEN {cond}"
                   f" THEN CAST(c AS DECIMAL(38,0)) * c ELSE 0 END)")
             .alias(f"q_{w}")]
    m = e.agg(*aggs)
    cells = m.selectExpr(*(_did_final().split(", ")))
    return cells.selectExpr(
        "(mean_a1 - mean_a0) - (mean_b1 - mean_b0) AS did_cents",
        "((mean_a1 - mean_a0) - (mean_b1 - mean_b0)) / 100"
        " AS did_dollars",
        "SQRT(varn_a1 + varn_a0 + varn_b1 + varn_b0) AS se_cents",
        "((mean_a1 - mean_a0) - (mean_b1 - mean_b0))"
        " / SQRT(varn_a1 + varn_a0 + varn_b1 + varn_b0) AS z_stat")


# -------------------- pre-experiment power / MDE panel

# z constants pinned as literals (normal quantiles are not exactly
# computable cross-engine; 1.959964 and 0.841621 are the standard
# alpha=0.05 two-sided / power=0.80 values, stated not derived)
MDE_Z_ALPHA = "1.959964"
MDE_Z_BETA = "0.841621"


@query(
    "power_mde_event_value",
    oracle=f"""
        WITH m AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST({sql_cents("value")} AS DECIMAL(38,0))) AS s,
                 SUM(CAST({sql_cents("value")} AS DECIMAL(38,0)) * {sql_cents("value")}) AS q
          FROM events
        ),
        v AS (
          SELECT n, {wide('s')} / n AS mean_c,
                 ({wide('q')} - {wide('s')} * {wide('s')} / n)
                   / (n - 1) AS var_c
          FROM m
        )
        SELECT n AS n_events, mean_c / 100 AS mean_value,
               ({MDE_Z_ALPHA} + {MDE_Z_BETA})
                 * SQRT(2 * var_c / (CAST(n AS DOUBLE) / 2)) / 100
                 AS mde_dollars,
               ({MDE_Z_ALPHA} + {MDE_Z_BETA})
                 * SQRT(2 * var_c / (CAST(n AS DOUBLE) / 2))
                 / mean_c AS mde_relative
        FROM v
    """,
    doc="Pre-experiment power panel: the minimum detectable effect of "
        "a 50/50 event-value A/B test at alpha = 0.05 (two-sided) and "
        "80% power, absolute and relative — the planning number every "
        "readout should be preceded by (an observed lift below the "
        "MDE is noise by design). MDE = (z_a + z_b) * sqrt(2 var / "
        "(n/2)) with the z quantiles PINNED as literals (normal "
        "quantiles are not exactly computable cross-engine); variance "
        "from one exact moment pass. Plan: one map-side-combinable "
        "aggregate over the scan, one row out.",
    tags=("statistics", "experimentation"),
)
def power_mde_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = load(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(f"SUM(CAST({sql_cents('value')} AS DECIMAL(38,0)))").alias("s"),
        F.expr(f"SUM(CAST({sql_cents('value')} AS DECIMAL(38,0)) * {sql_cents('value')})")
         .alias("q"))
    v = m.selectExpr(
        "n", f"{wide('s')} / n AS mean_c",
        f"({wide('q')} - {wide('s')} * {wide('s')} / n) / (n - 1)"
        " AS var_c")
    return v.selectExpr(
        "n AS n_events", "mean_c / 100 AS mean_value",
        f"({MDE_Z_ALPHA} + {MDE_Z_BETA})"
        " * SQRT(2 * var_c / (CAST(n AS DOUBLE) / 2)) / 100"
        " AS mde_dollars",
        f"({MDE_Z_ALPHA} + {MDE_Z_BETA})"
        " * SQRT(2 * var_c / (CAST(n AS DOUBLE) / 2)) / mean_c"
        " AS mde_relative")


# ------------------------- Fleiss' kappa for three quality raters

# Three deterministic binary document labelers (content / length /
# punctuation heuristics) as "raters"; Fleiss' kappa for m=3 raters,
# k=2 categories is a rational function of the per-doc agreement
# counts — exact until the final division.
_RATERS_SQL = (
    "CASE WHEN contains(text, 'data') THEN 1 ELSE 0 END",
    "CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END",
    "CASE WHEN contains(text, '.') THEN 1 ELSE 0 END",
)


@query(
    "fleiss_kappa_quality_rules",
    oracle=f"""
        WITH r AS (
          SELECT ({_RATERS_SQL[0]}) + ({_RATERS_SQL[1]})
                 + ({_RATERS_SQL[2]}) AS pos
          FROM documents
        ),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(pos) AS BIGINT) AS tot_pos,
                 CAST(SUM(pos * pos) AS BIGINT) AS tot_pos2
          FROM r
        )
        SELECT n_docs, tot_pos,
               CAST(CAST(CAST(3 * n_docs AS DECIMAL(38,0)) * tot_pos2
                    - CAST(3 * n_docs AS DECIMAL(38,0)) * tot_pos
                    - CAST(2 AS DECIMAL(38,0)) * tot_pos * tot_pos
                    AS STRING) AS DOUBLE)
                 / CAST(CAST(CAST(2 AS DECIMAL(38,0)) * tot_pos
                        * (3 * n_docs - tot_pos) AS STRING) AS DOUBLE)
                 AS fleiss_kappa
        FROM agg
    """,
    doc="Fleiss' kappa for THREE deterministic document-quality "
        "raters (content, length, punctuation heuristics) on the "
        "binary quality category — the multi-rater generalization of "
        "the registered Cohen's kappa (pairwise) and the staged "
        "Cochran's Q (marginal homogeneity): how much the rater PANEL "
        "agrees beyond chance. For m=3, k=2 the statistic reduces to "
        "an exact rational of n, sum(pos) and sum(pos^2) (pos = "
        "per-doc positive votes): P_bar-vs-P_e algebra cleared of "
        "denominators into DECIMAL(38,0) integer products, one final "
        "division. Plan: one map-side-combinable aggregate over the "
        "documents scan, one row out.",
    tags=("statistics", "quality"),
)
def fleiss_kappa_quality_rules(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "documents").selectExpr(
        f"({_RATERS_SQL[0]}) + ({_RATERS_SQL[1]})"
        f" + ({_RATERS_SQL[2]}) AS pos")
    agg = r.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("pos").cast("long").alias("tot_pos"),
        F.expr("CAST(SUM(pos * pos) AS BIGINT)").alias("tot_pos2"))
    return agg.selectExpr(
        "n_docs", "tot_pos",
        "CAST(CAST(CAST(3 * n_docs AS DECIMAL(38,0)) * tot_pos2"
        " - CAST(3 * n_docs AS DECIMAL(38,0)) * tot_pos"
        " - CAST(2 AS DECIMAL(38,0)) * tot_pos * tot_pos"
        " AS STRING) AS DOUBLE)"
        " / CAST(CAST(CAST(2 AS DECIMAL(38,0)) * tot_pos"
        " * (3 * n_docs - tot_pos) AS STRING) AS DOUBLE)"
        " AS fleiss_kappa")


# ------------- jackknife variance of the revenue-per-event ratio

_JK_DEV_SQL = ("(CAST(t.s - d.cents AS DOUBLE) / (t.m - d.n_ev)"
               " - CAST(t.s AS DOUBLE) / t.m)")

@query(
    "jackknife_ratio_variance_daily",
    oracle=f"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(SUM({sql_cents("value")}) AS BIGINT) AS cents,
                 CAST(COUNT(*) AS BIGINT) AS n_ev
          FROM events GROUP BY 1
        ),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS g,
                 CAST(SUM(cents) AS BIGINT) AS s,
                 CAST(SUM(n_ev) AS BIGINT) AS m
          FROM daily
        ),
        loo AS (
          SELECT t.g, {wide('t.s')} / t.m AS full_ratio,
                 {fold_sorted_sql("list(" + _JK_DEV_SQL
                                  + " * " + _JK_DEV_SQL + ")")} AS ssq
          FROM daily d CROSS JOIN tot t
          GROUP BY t.g, t.s, t.m
        )
        SELECT g AS n_days, full_ratio / 100 AS revenue_per_event,
               (CAST(g - 1 AS DOUBLE) / g) * ssq AS jk_variance,
               SQRT((CAST(g - 1 AS DOUBLE) / g) * ssq) / 100
                 AS jk_se_dollars
        FROM loo
    """,
    doc="Leave-one-day-out jackknife variance for the revenue-per-"
        "event RATIO — the survey-statistics answer to 'what is the "
        "uncertainty of a ratio of two correlated totals', where the "
        "naive per-event variance is wrong (numerator and denominator "
        "co-move by day) — and the delete-group counterpart of the "
        "registered hash bootstrap (surfaces_r8). Each leave-one-out "
        "ratio divides "
        "exact integers (identical IEEE doubles), the squared "
        "deviations fold SORTED from a 0.0 seed (bit-identical "
        "bounded sum), and the g-1/g scaling is exact-operand. Plan: "
        "one daily rollup (the only corpus-scale work), a one-row "
        "totals broadcast onto the calendar-bounded days, one row "
        "out.",
    tags=("statistics", "sampling"),
)
def jackknife_ratio_variance_daily(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    daily = (load(spark, sf_dir, "events")
             .groupBy(F.to_date("ts").alias("d"))
             .agg(F.sum(cents("value")).cast("long").alias("cents"),
                  F.count(F.lit(1)).cast("long").alias("n_ev"))
             .localCheckpoint())  # feeds totals AND the LOO pass
    tot = daily.agg(F.count(F.lit(1)).cast("long").alias("g"),
                    F.sum("cents").cast("long").alias("s"),
                    F.sum("n_ev").cast("long").alias("m"))
    dev = ("(CAST(s - cents AS DOUBLE) / (m - n_ev)"
           " - CAST(s AS DOUBLE) / m)")
    loo = (daily.crossJoin(F.broadcast(tot))
                .groupBy("g", "s", "m")
                .agg(F.expr(fold_sorted_spark(
                    f"collect_list({dev} * {dev})")).alias("ssq"))
                .selectExpr("g", "CAST(s AS DOUBLE) / m AS full_ratio",
                            "ssq"))
    return loo.selectExpr(
        "g AS n_days", "full_ratio / 100 AS revenue_per_event",
        "(CAST(g - 1 AS DOUBLE) / g) * ssq AS jk_variance",
        "SQRT((CAST(g - 1 AS DOUBLE) / g) * ssq) / 100"
        " AS jk_se_dollars")
