"""Round-7 new surface: robust estimators, effect sizes, classifier-
evaluation completions, an EWMA control chart, and first-order Markov
removal-effect attribution.

Same contract as every registered query: ``(spark, sf_dir) ->
DataFrame`` plus an exact DuckDB oracle, identical column aliases on
both sides, exact-integer / fixed-point arithmetic for anything
accumulated, a 100 TB plan story per docstring, no ``rand()``, no
``.collect()``.

Shared determinism idioms (established in earlier banks, reused here):

* exact integer cents / DECIMAL(38,0) moments, the decimal-string ->
  double route for wide values (``util.wide``);
* lower-median selection by ``row_number`` over bounded relations
  (theil_sen precedent — pair sets here are calendar-bounded, never
  data-sized);
* probability fixed point via one-time ``(n_ij * 10^6) div n_i`` edge
  weights so every iteration multiply stays under 2^63 at ANY corpus
  size (tightening the markov_stationary idiom, whose per-edge
  ``v * n_ij`` product would eventually outgrow BIGINT);
* truncate-pinned integer recurrences folded over calendar-bounded
  sorted day arrays in ONE projection (holt/macd CollapseProject
  lesson), recursive-CTE oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import cents, sql_cents, wide
from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load


# weekend flag with identical semantics on both engines: Spark
# dayofweek is 1=Sunday..7=Saturday, DuckDB's is 0=Sunday..6=Saturday
_WKND_SPARK = "CASE WHEN (dayofweek(ts) - 1) IN (0, 6) THEN 1 ELSE 0 END"
_WKND_SQL = "CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END"


# ----------------------- Matthews correlation between quality rules

# The same two deterministic document labelers cohens_kappa uses
# (content heuristic = prediction, length heuristic = reference), so
# the three agreement statistics (kappa / MCC / Youden's J) are
# directly comparable on one confusion matrix.
_MCC_NUM = ("CAST(tp AS DECIMAL(38,0)) * tn"
            " - CAST(fp AS DECIMAL(38,0)) * fn")
_MCC_DEN2 = ("CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn)"
             " * (tn + fp) * (tn + fn)")


@query(
    "matthews_corr_quality_rules",
    oracle=f"""
        WITH r AS (
          SELECT CASE WHEN contains(text, 'data') THEN 1 ELSE 0 END
                   AS a,
                 CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS b
          FROM documents
        ),
        c AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(a * b) AS BIGINT) AS tp,
                 CAST(SUM(a * (1 - b)) AS BIGINT) AS fp,
                 CAST(SUM((1 - a) * b) AS BIGINT) AS fn,
                 CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS tn
          FROM r
        )
        SELECT n_docs, tp, fp, fn, tn,
               {wide(_MCC_NUM)} / SQRT({wide(_MCC_DEN2)}) AS mcc,
               {wide('tp')} / (tp + fn) + {wide('tn')} / (tn + fp)
                 - 1 AS youden_j
        FROM c
    """,
    doc="Matthews correlation coefficient and Youden's J between the "
        "same two deterministic document-quality rules Cohen's kappa "
        "scores (content heuristic as prediction, length heuristic as "
        "reference) — MCC is the balanced single-number summary of a "
        "2x2 confusion matrix (robust to class imbalance where raw "
        "accuracy and even kappa mislead), Youden's J the "
        "sensitivity+specificity-1 screening index. Numerator and the "
        "four marginal products accumulate in DECIMAL(38,0) (products "
        "pass 2^63 at corpus scale); SQRT is correctly rounded on "
        "both engines (the round-8 cross-engine finding), and the "
        "divisions ride the decimal-string->double route. Plan: one "
        "map-side-combinable aggregate over the documents scan, one "
        "row out — zero shuffle beyond the scalar exchange.",
    tags=("evaluation", "statistics", "quality"),
)
def matthews_corr_quality_rules(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "documents").selectExpr(
        "CASE WHEN contains(text, 'data') THEN 1 ELSE 0 END AS a",
        "CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS b")
    c = r.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.expr("a * b")).cast("long").alias("tp"),
        F.sum(F.expr("a * (1 - b)")).cast("long").alias("fp"),
        F.sum(F.expr("(1 - a) * b")).cast("long").alias("fn"),
        F.sum(F.expr("(1 - a) * (1 - b)")).cast("long").alias("tn"))
    return c.selectExpr(
        "n_docs", "tp", "fp", "fn", "tn",
        f"{wide(_MCC_NUM)} / SQRT({wide(_MCC_DEN2)}) AS mcc",
        f"{wide('tp')} / (tp + fn) + {wide('tn')} / (tn + fp)"
        " - 1 AS youden_j")


# --------------------------- Cohen's d / Hedges' g weekend effect size

# Pooled-variance effect size from the same exact one-pass moments the
# Welch t-test uses; reported in cents (scale cancels in d).
_POOLED_VAR = (f"(({wide('q_w')} - {wide('s_w')} * {wide('s_w')} / n_w)"
               f" + ({wide('q_d')} - {wide('s_d')} * {wide('s_d')}"
               f" / n_d)) / (n_w + n_d - 2)")
_COHENS_D = (f"({wide('s_w')} / n_w - {wide('s_d')} / n_d)"
             f" / SQRT({_POOLED_VAR})")
# small-sample bias correction J = 1 - 3/(4*df - 1), df = n_w + n_d - 2
_HEDGES_J = ("(CAST(1 AS DOUBLE) - CAST(3 AS DOUBLE)"
             " / (4 * (n_w + n_d - 2) - 1))")


@query(
    "cohens_d_weekend_value",
    oracle=f"""
        WITH b AS (
          SELECT {_WKND_SQL} AS wknd, {sql_cents("value")} AS c FROM events
        ),
        a AS (
          SELECT CAST(SUM(wknd) AS BIGINT) AS n_w,
                 SUM(CASE WHEN wknd = 1 THEN CAST(c AS DECIMAL(38,0))
                     ELSE 0 END) AS s_w,
                 SUM(CASE WHEN wknd = 1
                     THEN CAST(c AS DECIMAL(38,0)) * c ELSE 0 END) AS q_w,
                 CAST(SUM(1 - wknd) AS BIGINT) AS n_d,
                 SUM(CASE WHEN wknd = 0 THEN CAST(c AS DECIMAL(38,0))
                     ELSE 0 END) AS s_d,
                 SUM(CASE WHEN wknd = 0
                     THEN CAST(c AS DECIMAL(38,0)) * c ELSE 0 END) AS q_d
          FROM b
        )
        SELECT n_w AS n_weekend, n_d AS n_weekday,
               SQRT({_POOLED_VAR}) / 100 AS pooled_sd,
               {_COHENS_D} AS cohens_d,
               {_COHENS_D} * {_HEDGES_J} AS hedges_g
        FROM a
    """,
    doc="Cohen's d (pooled-SD standardized mean difference) and "
        "Hedges' g (its small-sample bias correction) for the "
        "weekend-vs-weekday event-value contrast — the effect-SIZE "
        "companion the significance tests (Welch t, Mann-Whitney) "
        "don't report, and the parametric twin of the staged Cliff's "
        "delta. All moments accumulate exactly (BIGINT counts, "
        "DECIMAL(38,0) sums of cents and cents^2) in ONE map-side-"
        "combinable pass with no grouping key; every double op "
        "afterwards is a shared exact-operand formula with integer "
        "literals only (the round-6 bare-decimal-literal rule) and "
        "one correctly-rounded SQRT. Plan: one aggregate over the "
        "scan, one row out.",
    tags=("statistics",),
)
def cohens_d_weekend_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = load(spark, sf_dir, "events").selectExpr(
        f"{_WKND_SPARK} AS wknd", f"{sql_cents('value')} AS c")
    a = b.agg(
        F.expr("CAST(SUM(wknd) AS BIGINT)").alias("n_w"),
        F.expr("SUM(CASE WHEN wknd = 1 THEN CAST(c AS DECIMAL(38,0))"
               " ELSE 0 END)").alias("s_w"),
        F.expr("SUM(CASE WHEN wknd = 1"
               " THEN CAST(c AS DECIMAL(38,0)) * c ELSE 0 END)")
         .alias("q_w"),
        F.expr("CAST(SUM(1 - wknd) AS BIGINT)").alias("n_d"),
        F.expr("SUM(CASE WHEN wknd = 0 THEN CAST(c AS DECIMAL(38,0))"
               " ELSE 0 END)").alias("s_d"),
        F.expr("SUM(CASE WHEN wknd = 0"
               " THEN CAST(c AS DECIMAL(38,0)) * c ELSE 0 END)")
         .alias("q_d"))
    return a.selectExpr(
        "n_w AS n_weekend", "n_d AS n_weekday",
        f"SQRT({_POOLED_VAR}) / 100 AS pooled_sd",
        f"{_COHENS_D} AS cohens_d",
        f"{_COHENS_D} * {_HEDGES_J} AS hedges_g")


# ------------------------------- PR-AUC (average precision) of value

# Average precision over DESCENDING score thresholds, computed on the
# bounded integer-cents score-distribution table (roc_auc precedent:
# never a data-sized sort). Per distinct score v: tp = positives with
# score >= v, fp = negatives with score >= v; AP = sum_v (pos_v/n_pos)
# * precision_v. Each cell term is made order-free exact:
# (10^6 * pos_v * tp) div (tp + fp) in DECIMAL(38,0) truncating
# division — identical on both engines — so the data-sized SUM is an
# exact integer and only the FINAL division is floating point.
_AP_SCALE = 1_000_000


@query(
    "pr_auc_purchase_value",
    oracle=f"""
        WITH g AS (
          SELECT {sql_cents("value")} AS v,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                          THEN 1 ELSE 0 END) AS BIGINT) AS pos_v,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                          THEN 0 ELSE 1 END) AS BIGINT) AS neg_v
          FROM events GROUP BY 1
        ),
        c AS (
          SELECT pos_v,
                 SUM(pos_v) OVER (ORDER BY v DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS tp,
                 SUM(neg_v) OVER (ORDER BY v DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS fp
          FROM g
        ),
        t AS (
          SELECT CAST(SUM((CAST({_AP_SCALE} AS HUGEINT) * pos_v * tp)
                          // (tp + fp)) AS DECIMAL(38,0)) AS ap_num,
                 CAST(SUM(pos_v) AS BIGINT) AS n_pos,
                 CAST(SUM(CASE WHEN pos_v > 0 THEN 0 ELSE 1 END)
                      AS BIGINT) AS zero_cells
          FROM c
        ),
        n AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_events FROM events
        )
        SELECT t.n_pos, n.n_events - t.n_pos AS n_neg,
               {wide('t.ap_num')}
                 / ({wide(f'CAST({_AP_SCALE} AS BIGINT)')} * t.n_pos)
                 AS average_precision,
               {wide('t.n_pos')} / n.n_events AS prevalence
        FROM t, n
    """,
    doc="Area under the precision-recall curve (average precision, "
        "step interpolation) for 'event value predicts purchase' — "
        "the evaluation metric that matters when positives are rare "
        "and ROC-AUC flatters (its baseline is the prevalence, not "
        "0.5). Same bounded-score-cell design as roc_auc: group by "
        "exact integer cents, cumulate tp/fp DESCENDING over the "
        "<=49k-row score table, and make each cell's pos_v*precision "
        "term an exact integer via (10^6*pos_v*tp) div (tp+fp) in "
        "DECIMAL(38,0) truncating division (operands non-negative, so "
        "Spark div == DuckDB // exactly) — the sum is order-free and "
        "only the final AP division is floating point. Plan: one "
        "map-side-combinable aggregate on the fact table, one "
        "cumulative window + aggregate over the bounded score table.",
    tags=("evaluation", "statistics"),
)
def pr_auc_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").selectExpr(
        f"{sql_cents('value')} AS v",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_pos")
    g = (e.groupBy("v")
          .agg(F.sum("is_pos").cast("long").alias("pos_v"),
               F.sum(F.lit(1) - F.col("is_pos")).cast("long")
                .alias("neg_v")))
    w = (Window.orderBy(F.col("v").desc())
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = g.select(
        "pos_v",
        F.sum("pos_v").over(w).alias("tp"),
        F.sum("neg_v").over(w).alias("fp"))
    t = c.selectExpr(
        f"(CAST({_AP_SCALE} AS DECIMAL(38,0)) * pos_v * tp)"
        " div (tp + fp) AS term",
        "pos_v").agg(
        F.expr("CAST(SUM(term) AS DECIMAL(38,0))").alias("ap_num"),
        F.expr("CAST(SUM(pos_v) AS BIGINT)").alias("n_pos"))
    n = load(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"))
    return t.crossJoin(F.broadcast(n)).selectExpr(
        "n_pos", "n_events - n_pos AS n_neg",
        f"{wide('ap_num')}"
        f" / ({wide(f'CAST({_AP_SCALE} AS BIGINT)')} * n_pos)"
        " AS average_precision",
        f"{wide('n_pos')} / n_events AS prevalence")


# ------------------------- Hodges-Lehmann weekend-vs-weekday shift

@query(
    "hodges_lehmann_weekend_shift",
    oracle=f"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 MAX({_WKND_SQL}) AS wknd,
                 CAST(SUM({sql_cents("value")}) AS BIGINT) AS cents
          FROM events GROUP BY 1
        ),
        p AS (
          SELECT w.cents - d.cents AS diff
          FROM daily w JOIN daily d ON w.wknd = 1 AND d.wknd = 0
        ),
        st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM p),
        r AS (
          SELECT diff, row_number() OVER (ORDER BY diff) AS rn FROM p
        ),
        med AS (
          SELECT diff AS hl_shift_cents
          FROM r CROSS JOIN st WHERE rn = (n_pairs + 1) // 2
        )
        SELECT (SELECT CAST(SUM(wknd) AS BIGINT) FROM daily)
                 AS n_weekend_days,
               (SELECT CAST(SUM(1 - wknd) AS BIGINT) FROM daily)
                 AS n_weekday_days,
               st.n_pairs, med.hl_shift_cents,
               CAST(med.hl_shift_cents AS DOUBLE) / 100 AS hl_shift
        FROM med CROSS JOIN st
    """,
    doc="Hodges-Lehmann estimator of the weekend-vs-weekday shift in "
        "daily revenue: the (lower) median of ALL pairwise "
        "weekend-minus-weekday daily differences — the robust "
        "location-shift ESTIMATE that pairs with the Mann-Whitney "
        "test the way Cohen's d pairs with Welch's t (the test says "
        "'different', HL says 'by how much' without trusting means). "
        "Differences are exact integer cents; the median is a "
        "row_number selection, not a percentile interpolation. Plan: "
        "one daily rollup (the only corpus-scale work), then a "
        "weekend-x-weekday pair join of two CALENDAR-bounded slices "
        "(<= 366^2/4 pairs regardless of data size — the theil_sen "
        "day-pair precedent) and a bounded rank window that sits "
        "above the aggregate.",
    tags=("statistics", "robust"),
)
def hodges_lehmann_weekend_shift(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    daily = (load(spark, sf_dir, "events")
             .groupBy(F.to_date("ts").alias("d"))
             .agg(F.max(F.expr(_WKND_SPARK)).alias("wknd"),
                  F.sum(cents("value")).cast("long").alias("cents"))
             .localCheckpoint())  # feeds 4 consumers, calendar-bounded
    wk = daily.filter("wknd = 1").select(F.col("cents").alias("wc"))
    wd = daily.filter("wknd = 0").select(F.col("cents").alias("dc"))
    p = (wk.crossJoin(F.broadcast(wd))
           .select((F.col("wc") - F.col("dc")).alias("diff")))
    st = p.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    r = p.withColumn("rn", F.row_number().over(Window.orderBy("diff")))
    med = (r.crossJoin(F.broadcast(st))
            .filter(F.expr("rn = (n_pairs + 1) div 2"))
            .select(F.col("diff").alias("hl_shift_cents"), "n_pairs"))
    counts = daily.agg(
        F.sum("wknd").cast("long").alias("n_weekend_days"),
        F.sum(F.lit(1) - F.col("wknd")).cast("long")
         .alias("n_weekday_days"))
    return (med.crossJoin(F.broadcast(counts))
               .selectExpr("n_weekend_days", "n_weekday_days", "n_pairs",
                           "hl_shift_cents",
                           "CAST(hl_shift_cents AS DOUBLE) / 100"
                           " AS hl_shift"))


# --------------------------- Siegel repeated-medians robust trend

# Hierarchical medians: slope_i = median_j!=i slope(i,j), slope =
# median_i slope_i — 50% breakdown point vs Theil-Sen's 29%. Pair and
# per-day relations are calendar-bounded (days^2), never data-sized.
_SG_DAILY_SQL = """
        daily AS (
          SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   AS x,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1
        )
"""


@query(
    "siegel_repeated_medians_trend",
    oracle=f"""
        WITH {_SG_DAILY_SQL},
        p AS (
          SELECT a.x AS xi, b.cents - a.cents AS num,
                 CAST(b.x - a.x AS BIGINT) AS den
          FROM daily a JOIN daily b ON b.x <> a.x
        ),
        r AS (
          SELECT xi, num, den,
                 row_number() OVER (PARTITION BY xi ORDER BY
                   CAST(num AS DOUBLE) / CAST(den AS DOUBLE), num, den)
                   AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY xi) AS BIGINT) AS cnt
          FROM p
        ),
        pm AS (
          SELECT xi, num AS m_num, den AS m_den
          FROM r WHERE rn = (cnt + 1) // 2
        ),
        g AS (
          SELECT m_num, m_den,
                 row_number() OVER (ORDER BY
                   CAST(m_num AS DOUBLE) / CAST(m_den AS DOUBLE),
                   m_num, m_den) AS rn,
                 CAST(COUNT(*) OVER () AS BIGINT) AS n_days
          FROM pm
        ),
        med AS (
          SELECT m_num AS med_num, m_den AS med_den, n_days
          FROM g WHERE rn = (n_days + 1) // 2
        ),
        ic AS (
          SELECT d.cents * m.med_den - m.med_num * d.x AS inum,
                 m.med_den AS iden
          FROM daily d CROSS JOIN med m
        ),
        icr AS (
          SELECT inum, iden, row_number() OVER (ORDER BY inum) AS rn,
                 CAST(COUNT(*) OVER () AS BIGINT) AS nd
          FROM ic
        ),
        icm AS (
          SELECT inum AS intercept_num, iden AS intercept_den
          FROM icr WHERE rn = (nd + 1) // 2
        )
        SELECT m.n_days, m.med_num, m.med_den,
               CAST(m.med_num AS DOUBLE) / CAST(m.med_den AS DOUBLE)
                 AS slope_cents_per_day,
               i.intercept_num, i.intercept_den,
               CAST(i.intercept_num AS DOUBLE)
                 / CAST(i.intercept_den AS DOUBLE) AS intercept_cents
        FROM med m CROSS JOIN icm i
    """,
    doc="Siegel's repeated-medians trend of daily revenue: per day i "
        "the median slope to every other day, then the median of "
        "those per-day medians — the 50%-breakdown-point robust "
        "regressor (Theil-Sen, already registered, breaks down at "
        "29%; comparing the two flags leverage days). Slopes stay "
        "exact integer rationals ordered by their IEEE quotient with "
        "(num, den) tiebreak — identical on both engines — and each "
        "median is a row_number selection. The inner windows "
        "partition by the day key (calendar-bounded groups of "
        "calendar-bounded size); the outer median window ranks one "
        "row per day. Plan: one daily rollup (the only corpus-scale "
        "work), a day-pair self-join bounded by days^2, two bounded "
        "rank windows above the aggregate (theil_sen precedent).",
    tags=("statistics", "robust", "timeseries"),
)
def siegel_repeated_medians_trend(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    daily = (load(spark, sf_dir, "events")
             .groupBy(F.datediff(F.to_date("ts"),
                                 F.lit("1970-01-01")).alias("x"))
             .agg(F.sum(cents("value")).cast("long").alias("cents"))
             .localCheckpoint())  # feeds pair join twice + intercept
    a = daily.select(F.col("x").alias("xi"), F.col("cents").alias("ca"))
    b = daily.select(F.col("x").alias("xb"), F.col("cents").alias("cb"))
    p = (a.join(b, F.col("xb") != F.col("xi"))
          .select("xi", (F.col("cb") - F.col("ca")).alias("num"),
                  (F.col("xb") - F.col("xi")).cast("long").alias("den")))
    wp = Window.partitionBy("xi")
    wr = wp.orderBy(F.expr("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"),
                    "num", "den")
    pm = (p.withColumn("rn", F.row_number().over(wr))
           .withColumn("cnt", F.count(F.lit(1)).over(wp).cast("long"))
           .filter(F.expr("rn = (cnt + 1) div 2"))
           .select("xi", F.col("num").alias("m_num"),
                   F.col("den").alias("m_den")))
    wg = Window.orderBy(
        F.expr("CAST(m_num AS DOUBLE) / CAST(m_den AS DOUBLE)"),
        "m_num", "m_den")
    g = (pm.withColumn("rn", F.row_number().over(wg))
           .withColumn("n_days",
                       F.count(F.lit(1)).over(Window.partitionBy())
                        .cast("long"))
           .filter(F.expr("rn = (n_days + 1) div 2"))
           .select(F.col("m_num").alias("med_num"),
                   F.col("m_den").alias("med_den"), "n_days"))
    ic = (daily.crossJoin(F.broadcast(g))
               .select(F.expr("cents * med_den - med_num * x")
                        .alias("inum"),
                       F.col("med_den").alias("iden")))
    wi = Window.orderBy("inum")
    icm = (ic.withColumn("rn", F.row_number().over(wi))
             .withColumn("nd",
                         F.count(F.lit(1)).over(Window.partitionBy())
                          .cast("long"))
             .filter(F.expr("rn = (nd + 1) div 2"))
             .select(F.col("inum").alias("intercept_num"),
                     F.col("iden").alias("intercept_den")))
    return (g.crossJoin(F.broadcast(icm))
             .selectExpr("n_days", "med_num", "med_den",
                         "CAST(med_num AS DOUBLE)"
                         " / CAST(med_den AS DOUBLE)"
                         " AS slope_cents_per_day",
                         "intercept_num", "intercept_den",
                         "CAST(intercept_num AS DOUBLE)"
                         " / CAST(intercept_den AS DOUBLE)"
                         " AS intercept_cents"))


# --------------------------------- EWMA control chart, lambda = 1/4

# ewma_k = (cents_k + 3*ewma_{k-1}) div 4: a DYADIC-free exact integer
# recurrence (operands non-negative, so Spark div == DuckDB // ==
# truncation), folded over the sorted calendar day array in ONE
# projection (holt/macd CollapseProject lesson). Control limits use
# the asymptotic EWMA variance sigma^2 * lambda/(2-lambda) = s2/7.
_EWMA_LIMIT = "3 * SQRT(({V}) / 7)"


def _ewma_spark_expr() -> str:
    enew = "((e.cents + 3 * acc.e) div 4)"
    init = ("named_struct("
            "'e', element_at(arr, 1).cents,"
            " 'rows', array(named_struct("
            "'day', element_at(arr, 1).day,"
            " 'cents', element_at(arr, 1).cents,"
            " 'ewma_c', element_at(arr, 1).cents)))")
    merge = (f"named_struct('e', {enew},"
             f" 'rows', concat(acc.rows, array(named_struct("
             f"'day', e.day, 'cents', e.cents, 'ewma_c', {enew}))))")
    return (f"inline(aggregate(slice(arr, 2, size(arr) - 1), {init},"
            f" (acc, e) -> {merge}, acc -> acc.rows))")


def _ewma_oracle() -> str:
    var = ("(CAST(CAST(q AS STRING) AS DOUBLE)"
           " - CAST(CAST(s AS STRING) AS DOUBLE)"
           " * CAST(CAST(s AS STRING) AS DOUBLE) / n) / (n - 1)")
    lim = _EWMA_LIMIT.format(V=var)
    return f"""
        WITH RECURSIVE daily AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(SUM({sql_cents("value")}) AS BIGINT) AS cents
          FROM events GROUP BY 1
        ),
        seq AS (
          SELECT day, cents,
                 CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
          FROM daily
        ),
        it AS (
          SELECT t, day, cents, cents AS ewma_c FROM seq WHERE t = 1
          UNION ALL
          SELECT s.t, s.day, s.cents,
                 (s.cents + 3 * i.ewma_c) // 4 AS ewma_c
          FROM it i JOIN seq s ON s.t = i.t + 1
        ),
        m AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(cents) AS BIGINT) AS s,
                 SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS q
          FROM daily
        ),
        lims AS (
          SELECT CAST(s AS DOUBLE) / n AS mu, {lim} AS halfwidth FROM m
        )
        SELECT it.day, it.cents, it.ewma_c,
               lims.mu + lims.halfwidth AS ucl_c,
               lims.mu - lims.halfwidth AS lcl_c,
               CASE WHEN CAST(it.ewma_c AS DOUBLE)
                         > lims.mu + lims.halfwidth
                      OR CAST(it.ewma_c AS DOUBLE)
                         < lims.mu - lims.halfwidth
                    THEN 1 ELSE 0 END AS signal
        FROM it CROSS JOIN lims
    """


@query(
    "ewma_control_chart_daily",
    oracle=_ewma_oracle(),
    doc="EWMA control chart of daily revenue with lambda = 1/4 and "
        "asymptotic 3-sigma limits (sigma^2 * lambda/(2-lambda) = "
        "s^2/7): the small-persistent-shift detector that complements "
        "the registered two-sided CUSUM (CUSUM reacts to cumulative "
        "drift, EWMA to a smoothed level leaving the control band). "
        "The recurrence ewma_k = (cents_k + 3*ewma_{{k-1}}) div 4 runs "
        "in pure non-negative integer cents with truncating division "
        "(Spark div == DuckDB // on non-negatives), folded over the "
        "calendar-bounded sorted day array in ONE sequential "
        "projection (the CollapseProject lesson); the oracle is a "
        "recursive CTE with identical arithmetic. Limits come from "
        "exact BIGINT/DECIMAL(38,0) daily moments via the "
        "string->double route and one correctly-rounded SQRT. The "
        "corpus-scale work is the one daily rollup.",
    tags=("timeseries", "quality"),
)
def ewma_control_chart_daily(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    daily = (load(spark, sf_dir, "events")
             .groupBy(F.to_date("ts").cast("string").alias("day"))
             .agg(F.sum(cents("value")).cast("long").alias("cents"))
             .localCheckpoint())  # feeds the fold AND the moments
    one = daily.agg(F.sort_array(
        F.collect_list(F.struct("day", "cents"))).alias("arr"))
    rows = one.select(F.expr(_ewma_spark_expr()))
    m = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * cents")).alias("q"))
    var = ("(CAST(CAST(q AS STRING) AS DOUBLE)"
           " - CAST(CAST(s AS STRING) AS DOUBLE)"
           " * CAST(CAST(s AS STRING) AS DOUBLE) / n) / (n - 1)")
    lims = m.selectExpr(
        "CAST(s AS DOUBLE) / n AS mu",
        f"{_EWMA_LIMIT.format(V=var)} AS halfwidth")
    return rows.crossJoin(F.broadcast(lims)).selectExpr(
        "day", "cents", "ewma_c",
        "mu + halfwidth AS ucl_c",
        "mu - halfwidth AS lcl_c",
        "CASE WHEN CAST(ewma_c AS DOUBLE) > mu + halfwidth"
        " OR CAST(ewma_c AS DOUBLE) < mu - halfwidth"
        " THEN 1 ELSE 0 END AS signal")


# ---------------- first-order Markov removal-effect attribution

# Journeys: each user's event sequence split AFTER every purchase.
# States: __START__, the non-purchase channels, and the absorbing
# __CONV__ (a purchase) / __NULL__ (journey ends unconverted).
# Removal effect of channel c: re-run the chain with transitions
# touching c redirected to __NULL__ (original denominators kept) and
# compare the START conversion probability against the full chain.
MRA_ITERS = 12
MRA_SCALE = 1_000_000_000_000  # probabilities at 1e12 fixed point
MRA_W = 1_000_000              # edge weights at 1e6 fixed point

_MRA_EDGES_SQL = """
        seq AS (
          SELECT event_type,
                 lag(event_type) OVER w AS prev,
                 lead(event_type) OVER w AS nxt
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        tr AS (
          SELECT CASE WHEN prev IS NULL OR prev = 'purchase'
                      THEN '__START__' ELSE prev END AS src,
                 CASE WHEN event_type = 'purchase'
                      THEN '__CONV__' ELSE event_type END AS dst
          FROM seq
          UNION ALL
          SELECT event_type AS src, '__NULL__' AS dst
          FROM seq WHERE nxt IS NULL AND event_type <> 'purchase'
        ),
        cnt AS (
          SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n_ij
          FROM tr GROUP BY 1, 2
        ),
        tot AS (
          SELECT src, CAST(SUM(n_ij) AS BIGINT) AS n_i
          FROM cnt GROUP BY 1
        ),
        edges AS MATERIALIZED (
          SELECT c.src, c.dst,
                 CAST(CAST(c.n_ij AS HUGEINT) * 1000000 // t.n_i
                      AS BIGINT) AS w_e6
          FROM cnt c JOIN tot t USING (src)
        ),
        scen AS (
          SELECT DISTINCT event_type AS removed FROM events
          WHERE event_type <> 'purchase'
          UNION ALL SELECT '__NONE__'
        ),
        se AS MATERIALIZED (
          SELECT s.removed, e.src, e.dst, e.w_e6
          FROM scen s JOIN edges e
            ON e.src <> s.removed AND e.dst <> s.removed
        )
"""


def _mra_oracle() -> str:
    steps = ["p0 AS (SELECT removed, src AS state, CAST(0 AS BIGINT)"
             " AS p FROM se GROUP BY 1, 2)"]
    for k in range(1, MRA_ITERS + 1):
        steps.append(f"""
        p{k} AS MATERIALIZED (
          SELECT se.removed, se.src AS state,
                 CAST(SUM(se.w_e6 * (CASE
                      WHEN se.dst = '__CONV__' THEN {MRA_SCALE}
                      WHEN se.dst = '__NULL__' THEN 0
                      ELSE COALESCE(pv.p, 0) END)) // {MRA_W}
                      AS BIGINT) AS p
          FROM se LEFT JOIN p{k - 1} pv
            ON pv.removed = se.removed AND pv.state = se.dst
          GROUP BY 1, 2
        )""")
    return f"""
        WITH {_MRA_EDGES_SQL},
        {','.join(steps)},
        fin AS (
          SELECT s.removed, COALESCE(pk.p, 0) AS p
          FROM scen s LEFT JOIN p{MRA_ITERS} pk
            ON pk.removed = s.removed AND pk.state = '__START__'
        ),
        fp AS (
          SELECT p AS conv_e12_full FROM fin WHERE removed = '__NONE__'
        ),
        eff AS (
          SELECT f.removed AS channel, f.p AS conv_e12_removed,
                 fp.conv_e12_full,
                 fp.conv_e12_full - f.p AS effect_e12
          FROM fin f CROSS JOIN fp WHERE f.removed <> '__NONE__'
        ),
        te AS (
          SELECT CAST(SUM(effect_e12) AS BIGINT) AS tot_eff FROM eff
        )
        SELECT e.channel, e.conv_e12_removed, e.conv_e12_full,
               CAST(e.effect_e12 AS DOUBLE) / e.conv_e12_full
                 AS removal_effect,
               CAST(e.effect_e12 AS DOUBLE) / t.tot_eff
                 AS attribution_share
        FROM eff e CROSS JOIN te t
    """


@query(
    "markov_removal_effect_attribution",
    oracle=_mra_oracle(),
    doc="First-order Markov multi-touch attribution (Anderl et al.'s "
        "removal effect): model user journeys (split after each "
        "purchase) as a Markov chain over channels with absorbing "
        "CONV/NULL states, compute the START->CONV absorption "
        "probability by fixed-point iteration, then re-run the chain "
        "with each channel's transitions redirected to NULL — the "
        "channel's attribution share is its normalized conversion "
        "drop. The data-driven attribution model that replaces the "
        "heuristic last-touch / U-shaped rules already registered. "
        "Exactness: transition probabilities quantize ONCE to 1e6 "
        "fixed point via (n_ij * 10^6) div n_i in DECIMAL(38,0) "
        "(truncation pinned; also caps every iteration product at "
        "w*p <= 10^18 so the whole iteration is BIGINT-safe at ANY "
        "corpus size — tighter than markov_stationary's v*n_ij), "
        f"then {MRA_ITERS} synchronous iterations at 1e12 probability "
        "fixed point; the oracle unrolls the same iterations as "
        "MATERIALIZED CTEs. Plan: ONE corpus-scale pass (the lag/lead "
        "window partitioned by the grows-with-data user key + one "
        "count aggregate); everything after operates on the "
        "vocabulary-bounded transition matrix (<= (|types|+2)^2 rows) "
        "replicated per scenario — the scenario x edge join "
        "broadcasts a bounded panel (justified BNLJ), and all "
        f"{MRA_ITERS} iterations run as ONE runtime aggregate() fold "
        "per scenario over the collected bounded edge panel (the "
        "accumulator is a VALUE at runtime, so no CollapseProject "
        "re-inlining and no per-iteration checkpoint jobs — r10 "
        "optimization; scenarios also derive from the transition "
        "matrix instead of a second corpus scan, since every "
        "non-purchase event type appears as a dst).",
    tags=("analytics", "attribution", "graph"),
)
def markov_removal_effect_attribution(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (e.withColumn("prev", F.lag("event_type").over(w))
            .withColumn("nxt", F.lead("event_type").over(w)))
    main = seq.selectExpr(
        "CASE WHEN prev IS NULL OR prev = 'purchase'"
        " THEN '__START__' ELSE prev END AS src",
        "CASE WHEN event_type = 'purchase'"
        " THEN '__CONV__' ELSE event_type END AS dst")
    term = (seq.filter("nxt IS NULL AND event_type <> 'purchase'")
               .selectExpr("event_type AS src", "'__NULL__' AS dst"))
    cnt = (main.unionByName(term)
               .groupBy("src", "dst")
               .agg(F.count(F.lit(1)).cast("long").alias("n_ij")))
    tot = cnt.groupBy("src").agg(F.sum("n_ij").cast("long").alias("n_i"))
    edges = (cnt.join(tot, "src")
                .selectExpr("src", "dst",
                            f"CAST(CAST(n_ij AS DECIMAL(38,0)) * {MRA_W}"
                            " div n_i AS BIGINT) AS w_e6")
                .localCheckpoint())  # vocabulary-bounded matrix
    # Scenarios from the BOUNDED matrix, not a second corpus scan:
    # every event row emits exactly one dst (= its event_type unless
    # 'purchase' -> '__CONV__'), so the distinct non-absorbing dst set
    # IS the distinct non-purchase event-type set.
    scen = (edges.select(F.col("dst").alias("removed"))
                 .filter("removed NOT IN ('__CONV__', '__NULL__')")
                 .distinct()
                 .unionByName(
                     spark.range(1).selectExpr("'__NONE__' AS removed")))
    se = scen.join(edges, (F.col("src") != F.col("removed"))
                   & (F.col("dst") != F.col("removed")))
    # All MRA_ITERS synchronous iterations inside ONE aggregate() fold
    # per scenario: the p-vector accumulator is a runtime VALUE (never
    # expression-inlined), contributions are the same exact BIGINT
    # products (w_e6 * p <= 1e18, per-state sums <= 1e18 — the
    # documented bound), and integer sums are order-insensitive, so
    # the fold reproduces the per-iteration join+aggregate bit-exactly
    # while replacing 12 checkpoint jobs with one bounded projection.
    pos = "array_position(states, e.dst)"
    val = (f"CASE WHEN e.dst = '__CONV__' THEN {MRA_SCALE}L"
           f" WHEN e.dst = '__NULL__' THEN 0L"
           f" WHEN {pos} = 0 THEN 0L"
           f" ELSE element_at(p, CAST({pos} AS INT)) END")
    step = (f"transform(states, s -> CAST(aggregate("
            f"filter(es, e -> e.src = s), 0L,"
            f" (acc, e) -> acc + e.w_e6 * ({val})) div {MRA_W}"
            f" AS BIGINT))")
    fold = (f"aggregate(sequence(1, {MRA_ITERS}),"
            f" transform(states, s0 -> 0L), (p, it) -> {step})")
    start_pos = "array_position(states, '__START__')"
    res = (se.groupBy("removed")
             .agg(F.expr("sort_array(collect_set(src))").alias("states"),
                  F.expr("collect_list(struct(src, dst, w_e6))")
                   .alias("es"))
             .selectExpr("removed",
                         f"CASE WHEN {start_pos} = 0 THEN 0L"
                         f" ELSE element_at({fold},"
                         f" CAST({start_pos} AS INT)) END AS p")
             .localCheckpoint())  # |channels|+1 rows
    fin = (scen.join(res, "removed", "left")
               .selectExpr("removed", "COALESCE(p, 0L) AS p"))
    fp = (fin.filter("removed = '__NONE__'")
             .selectExpr("p AS conv_e12_full"))
    eff = (fin.filter("removed <> '__NONE__'")
              .crossJoin(F.broadcast(fp))
              .selectExpr("removed AS channel",
                          "p AS conv_e12_removed", "conv_e12_full",
                          "conv_e12_full - p AS effect_e12"))
    te = eff.agg(F.sum("effect_e12").cast("long").alias("tot_eff"))
    return (eff.crossJoin(F.broadcast(te))
               .selectExpr("channel", "conv_e12_removed",
                           "conv_e12_full",
                           "CAST(effect_e12 AS DOUBLE) / conv_e12_full"
                           " AS removal_effect",
                           "CAST(effect_e12 AS DOUBLE) / tot_eff"
                           " AS attribution_share"))
