"""Round-9 bank, promoted in round 8 (staged as staged/round9.py):
corpus readability, near-dup-graph link
prediction, forecast-quality and calibration summaries, sequence
randomness, an ordered repeated-measures trend test, retrieval-list
diversity, and the SQL aggregate FILTER clause.

Same contract and determinism rules as queries/diagnostics.py
(module head there): exact integer / DECIMAL(38,0) accumulation, +-*/ and
sqrt only, constants inlined identically into both engines through
correctly-rounded string casts, sorted folds for bounded sums of
double terms, windows only over calendar- or value-domain-bounded
aggregates.

The synthetic documents corpus carries NO sentence punctuation
(measured: 0 of 500 docs at sf0.01 contain [.!?]), so the
readability indices use the DOCUMENT as the sentence unit — the
honest deterministic choice; the formulas are otherwise textbook.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import (
    dlit, fold_sorted_spark, fold_sorted_sql, sql_cents, wide,
)
from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load
from de_project_airflow_etl_spark.operators.dedup import _sql_lsh_pairs
from de_project_airflow_etl_spark.queries.diagnostics import _SQL_TOPK_REL


def _spark_pair_cos(x: str, y: str) -> str:
    """Spark cosine between two vector expressions, folded in
    dimension order from a 0.0 seed (operators/similarity.dot)."""
    def dot(a: str, b: str) -> str:
        return (f"aggregate(zip_with({a}, {b},"
                f" (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)),"
                f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    return (f"{dot(x, y)} / (SQRT({dot(x, x)}) * SQRT({dot(y, y)}))")


def _sql_pair_cos(x: str, y: str) -> str:
    """DuckDB twin of _spark_pair_cos (operators/similarity.sql_dot)."""
    def dot(a: str, b: str) -> str:
        return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
                f" list_transform(generate_series(1, len({a})),"
                f" k -> CAST({a}[k] AS DOUBLE)"
                f" * CAST({b}[k] AS DOUBLE))), (acc, v) -> acc + v)")
    return (f"{dot(x, y)} / (SQRT({dot(x, x)}) * SQRT({dot(y, y)}))")


# ---------------------------------------------------------------------
# Readability indices per source (document = sentence unit).

# ARI = 4.71 chars/words + 0.5 words/docs - 21.43
# CLI = 0.0588 L - 0.296 S - 15.8  (L/S per 100 words)
# FRE = 206.835 - 1.015 words/docs - 84.6 syllables/words
# Syllables ~ vowel groups [aeiouy]+ — the standard cheap estimator.
_READ_EXPRS = (
    "source", "n_docs", "n_words", "n_alnum", "n_letters",
    "n_sentences_unit", "n_syllables",
    f"{dlit(4.71)} * (CAST(n_alnum AS DOUBLE) / n_words)"
    f" + {dlit(0.5)} * (CAST(n_words AS DOUBLE) / n_docs)"
    f" - {dlit(21.43)} AS ari",
    f"{dlit(0.0588)} * ({dlit(100.0)} * n_letters / n_words)"
    f" - {dlit(0.296)} * ({dlit(100.0)} * n_docs / n_words)"
    f" - {dlit(15.8)} AS coleman_liau",
    f"{dlit(206.835)}"
    f" - {dlit(1.015)} * (CAST(n_words AS DOUBLE) / n_docs)"
    f" - {dlit(84.6)} * (CAST(n_syllables AS DOUBLE) / n_words)"
    " AS flesch",
)


@query(
    "readability_indices_by_source",
    oracle=f"""
        WITH m AS (
          SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(len(list_filter(string_split(text, ' '),
                   w -> w <> ''))) AS BIGINT) AS n_words,
                 CAST(SUM(length(regexp_replace(text, '[^A-Za-z0-9]',
                   '', 'g'))) AS BIGINT) AS n_alnum,
                 CAST(SUM(length(regexp_replace(text, '[^A-Za-z]',
                   '', 'g'))) AS BIGINT) AS n_letters,
                 CAST(COUNT(*) AS BIGINT) AS n_sentences_unit,
                 CAST(SUM(len(regexp_extract_all(lower(text),
                   '[aeiouy]+'))) AS BIGINT) AS n_syllables
          FROM documents GROUP BY source
        )
        SELECT {", ".join(_READ_EXPRS)}
        FROM m
    """,
    doc="Automated Readability Index, Coleman-Liau and Flesch "
        "Reading Ease per source — the grade-level trio every "
        "curation scorecard quotes, chosen because all three are "
        "LINEAR in exact counts (no log): alphanumeric chars, "
        "letters, words, sentence units and vowel-group syllable "
        "estimates accumulate as BIGINTs in one aggregate, and each "
        "index is a handful of IEEE ops on identical operands with "
        "every formula constant inlined through the correctly-"
        "rounded string route. The corpus carries no sentence "
        "punctuation (measured), so the DOCUMENT is the sentence "
        "unit, stated in the column name. Plan: one map-side-"
        "combinable per-source aggregate over one scan; regex work "
        "streams in the map phase, nothing data-sized shuffles.",
    tags=("text", "quality"),
)
def readability_indices_by_source(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    m = (load(spark, sf_dir, "documents")
         .groupBy("source")
         .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
              F.expr("CAST(SUM(size(filter(split(text, ' '),"
                     " w -> w <> ''))) AS BIGINT)").alias("n_words"),
              F.expr("CAST(SUM(length(regexp_replace(text,"
                     " '[^A-Za-z0-9]', ''))) AS BIGINT)")
               .alias("n_alnum"),
              F.expr("CAST(SUM(length(regexp_replace(text,"
                     " '[^A-Za-z]', ''))) AS BIGINT)")
               .alias("n_letters"),
              F.count(F.lit(1)).cast("long").alias("n_sentences_unit"),
              F.expr("CAST(SUM(regexp_count(lower(text),"
                     " '[aeiouy]+')) AS BIGINT)").alias("n_syllables")))
    return m.selectExpr(*_READ_EXPRS)


# ---------------------------------------------------------------------
# Resource-allocation link prediction over the near-dup graph.


@query(
    "resource_allocation_link_pred",
    oracle="""
        WITH {LSH_PAIRS},
        und AS (
          SELECT LEAST(doc_a, doc_b) AS lo, GREATEST(doc_a, doc_b) AS hi
          FROM pairs GROUP BY 1, 2
        ),
        edges AS (
          SELECT lo AS src, hi AS dst FROM und
          UNION ALL
          SELECT hi AS src, lo AS dst FROM und
        ),
        deg AS (
          SELECT src AS z, CAST(COUNT(*) AS BIGINT) AS d
          FROM edges GROUP BY src
        ),
        triads AS (
          SELECT e1.dst AS a, e2.dst AS c, e1.src AS z
          FROM edges e1 JOIN edges e2
            ON e1.src = e2.src AND e1.dst < e2.dst
        )
        SELECT t.a AS doc_lo, t.c AS doc_hi,
               CAST(COUNT(*) AS BIGINT) AS n_common,
               {FOLD} AS ra_score,
               CAST(MAX(CASE WHEN u.lo IS NULL THEN 0 ELSE 1 END)
                 AS BIGINT) AS already_linked
        FROM triads t
        JOIN deg ON deg.z = t.z
        LEFT JOIN und u ON u.lo = t.a AND u.hi = t.c
        GROUP BY t.a, t.c
    """.replace("{FOLD}", fold_sorted_sql("list(CAST(1 AS DOUBLE) / d)"))
       .replace("{LSH_PAIRS}", _sql_lsh_pairs()),
    doc="Resource-allocation scores over the verified near-dup "
        "graph: every two-hop pair (documents sharing a near-dup "
        "neighbor) scored by sum 1/deg(z) over common neighbors z — "
        "the Zhou-Lu-Zhang index, the strongest of the simple local "
        "predictors and log-free (Adamic-Adar is not). Unlinked "
        "pairs are the transitive-closure candidates the dedup "
        "pipeline would verify next (link prediction); linked pairs "
        "read the same number as triangle-support edge strength, "
        "flagged apart by already_linked (the graph's triads all "
        "close at some scales, so the query scores both). Per-pair 1/deg doubles "
        "reduce via the sorted fold; counts exact. Plan: the pair "
        "relation derives once (shared LSH materialization), the "
        "two-hop join is edge x edge on the middle node — bounded "
        "by sum deg^2 of a df-capped sparse graph, never doc x doc; "
        "degree table broadcasts.",
    tags=("dedup", "graph"),
)
def resource_allocation_link_pred(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.operators.dedup import _lsh_verified
    und = (_lsh_verified(spark, sf_dir)
           .selectExpr("LEAST(doc_a, doc_b) AS lo",
                       "GREATEST(doc_a, doc_b) AS hi")
           .distinct().localCheckpoint())
    edges = (und.selectExpr("lo AS src", "hi AS dst")
                .union(und.selectExpr("hi AS src", "lo AS dst")))
    deg = edges.groupBy(F.col("src").alias("z")).agg(
        F.count(F.lit(1)).cast("long").alias("d"))
    e1 = edges.selectExpr("src AS z1", "dst AS a")
    e2 = edges.selectExpr("src AS z2", "dst AS c")
    triads = (e1.join(e2, (F.col("z1") == F.col("z2"))
                      & (F.col("a") < F.col("c")))
                .selectExpr("a", "c", "z1 AS z"))
    return (triads.join(F.broadcast(deg), "z")
                  .join(und, (F.col("a") == F.col("lo"))
                        & (F.col("c") == F.col("hi")), "left")
                  .groupBy(F.col("a").alias("doc_lo"),
                           F.col("c").alias("doc_hi"))
                  .agg(F.count(F.lit(1)).cast("long").alias("n_common"),
                       F.expr(fold_sorted_spark(
                           "collect_list(CAST(1 AS DOUBLE) / d)"))
                        .alias("ra_score"),
                       F.expr("CAST(MAX(CASE WHEN lo IS NULL THEN 0"
                              " ELSE 1 END) AS BIGINT)")
                        .alias("already_linked")))


# ---------------------------------------------------------------------
# Theil's U2: seasonal-naive forecast quality on daily revenue.


@query(
    "theil_u_daily_forecasts",
    oracle=f"""
        WITH d AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(SUM({sql_cents("value")}) AS BIGINT) AS cents
          FROM events GROUP BY 1
        ),
        l AS (
          SELECT cents,
                 lag(cents, 1) OVER (ORDER BY day) AS c1,
                 lag(cents, 7) OVER (ORDER BY day) AS c7
          FROM d
        ),
        s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_days_scored,
                 SUM(CAST(cents - c7 AS DECIMAL(38,0)) * (cents - c7))
                   AS sse7,
                 SUM(CAST(cents - c1 AS DECIMAL(38,0)) * (cents - c1))
                   AS sse1
          FROM l WHERE c7 IS NOT NULL
        )
        SELECT n_days_scored,
               {wide('sse7')} AS sse_seasonal7,
               {wide('sse1')} AS sse_naive1,
               CASE WHEN {wide('sse1')} = 0 THEN CAST(NULL AS DOUBLE)
                    ELSE SQRT({wide('sse7')} / {wide('sse1')}) END
                 AS theil_u2
        FROM s
    """,
    doc="Theil's U2 for the weekly seasonal-naive forecast of daily "
        "revenue: the ratio of its root squared error to the naive-1 "
        "(persistence) forecast over the same scored days — U2 < 1 "
        "means the weekly pattern genuinely helps, the "
        "scale-free companion to the staged MASE (which compares "
        "absolute errors). Squared integer-cents errors accumulate "
        "in DECIMAL(38,0) (order-free), reach DOUBLE via the string "
        "route, one division + one IEEE-exact sqrt. Plan: one "
        "map-side-combinable daily rollup; lags over the calendar-"
        "bounded daily table; 1-row math.",
    tags=("timeseries", "evaluation"),
)
def theil_u_daily_forecasts(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    d = (load(spark, sf_dir, "events")
         .selectExpr("CAST(ts AS DATE) AS day", f"{sql_cents('value')} AS c")
         .groupBy("day").agg(F.sum("c").cast("long").alias("cents")))
    lagw = Window.orderBy("day")
    l = d.select(
        "cents",
        F.lag("cents", 1).over(lagw).alias("c1"),
        F.lag("cents", 7).over(lagw).alias("c7"))
    s = l.filter(F.col("c7").isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n_days_scored"),
        F.expr("SUM(CAST(cents - c7 AS DECIMAL(38,0)) * (cents - c7))")
         .alias("sse7"),
        F.expr("SUM(CAST(cents - c1 AS DECIMAL(38,0)) * (cents - c1))")
         .alias("sse1"))
    return s.selectExpr(
        "n_days_scored",
        f"{wide('sse7')} AS sse_seasonal7",
        f"{wide('sse1')} AS sse_naive1",
        f"CASE WHEN {wide('sse1')} = 0 THEN CAST(NULL AS DOUBLE)"
        f" ELSE SQRT({wide('sse7')} / {wide('sse1')}) END"
        " AS theil_u2")


# ---------------------------------------------------------------------
# Page's trend test: ordered day-of-week effect across complete weeks.

PG_K = 7


@query(
    "pages_trend_test_dow",
    oracle=f"""
        WITH d AS (
          SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   // 7 AS blk,
                 date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   % 7 AS dow,
                 CAST(SUM({sql_cents("value")}) AS BIGINT) AS cents
          FROM events GROUP BY 1, 2
        ),
        full_blocks AS (
          SELECT blk FROM d GROUP BY blk HAVING COUNT(*) = {PG_K}
        ),
        r AS (
          SELECT dow,
                 2 * rank() OVER (PARTITION BY blk ORDER BY cents)
                   + CAST(COUNT(*) OVER (PARTITION BY blk, cents)
                     AS BIGINT) - 1 AS mr2
          FROM d JOIN full_blocks USING (blk)
        ),
        rs AS (
          SELECT dow, CAST(SUM(mr2) AS BIGINT) AS r2
          FROM r GROUP BY dow
        ),
        agg AS (
          SELECT CAST(SUM((dow + 1) * CAST(r2 AS DECIMAL(38,0)))
                   AS BIGINT) AS l2,
                 CAST((SELECT COUNT(*) FROM full_blocks) AS BIGINT) AS b
          FROM rs
        )
        SELECT b AS n_blocks, l2 AS l2_stat,
               b * {PG_K} * {(PG_K + 1) * (PG_K + 1)} AS e_l2,
               CAST(b AS DOUBLE) * {PG_K * PG_K} * {PG_K + 1}
                 * {PG_K * PG_K - 1} / 144.0 AS var_l,
               CAST(l2 - b * {PG_K} * {(PG_K + 1) * (PG_K + 1)}
                 AS DOUBLE)
                 / (2.0 * SQRT(CAST(b AS DOUBLE) * {PG_K * PG_K}
                   * {PG_K + 1} * {PG_K * PG_K - 1} / 144.0)) AS z_stat
        FROM agg
    """,
    doc="Page's L trend test for an ORDERED day-of-week effect on "
        "daily revenue (postulated ordering: epoch weekday 0..6): "
        "within each complete week the seven daily revenues are "
        "midranked and L weights each weekday's rank sum by its "
        "postulated position — strictly more powerful than the "
        "staged Friedman when the alternative is monotone-in-weekday "
        "(the ordered analog, as Jonckheere is to Kruskal-Wallis). "
        "2x-midranks keep L2 = 2L integral (BIGINT via a DECIMAL "
        "product), the null mean b*k*(k+1)^2 is exact arithmetic, "
        "the no-tie variance and z use one sqrt. Epoch-day DIV/% "
        "bucketing, no engine week functions. Plan: identical to "
        "friedman_dow_value_ranks — one (week, dow) rollup, 7-row "
        "block rank partitions, then 7-row math.",
    tags=("statistics", "timeseries"),
)
def pages_trend_test_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (load(spark, sf_dir, "events")
         .selectExpr(
             "datediff(CAST(ts AS DATE), DATE'1970-01-01') DIV 7"
             " AS blk",
             "datediff(CAST(ts AS DATE), DATE'1970-01-01') % 7"
             " AS dow",
             f"{sql_cents('value')} AS c")
         .groupBy("blk", "dow")
         .agg(F.sum("c").cast("long").alias("cents"))
         .localCheckpoint())
    full_blocks = (d.groupBy("blk").agg(F.count(F.lit(1)).alias("nb"))
                    .filter(F.col("nb") == PG_K).select("blk"))
    rankw = Window.partitionBy("blk").orderBy("cents")
    tiew = Window.partitionBy("blk", "cents")
    r = (d.join(full_blocks, "blk")
          .select("dow",
                  (2 * F.rank().over(rankw)
                   + F.count(F.lit(1)).over(tiew).cast("long") - 1)
                  .alias("mr2")))
    rs = r.groupBy("dow").agg(F.sum("mr2").cast("long").alias("r2"))
    b_cnt = full_blocks.agg(F.count(F.lit(1)).cast("long").alias("b"))
    agg = (rs.agg(F.expr("CAST(SUM((dow + 1)"
                         " * CAST(r2 AS DECIMAL(38,0))) AS BIGINT)")
                   .alias("l2"))
             .crossJoin(F.broadcast(b_cnt)))
    e_l2 = f"b * {PG_K} * {(PG_K + 1) * (PG_K + 1)}"
    var_l = (f"CAST(b AS DOUBLE) * {PG_K * PG_K} * {PG_K + 1}"
             f" * {PG_K * PG_K - 1} / 144.0")
    return agg.selectExpr(
        "b AS n_blocks", "l2 AS l2_stat",
        f"{e_l2} AS e_l2",
        f"{var_l} AS var_l",
        f"CAST(l2 - {e_l2} AS DOUBLE) / (2.0 * SQRT({var_l}))"
        " AS z_stat")


# ---------------------------------------------------------------------
# Expected calibration error of the value-proportional scorer.

ECE_SCALE = 50000   # same scorer as brier_calibration_purchase
ECE_BIN_C = 5000


@query(
    "ece_calibration_purchase",
    oracle=f"""
        WITH e AS (
          SELECT {sql_cents("value")} AS c,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS y
          FROM events
        ),
        bins AS (
          SELECT LEAST(CAST(9 AS BIGINT),
                       CAST(c // {ECE_BIN_C} AS BIGINT)) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS n_b,
                 CAST(SUM(y) AS BIGINT) AS pos_b,
                 CAST(CAST(SUM(CAST(c AS DECIMAL(38,0))) AS STRING)
                   AS DOUBLE) AS sum_c
          FROM e GROUP BY 1
        ),
        tot AS (
          SELECT CAST(SUM(n_b) AS BIGINT) AS n FROM bins
        ),
        folded AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
                 {fold_sorted_sql(
                     "list((CAST(n_b AS DOUBLE)"
                     " / (SELECT n FROM tot))"
                     " * ABS(CAST(pos_b AS DOUBLE) / n_b"
                     f" - sum_c / {ECE_SCALE} / n_b))")} AS ece,
                 MAX(ABS(CAST(pos_b AS DOUBLE) / n_b
                     - sum_c / {ECE_SCALE} / n_b)) AS mce
          FROM bins
        )
        SELECT t.n AS n_events, f.n_bins, f.ece, f.mce
        FROM folded f, tot t
    """,
    doc="Expected and maximum calibration error of the value-"
        "proportional purchase scorer (score = cents/50000, the "
        "brier_calibration_purchase scorer): ECE is the bin-weighted "
        "mean |observed rate - mean prediction|, MCE the worst bin — "
        "the two headline numbers a calibration review quotes above "
        "the full reliability table. Per-bin gaps are IEEE ops on "
        "exact integer moments (counts, positive counts, DECIMAL "
        "cents sums through the string route); the <= 10 weighted-"
        "gap doubles reduce via the sorted fold, the max by plain "
        "MAX (order-free). Plan: ONE map-side-combinable aggregate "
        "over the fact table into 10 bins, then 10-row math.",
    tags=("evaluation", "statistics"),
)
def ece_calibration_purchase(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").selectExpr(
        f"{sql_cents('value')} AS c",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y")
    bins = (e.groupBy(F.expr(
                f"LEAST(CAST(9 AS BIGINT),"
                f" CAST(c DIV {ECE_BIN_C} AS BIGINT))").alias("bin"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_b"),
                  F.sum("y").cast("long").alias("pos_b"),
                  F.expr("CAST(CAST(SUM(CAST(c AS DECIMAL(38,0)))"
                         " AS STRING) AS DOUBLE)").alias("sum_c"))
             # the 10-row bin table feeds the total AND the fold
             .localCheckpoint())
    tot = bins.agg(F.sum("n_b").cast("long").alias("n"))
    gap = (f"ABS(CAST(pos_b AS DOUBLE) / n_b"
           f" - sum_c / {ECE_SCALE} / n_b)")
    folded = (bins.crossJoin(F.broadcast(tot))
                  .agg(F.count(F.lit(1)).cast("long").alias("n_bins"),
                       F.expr(fold_sorted_spark(
                           f"collect_list((CAST(n_b AS DOUBLE) / n)"
                           f" * {gap})")).alias("ece"),
                       F.expr(f"MAX({gap})").alias("mce"),
                       F.max("n").alias("n")))
    return folded.selectExpr("n AS n_events", "n_bins", "ece", "mce")


# ---------------------------------------------------------------------
# Wald-Wolfowitz runs test on the daily up/down sequence.


@query(
    "runs_test_daily_updown",
    oracle=f"""
        WITH d AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(SUM({sql_cents("value")}) AS BIGINT) AS cents
          FROM events GROUP BY 1
        ),
        l AS (
          SELECT day, cents - lag(cents) OVER (ORDER BY day) AS diff
          FROM d
        ),
        signs AS (
          SELECT day, CASE WHEN diff > 0 THEN 1 ELSE -1 END AS s
          FROM l WHERE diff IS NOT NULL AND diff <> 0
        ),
        runs AS (
          SELECT s, lag(s) OVER (ORDER BY day) AS prev_s
          FROM signs
        ),
        agg AS (
          SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n1,
                 CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n2,
                 CAST(1 + SUM(CASE WHEN prev_s IS NOT NULL
                   AND s <> prev_s THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_runs
          FROM runs
        )
        SELECT n1 AS n_up, n2 AS n_down, n_runs,
               1.0 + CAST(2 * n1 * n2 AS DOUBLE)
                 / CAST(n1 + n2 AS DOUBLE) AS e_runs,
               CAST(2 * n1 * n2 AS DOUBLE)
                 * (CAST(2 * n1 * n2 AS DOUBLE)
                    - CAST(n1 + n2 AS DOUBLE))
                 / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                    * (CAST(n1 + n2 AS DOUBLE) - 1.0)) AS var_runs,
               (n_runs - (1.0 + CAST(2 * n1 * n2 AS DOUBLE)
                 / CAST(n1 + n2 AS DOUBLE)))
                 / SQRT(CAST(2 * n1 * n2 AS DOUBLE)
                 * (CAST(2 * n1 * n2 AS DOUBLE)
                    - CAST(n1 + n2 AS DOUBLE))
                 / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                    * (CAST(n1 + n2 AS DOUBLE) - 1.0))) AS z_stat
        FROM agg
    """,
    doc="Wald-Wolfowitz runs test on the daily revenue up/down "
        "sequence: too FEW runs means momentum (up days cluster), "
        "too MANY means mean-reversion — the randomness check that "
        "completes the trend battery (sign test asks 'which way', "
        "Mann-Kendall 'how monotone', this one 'is the ORDER "
        "random'). Flat days drop; runs count by comparing each "
        "sign to its predecessor over the calendar-bounded daily "
        "sequence; the exact integer counts feed the closed-form "
        "mean/variance and one sqrt. Plan: one map-side-combinable "
        "daily rollup; lag windows over the bounded daily table; "
        "1-row math.",
    tags=("statistics", "timeseries"),
)
def runs_test_daily_updown(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    d = (load(spark, sf_dir, "events")
         .selectExpr("CAST(ts AS DATE) AS day", f"{sql_cents('value')} AS c")
         .groupBy("day").agg(F.sum("c").cast("long").alias("cents")))
    lagw = Window.orderBy("day")
    l = d.select(
        "day",
        (F.col("cents") - F.lag("cents").over(lagw)).alias("diff"))
    signs = (l.filter(F.col("diff").isNotNull()
                      & (F.col("diff") != 0))
              .selectExpr("day",
                          "CASE WHEN diff > 0 THEN 1 ELSE -1 END AS s"))
    runs = signs.select("s", F.lag("s").over(lagw).alias("prev_s"))
    agg = runs.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).cast("long")
         .alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0)).cast("long")
         .alias("n2"),
        (F.lit(1) + F.sum(F.when(F.col("prev_s").isNotNull()
                                 & (F.col("s") != F.col("prev_s")), 1)
                           .otherwise(0))).cast("long").alias("n_runs"))
    e_runs = ("1.0 + CAST(2 * n1 * n2 AS DOUBLE)"
              " / CAST(n1 + n2 AS DOUBLE)")
    var_runs = ("CAST(2 * n1 * n2 AS DOUBLE)"
                " * (CAST(2 * n1 * n2 AS DOUBLE)"
                " - CAST(n1 + n2 AS DOUBLE))"
                " / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)"
                " * (CAST(n1 + n2 AS DOUBLE) - 1.0))")
    return agg.selectExpr(
        "n1 AS n_up", "n2 AS n_down", "n_runs",
        f"{e_runs} AS e_runs",
        f"{var_runs} AS var_runs",
        f"(n_runs - ({e_runs})) / SQRT({var_runs}) AS z_stat")


# ---------------------------------------------------------------------
# SQL aggregate FILTER clause surface.


@query(
    "filter_clause_weekday_mix",
    oracle=f"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(*) FILTER (WHERE dayofweek(ts) IN (0, 6))
                 AS BIGINT) AS n_weekend,
               CAST(SUM({sql_cents("value")})
                 FILTER (WHERE dayofweek(ts) IN (0, 6)) AS BIGINT)
                 AS weekend_cents,
               CAST(SUM({sql_cents("value")})
                 FILTER (WHERE dayofweek(ts) NOT IN (0, 6)) AS BIGINT)
                 AS weekday_cents,
               CAST(COUNT(DISTINCT user_id)
                 FILTER (WHERE dayofweek(ts) IN (0, 6)) AS BIGINT)
                 AS weekend_users
        FROM events
        GROUP BY event_type
    """,
    doc="SQL:2003 aggregate FILTER clause surface: one pass computes "
        "unconditional and weekend/weekday-conditional aggregates "
        "side by side — including a FILTERed COUNT(DISTINCT) — "
        "without CASE-wrapping every argument (the form DuckDB, "
        "Postgres and Spark 4 all accept; literally the same FILTER "
        "text runs on both engines, only the weekday bridge "
        "differs). Exact integer cents throughout. Plan: one "
        "map-side-combinable hash aggregate; the single distinct "
        "aggregate rides the standard two-phase expand, identical "
        "to the CASE-expression spelling — FILTER is purely a "
        "binding surface.",
    tags=("sql-surface",),
)
def filter_clause_weekday_mix(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("fcw_events")
    return spark.sql(f"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(*) FILTER (WHERE (dayofweek(ts) - 1)
                 IN (0, 6)) AS BIGINT) AS n_weekend,
               CAST(SUM({sql_cents("value")})
                 FILTER (WHERE (dayofweek(ts) - 1) IN (0, 6))
                 AS BIGINT) AS weekend_cents,
               CAST(SUM({sql_cents("value")})
                 FILTER (WHERE (dayofweek(ts) - 1) NOT IN (0, 6))
                 AS BIGINT) AS weekday_cents,
               CAST(COUNT(DISTINCT user_id)
                 FILTER (WHERE (dayofweek(ts) - 1) IN (0, 6))
                 AS BIGINT) AS weekend_users
        FROM fcw_events
        GROUP BY event_type
    """)


# ---------------------------------------------------------------------
# Intra-list diversity of the cosine top-10 retrieval lists.


@query(
    "ild_retrieval_diversity",
    oracle="""
        WITH {TOPK},
        withv AS (
          SELECT t.qid, t.rn, e2.embedding AS emb
          FROM top t JOIN embeddings e2 ON e2.vec_id = t.vec_id
        ),
        lists AS (
          SELECT qid,
                 list_transform(list_sort(list({'rn': rn, 'emb': emb})),
                                x -> x.emb) AS vs,
                 CAST(COUNT(*) AS BIGINT) AS n_items
          FROM withv GROUP BY qid
        ),
        pairs AS (
          SELECT qid, n_items,
                 flatten(list_transform(generate_series(1, n_items - 1),
                   i -> list_transform(generate_series(i + 1, n_items),
                     j -> {COS}))) AS pcos
          FROM lists
        )
        SELECT qid, n_items,
               CAST(n_items * (n_items - 1) // 2 AS BIGINT) AS n_pairs,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_sort(pcos)), (acc, v) -> acc + v)
                 / (n_items * (n_items - 1) // 2) AS mean_pair_cos
        FROM pairs
    """.replace("{TOPK}", _SQL_TOPK_REL.replace(
            "SELECT qid, q_label, rel,",
            "SELECT qid, q_label, rel, vec_id,"))
       .replace("{COS}", _sql_pair_cos("vs[i]", "vs[j]")),
    doc="Intra-list diversity of the brute-force cosine top-10 "
        "retrieval lists (the NDCG/MRR panel): mean pairwise cosine "
        "among each query's 10 RESULTS — high relevance with high "
        "mutual similarity is the redundancy failure mode diversity-"
        "aware rerankers (MMR) exist to fix, so this is the metric "
        "that motivates them. Each of the 45 pair cosines folds its "
        "dot/norm sums in dimension order from a 0.0 seed (the "
        "operators/similarity discipline — bit-identical cross-"
        "engine), and the 45 doubles reduce via the sorted fold. "
        "Plan: the panel's top-10 lists join embeddings back on "
        "vec_id (10 rows per query), lists collect per query, all "
        "pair work happens inside one row's array lambdas — "
        "never a result x result join.",
    tags=("similarity", "evaluation"),
)
def ild_retrieval_diversity(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.queries.diagnostics import _spark_topk_rel
    top = _spark_topk_rel(spark, sf_dir).select("qid", "rn", "vec_id")
    e2 = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb"))
    withv = top.join(e2, "vec_id")
    lists = (withv.groupBy("qid")
                  .agg(F.expr("transform(array_sort(collect_list("
                              "struct(rn, emb))), x -> x.emb)")
                        .alias("vs"),
                       F.count(F.lit(1)).cast("long").alias("n_items")))
    cos = _spark_pair_cos("element_at(vs, i)", "element_at(vs, j)")
    pairs = lists.selectExpr(
        "qid", "n_items",
        "flatten(transform(sequence(1, CAST(n_items AS INT) - 1),"
        " i -> transform(sequence(i + 1, CAST(n_items AS INT)),"
        f" j -> {cos}))) AS pcos")
    return pairs.selectExpr(
        "qid", "n_items",
        "CAST(n_items * (n_items - 1) DIV 2 AS BIGINT) AS n_pairs",
        "aggregate(array_sort(pcos), CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + v)"
        " / (n_items * (n_items - 1) DIV 2) AS mean_pair_cos")


# ---------------------------------------------------------------------
# Rescaled-range (R/S) table — the Hurst-exponent evidence without
# the log-log fit (engine ln/log is not correctly rounded; the table
# IS the statistic, the fit is a driver-side eyeball).

RS_SCALES = (8, 16)


@query(
    "rescaled_range_daily",
    oracle=f"""
        WITH d AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(SUM({sql_cents("value")}) AS BIGINT) AS cents
          FROM events GROUP BY 1
        ),
        arr AS (
          SELECT list(cents ORDER BY day) AS a,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM d
        ),
        blocks AS (
          SELECT s.scale, b.b,
                 list_slice(arr.a, (b.b - 1) * s.scale + 1,
                            b.b * s.scale) AS blk
          FROM arr
          CROSS JOIN (SELECT unnest([{", ".join(
              f"CAST({x} AS BIGINT)" for x in RS_SCALES)}]) AS scale) s
          CROSS JOIN LATERAL (SELECT unnest(generate_series(1,
              arr.n // s.scale)) AS b) b
        ),
        m AS (
          SELECT scale, b,
                 list_reduce(list_prepend(CAST(0 AS BIGINT), blk),
                             (acc, v) -> acc + v) AS sx,
                 list_reduce(list_prepend(CAST(0 AS BIGINT), blk),
                             (acc, v) -> acc + v * v) AS sxx,
                 list_max(list_transform(generate_series(1, scale),
                   i -> scale * list_reduce(list_prepend(
                          CAST(0 AS BIGINT), list_slice(blk, 1, i)),
                          (acc, v) -> acc + v) - i
                        * list_reduce(list_prepend(CAST(0 AS BIGINT),
                          blk), (acc, v) -> acc + v))) AS maxt,
                 list_min(list_transform(generate_series(1, scale),
                   i -> scale * list_reduce(list_prepend(
                          CAST(0 AS BIGINT), list_slice(blk, 1, i)),
                          (acc, v) -> acc + v) - i
                        * list_reduce(list_prepend(CAST(0 AS BIGINT),
                          blk), (acc, v) -> acc + v))) AS mint
          FROM blocks
        )
        SELECT scale, b AS block,
               CAST(GREATEST(maxt, 0) - LEAST(mint, 0) AS BIGINT)
                 AS range_scaled,
               CAST(scale * sxx - sx * sx AS BIGINT) AS var_scaled,
               CASE WHEN scale * sxx - sx * sx = 0
                    THEN CAST(NULL AS DOUBLE)
                    ELSE CAST(GREATEST(maxt, 0) - LEAST(mint, 0)
                         AS DOUBLE)
                         / SQRT(CAST(scale * sxx - sx * sx AS DOUBLE))
                    END AS rs_stat
        FROM m
    """,
    doc="Rescaled-range (R/S) table of daily revenue at window "
        "scales 8 and 16 days: per block, the range of mean-adjusted "
        "cumulative deviations over the population std — the Hurst-"
        "exponent evidence (persistent series grow R/S faster with "
        "scale) WITHOUT the log-log fit, because engine ln is not "
        "correctly rounded; the table is the exact statistic and the "
        "fit is a reader-side eyeball. Everything is integer until "
        "one division and one sqrt: deviations are cleared of the "
        "mean's denominator by scaling prefix sums by s (t_i = "
        "s*prefix_i - i*sum, so R = (max t - min t)/s including the "
        "i=0 baseline), and s^2 * variance = s*sum(x^2) - sum(x)^2 "
        "exactly, so R/S = (max t - min t)/sqrt(s*sxx - sx^2) with "
        "the s factors cancelling. All block work runs inside one "
        "row's array lambdas (O(s^2) = 256 adds per block over the "
        "CALENDAR-BOUNDED daily array). Plan: one map-side-"
        "combinable daily rollup; a 1-row array collect; explode by "
        "scale and block index.",
    tags=("timeseries", "statistics"),
)
def rescaled_range_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (load(spark, sf_dir, "events")
         .selectExpr("CAST(ts AS DATE) AS day", f"{sql_cents('value')} AS c")
         .groupBy("day").agg(F.sum("c").cast("long").alias("cents")))
    arr = d.agg(
        F.expr("transform(array_sort(collect_list(struct(day, cents))),"
               " x -> x.cents)").alias("a"),
        F.count(F.lit(1)).cast("long").alias("n"))
    scales = ", ".join(f"CAST({x} AS BIGINT)" for x in RS_SCALES)
    blocks = (arr.selectExpr("a", "n",
                             f"explode(array({scales})) AS scale")
                 .selectExpr(
                     "scale",
                     "explode(sequence(1, CAST(n DIV scale AS INT)))"
                     " AS b",
                     "a")
                 .selectExpr(
                     "scale", "CAST(b AS BIGINT) AS b",
                     "slice(a, CAST((b - 1) * scale + 1 AS INT),"
                     " CAST(scale AS INT)) AS blk"))
    isum = ("aggregate({x}, CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    sx = isum.format(x="blk")
    sxx = "aggregate(blk, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"
    t_i = (f"scale * {isum.format(x='slice(blk, 1, CAST(i AS INT))')}"
           f" - i * {sx}")
    m = blocks.selectExpr(
        "scale", "b",
        f"{sx} AS sx", f"{sxx} AS sxx",
        f"array_max(transform(sequence(1, CAST(scale AS INT)),"
        f" i -> {t_i})) AS maxt",
        f"array_min(transform(sequence(1, CAST(scale AS INT)),"
        f" i -> {t_i})) AS mint")
    return m.selectExpr(
        "scale", "b AS block",
        "CAST(GREATEST(maxt, 0) - LEAST(mint, 0) AS BIGINT)"
        " AS range_scaled",
        "CAST(scale * sxx - sx * sx AS BIGINT) AS var_scaled",
        "CASE WHEN scale * sxx - sx * sx = 0 THEN CAST(NULL AS DOUBLE)"
        " ELSE CAST(GREATEST(maxt, 0) - LEAST(mint, 0) AS DOUBLE)"
        " / SQRT(CAST(scale * sxx - sx * sx AS DOUBLE)) END AS rs_stat")


# ---------------------------------------------------------------------
# Named WINDOW clause surface.


@query(
    "named_window_daily_stats",
    oracle=f"""
        WITH d AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(SUM({sql_cents("value")}) AS BIGINT) AS cents
          FROM events GROUP BY 1
        )
        SELECT day, cents,
               lag(cents) OVER w AS prev_cents,
               lead(cents) OVER w AS next_cents,
               CAST(SUM(cents) OVER w7 AS BIGINT) AS sum_7d,
               CAST(COUNT(*) OVER w7 AS BIGINT) AS n_7d,
               CAST(row_number() OVER w AS BIGINT) AS day_idx
        FROM d
        WINDOW w AS (ORDER BY day),
               w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING
                      AND CURRENT ROW)
    """,
    doc="SQL named WINDOW clause surface: a WINDOW clause defining "
        "two reusable window specs — the bare day ordering shared by "
        "lag/lead/row_number and a framed trailing-7-day variant "
        "shared by the sum and count — the windowed-query ergonomics "
        "feature that Spark and DuckDB both accept with literally "
        "the same text (Spark accepts named-window REFERENCES only, "
        "not in-place frame refinement of one, measured). Exact "
        "integer cents; no division at all. Plan: one map-side-"
        "combinable daily rollup; every window runs over the "
        "calendar-bounded daily table under a single sort.",
    tags=("sql-surface", "timeseries"),
)
def named_window_daily_stats(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("nwd_events")
    return spark.sql(f"""
        WITH d AS (
          SELECT CAST(CAST(ts AS DATE) AS STRING) AS day,
                 CAST(SUM({sql_cents("value")}) AS BIGINT) AS cents
          FROM nwd_events GROUP BY day
        )
        SELECT day, cents,
               lag(cents) OVER w AS prev_cents,
               lead(cents) OVER w AS next_cents,
               CAST(SUM(cents) OVER w7 AS BIGINT) AS sum_7d,
               CAST(COUNT(*) OVER w7 AS BIGINT) AS n_7d,
               CAST(row_number() OVER w AS BIGINT) AS day_idx
        FROM d
        WINDOW w AS (ORDER BY day),
               w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING
                      AND CURRENT ROW)
    """)


# ---------------------------------------------------------------------
# Stream-stream FULL OUTER join — completes the inner/left family in
# streaming/stateful.py with both-side watermark-gated null emission.


@query(
    "streaming_stream_stream_full_join",
    oracle="""
        WITH clicks AS (
          SELECT user_id, ts AS click_ts, event_id AS click_event_id
          FROM events WHERE event_type = 'click'
        ),
        purchases AS (
          SELECT user_id, ts AS purchase_ts, event_id
          FROM events WHERE event_type = 'purchase'
        ),
        wm AS (
          SELECT LEAST(
            (SELECT (epoch_us(MAX(click_ts)) // 1000) * 1000
             FROM clicks),
            (SELECT (epoch_us(MAX(purchase_ts)) // 1000) * 1000
             FROM purchases)) - 1000000 AS wm_us
        ),
        matched AS (
          SELECT 'matched' AS side, p.user_id, p.event_id,
                 c.click_event_id,
                 epoch_us(p.purchase_ts) - epoch_us(c.click_ts)
                   AS gap_us
          FROM purchases p JOIN clicks c
            ON p.user_id = c.user_id
           AND c.click_ts BETWEEN p.purchase_ts - INTERVAL 1 HOUR
                              AND p.purchase_ts
        ),
        purchase_only AS (
          SELECT 'purchase_only' AS side, p.user_id, p.event_id,
                 CAST(NULL AS BIGINT) AS click_event_id,
                 CAST(NULL AS BIGINT) AS gap_us
          FROM purchases p, wm
          WHERE NOT EXISTS (
            SELECT 1 FROM clicks c
            WHERE c.user_id = p.user_id
              AND c.click_ts BETWEEN p.purchase_ts - INTERVAL 1 HOUR
                                 AND p.purchase_ts)
            AND epoch_us(p.purchase_ts) < wm.wm_us
        ),
        click_only AS (
          SELECT 'click_only' AS side, c.user_id,
                 CAST(NULL AS BIGINT) AS event_id,
                 c.click_event_id,
                 CAST(NULL AS BIGINT) AS gap_us
          FROM clicks c, wm
          WHERE NOT EXISTS (
            SELECT 1 FROM purchases p
            WHERE p.user_id = c.user_id
              AND c.click_ts BETWEEN p.purchase_ts - INTERVAL 1 HOUR
                                 AND p.purchase_ts)
            AND epoch_us(c.click_ts) + 3600000000 < wm.wm_us
        )
        SELECT * FROM matched
        UNION ALL SELECT * FROM purchase_only
        UNION ALL SELECT * FROM click_only
    """,
    doc="Stream-stream FULL OUTER join with watermarks — the "
        "completion of the inner/left family in streaming/"
        "stateful.py: purchases join clicks in the preceding hour, "
        "and BOTH sides emit null rows for unmatched state, each "
        "gated by its own eviction point. The oracle encodes the "
        "asymmetric rule exactly: an unmatched purchase is safe once "
        "the global watermark (min-over-sides ms-floored max event "
        "time minus the delay) passes purchase_ts — no earlier click "
        "can still arrive — but an unmatched CLICK must wait until "
        "the watermark passes click_ts + 1 HOUR, because a matching "
        "purchase may arrive up to the range bound later; that "
        "derived-constraint wait is what keeps full-outer join state "
        "bounded at 100 TB. Drained with availableNow.",
    tags=("streaming", "join", "outer"),
)
def streaming_stream_stream_full_join(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.streaming.ingest import (
        drain, read_event_stream,
    )
    ev = read_event_stream(spark, sf_dir, with_watermark=None)
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("user_id", F.col("ts").alias("click_ts"),
                        F.col("event_id").alias("click_event_id"))
                .withWatermark("click_ts", "1 second"))
    ev2 = read_event_stream(spark, sf_dir, with_watermark=None)
    purchases = (ev2.filter(F.col("event_type") == "purchase")
                    .select(F.col("user_id").alias("p_user_id"),
                            F.col("ts").alias("purchase_ts"),
                            "event_id")
                    .withWatermark("purchase_ts", "1 second"))
    joined = purchases.join(
        clicks,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("click_ts")
           >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "fullOuter")
    out = joined.select(
        F.expr("CASE WHEN purchase_ts IS NULL THEN 'click_only'"
               " WHEN click_ts IS NULL THEN 'purchase_only'"
               " ELSE 'matched' END").alias("side"),
        F.coalesce("p_user_id", "user_id").alias("user_id"),
        "event_id", "click_event_id",
        (F.unix_micros("purchase_ts")
         - F.unix_micros("click_ts")).alias("gap_us"))
    return drain(out, spark, sf_dir, output_mode="append")
