"""Round-8 promoted bank, third group (staged round 7 as
staged/round8c.py): distribution
shape and economics statistics, an uncertainty-quantification
operator, an ANN design audit, and two SQL-surface bridges.

Same contract as every registered query: ``(spark, sf_dir) ->
DataFrame`` plus an exact DuckDB oracle, identical column aliases on
both sides, exact-integer / fixed-point arithmetic for anything
accumulated, a 100 TB plan story per docstring, no ``rand()``, no
``.collect()``.

New idiom introduced here: the **deterministic hash bootstrap** —
resample weights derived from md5(event_id, replicate) against
integer thresholds (floor(2^32 * e^-1) etc. pinned as literals), so a
Poisson-bootstrap-style confidence interval is bit-reproducible on
both engines in ONE pass with map-side-combinable sums; no rand(),
no data movement beyond |B| partial rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import cents, sql_cents
from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load


# ------------------------------------ Zipf rank-frequency constancy

ZIPF_TOP_K = 20


@query(
    "zipf_rank_frequency_table",
    oracle=f"""
        WITH tok AS (
          SELECT unnest(string_split(text, ' ')) AS token
          FROM documents
        ),
        tf AS (
          SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
          FROM tok GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_tokens FROM tf),
        top AS (
          SELECT token, freq,
                 row_number() OVER (ORDER BY freq DESC, token) AS rnk
          FROM tf ORDER BY freq DESC, token LIMIT {ZIPF_TOP_K}
        )
        SELECT CAST(rnk AS BIGINT) AS rnk, token, freq,
               CAST(rnk * freq AS DOUBLE) / n_tokens AS zipf_c
        FROM top CROSS JOIN tot
    """,
    doc="Zipf rank-frequency table of the corpus vocabulary: the "
        f"top-{ZIPF_TOP_K} tokens with rank, frequency, and the Zipf "
        "constancy r*f/N — under Zipf's law the column is ~flat, and "
        "a head token whose r*f/N towers over the rest is boilerplate "
        "the cleaning pipeline missed (the diagnostic view "
        "complementing vocab_coverage_topk's cumulative-share angle; "
        "deliberately NO log-log fit — ln is not correctly rounded "
        "cross-engine). Exact integers until the one final division. "
        "Plan: one map-side-combinable token count (the only corpus-"
        "scale work), TakeOrdered top-k (per-partition heaps, no "
        "global sort), a rank window over the k-row result, and a "
        "one-row total broadcast.",
    tags=("text", "statistics"),
)
def zipf_rank_frequency_table(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    tf = (load(spark, sf_dir, "documents")
          .select(F.explode(F.split("text", " ")).alias("token"))
          .groupBy("token")
          .agg(F.count(F.lit(1)).cast("long").alias("freq"))
          .localCheckpoint())  # vocabulary-bounded; feeds total + top-k
    tot = tf.agg(F.sum("freq").cast("long").alias("n_tokens"))
    top = tf.orderBy(F.desc("freq"), "token").limit(ZIPF_TOP_K)
    ranked = top.withColumn(
        "rnk", F.row_number().over(
            Window.orderBy(F.desc("freq"), "token")).cast("long"))
    return (ranked.crossJoin(F.broadcast(tot))
                  .selectExpr("rnk", "token", "freq",
                              "CAST(rnk * freq AS DOUBLE) / n_tokens"
                              " AS zipf_c"))


# -------------------- Bowley quartile skewness / dispersion by type

# Quartile-based shape statistics from the cumulated (type, cents)
# cell table — the mad_outlier_events idiom. q1/q2/q3 are exact
# quarter-cents (0.25/0.5/0.75 positions over integers), so Bowley
# skewness (q3 + q1 - 2 q2)/(q3 - q1) and the quartile coefficient of
# dispersion (q3 - q1)/(q3 + q1) are single exact-operand divisions.


@query(
    "bowley_skewness_by_type",
    oracle=f"""
        WITH e AS (
          SELECT event_type, {sql_cents("value")} AS cv FROM events
        ),
        q AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 quantile_cont(cv, 0.25) AS q1c,
                 quantile_cont(cv, 0.50) AS q2c,
                 quantile_cont(cv, 0.75) AS q3c
          FROM e GROUP BY 1
        )
        SELECT event_type, n_events,
               q1c / 100 AS q1, q2c / 100 AS q2, q3c / 100 AS q3,
               (q3c + q1c - 2 * q2c) / (q3c - q1c) AS bowley_skewness,
               (q3c - q1c) / (q3c + q1c) AS quartile_dispersion
        FROM q
    """,
    doc="Bowley (quartile) skewness and the quartile coefficient of "
        "dispersion per event type — the outlier-immune shape "
        "statistics that complement the exact quartile BANDS already "
        "registered (they report where the quartiles are; these "
        "report what the quartiles say about asymmetry and relative "
        "spread, the moment-free analogue of skewness/CV). Quartiles "
        "are rank-selected from the cumulated (type, cents) cell "
        "table (the mad_outlier_events idiom — one map-side-"
        "combinable pass, never a raw-row percentile sort); 0.25/0.5/"
        "0.75 interpolation over integers is exact in IEEE doubles, "
        "so both ratios divide exact operands and the oracle can use "
        "quantile_cont directly. Plan: one cell aggregate over the "
        "scan, one bounded cumulation window above it, one row per "
        "type.",
    tags=("statistics",),
)
def bowley_skewness_by_type(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").selectExpr("event_type",
                                                 f"{sql_cents('value')} AS cv")
    cells = (e.groupBy("event_type", "cv")
              .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    wt = Window.partitionBy("event_type")
    c1 = (cells.withColumn(
              "cum", F.sum("cnt").over(
                  wt.orderBy("cv").rowsBetween(
                      Window.unboundedPreceding, Window.currentRow)))
               .withColumn("n", F.sum("cnt").over(wt)))

    def _cell_q(q: str, alias: str) -> str:
        pos = f"(CAST({q} AS DOUBLE) * (MAX(n) - 1))"
        at = ("MIN(CASE WHEN cum >= CAST(FLOOR(CAST({q} AS DOUBLE)"
              " * (n - 1)) AS BIGINT) + {k} THEN cv END)")
        lo, hi = at.format(q=q, k=1), at.format(q=q, k=2)
        return (f"({lo} + ({pos} - FLOOR({pos}))"
                f" * (COALESCE({hi}, {lo}) - {lo})) AS {alias}")
    qt = c1.groupBy("event_type").agg(
        F.max("n").alias("n_events"),
        F.expr(_cell_q("0.25", "q1c")),
        F.expr(_cell_q("0.50", "q2c")),
        F.expr(_cell_q("0.75", "q3c")))
    return qt.selectExpr(
        "event_type", "n_events",
        "q1c / 100 AS q1", "q2c / 100 AS q2", "q3c / 100 AS q3",
        "(q3c + q1c - 2 * q2c) / (q3c - q1c) AS bowley_skewness",
        "(q3c - q1c) / (q3c + q1c) AS quartile_dispersion")


# ------------------------------------------ stack() generator surface

@query(
    "stack_generator_charge_mix",
    oracle="""
        WITH u AS (
          SELECT 'extended' AS metric,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
          FROM lineitem
          UNION ALL
          SELECT 'discount_x100', CAST(ROUND(l_discount * 100) AS BIGINT)
          FROM lineitem
          UNION ALL
          SELECT 'tax_x100', CAST(ROUND(l_tax * 100) AS BIGINT)
          FROM lineitem
        )
        SELECT metric,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(c) AS BIGINT) AS total_c,
               CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mean_c
        FROM u GROUP BY 1
    """,
    doc="The stack() table-generating function — Spark's inline "
        "UNPIVOT generator (the expression-level cousin of the SQL "
        "UNPIVOT clause and DataFrame unpivot already registered, "
        "completing the generator family: explode / posexplode / "
        "inline / stack). Three lineitem charge components stacked "
        "into (metric, value) rows in ONE projection — the oracle is "
        "the UNION-ALL expansion stack() is defined as. Exact integer "
        "cents; one map-side-combinable aggregate above the "
        "generator. Plan: generator runs inside the scan's project "
        "(no shuffle of the un-stacked rows), 3x row fan-out is "
        "compute-only.",
    tags=("sql-surface",),
)
def stack_generator_charge_mix(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS ep_c",
        "CAST(ROUND(l_discount * 100) AS BIGINT) AS di_c",
        "CAST(ROUND(l_tax * 100) AS BIGINT) AS tx_c")
    stacked = li.selectExpr(
        "stack(3, 'extended', ep_c, 'discount_x100', di_c,"
        " 'tax_x100', tx_c) AS (metric, c)")
    return stacked.groupBy("metric").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("c").cast("long").alias("total_c"),
        F.expr("CAST(SUM(c) AS DOUBLE) / COUNT(*)").alias("mean_c"))


# ----------------------- origin-offset tumbling window bridge surface

@query(
    "offset_window_90m_revenue",
    oracle="""
        SELECT time_bucket(INTERVAL 90 MINUTES, ts,
                           TIMESTAMP '2024-01-01 00:15:00') AS bin_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS revenue_c
        FROM events GROUP BY 1, 2
    """,
    doc="Origin-anchored tumbling windows: Spark's window(ts, width, "
        "slide, startTime) with a 90-minute width and a 15-minute "
        "start offset, pinned against DuckDB's time_bucket with the "
        "SAME explicit origin — the bridge the registered 6-hour "
        "tumbling queries don't cover, because 6-hour epoch-aligned "
        "bins hide the origin entirely: a port that anchors at the "
        "epoch instead of the stated origin shifts every bin by "
        "(origin mod width), and an ODD width (90m does not divide "
        "24h) additionally exercises day-boundary wraparound on both "
        "engines. Exact integer cents; one map-side-combinable "
        "aggregate over the scan, bin keys computed in codegen.",
    tags=("sql-surface", "timeseries"),
)
def offset_window_90m_revenue(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (e.groupBy(
                F.window("ts", "90 minutes", "90 minutes",
                         "15 minutes").getField("start")
                 .alias("bin_start"),
                "event_type")
             .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                  F.sum(cents("value")).cast("long").alias("revenue_c")))


# --------------------- deterministic hash-bootstrap mean CI (B = 32)

# Poisson(1) bootstrap weights from a salted md5 draw: u in [0, 2^32)
# compared against PINNED integer thresholds floor(2^32 * k * e^-1)
# (k = 1, 2, 2.5; residual mass lumped at weight 3 — a bounded,
# documented approximation of the Poisson tail). Same weight on both
# engines => identical resamples, so the bootstrap CI is exactly
# reproducible with NO rand() and ONE corpus pass.
BOOT_B = 32
_BOOT_T0 = 1580030168   # floor(2^32 * e^-1)
_BOOT_T1 = 3160060337   # floor(2^32 * 2e^-1)
_BOOT_T2 = 3950075421   # floor(2^32 * 2.5e^-1)

_BOOT_U_SPARK = ("CAST(conv(substring(md5(concat('boot|', "
                 "CAST(event_id AS STRING), '|', CAST(b AS STRING))), "
                 "1, 8), 16, 10) AS BIGINT)")
_BOOT_U_SQL = ("CAST(('0x' || substring(md5('boot|' || "
               "CAST(event_id AS VARCHAR) || '|' || "
               "CAST(b AS VARCHAR)), 1, 8)) AS BIGINT)")
_BOOT_W = ("CASE WHEN u < {t0} THEN 0 WHEN u < {t1} THEN 1"
           " WHEN u < {t2} THEN 2 ELSE 3 END").format(
    t0=_BOOT_T0, t1=_BOOT_T1, t2=_BOOT_T2)


@query(
    "hash_bootstrap_mean_ci",
    oracle=f"""
        WITH f AS (
          SELECT event_id, {sql_cents("value")} AS c,
                 unnest(range(0, {BOOT_B})) AS b
          FROM events
        ),
        w AS (
          SELECT b, c, {_BOOT_W} AS w
          FROM (SELECT b, c, {_BOOT_U_SQL} AS u FROM f) u0
        ),
        r AS (
          SELECT b, CAST(SUM(w * c) AS BIGINT) AS s,
                 CAST(SUM(w) AS BIGINT) AS m
          FROM w GROUP BY b
        ),
        means AS (
          SELECT b, CAST(s AS DOUBLE) / m / 100 AS mean_b,
                 row_number() OVER (ORDER BY CAST(s AS DOUBLE) / m, b)
                   AS rk
          FROM r
        ),
        base AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(SUM({sql_cents("value")}) AS DOUBLE) / COUNT(*) / 100
                   AS mean_value
          FROM events
        )
        SELECT base.n_events, CAST({BOOT_B} AS BIGINT) AS n_resamples,
               base.mean_value,
               MAX(CASE WHEN rk = 2 THEN mean_b END) AS ci_lo,
               MAX(CASE WHEN rk = {BOOT_B} - 1 THEN mean_b END) AS ci_hi
        FROM means CROSS JOIN base
        GROUP BY base.n_events, base.mean_value
    """,
    doc="Bootstrap confidence interval for the mean event value with "
        "DETERMINISTIC resamples: Poisson-style per-(row, replicate) "
        "weights derived from a salted md5 draw against pinned "
        "integer thresholds (floor(2^32 * k/e) literals), so both "
        f"engines build the same {BOOT_B} resamples bit-for-bit — "
        "uncertainty quantification with no rand(), reproducible "
        "across retries (the property every other sampler in this "
        "repo pins, extended to resampling). The CI is the 2nd-"
        "smallest / 2nd-largest resample mean (a 93.75% interval at "
        "B=32, stated rather than interpolated). Each resample mean "
        "is an exact rational sum(w*c)/sum(w) evaluated identically. "
        "Plan: ONE corpus pass with a B-way generator fan-out that "
        "stays inside codegen (no shuffle of raw rows), map-side-"
        "combinable (b)-keyed sums — B*|rows| multiplies compute, "
        "not network; the reduce side carries B partial rows.",
    tags=("statistics", "sampling"),
)
def hash_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").selectExpr("event_id",
                                                 f"{sql_cents('value')} AS c")
    f = e.select("c", "event_id",
                 F.explode(F.expr(f"sequence(0, {BOOT_B} - 1)"))
                  .alias("b"))
    w = (f.selectExpr("b", "c", f"{_BOOT_U_SPARK} AS u")
          .selectExpr("b", "c", f"{_BOOT_W} AS w"))
    r = w.groupBy("b").agg(
        F.expr("CAST(SUM(w * c) AS BIGINT)").alias("s"),
        F.expr("CAST(SUM(w) AS BIGINT)").alias("m"))
    means = r.selectExpr("b", "CAST(s AS DOUBLE) / m / 100 AS mean_b",
                         "CAST(s AS DOUBLE) / m AS ord_key")
    ranked = means.withColumn(
        "rk", F.row_number().over(Window.orderBy("ord_key", "b")))
    base = e.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.expr("CAST(SUM(c) AS DOUBLE) / COUNT(*) / 100")
         .alias("mean_value"))
    return (ranked.crossJoin(F.broadcast(base))
                  .groupBy("n_events", "mean_value")
                  .agg(F.lit(BOOT_B).cast("long").alias("n_resamples"),
                       F.max(F.when(F.col("rk") == 2,
                                    F.col("mean_b"))).alias("ci_lo"),
                       F.max(F.when(F.col("rk") == BOOT_B - 1,
                                    F.col("mean_b"))).alias("ci_hi"))
                  .select("n_events", "n_resamples", "mean_value",
                          "ci_lo", "ci_hi"))


# --------------------------- arc price elasticity by brand

ELAST_BAND_C = 10_000  # $100-wide unit-price bands, in cents


@query(
    "arc_price_elasticity_brand",
    oracle=f"""
        WITH li AS (
          SELECT p.p_brand AS brand,
                 (CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                  // CAST(l.l_quantity AS BIGINT)) // {ELAST_BAND_C}
                   AS band,
                 CAST(l.l_quantity AS BIGINT) AS qty
          FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        ),
        d AS (
          SELECT brand, band, CAST(SUM(qty) AS BIGINT) AS q
          FROM li GROUP BY 1, 2
        ),
        pairs AS (
          SELECT brand, band,
                 lag(band) OVER w AS band_lo,
                 q, lag(q) OVER w AS q_lo
          FROM d WINDOW w AS (PARTITION BY brand ORDER BY band)
        )
        SELECT brand, band_lo, band AS band_hi,
               band_lo * {ELAST_BAND_C} + {ELAST_BAND_C} // 2 AS p_lo_c,
               band * {ELAST_BAND_C} + {ELAST_BAND_C} // 2 AS p_hi_c,
               q_lo, q AS q_hi,
               CAST(CAST((q - q_lo)
                    * CAST((band + band_lo) * {ELAST_BAND_C}
                           + {ELAST_BAND_C} AS HUGEINT) AS VARCHAR)
                    AS DOUBLE)
                 / CAST(CAST((q + q_lo)
                        * CAST((band - band_lo) * {ELAST_BAND_C}
                               AS HUGEINT) AS VARCHAR) AS DOUBLE)
                 AS arc_elasticity
        FROM pairs WHERE band_lo IS NOT NULL
    """,
    doc="Arc (midpoint-formula) price elasticity of demand per brand "
        "across adjacent observed unit-price bands — the economics "
        "primitive behind price-optimization readouts, a metric "
        "family (demand curves) the bank lacked. Unit price is exact "
        "truncating integer division of cents by integral quantity "
        "(Spark div == DuckDB // on non-negatives), banded at $100; "
        "elasticity ((dq/(q1+q2)) / (dp/(p1+p2))) is cross-multiplied "
        "into two exact integer products (DECIMAL/HUGEINT — q*p "
        "products pass 2^63 at corpus scale) and the single division "
        "rides the string->double route. Plan: one fact-dim broadcast "
        "join + map-side-combinable (brand, band) aggregate over the "
        "scan (the only corpus-scale work); the lag window runs over "
        "the price-range-bounded demand-curve cells above the "
        "aggregate.",
    tags=("analytics", "statistics"),
)
def arc_price_elasticity_brand(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey",
        f"(CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
        f" div CAST(l_quantity AS BIGINT)) div {ELAST_BAND_C} AS band",
        "CAST(l_quantity AS BIGINT) AS qty")
    part = load(spark, sf_dir, "part").selectExpr(
        "p_partkey AS l_partkey", "p_brand AS brand")
    d = (li.join(F.broadcast(part), "l_partkey")
           .groupBy("brand", "band")
           .agg(F.sum("qty").cast("long").alias("q")))
    w = Window.partitionBy("brand").orderBy("band")
    pairs = (d.withColumn("band_lo", F.lag("band").over(w))
              .withColumn("q_lo", F.lag("q").over(w))
              .filter("band_lo IS NOT NULL"))
    return pairs.selectExpr(
        "brand", "band_lo", "band AS band_hi",
        f"band_lo * {ELAST_BAND_C} + {ELAST_BAND_C} div 2 AS p_lo_c",
        f"band * {ELAST_BAND_C} + {ELAST_BAND_C} div 2 AS p_hi_c",
        "q_lo", "q AS q_hi",
        f"CAST(CAST(CAST(q - q_lo AS DECIMAL(38,0))"
        f" * ((band + band_lo) * {ELAST_BAND_C} + {ELAST_BAND_C})"
        f" AS STRING) AS DOUBLE)"
        f" / CAST(CAST(CAST(q + q_lo AS DECIMAL(38,0))"
        f" * ((band - band_lo) * {ELAST_BAND_C}) AS STRING) AS DOUBLE)"
        " AS arc_elasticity")


# ------------------- Matryoshka-style dimension-truncation audit

TRUNC_DIMS = 16   # prefix dimensions scored against the full 64
TRUNC_K = 10
TRUNC_STEP = 25   # anchors: vec_id % 25 == 0 (the MAP panel)


def _trunc_oracle() -> str:
    from de_project_airflow_etl_spark.operators.similarity import sql_cosine
    full = sql_cosine("e.embedding", "a.embedding")
    pref = sql_cosine(f"(e.embedding[1:{TRUNC_DIMS}])",
                      f"(a.embedding[1:{TRUNC_DIMS}])")
    return f"""
        WITH anchors AS (
          SELECT vec_id AS qid, embedding FROM embeddings
          WHERE vec_id % {TRUNC_STEP} = 0 AND vec_id < 500
        ),
        full_s AS (
          SELECT a.qid, e.vec_id, {full} AS cosv
          FROM embeddings e JOIN anchors a ON e.vec_id <> a.qid
        ),
        pref_s AS (
          SELECT a.qid, e.vec_id, {pref} AS cosv
          FROM embeddings e JOIN anchors a ON e.vec_id <> a.qid
        ),
        top_f AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
              ORDER BY cosv DESC, vec_id) AS rn FROM full_s) t
          WHERE rn <= {TRUNC_K}
        ),
        top_p AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
              ORDER BY cosv DESC, vec_id) AS rn FROM pref_s) t
          WHERE rn <= {TRUNC_K}
        )
        SELECT f.qid, CAST(COUNT(p.vec_id) AS BIGINT) AS n_common,
               CAST(COUNT(p.vec_id) AS DOUBLE) / {TRUNC_K}
                 AS overlap_at_{TRUNC_K}
        FROM top_f f LEFT JOIN top_p p
          ON p.qid = f.qid AND p.vec_id = f.vec_id
        GROUP BY f.qid
    """


@query(
    "dim_truncation_recall_audit",
    oracle=_trunc_oracle(),
    doc=f"Matryoshka-style dimension-truncation audit: for the fixed "
        f"20-anchor evaluation panel, the top-{TRUNC_K} cosine "
        f"neighbors under the FIRST {TRUNC_DIMS} dimensions vs the "
        f"full 64 — overlap@{TRUNC_K} per anchor is the recall you "
        "keep if the ANN index stores truncated vectors (the "
        "cheap-representation twin of the PQ/int8 audits already "
        "registered: those quantize magnitudes, this drops "
        "dimensions). Cosines use the module's sequential-fold dot "
        "product (bit-deterministic), ranks break ties on vec_id, "
        "and the overlap is an exact count over two k-row lists. "
        "Plan: the panel broadcasts onto two corpus scans (one per "
        "representation — the same 'broadcast the query set, never "
        "shuffle the corpus' shape as knn/MAP, justified-BNLJ); "
        "rank<=k rides WindowGroupLimit partial pushdown, so no "
        "window partition ever holds a corpus-sized slice.",
    tags=("similarity", "evaluation"),
)
def dim_truncation_recall_audit(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    # norms hoisted below the broadcast join per representation —
    # bit-identical (same fold, same dot/(en*qn) association), 3x
    # less fold work per (vector, anchor) pair (r10 optimization,
    # see diagnostics._spark_topk_rel)
    from de_project_airflow_etl_spark.operators.similarity import dot
    e = load(spark, sf_dir, "embeddings")
    anchors = (e.filter((F.col("vec_id") % TRUNC_STEP == 0)
                        & (F.col("vec_id") < 500))
                .select(F.col("vec_id").alias("qid"),
                        F.col("embedding").alias("qv")))

    def topk(expr_a: str, expr_q: str, label: str) -> DataFrame:
        av = e.select("vec_id",
                      F.expr(expr_a).alias("av"),
                      F.sqrt(dot(expr_a, expr_a)).alias("en"))
        qv = (anchors.select("qid",
                             F.expr(expr_q).alias("aqv"),
                             F.sqrt(dot(expr_q, expr_q)).alias("qn")))
        scored = (av.crossJoin(F.broadcast(qv))
                    .filter(F.col("vec_id") != F.col("qid"))
                    .select("qid", "vec_id",
                            (dot("av", "aqv")
                             / (F.col("en") * F.col("qn")))
                            .alias("cosv")))
        w = Window.partitionBy("qid").orderBy(F.desc("cosv"), "vec_id")
        return (scored.withColumn("rn", F.row_number().over(w))
                      .filter(F.col("rn") <= TRUNC_K)
                      .select("qid", F.col("vec_id").alias(label)))
    top_f = topk("embedding", "qv", "vec_id")
    top_p = topk(f"slice(embedding, 1, {TRUNC_DIMS})",
                 f"slice(qv, 1, {TRUNC_DIMS})", "vec_id_p")
    return (top_f.join(top_p,
                       (top_f.qid == top_p.qid)
                       & (top_f.vec_id == top_p.vec_id_p), "left")
                 .groupBy(top_f.qid.alias("qid"))
                 .agg(F.count("vec_id_p").cast("long").alias("n_common"),
                      F.expr(f"CAST(COUNT(vec_id_p) AS DOUBLE)"
                             f" / {TRUNC_K}")
                       .alias(f"overlap_at_{TRUNC_K}")))
