"""Round-10 promoted bank (staged as staged/round14.py): classifier-operating-point and model-lift
evaluation (Youden's J optimal threshold, the decile lift/gains
table), interval survival (the actuarial life table), contingency
cell diagnostics (Haberman adjusted residuals), internal-consistency
reliability (Cronbach's alpha), and three corpus/embedding panels
(tokenizer vocab coverage, cross-source n-gram overlap, embedding
isotropy).

Same contract as every registered query: ``(spark, sf_dir) ->
DataFrame`` plus an exact DuckDB oracle, identical column aliases on
both sides, exact-integer arithmetic for anything accumulated
(HUGEINT/DECIMAL(38,0) for products), sorted or fixed-order folds for
bounded double sums, no ``rand()``, no ``.collect()``. Value-cell
cumulations are windows over post-aggregate inputs (value-domain-
bounded), never over raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import sql_cents, wide
from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load


# ---------------------------------------------------------------------
# Youden's J optimal operating point on the purchase/value score.


@query(
    "youden_j_optimal_threshold",
    oracle=f"""
        WITH cell AS (
          SELECT {sql_cents("value")} AS c,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                          THEN 1 ELSE 0 END) AS BIGINT) AS pos_c,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                          THEN 0 ELSE 1 END) AS BIGINT) AS neg_c
          FROM events GROUP BY 1
        ),
        cum AS (
          SELECT c,
                 CAST(SUM(pos_c) OVER (ORDER BY c DESC) AS BIGINT)
                   AS tp,
                 CAST(SUM(neg_c) OVER (ORDER BY c DESC) AS BIGINT)
                   AS fp
          FROM cell
        ),
        sz AS (
          SELECT CAST(SUM(pos_c) AS BIGINT) AS n_pos,
                 CAST(SUM(neg_c) AS BIGINT) AS n_neg
          FROM cell
        ),
        best AS (
          SELECT c, tp, fp, n_pos, n_neg,
                 CAST(n_neg AS HUGEINT) * tp
                   - CAST(n_pos AS HUGEINT) * fp AS j_num
          FROM cum, sz
          ORDER BY j_num DESC, c ASC LIMIT 1
        )
        SELECT c AS threshold_cents,
               CAST(tp AS DOUBLE) / n_pos AS sensitivity,
               CAST(1.0 AS DOUBLE) - CAST(fp AS DOUBLE) / n_neg
                 AS specificity,
               CAST(tp AS DOUBLE) / n_pos - CAST(fp AS DOUBLE) / n_neg
                 AS j_stat
        FROM best
    """,
    doc="Youden's J optimal operating point for the value-as-score / "
        "purchase-as-label classifier the ROC family evaluates: the "
        "threshold maximizing sensitivity + specificity - 1, plus "
        "both rates at that point — turns roc_auc_purchase_value's "
        "ranking summary into a DEPLOYABLE cutoff. The argmax runs "
        "on the EXACT integer numerator n_neg*TP - n_pos*FP "
        "(HUGEINT/DECIMAL(38,0) — no double ties; lowest threshold "
        "wins exact ties on both engines). TP/FP are suffix "
        "cumulations over the value-domain-bounded cents cells "
        "(post-aggregate window, the audited-safe shape). Plan: one "
        "scan, one cell aggregate, one cell window, a 1-row "
        "TakeOrdered argmax.",
    tags=("evaluation", "statistics"),
)
def youden_j_optimal_threshold(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    cell = (load(spark, sf_dir, "events")
            .selectExpr(f"{sql_cents('value')} AS c",
                        "CASE WHEN event_type = 'purchase' THEN 1"
                        " ELSE 0 END AS p")
            .groupBy("c")
            .agg(F.sum("p").cast("long").alias("pos_c"),
                 F.expr("CAST(SUM(1 - p) AS BIGINT)").alias("neg_c"))
            # cumulation + totals both consume the bounded cells
            .localCheckpoint())
    wc = Window.orderBy(F.desc("c")).rowsBetween(
        Window.unboundedPreceding, 0)
    cum = cell.select(
        "c",
        F.sum("pos_c").over(wc).cast("long").alias("tp"),
        F.sum("neg_c").over(wc).cast("long").alias("fp"))
    sz = cell.agg(F.sum("pos_c").cast("long").alias("n_pos"),
                  F.sum("neg_c").cast("long").alias("n_neg"))
    best = (cum.crossJoin(F.broadcast(sz))
               .withColumn("j_num",
                           F.expr("CAST(n_neg AS DECIMAL(38,0)) * tp"
                                  " - CAST(n_pos AS DECIMAL(38,0))"
                                  " * fp"))
               .orderBy(F.desc("j_num"), F.asc("c")).limit(1))
    return best.selectExpr(
        "c AS threshold_cents",
        "CAST(tp AS DOUBLE) / n_pos AS sensitivity",
        "CAST(1.0 AS DOUBLE) - CAST(fp AS DOUBLE) / n_neg"
        " AS specificity",
        "CAST(tp AS DOUBLE) / n_pos - CAST(fp AS DOUBLE) / n_neg"
        " AS j_stat")


# ---------------------------------------------------------------------
# Decile lift / gains table.
#
# Rank events by (cents DESC, is_purchase DESC); rows within a
# (cents, purchase) cell are interchangeable for every decile
# statistic, so the exact tile arithmetic needs only the cell's
# cumulative rank span: decile(r) = ((r-1)*10)//n + 1, and the number
# of a cell's rows landing in decile d is the overlap of its rank
# span with [R_{d-1}+1, R_d], R_d = (d*n + 9) // 10 (largest rank in
# deciles <= d) — all exact integers, no NTILE over raw rows.

_R_D = "(CAST({d} AS BIGINT) * n + 9) / 10"


@query(
    "decile_lift_table",
    oracle=f"""
        WITH cell AS (
          SELECT {sql_cents("value")} AS c,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS p,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1, 2
        ),
        span AS (
          SELECT p, cnt,
                 CAST(SUM(cnt) OVER (ORDER BY c DESC, p DESC)
                      AS BIGINT) AS hi,
                 CAST(SUM(cnt) OVER (ORDER BY c DESC, p DESC)
                      - cnt AS BIGINT) AS lo
          FROM cell
        ),
        sz AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                      CAST(SUM(p * cnt) AS BIGINT) AS n_pos
               FROM cell),
        alloc AS (
          SELECT d.d AS decile,
                 CAST(SUM(GREATEST(CAST(0 AS BIGINT),
                   LEAST(s.hi, CAST((d.d * z.n + 9) // 10 AS BIGINT))
                   - GREATEST(s.lo, CAST(((d.d - 1) * z.n + 9)
                                         // 10 AS BIGINT))))
                   AS BIGINT) AS n_events,
                 CAST(SUM(CASE WHEN s.p = 1 THEN
                   GREATEST(CAST(0 AS BIGINT),
                   LEAST(s.hi, CAST((d.d * z.n + 9) // 10 AS BIGINT))
                   - GREATEST(s.lo, CAST(((d.d - 1) * z.n + 9)
                                         // 10 AS BIGINT)))
                   ELSE 0 END) AS BIGINT) AS n_purchases
          FROM span s, sz z,
               (SELECT unnest(generate_series(1, 10)) AS d) d
          GROUP BY d.d
        )
        SELECT decile, n_events, n_purchases,
               CAST(n_purchases AS DOUBLE) / n_events AS response_rate,
               (CAST(n_purchases AS DOUBLE) / n_events)
                 / (CAST(z.n_pos AS DOUBLE) / z.n) AS lift,
               CAST(CAST(SUM(n_purchases) OVER (ORDER BY decile)
                    AS BIGINT) AS DOUBLE) / z.n_pos AS cum_gain
        FROM alloc, sz z
        ORDER BY decile
    """,
    doc="Decile lift / cumulative-gains table for value-as-score "
        "purchase targeting: events ranked by spend (cents DESC), "
        "cut into exact population deciles, per-decile response "
        "rate, lift over the base rate, and cumulative gain — the "
        "model-evaluation staple next to ROC/PR (those summarize the "
        "whole ranking; this answers 'what do I capture if I act on "
        "the top k0%'). No NTILE over raw rows: ranks are exact "
        "tile arithmetic over (cents, purchase)-cell cumulative "
        "spans (rows within a cell are interchangeable for every "
        "decile statistic — the purchase flag is IN the cell key, "
        "so purchase allocation is exact, not tie-arbitrary). Plan: "
        "one scan, one cell aggregate, one cell window, a 10-row "
        "broadcast decile spine.",
    tags=("evaluation", "analytics"),
)
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell = (load(spark, sf_dir, "events")
            .selectExpr(f"{sql_cents('value')} AS c",
                        "CASE WHEN event_type = 'purchase' THEN 1"
                        " ELSE 0 END AS p")
            .groupBy("c", "p")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .localCheckpoint())
    ws = (Window.orderBy(F.desc("c"), F.desc("p"))
                .rowsBetween(Window.unboundedPreceding, 0))
    span = cell.select(
        "p", "cnt",
        F.sum("cnt").over(ws).cast("long").alias("hi"),
        (F.sum("cnt").over(ws) - F.col("cnt")).cast("long").alias("lo"))
    sz = cell.agg(F.sum("cnt").cast("long").alias("n"),
                  F.expr("CAST(SUM(p * cnt) AS BIGINT)").alias("n_pos"))
    spine = spark.range(1, 11).selectExpr("CAST(id AS BIGINT) AS d")
    ov = ("GREATEST(CAST(0 AS BIGINT), LEAST(hi,"
          " CAST((d * n + 9) DIV 10 AS BIGINT))"
          " - GREATEST(lo, CAST(((d - 1) * n + 9) DIV 10"
          " AS BIGINT)))")
    alloc = (span.crossJoin(F.broadcast(sz))
                 .crossJoin(F.broadcast(spine))
                 .groupBy("d")
                 .agg(F.expr(f"CAST(SUM({ov}) AS BIGINT)")
                       .alias("n_events"),
                      F.expr(f"CAST(SUM(CASE WHEN p = 1 THEN {ov}"
                             f" ELSE 0 END) AS BIGINT)")
                       .alias("n_purchases")))
    wg = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (alloc.crossJoin(F.broadcast(sz))
            .select(F.col("d").alias("decile"), "n_events",
                    "n_purchases", "n", "n_pos")
            .withColumn("cum_p",
                        F.sum("n_purchases").over(
                            Window.orderBy("decile").rowsBetween(
                                Window.unboundedPreceding, 0))
                         .cast("long"))
            .selectExpr(
                "decile", "n_events", "n_purchases",
                "CAST(n_purchases AS DOUBLE) / n_events"
                " AS response_rate",
                "(CAST(n_purchases AS DOUBLE) / n_events)"
                " / (CAST(n_pos AS DOUBLE) / n) AS lift",
                "CAST(cum_p AS DOUBLE) / n_pos AS cum_gain")
            .orderBy("decile"))


# ---------------------------------------------------------------------
# Actuarial (life-table) survival in 5-day intervals.


@query(
    "actuarial_life_table",
    oracle="""
        WITH u AS (
          SELECT user_id,
                 MIN(date_diff('day', DATE '1970-01-01',
                     CAST(ts AS DATE))) AS first_d,
                 MAX(date_diff('day', DATE '1970-01-01',
                     CAST(ts AS DATE))) AS last_d,
                 MIN(CASE WHEN event_type = 'purchase' THEN
                     date_diff('day', DATE '1970-01-01',
                               CAST(ts AS DATE)) END) AS conv_d
          FROM events GROUP BY user_id
        ),
        life AS (
          SELECT CAST(FLOOR((COALESCE(conv_d, last_d) - first_d)
                            / 5) AS BIGINT) AS iv,
                 CASE WHEN conv_d IS NULL THEN 1 ELSE 0 END
                   AS censored
          FROM u
        ),
        cell AS (
          SELECT iv, CAST(SUM(1 - censored) AS BIGINT) AS d,
                 CAST(SUM(censored) AS BIGINT) AS w
          FROM life GROUP BY iv
        ),
        tot AS (SELECT CAST(SUM(d + w) AS BIGINT) AS n0 FROM cell),
        per AS (
          SELECT iv, d, w,
                 n0 - CAST(COALESCE(SUM(d + w) OVER (ORDER BY iv
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS n_enter
          FROM cell, tot
        ),
        qarr AS (
          SELECT list(struct_pack(iv := iv,
                   q := CAST(2 * d AS DOUBLE) / (2 * n_enter - w))
                 ORDER BY iv) AS qa
          FROM per
        )
        SELECT p.iv AS interval_idx, p.n_enter, p.d AS n_events,
               p.w AS n_censored,
               CAST(2 * p.d AS DOUBLE) / (2 * p.n_enter - p.w)
                 AS cond_q,
               list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
                 list_transform(list_filter(qa, x -> x.iv <= p.iv),
                   x -> x.q)),
                 (a, v) -> a * (CAST(1.0 AS DOUBLE) - v)) AS surv_s
        FROM per p, qarr
        ORDER BY interval_idx
    """,
    doc="Actuarial (life-table) survival of time-to-first-purchase "
        "in 5-day intervals with the classical half-censoring "
        "exposure adjustment q = d / (n - w/2): the grouped-interval "
        "member completing the survival family (Kaplan-Meier is "
        "event-time exact, Nelson-Aalen is cumulative hazard; the "
        "life table is what actuarial/retention reporting actually "
        "publishes). At-risk counts are a prefix cumulation over the "
        "<= 6-row interval cell table; each row\'s cumulative "
        "survival folds the interval-ORDERED q prefix left-to-right "
        "from 1.0 — identical association both engines, and q\'s "
        "half adjustment stays exact as 2d/(2n - w). (A single "
        "struct-accumulator fold emitting all rows was rejected: "
        "DuckDB\'s list_reduce does not thread LIST-valued "
        "accumulator fields — measured, scalars thread fine.) Plan: "
        "one user-keyed rollup (grows-with-data key, map-side "
        "combinable), a <= 6-row cell table, one bounded window, a "
        "broadcast 1-row q-array join.",
    tags=("statistics", "analytics"),
)
def actuarial_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (load(spark, sf_dir, "events")
         .groupBy("user_id")
         .agg(F.expr("MIN(datediff(CAST(ts AS DATE),"
                     " DATE '1970-01-01'))").alias("first_d"),
              F.expr("MAX(datediff(CAST(ts AS DATE),"
                     " DATE '1970-01-01'))").alias("last_d"),
              F.expr("MIN(CASE WHEN event_type = 'purchase' THEN"
                     " datediff(CAST(ts AS DATE), DATE '1970-01-01')"
                     " END)").alias("conv_d")))
    life = u.selectExpr(
        "CAST(FLOOR((COALESCE(conv_d, last_d) - first_d) / 5)"
        " AS BIGINT) AS iv",
        "CASE WHEN conv_d IS NULL THEN 1 ELSE 0 END AS censored")
    cell = (life.groupBy("iv")
            .agg(F.expr("CAST(SUM(1 - censored) AS BIGINT)").alias("d"),
                 F.sum("censored").cast("long").alias("w"))
            # totals + the window + the q array all consume the
            # bounded cell table
            .localCheckpoint())
    tot = cell.agg(F.expr("CAST(SUM(d + w) AS BIGINT)").alias("n0"))
    wb = (Window.orderBy("iv")
                .rowsBetween(Window.unboundedPreceding, -1))
    per = (cell.crossJoin(F.broadcast(tot))
               .withColumn("n_enter",
                           F.expr("n0") - F.coalesce(
                               F.sum(F.expr("d + w")).over(wb),
                               F.lit(0)).cast("long"))
               .select("iv", "d", "w",
                       F.col("n_enter").cast("long").alias("n_enter")))
    qarr = per.agg(F.expr(
        "array_sort(collect_list(struct(iv, CAST(2 * d AS DOUBLE)"
        " / (2 * n_enter - w) AS q)))").alias("qa"))
    return (per.crossJoin(F.broadcast(qarr))
            .selectExpr(
                "iv AS interval_idx", "n_enter", "d AS n_events",
                "w AS n_censored",
                "CAST(2 * d AS DOUBLE) / (2 * n_enter - w) AS cond_q",
                "aggregate(transform(filter(qa, x -> x.iv <= iv),"
                " x -> x.q), CAST(1.0 AS DOUBLE),"
                " (a, v) -> a * (CAST(1.0 AS DOUBLE) - v)) AS surv_s")
            .orderBy("interval_idx"))


# ---------------------------------------------------------------------
# Haberman adjusted residuals for the dow x event_type table.


@query(
    "haberman_adjusted_residuals",
    oracle="""
        WITH cell AS (
          SELECT dayofweek(ts) AS dow, event_type,
                 CAST(COUNT(*) AS BIGINT) AS o
          FROM events GROUP BY 1, 2
        ),
        rm AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS r FROM cell
               GROUP BY dow),
        cm AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS c2
               FROM cell GROUP BY event_type),
        n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cell)
        SELECT cell.dow, cell.event_type, cell.o,
               CAST(rm.r AS DOUBLE) * cm.c2 / n.n AS expected,
               (cell.o - CAST(rm.r AS DOUBLE) * cm.c2 / n.n)
                 / SQRT(CAST(rm.r AS DOUBLE) * cm.c2 / n.n
                        * (1 - CAST(rm.r AS DOUBLE) / n.n)
                        * (1 - CAST(cm.c2 AS DOUBLE) / n.n))
                 AS adj_residual
        FROM cell, rm, cm, n
        WHERE cell.dow = rm.dow AND cell.event_type = cm.event_type
        ORDER BY cell.dow, cell.event_type
    """,
    doc="Haberman adjusted standardized residuals for every cell of "
        "the weekday x event-type contingency table: (o - e) / "
        "sqrt(e (1 - r_i/n)(1 - c_j/n)) — pinpoints WHICH cells "
        "drive the association the registered cramers_v_event_dow "
        "only summarizes (|residual| > 2 flags a cell). Margins and "
        "expectations are rationals of exact integer counts; one "
        "division chain per cell in identical operand order, one "
        "sqrt. Plan: one scan, one 35-cell map-side-combinable "
        "aggregate, bounded margin rollups broadcast back — no "
        "windows, nothing data-sized after the first aggregate.",
    tags=("statistics",),
)
def haberman_adjusted_residuals(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    cell = (load(spark, sf_dir, "events")
            .selectExpr("dayofweek(ts) - 1 AS dow", "event_type")
            .groupBy("dow", "event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("o"))
            .localCheckpoint())
    rm = cell.groupBy("dow").agg(F.sum("o").cast("long").alias("r"))
    cm = (cell.groupBy("event_type")
              .agg(F.sum("o").cast("long").alias("c2")))
    n = cell.agg(F.sum("o").cast("long").alias("n"))
    e = "CAST(r AS DOUBLE) * c2 / n"
    return (cell.join(F.broadcast(rm), "dow")
                .join(F.broadcast(cm), "event_type")
                .crossJoin(F.broadcast(n))
                .selectExpr(
                    "dow", "event_type", "o",
                    f"{e} AS expected",
                    f"(o - {e}) / SQRT({e}"
                    " * (1 - CAST(r AS DOUBLE) / n)"
                    " * (1 - CAST(c2 AS DOUBLE) / n)) AS adj_residual")
                .orderBy("dow", "event_type"))


# ---------------------------------------------------------------------
# Cronbach's alpha over the three deterministic quality raters.

# the SAME three binary document labelers fleiss_kappa_quality_rules
# and cohens_kappa use (content / length / punctuation heuristics)
_RATERS_SQL = (
    "CASE WHEN contains(text, 'data') THEN 1 ELSE 0 END",
    "CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END",
    "CASE WHEN contains(text, '.') THEN 1 ELSE 0 END",
)


@query(
    "cronbachs_alpha_quality_rules",
    oracle=f"""
        WITH r AS (
          SELECT ({_RATERS_SQL[0]}) AS x1, ({_RATERS_SQL[1]}) AS x2,
                 ({_RATERS_SQL[2]}) AS x3
          FROM documents
        ),
        m AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x1) AS BIGINT) AS s1,
                 CAST(SUM(x2) AS BIGINT) AS s2,
                 CAST(SUM(x3) AS BIGINT) AS s3,
                 CAST(SUM(x1 + x2 + x3) AS BIGINT) AS st,
                 SUM(CAST(x1 + x2 + x3 AS HUGEINT)
                     * (x1 + x2 + x3)) AS qt
          FROM r
        )
        SELECT n AS n_docs,
               ({wide("CAST(n AS HUGEINT) * s1 - CAST(s1 AS HUGEINT) * s1")}
                + {wide("CAST(n AS HUGEINT) * s2 - CAST(s2 AS HUGEINT) * s2")}
                + {wide("CAST(n AS HUGEINT) * s3 - CAST(s3 AS HUGEINT) * s3")})
                 / {wide("CAST(n AS HUGEINT) * qt - CAST(st AS HUGEINT) * st")}
                 AS item_to_total_var_ratio,
               (CAST(3.0 AS DOUBLE) / 2) * (1 -
                 ({wide("CAST(n AS HUGEINT) * s1 - CAST(s1 AS HUGEINT) * s1")}
                  + {wide("CAST(n AS HUGEINT) * s2 - CAST(s2 AS HUGEINT) * s2")}
                  + {wide("CAST(n AS HUGEINT) * s3 - CAST(s3 AS HUGEINT) * s3")})
                 / {wide("CAST(n AS HUGEINT) * qt - CAST(st AS HUGEINT) * st")})
                 AS cronbach_alpha
        FROM m
    """,
    doc="Cronbach's alpha over the three deterministic binary "
        "quality raters (the SAME content/length/punctuation "
        "heuristics the Fleiss/Cohen kappa queries rate with): the "
        "internal-consistency view of the rater panel — kappa asks "
        "'do raters agree beyond chance', alpha asks 'do the items "
        "measure one construct', and a curation pipeline wants both "
        "before trusting an ensemble score. alpha = k/(k-1) * (1 - "
        "sum(var_item)/var_total): every variance numerator n*Q - "
        "S^2 is an exact HUGEINT/DECIMAL(38,0) integer (binary items "
        "make Q = S), the n(n-1) denominators CANCEL in the ratio, "
        "and the three wide casts + two divisions run in identical "
        "order both engines. Plan: one scan, one 1-row moment "
        "aggregate — map-side combinable, zero joins.",
    tags=("statistics", "quality"),
)
def cronbachs_alpha_quality_rules(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    m = (load(spark, sf_dir, "documents")
         .selectExpr(f"({_RATERS_SQL[0]}) AS x1",
                     f"({_RATERS_SQL[1]}) AS x2",
                     f"({_RATERS_SQL[2]}) AS x3")
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum("x1").cast("long").alias("s1"),
              F.sum("x2").cast("long").alias("s2"),
              F.sum("x3").cast("long").alias("s3"),
              F.expr("CAST(SUM(x1 + x2 + x3) AS BIGINT)").alias("st"),
              F.expr("SUM(CAST(x1 + x2 + x3 AS DECIMAL(38,0))"
                     " * (x1 + x2 + x3))").alias("qt")))
    item_vars = " + ".join(
        wide(f"CAST(n AS DECIMAL(38,0)) * s{i}"
             f" - CAST(s{i} AS DECIMAL(38,0)) * s{i}")
        for i in (1, 2, 3))
    tot_var = wide("CAST(n AS DECIMAL(38,0)) * qt"
                   " - CAST(st AS DECIMAL(38,0)) * st")
    return m.selectExpr(
        "n AS n_docs",
        f"({item_vars}) / {tot_var} AS item_to_total_var_ratio",
        f"(CAST(3.0 AS DOUBLE) / 2) * (1 - ({item_vars}) / {tot_var})"
        " AS cronbach_alpha")


# ---------------------------------------------------------------------
# Tokenizer vocabulary coverage curve.


@query(
    "vocab_coverage_curve",
    oracle="""
        WITH tf AS (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS f
          FROM (SELECT unnest(string_split(text, ' ')) AS term
                FROM documents)
          WHERE term <> '' GROUP BY term
        ),
        ranked AS (
          SELECT f,
                 ROW_NUMBER() OVER (ORDER BY f DESC, term) AS rk,
                 CAST(SUM(f) OVER (ORDER BY f DESC, term)
                      AS BIGINT) AS cum
          FROM tf
        ),
        tot AS (SELECT CAST(SUM(f) AS BIGINT) AS n_tokens,
                       CAST(COUNT(*) AS BIGINT) AS vocab
                FROM tf)
        SELECT t.vocab AS vocab_size, t.n_tokens,
               CAST(MIN(CASE WHEN 100 * cum >= 50 * t.n_tokens
                    THEN rk END) AS BIGINT) AS k50,
               CAST(MIN(CASE WHEN 100 * cum >= 90 * t.n_tokens
                    THEN rk END) AS BIGINT) AS k90,
               CAST(MIN(CASE WHEN 100 * cum >= 95 * t.n_tokens
                    THEN rk END) AS BIGINT) AS k95,
               CAST(MIN(CASE WHEN 100 * cum >= 99 * t.n_tokens
                    THEN rk END) AS BIGINT) AS k99
        FROM ranked, tot t
        GROUP BY t.vocab, t.n_tokens
    """,
    doc="Tokenizer vocabulary coverage curve: the smallest "
        "frequency-ranked vocabulary size covering 50/90/95/99% of "
        "corpus tokens — THE sizing input for vocabulary truncation "
        "(vocab_oov_stats measures a GIVEN vocab's OOV rate; this "
        "inverts the question to 'how big must the vocab be'). "
        "Thresholds are exact integer comparisons (100*cum >= "
        "p*total — no percent doubles); the rank/cumulation window "
        "runs over the VOCABULARY-bounded term-frequency table "
        "(post-aggregate, ties broken by term for retry "
        "determinism). Plan: one (term) count shuffled on the "
        "reduced token key, one vocab-sized window, a 1-row panel.",
    tags=("text", "analytics"),
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = (load(spark, sf_dir, "documents")
          .select(F.explode(F.split("text", " ")).alias("term"))
          .filter(F.col("term") != "")
          .groupBy("term")
          .agg(F.count(F.lit(1)).cast("long").alias("f"))
          # rank window + totals both consume the vocab table
          .localCheckpoint())
    wr = Window.orderBy(F.desc("f"), F.asc("term"))
    ranked = tf.select(
        "f",
        F.row_number().over(wr).alias("rk"),
        F.sum("f").over(wr.rowsBetween(Window.unboundedPreceding, 0))
         .cast("long").alias("cum"))
    tot = tf.agg(F.sum("f").cast("long").alias("n_tokens"),
                 F.count(F.lit(1)).cast("long").alias("vocab"))
    return (ranked.crossJoin(F.broadcast(tot))
            .groupBy("vocab", "n_tokens")
            .agg(*[F.expr(f"CAST(MIN(CASE WHEN 100 * cum >= {p}"
                          f" * n_tokens THEN rk END) AS BIGINT)")
                    .alias(f"k{p}") for p in (50, 90, 95, 99)])
            .selectExpr("vocab AS vocab_size", "n_tokens",
                        "k50", "k90", "k95", "k99"))


# ---------------------------------------------------------------------
# Cross-source 5-gram overlap matrix.


@query(
    "cross_source_ngram_overlap",
    oracle="""
        WITH grams AS (
          SELECT DISTINCT source,
                 substring(md5(array_to_string(w[i:i+4], ' ')), 1, 16) AS g
          FROM (SELECT source, string_split(text, ' ') AS w
                FROM documents),
               unnest(generate_series(1, len(w) - 4)) t(i)
          WHERE len(w) >= 5
        ),
        by_gram AS (
          SELECT g, list_sort(list(source)) AS ss
          FROM grams GROUP BY g
          HAVING COUNT(*) >= 2
        ),
        pairs AS (
          SELECT p.s1, p.s2, CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM by_gram,
               unnest(flatten(list_transform(
                 generate_series(1, len(ss) - 1),
                 a -> list_transform(generate_series(a + 1, len(ss)),
                   b -> struct_pack(s1 := ss[a], s2 := ss[b]))))) t(p)
          GROUP BY p.s1, p.s2
        ),
        sizes AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
          FROM grams GROUP BY source
        )
        SELECT p.s1 AS source_a, p.s2 AS source_b, p.n_shared,
               za.n_grams AS n_grams_a, zb.n_grams AS n_grams_b,
               CAST(p.n_shared AS DOUBLE)
                 / LEAST(za.n_grams, zb.n_grams) AS containment
        FROM pairs p, sizes za, sizes zb
        WHERE p.s1 = za.source AND p.s2 = zb.source
        ORDER BY source_a, source_b
    """,
    doc="Cross-source 5-gram overlap matrix: for every source pair, "
        "how many distinct word 5-grams they share and the "
        "containment |A inter B| / min(|A|,|B|) — the "
        "cross-SLICE contamination screen (contamination_check "
        "audits train-vs-eval; this audits source-vs-source, the "
        "input to dedup-across-snapshots and license-boundary "
        "checks). Grams shuffle as 16-hex-char (64-bit) md5 prefixes — "
        "never raw text, and HALF the 32-char key volume "
        "(measured 20.2 -> ~12 MB at sf0.1; identical truncation on "
        "both engines, so any collision hits both identically and "
        "exact agreement is preserved; ~1e5 grams vs 2^64 keyspace "
        "makes collisions ~1e-9); per-gram "
        "source sets are bounded (<= 5 sources), so pair emission "
        "is in-array; the HAVING >= 2 prunes singleton grams before "
        "the pair explode. Docs under 5 tokens are filtered "
        "explicitly on BOTH engines (Spark's sequence(1, n) with "
        "n < 1 generates a DESCENDING sequence — guarded, not "
        "assumed). Plan: one scan, gram-hash distinct + group, "
        "bounded in-array pairs, 5-row sizes broadcast back.",
    tags=("text", "dedup"),
)
def cross_source_ngram_overlap(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    grams = (load(spark, sf_dir, "documents")
             .select("source", F.split("text", " ").alias("w"))
             .filter(F.expr("size(w) >= 5"))
             .select("source", F.expr(
                 "explode(transform(sequence(1, size(w) - 4),"
                 " i -> substring(md5(concat_ws(' ', slice(w, i, 5))),"
                 " 1, 16))) AS g"))
             .distinct()
             # sizes + the pair matrix both consume the gram set
             .localCheckpoint())
    by_gram = (grams.groupBy("g")
               .agg(F.expr("sort_array(collect_list(source))")
                     .alias("ss"))
               .filter(F.expr("size(ss) >= 2")))
    pairs = (by_gram.select(F.expr(
                "explode(flatten(transform(sequence(1, size(ss) - 1),"
                " a -> transform(sequence(a + 1, size(ss)),"
                " b -> struct(element_at(ss, a) AS s1,"
                " element_at(ss, b) AS s2))))) AS p"))
             .groupBy("p.s1", "p.s2")
             .agg(F.count(F.lit(1)).cast("long").alias("n_shared")))
    sizes = (grams.groupBy("source")
             .agg(F.count(F.lit(1)).cast("long").alias("n_grams")))
    za = sizes.selectExpr("source AS s1", "n_grams AS n_grams_a")
    zb = sizes.selectExpr("source AS s2", "n_grams AS n_grams_b")
    return (pairs.join(F.broadcast(za), "s1")
                 .join(F.broadcast(zb), "s2")
                 .selectExpr(
                     "s1 AS source_a", "s2 AS source_b", "n_shared",
                     "n_grams_a", "n_grams_b",
                     "CAST(n_shared AS DOUBLE)"
                     " / LEAST(n_grams_a, n_grams_b) AS containment")
                 .orderBy("source_a", "source_b"))


# ---------------------------------------------------------------------
# Embedding isotropy: exact mean pairwise cosine via quantized
# normalized vectors.

_Q_SCALE = 1_000_000


@query(
    "embedding_isotropy_panel",
    oracle=f"""
        WITH nv AS (
          SELECT vec_id,
                 SQRT(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(generate_series(1, len(embedding)),
                     k -> CAST(embedding[k] AS DOUBLE)
                          * CAST(embedding[k] AS DOUBLE))),
                   (a, v) -> a + v)) AS nrm,
                 embedding
          FROM embeddings
        ),
        q AS (
          SELECT vec_id, i AS d,
                 CAST(ROUND(CAST(embedding[i] AS DOUBLE) / nrm
                            * {_Q_SCALE}) AS BIGINT) AS qv
          FROM nv, unnest(generate_series(1, len(embedding))) t(i)
        ),
        dims AS (
          SELECT d, CAST(SUM(qv) AS BIGINT) AS s_d
          FROM q GROUP BY d
        ),
        parts AS (
          SELECT (SELECT SUM(CAST(s_d AS HUGEINT) * s_d)
                  FROM dims) AS ss,
                 (SELECT SUM(CAST(qv AS HUGEINT) * qv) FROM q)
                   AS qq,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM nv) AS n
        )
        SELECT n AS n_vectors,
               ({wide("ss")} - {wide("qq")})
                 / ({wide("CAST(n AS HUGEINT) * (n - 1)")}
                    * {_Q_SCALE}.0 * {_Q_SCALE}) AS mean_pairwise_cosine,
               {wide("qq")} / (CAST(n AS DOUBLE)
                    * {_Q_SCALE}.0 * {_Q_SCALE}) AS mean_sq_norm_q
        FROM parts
    """,
    doc="Embedding isotropy: the EXACT mean pairwise cosine "
        "similarity across all n^2 vector pairs, computed without "
        "any pair enumeration — sum_pairs cos = (||sum v_hat||^2 - "
        "sum ||v_hat||^2) / 2 via per-dimension sums. High mean "
        "cosine = anisotropic embedding space (the common-direction "
        "pathology that degrades cosine retrieval; the standard "
        "pre-flight check before ANN indexing, complementing "
        "embedding_dim_variance_rank). Determinism: normalized "
        "coordinates are QUANTIZED to integer millionths (the "
        "fixed-point rule — summing raw doubles across rows would "
        "be partial-aggregation-order-dependent), so every sum is "
        "an exact BIGINT and the final statistics are two divisions "
        "of HUGEINT/DECIMAL(38,0)-exact operands. mean_sq_norm_q "
        "(~1.0) reports the quantization error bound. Plan: one "
        "scan, one explode to (vec, dim), one 64-group dim "
        "aggregate + two scalar sums — map-side combinable, no "
        "windows, no joins beyond 1-row panels.",
    tags=("similarity", "statistics"),
)
def embedding_isotropy_panel(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    norm = ("SQRT(aggregate(transform(sequence(1, size(embedding)),"
            " k -> CAST(element_at(embedding, k) AS DOUBLE)"
            " * CAST(element_at(embedding, k) AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (a, v) -> a + v))")
    # ONE aggregate pass over the exploded quantized stream (r11,
    # guide §1.2/§5): the old shape EAGERLY localCheckpointed the
    # data-sized (vec, dim, qv) explode because three consumers (dim
    # sums, qq, n) read it — the measured-loss data-sized-
    # materialization class. qq is just the total of per-dim sum(qv^2)
    # (integer-exact, grouping-order-free), so it rides the SAME
    # 64-group dim aggregate; n is a column-pruned count of the base
    # table (= distinct vec_id under the primary key, the oracle's
    # COUNT(*) FROM nv). vec_id drops out of the explode entirely.
    q = (load(spark, sf_dir, "embeddings")
         .selectExpr(f"{norm} AS nrm", "embedding")
         .select("nrm", F.posexplode("embedding").alias("d0", "v"))
         .selectExpr("d0 + 1 AS d",
                     f"CAST(ROUND(CAST(v AS DOUBLE) / nrm"
                     f" * {_Q_SCALE}) AS BIGINT) AS qv"))
    dims = q.groupBy("d").agg(
        F.sum("qv").cast("long").alias("s_d"),
        F.expr("SUM(CAST(qv AS DECIMAL(38,0)) * qv)").alias("q_d"))
    ss = dims.agg(F.expr("SUM(CAST(s_d AS DECIMAL(38,0)) * s_d)")
                   .alias("ss"),
                  F.expr("CAST(SUM(q_d) AS DECIMAL(38,0))").alias("qq"))
    n = (load(spark, sf_dir, "embeddings")
         .agg(F.count(F.lit(1)).cast("long").alias("n")))
    return (ss.crossJoin(F.broadcast(n))
            .selectExpr(
                "n AS n_vectors",
                f"({wide('ss')} - {wide('qq')})"
                f" / ({wide('CAST(n AS DECIMAL(38,0)) * (n - 1)')}"
                f" * {_Q_SCALE}.0 * {_Q_SCALE}) AS mean_pairwise_cosine",
                f"{wide('qq')} / (CAST(n AS DOUBLE)"
                f" * {_Q_SCALE}.0 * {_Q_SCALE}) AS mean_sq_norm_q"))
