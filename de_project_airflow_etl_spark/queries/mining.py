"""Mining / statistics / cohort analytics (promoted from
``staged/round6.py`` in round 6 once CORRECTNESS_r05 adjudicated).

Same contract as every registered query: ``(spark, sf_dir) ->
DataFrame`` plus an exact DuckDB oracle, identical column aliases on
both sides, exact-integer / fixed-point arithmetic for anything
accumulated, a 100 TB plan story per doc string, no ``rand()``, no
``.collect()``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load

_O_CENTS = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"


# -------------------------------------------- association rules

RULE_MIN_SUPPORT = 5


@query(
    "market_basket_rules",
    oracle=f"""
        WITH baskets AS (
          SELECT DISTINCT l_orderkey, p_brand
          FROM lineitem JOIN part ON l_partkey = p_partkey
        ),
        n_orders AS (
          SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_all
          FROM baskets
        ),
        item AS (
          SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS item_count
          FROM baskets GROUP BY p_brand
        ),
        pair AS (
          SELECT a.p_brand AS antecedent, b.p_brand AS consequent,
                 CAST(COUNT(*) AS BIGINT) AS support
          FROM baskets a
          JOIN baskets b
            ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
          GROUP BY 1, 2
          HAVING COUNT(*) >= {RULE_MIN_SUPPORT}
        )
        SELECT p.antecedent, p.consequent, p.support,
               ia.item_count AS n_antecedent,
               ic.item_count AS n_consequent,
               CAST(p.support AS DOUBLE) / CAST(ia.item_count AS DOUBLE)
                 AS confidence,
               CAST(p.support * n.n_all AS DOUBLE)
                 / CAST(ia.item_count * ic.item_count AS DOUBLE) AS lift
        FROM pair p
        JOIN item ia ON ia.p_brand = p.antecedent
        JOIN item ic ON ic.p_brand = p.consequent
        CROSS JOIN n_orders n
    """,
    doc="Association rules over the basket relation: directed "
        "antecedent->consequent rules with support, confidence "
        "(support / antecedent count) and lift (the same exact "
        "integer cross-ratio discipline as decile_conversion_lift) — "
        "the rule-generation step that consumes frequent_item_pairs' "
        "candidates. The pair generation is ONE groupBy on the order "
        "key with in-array ordered-pair emission (both directions), "
        "item counts broadcast back, the corpus size rides a one-row "
        "broadcast. Brand vocabulary bounds every relation except the "
        "basket scan.",
    tags=("analytics",),
)
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # Brands ride as DENSE INT CODES through every corpus-scale stage
    # (r11, guide §2.3 narrower shuffle types + join-back): the code
    # dimension is vocabulary-bounded (~25 rows; row_number over the
    # sorted distinct brands — a bounded window, the per-date-maxima
    # precedent) and JOIN-assigned, so unlike hashing this is exact by
    # construction. The orderkey exchange's collect_set partials and
    # the pair explode's structs then carry 4-byte ints instead of
    # ~10-byte strings; the bounded final join-back recovers the
    # brand strings for the <= vocab^2 surviving rules.
    dim = (part.select("p_brand").distinct()
               .select("p_brand",
                       F.row_number().over(Window.orderBy("p_brand"))
                        .cast("int").alias("bc"))
               .localCheckpoint(eager=False))  # bounded dim, 3 consumers
    # ONE orderkey exchange builds the per-order brand-code sets
    # directly (collect_set dedups in-group with map-side partials —
    # no standalone distinct exchange), and every other relation
    # (order count, item supports, the pair stream) derives from the
    # checkpointed sets, so the fact table is scanned once (was 4
    # lineitem + 4 part scans, one per un-materialized reference).
    # Only the bounded dim is force-broadcast: part grows with the
    # data, so lineitem meets it by size (see frequent_item_pairs).
    sets = (li.join(part, li.l_partkey == part.p_partkey)
              .join(F.broadcast(dim), "p_brand")
              .groupBy("l_orderkey")
              .agg(F.sort_array(F.collect_set("bc")).alias("bs"))
              .localCheckpoint())
    n_orders = sets.agg(F.count(F.lit(1)).alias("n_all"))
    item = (sets.select(F.explode("bs").alias("bc"))
            .groupBy("bc")
            .agg(F.count(F.lit(1)).alias("item_count"))
            .localCheckpoint(eager=False))  # vocab-bounded, 2 consumers
    # both directions from each order's sorted distinct code set:
    # every ordered pair (x, y), x != y, emitted in-array
    pair = (sets.select(F.explode(F.expr(
                "flatten(transform(bs, x -> "
                "transform(filter(bs, y -> y <> x), "
                "y -> struct(x AS a_bc, y AS c_bc))))"))
                .alias("p"))
            .select("p.a_bc", "p.c_bc")
            .groupBy("a_bc", "c_bc")
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= RULE_MIN_SUPPORT))
    ia = (item.join(F.broadcast(dim), "bc")
              .select(F.col("bc").alias("a_bc"),
                      F.col("p_brand").alias("antecedent"),
                      F.col("item_count").alias("n_antecedent")))
    ic = (item.join(F.broadcast(dim), "bc")
              .select(F.col("bc").alias("c_bc"),
                      F.col("p_brand").alias("consequent"),
                      F.col("item_count").alias("n_consequent")))
    return (pair.join(F.broadcast(ia), "a_bc")
                .join(F.broadcast(ic), "c_bc")
                .crossJoin(F.broadcast(n_orders))
                .select("antecedent", "consequent", "support",
                        "n_antecedent", "n_consequent",
                        (F.col("support").cast("double")
                         / F.col("n_antecedent").cast("double"))
                            .alias("confidence"),
                        ((F.col("support") * F.col("n_all")).cast("double")
                         / (F.col("n_antecedent") * F.col("n_consequent"))
                         .cast("double")).alias("lift")))


# ------------------------------------------ weekday x hour heatmap


@query(
    "weekday_hour_heatmap",
    oracle="""
        WITH e AS (
          SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
                 CAST(hour(ts) AS BIGINT) AS hod,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        cell AS (
          SELECT dow, hod,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(SUM(cents) AS BIGINT) AS sum_cents
          FROM e GROUP BY dow, hod
        ),
        tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS n_all FROM cell)
        SELECT c.dow, c.hod, c.n_events, c.sum_cents,
               CAST(c.n_events AS DOUBLE) / CAST(t.n_all AS DOUBLE)
                 AS share
        FROM cell c CROSS JOIN tot t
    """,
    doc="Weekday x hour activity heatmap with value totals and traffic "
        "shares — the ops-dashboard rollup. One map-side-combinable "
        "aggregate into at most 7x24 cells, one broadcast total row; "
        "dayofweek/hour agree across engines on plain timestamps "
        "(DuckDB dayofweek is 0=Sunday; Spark dayofweek is 1=Sunday — "
        "the Spark side subtracts 1 to pin the 0-based convention).",
    tags=("reporting",),
)
def weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"))
    cell = (e.groupBy("dow", "hod")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum("cents").alias("sum_cents")))
    tot = cell.agg(F.sum("n_events").alias("n_all"))
    return (cell.crossJoin(F.broadcast(tot))
                .select("dow", "hod", "n_events", "sum_cents",
                        (F.col("n_events").cast("double")
                         / F.col("n_all").cast("double")).alias("share")))


# -------------------------------------- cohort net revenue retention


@query(
    "customer_cohort_nrr",
    oracle=f"""
        WITH o AS (
          SELECT o_custkey,
                 CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                 {_O_CENTS} AS cents
          FROM orders
        ),
        cohort AS (
          SELECT o_custkey, MIN(m) AS cohort_month FROM o
          GROUP BY o_custkey
        ),
        rev AS (
          SELECT c.cohort_month,
                 CAST((EXTRACT(YEAR FROM o.m) - EXTRACT(YEAR FROM c.cohort_month)) * 12
                      + (EXTRACT(MONTH FROM o.m) - EXTRACT(MONTH FROM c.cohort_month))
                      AS BIGINT) AS months_since,
                 CAST(SUM(o.cents) AS BIGINT) AS revenue_cents
          FROM o JOIN cohort c USING (o_custkey)
          GROUP BY 1, 2
        ),
        base AS (
          SELECT cohort_month, revenue_cents AS base_cents
          FROM rev WHERE months_since = 0
        )
        SELECT CAST(r.cohort_month AS TIMESTAMP) AS cohort_month,
               r.months_since, r.revenue_cents, b.base_cents,
               CAST(r.revenue_cents AS DOUBLE)
                 / CAST(b.base_cents AS DOUBLE) AS nrr
        FROM rev r JOIN base b USING (cohort_month)
        WHERE r.months_since <= 12
    """,
    doc="Net revenue retention by acquisition cohort: each customer's "
        "cohort is their first order month; every later month's "
        "revenue is expressed as a ratio of the cohort's month-0 "
        "revenue (the SaaS NRR curve; the revenue sibling of "
        "cohort_retention's user counts). Month arithmetic is exact "
        "integer year*12+month differences — never date_diff on "
        "days — so both engines bucket identically. Two shuffles "
        "(per-customer cohort min, then per-(cohort, offset) rollup); "
        "the month-0 base joins back broadcast because cohorts are "
        "calendar-bounded.",
    tags=("reporting", "timeseries"),
)
def customer_cohort_nrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.trunc(F.to_date("o_orderdate"), "month").alias("m"),
        F.expr(_O_CENTS).alias("cents"))
    cohort = o.groupBy("o_custkey").agg(F.min("m").alias("cohort_month"))
    rev = (o.join(cohort, "o_custkey")
            .withColumn(
                "months_since",
                ((F.year("m") - F.year("cohort_month")) * 12
                 + (F.month("m") - F.month("cohort_month"))).cast("long"))
            .groupBy("cohort_month", "months_since")
            .agg(F.sum("cents").alias("revenue_cents"))
            # feeds the base-month slice AND the final join; the
            # cohort-month x months grid is calendar-bounded
            .localCheckpoint())
    base = (rev.filter(F.col("months_since") == 0)
               .select("cohort_month",
                       F.col("revenue_cents").alias("base_cents")))
    return (rev.join(F.broadcast(base), "cohort_month")
               .filter(F.col("months_since") <= 12)
               .select(F.col("cohort_month").cast("timestamp")
                        .alias("cohort_month"),
                       "months_since", "revenue_cents", "base_cents",
                       (F.col("revenue_cents").cast("double")
                        / F.col("base_cents").cast("double")).alias("nrr")))


# ------------------------------------------- demand variability (XYZ)

# CV^2 class boundaries as exact rationals: X if CV^2 <= 0.04
# (CV <= 0.2), Y if CV^2 <= 0.25 (CV <= 0.5), else Z. Compared by
# cross-multiplication in wide-int so no sqrt and no rounding.
_XYZ_X_NUM, _XYZ_X_DEN = 1, 25    # 0.04
_XYZ_Y_NUM, _XYZ_Y_DEN = 1, 4     # 0.25


@query(
    "part_demand_xyz_classes",
    oracle=f"""
        WITH m AS (
          SELECT l_partkey,
                 CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
                 CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
          FROM lineitem GROUP BY 1, 2
        ),
        s AS (
          SELECT l_partkey,
                 CAST(COUNT(*) AS BIGINT) AS n_months,
                 SUM(CAST(qty AS HUGEINT)) AS sq,
                 SUM(CAST(qty AS HUGEINT) * qty) AS sqq
          FROM m GROUP BY l_partkey
        ),
        cls AS (
          SELECT l_partkey, n_months,
                 CAST(sq AS BIGINT) AS sum_qty,
                 CASE
                   WHEN sq = 0 THEN 'Z'
                   WHEN (n_months * sqq - sq * sq) * {_XYZ_X_DEN}
                        <= sq * sq * {_XYZ_X_NUM} THEN 'X'
                   WHEN (n_months * sqq - sq * sq) * {_XYZ_Y_DEN}
                        <= sq * sq * {_XYZ_Y_NUM} THEN 'Y'
                   ELSE 'Z' END AS xyz_class
          FROM s
        )
        SELECT xyz_class,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(sum_qty) AS BIGINT) AS total_qty,
               CAST(MIN(n_months) AS BIGINT) AS min_months,
               CAST(MAX(n_months) AS BIGINT) AS max_months
        FROM cls GROUP BY xyz_class
    """,
    doc="XYZ demand-variability classification (the companion of the "
        "promoted ABC revenue classes): per part, the coefficient of "
        "variation of monthly demand, classed X/Y/Z at CV 0.2/0.5. "
        "The entire comparison happens on exact integers: CV^2 = "
        "var/mean^2 = (n*sqq - sq^2)/sq^2, compared to each threshold "
        "by cross-multiplication in HUGEINT/DECIMAL(38,0) — no sqrt, "
        "no division, no doubles anywhere. Two map-side-combinable "
        "rollups (part x month, then part), bounded report.",
    tags=("analytics", "statistics"),
)
def part_demand_xyz_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.trunc(F.to_date("l_shipdate"), "month").alias("month"),
        F.col("l_quantity").cast("long").alias("q"))
    m = (li.groupBy("l_partkey", "month")
           .agg(F.sum("q").alias("qty")))
    s = (m.groupBy("l_partkey")
          .agg(F.count(F.lit(1)).alias("n_months"),
               F.sum(F.col("qty").cast("decimal(38,0)")).alias("sq"),
               F.sum((F.col("qty") * F.col("qty")).cast("decimal(38,0)"))
                .alias("sqq")))
    cls = s.select(
        "l_partkey", "n_months",
        F.col("sq").cast("long").alias("sum_qty"),
        F.expr(f"""CASE
            WHEN sq = 0 THEN 'Z'
            WHEN (n_months * sqq - sq * sq) * {_XYZ_X_DEN}
                 <= sq * sq * {_XYZ_X_NUM} THEN 'X'
            WHEN (n_months * sqq - sq * sq) * {_XYZ_Y_DEN}
                 <= sq * sq * {_XYZ_Y_NUM} THEN 'Y'
            ELSE 'Z' END""").alias("xyz_class"))
    return (cls.groupBy("xyz_class")
               .agg(F.count(F.lit(1)).alias("n_parts"),
                    F.sum("sum_qty").alias("total_qty"),
                    F.min("n_months").alias("min_months"),
                    F.max("n_months").alias("max_months")))


# ------------------------------------------ Kaplan-Meier retention

KM_CENSOR_DAYS = 7  # still-active horizon: last event within 7 days
                    # of corpus end = censored (alive), not churned


@query(
    "survival_retention_curve",
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 MIN(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
                   AS first_d,
                 MAX(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
                   AS last_d
          FROM events GROUP BY user_id
        ),
        bounds AS (SELECT MAX(last_d) AS corpus_end FROM u),
        life AS (
          SELECT u.user_id,
                 CAST(u.last_d - u.first_d + 1 AS BIGINT) AS t,
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
        terms AS (
          SELECT t_days, n_at_risk, d_churned,
                 1.0 - CAST(d_churned AS DOUBLE)
                     / CAST(n_at_risk AS DOUBLE) AS term
          FROM risk
        ),
        arr AS (
          SELECT list({{'t_days': t_days, 'term': term}}
                      ORDER BY t_days) AS a FROM terms
        )
        SELECT t.t_days, t.n_at_risk, t.d_churned,
               list_reduce(
                 list_prepend(CAST(1.0 AS DOUBLE),
                   list_transform(
                     list_filter(arr.a, x -> x.t_days <= t.t_days),
                     x -> x.term)),
                 (acc, v) -> acc * v) AS survival
        FROM terms t CROSS JOIN arr
    """,
    doc="Kaplan-Meier retention curve over user lifetimes: lifetime = "
        "first-to-last active day; users still active within 7 days "
        "of corpus end are right-censored (they leave the risk set "
        "without counting as churn — the estimator's defining "
        "subtlety). S(t) = prod_(t_i <= t) (1 - d_i / n_i), folded in "
        "ascending event-time order as a sequential product over the "
        "calendar-BOUNDED distinct-lifetime relation (the broadcast "
        "array is ~30 entries here, ~10^3 at any scale) — the "
        "transcendental-free analog of the exp(sum(log)) trick, so "
        "both engines multiply identical doubles in identical order. "
        "Per-user rollup is the only corpus-scale shuffle.",
    tags=("timeseries", "statistics"),
)
def survival_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lazy checkpoints (r11, guide §1.2): `u` is consumed by BOTH the
    # corpus_end scalar and the lifetime projection, and `terms` by
    # both the broadcast fold array and the final select — without the
    # cuts the plan re-executed the events scan + per-user aggregate
    # ~4x per run (multi-consumer re-execution rule; the 0.33
    # anti-scaling VERDICT r10 flagged). Both are aggregate-sized
    # relations (one row per user / per distinct lifetime), the
    # allowed checkpoint class. The pre-checkpoint shapes live in
    # _survival_user_lifetimes/_survival_km_terms so the plan gate can
    # still prove scan pruning + window-above-aggregate (checkpoints
    # hide interior structure from final-plan gates).
    u = _survival_user_lifetimes(spark, sf_dir).localCheckpoint(eager=False)
    terms = _survival_km_terms(u).localCheckpoint(eager=False)
    arr = terms.agg(F.expr(
        "array_sort(collect_list(struct(t_days, term)))").alias("a"))
    return (terms.crossJoin(F.broadcast(arr))
                 .select("t_days", "n_at_risk", "d_churned",
                         F.expr("aggregate(filter(a, x -> x.t_days <= "
                                "t_days), CAST(1.0 AS DOUBLE), "
                                "(acc, x) -> acc * x.term)")
                          .alias("survival")))


def _survival_km_terms(u: DataFrame) -> DataFrame:
    """Pre-checkpoint KM term relation (t_days, n_at_risk, d_churned,
    term) from the per-user rollup; the suffix-sum window here is only
    legal because its input is the calendar-bounded distinct-lifetime
    aggregate — the plan gate asserts that on THIS relation, since the
    query checkpoints it before the final fold."""
    bounds = u.agg(F.max("last_d").alias("corpus_end"))
    life = (u.crossJoin(F.broadcast(bounds))
             .select((F.col("last_d") - F.col("first_d") + 1).alias("t"),
                     F.when(F.col("corpus_end") - F.col("last_d")
                            < KM_CENSOR_DAYS, 1).otherwise(0)
                      .alias("censored")))
    grouped = (life.groupBy("t")
               .agg(F.count(F.lit(1)).alias("n_t"),
                    F.sum(1 - F.col("censored")).alias("d_churned")))
    # n_at_risk(t) = users with lifetime >= t: suffix sum over the
    # bounded distinct-lifetime relation (single-partition window over
    # <= |distinct lifetimes| rows — calendar-bounded by design)
    w_desc = (Window.orderBy(F.desc("t"))
              .rowsBetween(Window.unboundedPreceding, 0))
    risk = grouped.select(
        F.col("t").alias("t_days"),
        F.sum("n_t").over(w_desc).cast("long").alias("n_at_risk"),
        F.col("d_churned").cast("long").alias("d_churned"))
    return risk.withColumn(
        "term",
        F.lit(1.0) - F.col("d_churned").cast("double")
        / F.col("n_at_risk").cast("double"))


def _survival_user_lifetimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-checkpoint per-user rollup (min/max active day). Split out
    so the plan gate can prove the events scan prunes to (user_id, ts)
    even though the query checkpoints this relation (checkpoints hide
    interior scans from final-plan gates — the lof gate precedent)."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
         .cast("long").alias("d"))
    return e.groupBy("user_id").agg(F.min("d").alias("first_d"),
                                    F.max("d").alias("last_d"))


# ------------------------------------- embedding class separation

SEP_SCALE = 1_000_000  # fixed-point quantization of squared distances


@query(
    "label_separation_scores",
    oracle=f"""
        WITH d AS (
          SELECT label, i AS dim,
                 CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                            * 1000000.0) AS BIGINT) AS v
          FROM embeddings,
               UNNEST(generate_series(1, len(embedding))) AS s(i)
        ),
        n AS (
          SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs
          FROM embeddings GROUP BY label
        ),
        g AS (SELECT label, dim, SUM(v) AS s FROM d GROUP BY label, dim),
        c AS (
          SELECT g.label AS clabel, g.dim,
                 CAST(g.s AS DOUBLE)
                   / (1000000.0 * CAST(n.n_vecs AS DOUBLE)) AS cv
          FROM g JOIN n USING (label)
        ),
        gtot AS (
          SELECT dim, CAST(SUM(s) AS DOUBLE)
                   / (1000000.0 * CAST((SELECT COUNT(*) FROM embeddings)
                                       AS DOUBLE)) AS gv
          FROM g GROUP BY dim
        ),
        within AS (
          SELECT e.vec_id, e.label,
                 CAST(ROUND(list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                     list((CAST(e.embedding[c.dim] AS DOUBLE) - c.cv)
                          * (CAST(e.embedding[c.dim] AS DOUBLE) - c.cv)
                          ORDER BY c.dim)),
                   (acc, x) -> acc + x) * {SEP_SCALE}) AS BIGINT) AS d2_fp
          FROM embeddings e JOIN c ON c.clabel = e.label
          GROUP BY e.vec_id, e.label, e.embedding
        ),
        between AS (
          SELECT c.clabel AS label,
                 list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                     list((c.cv - g2.gv) * (c.cv - g2.gv)
                          ORDER BY c.dim)),
                   (acc, x) -> acc + x) AS between_d2
          FROM c JOIN gtot g2 USING (dim)
          GROUP BY c.clabel
        )
        SELECT w.label,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(w.d2_fp) AS BIGINT) AS within_sum_fp,
               CAST(SUM(w.d2_fp) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * {SEP_SCALE}.0)
                 AS within_mean_d2,
               ANY_VALUE(b.between_d2) AS between_d2,
               ANY_VALUE(b.between_d2)
                 / (CAST(SUM(w.d2_fp) AS DOUBLE)
                    / (CAST(COUNT(*) AS DOUBLE) * {SEP_SCALE}.0))
                 AS separation_ratio
        FROM within w JOIN between b USING (label)
        GROUP BY w.label
    """,
    doc="Per-class embedding separation audit (the Fisher-criterion "
        "shape): mean squared distance of each vector to its OWN "
        "class centroid (within-scatter) vs the squared distance of "
        "that centroid to the GLOBAL centroid (between-scatter), and "
        "their ratio — the representation-quality score a training "
        "pipeline tracks per label. Centroids ride the exact "
        "fixed-point integer construction (embedding_label_centroids "
        "discipline) so both engines hold identical doubles; each "
        "per-vector squared distance folds in dim order and is then "
        "floor-quantized to a 1e-6 grid BEFORE summation, so the "
        "corpus-scale accumulation is an exact integer sum immune to "
        "partial-aggregation order. One broadcast of the |labels| x "
        "dims centroid relation; per-vector work is a single fold.",
    tags=("similarity", "evaluation"),
)
def label_separation_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    q = e.select("label", F.expr(
        "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) "
        "* 1000000.0) AS BIGINT))").alias("qv"))
    d = q.select("label", F.posexplode("qv").alias("dim", "v"))
    # the |labels x dims| moment table feeds both the per-class and
    # the global centroid; un-materialized, each reference re-scanned
    # and re-exploded the corpus (7 scans observed) — checkpoint the
    # 640-row relation.
    g = (d.groupBy("label", "dim").agg(F.sum("v").alias("s"))
          .localCheckpoint())
    n = e.groupBy("label").agg(F.count("*").cast("long").alias("n_vecs"))
    ntot = e.agg(F.count(F.lit(1)).alias("n_all"))
    c = g.join(n, "label").select(
        F.col("label").alias("clabel"), "dim",
        F.expr("CAST(s AS DOUBLE) / (1000000.0 "
               "* CAST(n_vecs AS DOUBLE))").alias("cv"))
    gtot = (g.groupBy("dim").agg(F.sum("s").alias("stot"))
             .crossJoin(F.broadcast(ntot))
             .select("dim",
                     F.expr("CAST(stot AS DOUBLE) / (1000000.0 "
                            "* CAST(n_all AS DOUBLE))").alias("gv")))
    # the |labels|-row centroid table feeds the within-scatter join
    # AND the between-scatter — checkpoint so its lineage is a leaf.
    cent = (c.groupBy("clabel")
             .agg(F.expr("transform(array_sort(collect_list("
                         "struct(dim, cv))), p -> p.cv)").alias("centroid"))
             .localCheckpoint())
    # within: one broadcast join of the |labels|-row centroid table
    within = (e.join(F.broadcast(cent), e.label == cent.clabel)
               .select("vec_id", "label",
                       F.expr(
                           f"CAST(ROUND(aggregate(zip_with(embedding, "
                           f"centroid, (x, c) -> (CAST(x AS DOUBLE) - c) "
                           f"* (CAST(x AS DOUBLE) - c)), "
                           f"CAST(0 AS DOUBLE), (acc, v) -> acc + v) "
                           f"* {SEP_SCALE}) AS BIGINT)").alias("d2_fp")))
    gcent = gtot.agg(F.expr(
        "transform(array_sort(collect_list(struct(dim, gv))), "
        "p -> p.gv)").alias("gcentroid"))
    between = (cent.crossJoin(F.broadcast(gcent))
               .select(F.col("clabel").alias("label"),
                       F.expr(
                           "aggregate(zip_with(centroid, gcentroid, "
                           "(a, b) -> (a - b) * (a - b)), "
                           "CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
                        .alias("between_d2")))
    agg = (within.groupBy("label")
           .agg(F.count(F.lit(1)).alias("n_vecs"),
                F.sum("d2_fp").alias("within_sum_fp")))
    return (agg.join(F.broadcast(between), "label")
               .select("label", "n_vecs", "within_sum_fp",
                       (F.col("within_sum_fp").cast("double")
                        / (F.col("n_vecs").cast("double")
                           * F.lit(float(SEP_SCALE))))
                           .alias("within_mean_d2"),
                       "between_d2",
                       (F.col("between_d2")
                        / (F.col("within_sum_fp").cast("double")
                           / (F.col("n_vecs").cast("double")
                              * F.lit(float(SEP_SCALE)))))
                           .alias("separation_ratio")))


# ------------------------------------- kNN classification accuracy

KNN_CLS_K = 5
KNN_CLS_MOD = 50   # deterministic evaluation sample: vec_id % 50 == 0


@query(
    "knn_classifier_accuracy",
    oracle=f"""
        WITH q AS (
          SELECT vec_id AS qid, label AS true_label, embedding AS qv
          FROM embeddings WHERE vec_id % {KNN_CLS_MOD} = 0
        ),
        scored AS (
          SELECT q.qid, q.true_label, e.label,
                 ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY list_reduce(
                     list_prepend(CAST(0 AS DOUBLE),
                       list_transform(generate_series(1, len(e.embedding)),
                         i -> CAST(e.embedding[i] AS DOUBLE)
                              * CAST(q.qv[i] AS DOUBLE))),
                     (acc, v) -> acc + v) DESC, e.vec_id) AS rk
          FROM embeddings e CROSS JOIN q
          WHERE e.vec_id <> q.qid
        ),
        votes AS (
          SELECT qid, true_label, label,
                 CAST(COUNT(*) AS BIGINT) AS n_votes
          FROM scored WHERE rk <= {KNN_CLS_K}
          GROUP BY qid, true_label, label
        ),
        pred AS (
          SELECT qid, true_label, label AS predicted,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY n_votes DESC, label) AS pr
          FROM votes
        )
        SELECT true_label,
               CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(SUM(CASE WHEN predicted = true_label
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               CAST(SUM(CASE WHEN predicted = true_label
                             THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS accuracy
        FROM pred WHERE pr = 1
        GROUP BY true_label
    """,
    doc="Leave-one-out kNN classification accuracy over a "
        "deterministic held-out sample (vec_id % 50): each sampled "
        "vector is classified by the majority label of its 5 nearest "
        "neighbors (ranked by the deterministic dot-product fold; "
        "vote ties break toward the smaller label) and scored against "
        "its true label, reported per class — the embedding-quality "
        "benchmark a representation pipeline runs per release, "
        "completing the evaluation suite next to ann_recall_audit "
        "(index quality) and label_separation_scores (geometry). One "
        "broadcast of the bounded query sample; per-query top-k rides "
        "a rank window partitioned by query; votes and accuracy are "
        "bounded aggregates. Unnormalized dot product is the ranking "
        "key (vectors here have near-equal norms; cosine's extra "
        "norm folds would change nothing but cost).",
    tags=("similarity", "evaluation"),
)
def knn_classifier_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") % KNN_CLS_MOD == 0)
          .select(F.col("vec_id").alias("qid"),
                  F.col("label").alias("true_label"),
                  F.col("embedding").alias("qv")))
    scored = (e.crossJoin(F.broadcast(q))
               .filter(F.col("vec_id") != F.col("qid"))
               .select("qid", "true_label", "label", "vec_id",
                       F.expr(
                           "aggregate(zip_with(embedding, qv, (x, y) -> "
                           "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                           "CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
                        .alias("dot")))
    w = Window.partitionBy("qid").orderBy(F.desc("dot"), F.asc("vec_id"))
    topk = (scored.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") <= KNN_CLS_K))
    votes = (topk.groupBy("qid", "true_label", "label")
                 .agg(F.count(F.lit(1)).alias("n_votes")))
    wp = Window.partitionBy("qid").orderBy(F.desc("n_votes"),
                                           F.asc("label"))
    pred = (votes.withColumn("pr", F.row_number().over(wp))
                 .filter(F.col("pr") == 1)
                 .select("qid", "true_label",
                         F.col("label").alias("predicted")))
    return (pred.groupBy("true_label")
                .agg(F.count(F.lit(1)).alias("n_queries"),
                     F.sum(F.when(F.col("predicted") == F.col("true_label"),
                                  1).otherwise(0)).alias("n_correct"),
                     (F.sum(F.when(F.col("predicted")
                                   == F.col("true_label"), 1)
                             .otherwise(0)).cast("double")
                      / F.count(F.lit(1)).cast("double")).alias("accuracy")))


# --------------------------------------------- BPE merge application


@query(
    "bpe_merge_apply",
    oracle="""
        WITH toks AS (
          SELECT doc_id, pos, tok,
                 LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS nxt
          FROM (
            SELECT doc_id,
                   generate_subscripts(string_split(text, ' '), 1) AS pos,
                   unnest(string_split(text, ' ')) AS tok
            FROM documents
          )
        ),
        top_pair AS (
          SELECT tok AS t1, nxt AS t2
          FROM toks WHERE nxt IS NOT NULL
          GROUP BY tok, nxt
          ORDER BY COUNT(*) DESC, tok, nxt LIMIT 1
        ),
        flagged AS (
          SELECT t.doc_id, t.pos, t.tok, t.nxt, p.t1, p.t2,
                 CASE WHEN t.tok = p.t1 AND t.nxt = p.t2
                      THEN 1 ELSE 0 END AS flag
          FROM toks t CROSS JOIN top_pair p
        ),
        runs AS (
          SELECT doc_id, pos, tok, t1, t2, flag,
                 CASE WHEN flag = 1 THEN pos - ROW_NUMBER() OVER (
                        PARTITION BY doc_id, flag ORDER BY pos)
                      ELSE NULL END AS grp
          FROM flagged
        ),
        decided AS (
          SELECT doc_id, pos, tok, t1, t2, flag,
                 CASE WHEN flag = 1
                       AND (pos - MIN(pos) OVER (
                              PARTITION BY doc_id, grp)) % 2 = 0
                      THEN 1 ELSE 0 END AS merged
          FROM runs
        ),
        emitted AS (
          SELECT doc_id, pos, merged,
                 CASE WHEN merged = 1 THEN tok || '_' || t2
                      WHEN LAG(merged) OVER (
                             PARTITION BY doc_id ORDER BY pos) = 1
                      THEN NULL
                      ELSE tok END AS out_tok
          FROM decided
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_before,
               CAST(COUNT(out_tok) AS BIGINT) AS n_after,
               CAST(SUM(merged) AS BIGINT) AS n_merges,
               md5(array_to_string(
                 list(out_tok ORDER BY pos) FILTER (out_tok IS NOT NULL),
                 ' ')) AS merged_md5
        FROM emitted
        GROUP BY doc_id
    """,
    doc="One BPE merge step applied to the corpus: the globally most "
        "frequent adjacent token pair (ties: lexicographic) is merged "
        "left-to-right, non-overlapping — the APPLY half of byte-pair "
        "encoding training whose COUNT half is the registered "
        "bpe_pair_counts. Overlap resolution ('a a a' merges "
        "positions 0-1, not 1-2) is the gaps-and-islands form: within "
        "each run of consecutive pair-starts, every other position "
        "merges — which also degenerates correctly to the t1 != t2 "
        "case (runs there provably have length 1). Verification "
        "hashes the fully merged token sequence per document, so the "
        "contract is the exact output corpus, not just counts. One "
        "explode + per-doc windows (doc-partitioned), top pair rides "
        "a one-row broadcast; at 100 TB the iteration loops this "
        "step, writing each generation back to the lake.",
    tags=("tokenize", "curation"),
)
def bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks0 = docs.select("doc_id",
                        F.posexplode(F.split("text", " "))
                         .alias("pos0", "tok"))
    wdoc = Window.partitionBy("doc_id").orderBy("pos0")
    toks = toks0.withColumn("nxt", F.lead("tok").over(wdoc))
    top_pair = (toks.filter(F.col("nxt").isNotNull())
                .groupBy(F.col("tok").alias("t1"),
                         F.col("nxt").alias("t2"))
                .agg(F.count(F.lit(1)).alias("c"))
                .orderBy(F.desc("c"), "t1", "t2").limit(1)
                .select("t1", "t2"))
    flagged = (toks.crossJoin(F.broadcast(top_pair))
               .withColumn("flag",
                           F.when((F.col("tok") == F.col("t1"))
                                  & (F.col("nxt") == F.col("t2")), 1)
                            .otherwise(0)))
    wrun = Window.partitionBy("doc_id", "flag").orderBy("pos0")
    runs = flagged.withColumn(
        "grp", F.when(F.col("flag") == 1,
                      F.col("pos0") - F.row_number().over(wrun)))
    wgrp = Window.partitionBy("doc_id", "grp")
    decided = runs.withColumn(
        "merged",
        F.when((F.col("flag") == 1)
               & ((F.col("pos0") - F.min("pos0").over(wgrp)) % 2 == 0),
               1).otherwise(0))
    emitted = decided.withColumn(
        "out_tok",
        F.when(F.col("merged") == 1,
               F.concat_ws("_", "tok", "t2"))
         .when(F.lag("merged").over(wdoc) == 1, F.lit(None))
         .otherwise(F.col("tok")))
    return (emitted.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_before"),
                 F.count("out_tok").alias("n_after"),
                 F.sum("merged").alias("n_merges"),
                 F.md5(F.array_join(
                     F.expr("transform(array_sort(collect_list("
                            "struct(pos0, out_tok))), p -> p.out_tok)"),
                     " ")).alias("merged_md5")))


# ------------------------------------------ RAKE keyphrase extraction

RAKE_TOP_K = 50
RAKE_MAX_PHRASE = 4  # cap phrase length: degenerate stopword-free docs
                     # must not produce document-sized "phrases"


def _rake_stop_sql() -> str:
    from de_project_airflow_etl_spark.operators.text import (
        STOPWORDS, _sql_in_list,
    )
    return _sql_in_list(STOPWORDS["en"])


@query(
    "text_keyphrase_rake",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id,
                 generate_subscripts(string_split(text, ' '), 1) AS pos,
                 unnest(string_split(text, ' ')) AS tok
          FROM documents
        ),
        content AS (
          SELECT doc_id, pos, tok,
                 pos - ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY pos) AS grp
          FROM toks WHERE tok NOT IN ({_rake_stop_sql()})
        ),
        phrases AS (
          SELECT doc_id, grp,
                 array_to_string(list(tok ORDER BY pos), ' ') AS phrase,
                 (list(tok ORDER BY pos))[1:{RAKE_MAX_PHRASE}] AS words,
                 CAST(LEAST(COUNT(*), {RAKE_MAX_PHRASE}) AS BIGINT)
                   AS plen
          FROM content GROUP BY doc_id, grp
        ),
        word_stats AS (
          SELECT w AS word,
                 CAST(COUNT(*) AS BIGINT) AS freq,
                 CAST(SUM(plen) AS BIGINT) AS degree
          FROM (SELECT plen, unnest(words) AS w FROM phrases)
          GROUP BY w
        ),
        scored AS (
          SELECT p.phrase,
                 CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                 ANY_VALUE(p.score) AS score
          FROM (
            SELECT ph.doc_id, ph.grp, ph.phrase,
                   list_reduce(
                     list_prepend(CAST(0 AS DOUBLE),
                       list(CAST(ws.degree AS DOUBLE)
                            / CAST(ws.freq AS DOUBLE)
                            ORDER BY ws.word)),
                     (acc, v) -> acc + v) AS score
            FROM (SELECT doc_id, grp, phrase, unnest(words) AS w
                  FROM phrases) ph
            JOIN word_stats ws ON ws.word = ph.w
            GROUP BY ph.doc_id, ph.grp, ph.phrase
          ) p
          GROUP BY p.phrase
        )
        SELECT phrase, n_occurrences, score
        FROM scored
        ORDER BY score DESC, n_occurrences DESC, phrase
        LIMIT {RAKE_TOP_K}
    """,
    doc="RAKE keyphrase extraction (Rose et al. 2010): candidate "
        "phrases are maximal stopword-free token runs (the "
        "gaps-and-islands segmentation, capped at 4 words so a "
        "stopword-free degenerate document cannot form a "
        "document-sized phrase), each word scores degree/frequency "
        "over the phrase co-occurrence graph, and a phrase scores the "
        "sum of its member word scores — folded in WORD-SORTED order "
        "so both engines accumulate the identical IEEE sequence "
        "(knn-fold discipline; degree and frequency themselves are "
        "exact integers). Corpus-level top-50 rides a "
        "TakeOrderedAndProject heap with full tie-breaks. Shuffles: "
        "the phrase regroup, the word-stats aggregate, and one "
        "broadcast-able join of words back to phrases.",
    tags=("text", "keyphrases"),
)
def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.operators.text import STOPWORDS
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id",
                       F.posexplode(F.split("text", " "))
                        .alias("pos", "tok"))
    stop = F.lit(list(STOPWORDS["en"]))  # tiny literal array
    content = (toks.filter(~F.array_contains(stop, F.col("tok")))
               .withColumn("grp",
                           F.col("pos") - F.row_number().over(
                               Window.partitionBy("doc_id")
                                     .orderBy("pos"))))
    phrases = (content.groupBy("doc_id", "grp")
               .agg(F.expr("array_join(transform(array_sort("
                           "collect_list(struct(pos, tok))), "
                           "p -> p.tok), ' ')").alias("phrase"),
                    F.expr(f"slice(transform(array_sort("
                           f"collect_list(struct(pos, tok))), "
                           f"p -> p.tok), 1, {RAKE_MAX_PHRASE})")
                     .alias("words"),
                    F.least(F.count(F.lit(1)),
                            F.lit(RAKE_MAX_PHRASE)).cast("long")
                     .alias("plen")))
    word_stats = (phrases.select("plen", F.explode("words").alias("word"))
                  .groupBy("word")
                  .agg(F.count(F.lit(1)).alias("freq"),
                       F.sum("plen").alias("degree")))
    per_phrase = (phrases.select("doc_id", "grp", "phrase",
                                 F.explode("words").alias("w"))
                  .join(word_stats,
                        F.col("w") == F.col("word"))
                  .groupBy("doc_id", "grp", "phrase")
                  .agg(F.expr(
                      "aggregate(array_sort(collect_list(struct("
                      "word, CAST(degree AS DOUBLE) "
                      "/ CAST(freq AS DOUBLE) AS ds))), "
                      "CAST(0 AS DOUBLE), "
                      "(acc, x) -> acc + x.ds)").alias("score")))
    return (per_phrase.groupBy("phrase")
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.any_value("score").alias("score"))
            .orderBy(F.desc("score"), F.desc("n_occurrences"), "phrase")
            .limit(RAKE_TOP_K))


# ---------------------------------------- point-in-time backlog


@query(
    "orders_backlog_monthend",
    oracle=f"""
        WITH ship AS (
          SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS last_ship
          FROM lineitem GROUP BY l_orderkey
        ),
        o AS (
          SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
                 {_O_CENTS} AS cents, s.last_ship
          FROM orders JOIN ship s ON o_orderkey = s.l_orderkey
        ),
        spine AS (
          SELECT DISTINCT last_day(CAST(o_orderdate AS DATE)) AS d
          FROM orders
        )
        SELECT CAST(sp.d AS TIMESTAMP) AS month_end,
               CAST(COUNT(*) AS BIGINT) AS n_open,
               CAST(SUM(o.cents) AS BIGINT) AS open_cents,
               CAST(MAX(date_diff('day', o.od, sp.d)) AS BIGINT)
                 AS max_age_days
        FROM o JOIN spine sp
          ON o.od <= sp.d AND o.last_ship > sp.d
        GROUP BY sp.d
    """,
    doc="Point-in-time open-order backlog at every month end: an "
        "order is open at D if placed on or before D and its last "
        "line ships after D — the as-of inventory question that "
        "trips naive current-state rollups. The month-end spine is "
        "calendar-bounded, so the interval-containment join is a "
        "BroadcastNestedLoopJoin whose BUILD side is the ~10^2-row "
        "spine (the bounded-broadcast pattern of ann_recall_audit, "
        "not an all-pairs degeneration); each order expands into at "
        "most its open-months count. Per-order last-ship is one "
        "map-side-combinable aggregate; ages are exact integer "
        "days.",
    tags=("reporting", "timeseries"),
)
def orders_backlog_monthend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ship = (load(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.max(F.to_date("l_shipdate")).alias("last_ship")))
    orders = load(spark, sf_dir, "orders")
    o = (orders.join(ship, orders.o_orderkey == ship.l_orderkey)
         .select(F.to_date("o_orderdate").alias("od"),
                 F.expr(_O_CENTS).alias("cents"), "last_ship"))
    spine = (orders.select(F.last_day(F.to_date("o_orderdate"))
                           .alias("d")).distinct())
    return (o.crossJoin(F.broadcast(spine))
             .filter((F.col("od") <= F.col("d"))
                     & (F.col("last_ship") > F.col("d")))
             .groupBy("d")
             .agg(F.count(F.lit(1)).alias("n_open"),
                  F.sum("cents").alias("open_cents"),
                  F.max(F.datediff("d", "od")).cast("long")
                   .alias("max_age_days"))
             .select(F.col("d").cast("timestamp").alias("month_end"),
                     "n_open", "open_cents", "max_age_days"))


# ---------------------------------------- CUSUM change detection

CUSUM_K_NUM, CUSUM_K_DEN = 1, 2   # slack k = 0.5 * |grand mean|
CUSUM_H_NUM, CUSUM_H_DEN = 4, 1   # alarm threshold h = 4 * k


@query(
    "daily_value_cusum_drift",
    oracle=f"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ),
        grand AS (
          SELECT event_type,
                 CAST(SUM(cents) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                   AS mu
          FROM daily GROUP BY event_type
        ),
        dev AS (
          SELECT d.event_type, d.day,
                 CAST(d.cents AS DOUBLE) / CAST(d.n AS DOUBLE)
                   - g.mu AS dev,
                 g.mu * {CUSUM_K_NUM} / {CUSUM_K_DEN} AS k
          FROM daily d JOIN grand g USING (event_type)
        ),
        arr AS (
          SELECT event_type,
                 list({{'day': day, 'dev': dev}} ORDER BY day) AS a,
                 ANY_VALUE(k) AS k
          FROM dev GROUP BY event_type
        )
        SELECT d.event_type, CAST(d.day AS TIMESTAMP) AS day,
               list_reduce(
                 list_prepend(CAST(0 AS DOUBLE),
                   list_transform(
                     list_filter(arr.a, x -> x.day <= d.day),
                     x -> x.dev)),
                 (acc, v) -> GREATEST(CAST(0 AS DOUBLE),
                                      acc + v - arr.k)) AS cusum_pos,
               CASE WHEN list_reduce(
                 list_prepend(CAST(0 AS DOUBLE),
                   list_transform(
                     list_filter(arr.a, x -> x.day <= d.day),
                     x -> x.dev)),
                 (acc, v) -> GREATEST(CAST(0 AS DOUBLE),
                                      acc + v - arr.k))
                 > arr.k * {CUSUM_H_NUM} / {CUSUM_H_DEN}
               THEN 1 ELSE 0 END AS alarm
        FROM dev d JOIN arr ON arr.event_type = d.event_type
    """,
    doc="One-sided CUSUM drift detection on daily mean event value per "
        "type (Page 1954, the classic sequential change-point chart): "
        "S_t = max(0, S_(t-1) + dev_t - k), alarm when S_t > h, with "
        "slack k = mu/2 and h = 4k. CUSUM is inherently a sequential "
        "recurrence, so it folds over the CALENDAR-BOUNDED daily "
        "deviation array per type (the Kaplan-Meier prefix-fold "
        "pattern: ~30 entries here, ~10^3 at any scale, broadcast "
        "with the per-type slack) — the corpus-scale work is only the "
        "daily rollup, one map-side-combinable aggregate. Deviations "
        "divide identical exact cent/count longs, and both engines "
        "execute the identical IEEE fold sequence.",
    tags=("timeseries", "anomaly"),
)
def daily_value_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"))
    # both the daily rollup and the deviation table feed two consumers
    # each; checkpoint the calendar-bounded relations so the fact
    # scan runs once (was 4 scans, one per reference).
    daily = (e.groupBy("event_type", "day")
              .agg(F.sum("cents").alias("cents"),
                   F.count(F.lit(1)).alias("n"))
              .localCheckpoint())
    grand = (daily.groupBy("event_type")
             .agg((F.sum("cents").cast("double")
                   / F.sum("n").cast("double")).alias("mu")))
    dev = (daily.join(F.broadcast(grand), "event_type")
           .select("event_type", "day",
                   (F.col("cents").cast("double")
                    / F.col("n").cast("double") - F.col("mu"))
                       .alias("dev"),
                   (F.col("mu") * CUSUM_K_NUM / CUSUM_K_DEN).alias("k"))
           .localCheckpoint())
    arr = (dev.groupBy("event_type")
           .agg(F.expr("array_sort(collect_list(struct(day, dev)))")
                 .alias("a"),
                F.any_value("k").alias("k")))
    cusum = ("aggregate(transform(filter(a, x -> x.day <= day), "
             "x -> x.dev), CAST(0 AS DOUBLE), "
             "(acc, v) -> GREATEST(CAST(0 AS DOUBLE), acc + v - k))")
    return (dev.drop("k")
               .join(F.broadcast(arr), "event_type")
               .select("event_type",
                       F.col("day").cast("timestamp").alias("day"),
                       F.expr(cusum).alias("cusum_pos"),
                       F.expr(f"CASE WHEN {cusum} > k * {CUSUM_H_NUM} "
                              f"/ {CUSUM_H_DEN} THEN 1 ELSE 0 END")
                        .alias("alarm")))


# --------------------------------------- LOF density-based outliers

LOF_K = 3
LOF_BITS = 4   # coarser sign-LSH than the ANN family's 8 bits: the
               # neighborhood blocks need tens of members, not ~n/256
# p-side salt splits per bucket (guide §2.5 salted-join recipe): the
# all-pairs join is keyed by the FIXED 2^LOF_BITS=16 bucket space, so
# at cluster scale <=16 tasks carry the quadratic stage and inherit
# the buckets' size skew; salting multiplies the key space by
# the salt factor at the cost of replicating the o side that many
# times. The factor follows the embeddings' bytes, one salt per
# advisory partition size (the rule stream state partitions follow),
# capped at defaultParallelism // 2^LOF_BITS so the salted key space
# never exceeds the cluster's task slots. Every test scale factor fits
# one advisory partition, so the salt is 1 on any host: the
# measured-faster local shape (interleaved warm A/B at sf0.1:
# unsalted 3.33s vs salt=8 3.85s vs salt=4 3.70s; replication costs
# more than the extra parallelism buys while the qual relation fits
# one task's memory). Both branches are oracle-exact
# (tests/test_plans_r10opt.py pins salted == unsalted row-for-row).


def _lof_salt(spark: SparkSession, embedding_bytes: int) -> int:
    from de_project_airflow_etl_spark.streaming.ingest import (
        byte_sized_partitions,
    )
    return byte_sized_partitions(
        spark, embedding_bytes,
        spark.sparkContext.defaultParallelism // (1 << LOF_BITS))


def _lof_bucket_sql(col: str) -> str:
    return (f"list_reduce(list_prepend(0, list_transform("
            f"generate_series(1, {LOF_BITS}),"
            f" i -> CASE WHEN {col}[i] > 0.0 THEN (1 << (i - 1)) "
            f"ELSE 0 END)), (acc, v) -> acc + v)")


_LOF_D2 = ("list_reduce(list_prepend(CAST(0 AS DOUBLE), "
           "list_transform(generate_series(1, len(p.embedding)), "
           "i -> (CAST(p.embedding[i] AS DOUBLE) "
           "- CAST(o.embedding[i] AS DOUBLE)) "
           "* (CAST(p.embedding[i] AS DOUBLE) "
           "- CAST(o.embedding[i] AS DOUBLE)))), (acc, v) -> acc + v)")


@query(
    "lof_bucket_outliers",
    oracle=f"""
        WITH b AS (
          SELECT vec_id, embedding,
                 {_lof_bucket_sql('embedding')} AS bucket
          FROM embeddings
        ),
        sized AS (
          SELECT vec_id, embedding, bucket,
                 COUNT(*) OVER (PARTITION BY bucket) AS bsize
          FROM b
        ),
        qual AS (SELECT * FROM sized WHERE bsize > {LOF_K}),
        knn AS (
          SELECT p_vec, o_vec, d2, rk, bucket, bsize FROM (
            SELECT p.vec_id AS p_vec, o.vec_id AS o_vec,
                   p.bucket AS bucket, p.bsize AS bsize,
                   {_LOF_D2} AS d2,
                   ROW_NUMBER() OVER (
                     PARTITION BY p.vec_id
                     ORDER BY {_LOF_D2}, o.vec_id) AS rk
            FROM qual p JOIN qual o
              ON p.bucket = o.bucket AND p.vec_id <> o.vec_id
          ) WHERE rk <= {LOF_K}
        ),
        kdist AS (
          SELECT p_vec AS vec_id, d2 AS kd2 FROM knn WHERE rk = {LOF_K}
        ),
        reach AS (
          SELECT k.p_vec, k.rk, k.bucket, k.bsize, k.o_vec,
                 sqrt(GREATEST(kd.kd2, k.d2)) AS rdist
          FROM knn k JOIN kdist kd ON kd.vec_id = k.o_vec
        ),
        lrd AS (
          SELECT p_vec AS vec_id, ANY_VALUE(bucket) AS bucket,
                 ANY_VALUE(bsize) AS bsize,
                 {LOF_K}.0 / list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                                list(rdist ORDER BY rk)),
                   (acc, v) -> acc + v) AS lrd
          FROM reach GROUP BY p_vec
        )
        SELECT r.p_vec AS vec_id,
               ANY_VALUE(r.bucket) AS bucket,
               CAST(ANY_VALUE(r.bsize) AS BIGINT) AS bucket_size,
               list_reduce(
                 list_prepend(CAST(0 AS DOUBLE),
                              list(lo.lrd ORDER BY r.rk)),
                 (acc, v) -> acc + v)
                 / ({LOF_K}.0 * ANY_VALUE(lp.lrd)) AS lof
        FROM reach r
        JOIN lrd lo ON lo.vec_id = r.o_vec
        JOIN lrd lp ON lp.vec_id = r.p_vec
        GROUP BY r.p_vec
    """,
    doc="Local Outlier Factor (Breunig et al. 2000) within sign-LSH "
        "neighborhoods: k-distance, reachability distance "
        "max(k-dist(o), d(p,o)), local reachability density, and "
        "LOF = mean neighbor-lrd / own-lrd — the density-based "
        "outlier score that catches what global z-score/MAD gates "
        "cannot (a point normal globally but isolated locally). The "
        "all-pairs step is BLOCKED by a 4-bit sign-LSH bucket (the "
        "dedup_embedding_cosine discipline — bucket width, not corpus "
        "size, bounds the quadratic term; the bit count is the "
        "lever), kNN sets are pinned to exactly k by (distance, "
        "vec_id) ties, and every distance/lrd sum folds in "
        "rank order so both engines accumulate identical IEEE "
        "sequences. Buckets smaller than k+1 are excluded by "
        "definition.",
    tags=("similarity", "anomaly"),
)
def lof_bucket_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.streaming.ingest import source_bytes
    salt = _lof_salt(spark, source_bytes(
        spark, os.path.join(sf_dir, "embeddings.parquet")))
    return _lof_scores(_lof_pairs(spark, sf_dir, salt))


def _lof_pairs(spark: SparkSession, sf_dir: str, lof_salt: int) -> DataFrame:
    """The blocked all-pairs distance relation (p_vec, o_vec, bucket,
    bsize, d2), its join salted ``lof_salt`` ways — factored out of the
    query so a test can prove the salted join engages."""
    e = load(spark, sf_dir, "embeddings")
    bucket = F.expr(
        f"aggregate(sequence(1, {LOF_BITS}), 0,"
        f" (acc, i) -> acc + IF(element_at(embedding, i) > 0,"
        f" shiftleft(1, i - 1), 0))")
    b = e.select("vec_id", "embedding", bucket.alias("bucket"))
    # bucket sizes via aggregate + broadcast join-back, NOT a window
    # partitioned by bucket: the bucket space is FIXED (2^LOF_BITS),
    # so window partitions would be data-sized at scale — the
    # aggregate is map-side combinable and the size relation is a
    # bounded broadcast.
    sizes = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("bsize"))
    qual = b.join(F.broadcast(sizes.filter(F.col("bsize") > LOF_K)),
                  "bucket")
    p = qual.select(F.col("vec_id").alias("p_vec"),
                    F.col("embedding").alias("p_emb"),
                    "bucket", "bsize")
    o = qual.select(F.col("vec_id").alias("o_vec"),
                    F.col("embedding").alias("o_emb"),
                    F.col("bucket").alias("obucket"))
    d2 = F.expr("aggregate(zip_with(p_emb, o_emb, (x, y) -> "
                "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) "
                "* (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
                "CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
    # Deterministic p-side salt + o-side replication when the derived
    # salt is >1 (identical pair set: each p row meets each bucket-mate
    # exactly once, on its own salt) — see the _lof_salt note for the
    # measured local default and the scale-adaptive derivation.
    if lof_salt > 1:
        p_s = p.withColumn(
            "psalt",
            F.pmod(F.xxhash64("p_vec"), F.lit(lof_salt)).cast("int"))
        o_s = o.select("o_vec", "o_emb", "obucket",
                       F.explode(F.expr(f"sequence(0, {lof_salt - 1})"))
                        .alias("osalt"))
        return (p_s.join(o_s, (F.col("bucket") == F.col("obucket"))
                         & (F.col("psalt") == F.col("osalt"))
                         & (F.col("p_vec") != F.col("o_vec")))
                .select("p_vec", "o_vec", "bucket", "bsize",
                        d2.alias("d2")))
    return (p.join(o, (F.col("bucket") == F.col("obucket"))
                   & (F.col("p_vec") != F.col("o_vec")))
            .select("p_vec", "o_vec", "bucket", "bsize",
                    d2.alias("d2")))


def _lof_scores(pairs: DataFrame) -> DataFrame:
    w = Window.partitionBy("p_vec").orderBy(F.asc("d2"), F.asc("o_vec"))
    # knn is consumed by THREE downstream relations (kdist, reach,
    # and through them both lrd sides): materialize the k*|points|
    # rows once so the within-bucket all-pairs distance join above is
    # never re-derived (A/B'd 2026-08-15: values identical, and the
    # checkpoint removes the repeated pairs subtree from the plan).
    knn = (pairs.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= LOF_K).localCheckpoint())
    kdist = (knn.filter(F.col("rk") == LOF_K)
                .select(F.col("p_vec").alias("kv"),
                        F.col("d2").alias("kd2")))
    reach = (knn.join(kdist, knn.o_vec == kdist.kv)
                .select("p_vec", "rk", "bucket", "bsize", "o_vec",
                        F.sqrt(F.greatest("kd2", "d2")).alias("rdist")))
    lrd = (reach.groupBy("p_vec")
           .agg(F.any_value("bucket").alias("bucket"),
                F.any_value("bsize").alias("bsize"),
                (F.lit(float(LOF_K)) / F.expr(
                    "aggregate(transform(array_sort(collect_list("
                    "struct(rk, rdist))), s -> s.rdist), "
                    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"))
                    .alias("lrd")))
    lo = lrd.select(F.col("p_vec").alias("lo_vec"),
                    F.col("lrd").alias("lrd_o"))
    lp = lrd.select(F.col("p_vec").alias("lp_vec"),
                    F.col("lrd").alias("lrd_p"))
    return (reach.join(lo, reach.o_vec == lo.lo_vec)
                 .join(lp, reach.p_vec == lp.lp_vec)
                 .groupBy("p_vec")
                 .agg(F.any_value("bucket").alias("bucket"),
                      F.any_value("bsize").cast("long")
                       .alias("bucket_size"),
                      (F.expr("aggregate(transform(array_sort("
                              "collect_list(struct(rk, lrd_o))), "
                              "s -> s.lrd_o), CAST(0 AS DOUBLE), "
                              "(acc, v) -> acc + v)")
                       / (F.lit(float(LOF_K)) * F.any_value("lrd_p")))
                          .alias("lof"))
                 .withColumnRenamed("p_vec", "vec_id"))


# ===================================================================
# Exact nonparametric statistics over the calendar-bounded daily
# revenue series. All four tests reduce the corpus-scale work to ONE
# map-side-combinable daily rollup (day, exact cents, count); the
# test statistics then run over <= #calendar-days rows, so their
# unpartitioned windows are provably bounded (the per-date-maxima
# precedent from staged/round5.py). Rank/count arithmetic stays in
# integers end-to-end; the single double division happens last.
# ===================================================================

_DAILY_REV_SQL = """
        daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS cents,
                 CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY 1
        )
"""


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (load(spark, sf_dir, "orders")
            .groupBy(F.to_date("o_orderdate").alias("day"))
            .agg(F.sum(F.expr(_O_CENTS)).alias("cents"),
                 F.count(F.lit(1)).alias("n_orders")))


@query(
    "mann_whitney_daily_value",
    oracle=f"""
        WITH {_DAILY_REV_SQL},
        grp AS (
          SELECT cents,
                 CASE WHEN dayofweek(day) IN (0, 6) THEN 0 ELSE 1 END
                   AS is_wd
          FROM daily
        ),
        per_v AS (
          SELECT cents,
                 CAST(SUM(is_wd) AS BIGINT) AS n1v,
                 CAST(SUM(1 - is_wd) AS BIGINT) AS n2v
          FROM grp GROUP BY cents
        ),
        cum AS (
          SELECT n1v, n2v,
                 COALESCE(SUM(n2v) OVER (
                   ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum2_lt
          FROM per_v
        ),
        s AS (
          SELECT CAST(SUM(n1v) AS BIGINT) AS n_weekday,
                 CAST(SUM(n2v) AS BIGINT) AS n_weekend,
                 CAST(SUM(n1v * (2 * cum2_lt + n2v)) AS BIGINT)
                   AS u_twice
          FROM cum
        )
        SELECT n_weekday, n_weekend, u_twice,
               CAST(u_twice AS DOUBLE)
                 / (2.0 * CAST(n_weekday AS DOUBLE)
                    * CAST(n_weekend AS DOUBLE)) AS auc
        FROM s
    """,
    doc="Mann-Whitney U rank-sum test between weekday and weekend "
        "daily revenue, with the AUC interpretation U/(n1*n2) "
        "(P(weekday day out-earns a weekend day), ties at 1/2). "
        "Computed in the exact pairwise form: per distinct daily "
        "value, 2*U accumulates n1_v * (2 * #weekend-values-below + "
        "n2_v), so tie handling is integer-exact (no 0.5 average "
        "ranks ever materialize). The only window runs over distinct "
        "DAILY totals — calendar-bounded — and the corpus-scale work "
        "is the one daily rollup. dayofweek parity: DuckDB dayofweek "
        "is 0=Sunday; Spark dayofweek is 1=Sunday, shifted by -1.",
    tags=("statistics",),
)
def mann_whitney_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_revenue(spark, sf_dir)
    grp = daily.select(
        "cents",
        F.when(((F.dayofweek("day") - 1) % 7).isin(0, 6), F.lit(0))
         .otherwise(F.lit(1)).alias("is_wd"))
    per_v = grp.groupBy("cents").agg(
        F.sum("is_wd").cast("long").alias("n1v"),
        F.sum(1 - F.col("is_wd")).cast("long").alias("n2v"))
    below = (Window.orderBy("cents")
             .rowsBetween(Window.unboundedPreceding, -1))
    cum = per_v.select(
        "n1v", "n2v",
        F.coalesce(F.sum("n2v").over(below), F.lit(0)).alias("cum2_lt"))
    s = cum.agg(
        F.sum("n1v").cast("long").alias("n_weekday"),
        F.sum("n2v").cast("long").alias("n_weekend"),
        F.sum(F.col("n1v") * (2 * F.col("cum2_lt") + F.col("n2v")))
         .cast("long").alias("u_twice"))
    return s.select(
        "n_weekday", "n_weekend", "u_twice",
        (F.col("u_twice").cast("double")
         / (F.lit(2.0) * F.col("n_weekday").cast("double")
            * F.col("n_weekend").cast("double"))).alias("auc"))


@query(
    "ks_statistic_daily_value",
    oracle=f"""
        WITH {_DAILY_REV_SQL},
        grp AS (
          SELECT cents,
                 CASE WHEN dayofweek(day) IN (0, 6) THEN 0 ELSE 1 END
                   AS is_wd
          FROM daily
        ),
        per_v AS (
          SELECT cents,
                 CAST(SUM(is_wd) AS BIGINT) AS n1v,
                 CAST(SUM(1 - is_wd) AS BIGINT) AS n2v
          FROM grp GROUP BY cents
        ),
        cum AS (
          SELECT SUM(n1v) OVER (
                   ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS c1,
                 SUM(n2v) OVER (
                   ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS c2,
                 SUM(n1v) OVER () AS n1,
                 SUM(n2v) OVER () AS n2
          FROM per_v
        )
        SELECT CAST(ANY_VALUE(n1) AS BIGINT) AS n_weekday,
               CAST(ANY_VALUE(n2) AS BIGINT) AS n_weekend,
               CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS BIGINT) AS d_num,
               CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS DOUBLE)
                 / (CAST(ANY_VALUE(n1) AS DOUBLE)
                    * CAST(ANY_VALUE(n2) AS DOUBLE)) AS d_stat
        FROM cum
    """,
    doc="Two-sample Kolmogorov-Smirnov statistic between weekday and "
        "weekend daily revenue: D = max_v |F1(v) - F2(v)| evaluated "
        "over the pooled distinct daily totals, kept exact by the "
        "common-denominator form |c1(v)*n2 - c2(v)*n1| (an integer!) "
        "divided once at the end. Same bounded-window / one-rollup "
        "scale shape as mann_whitney_daily_value.",
    tags=("statistics",),
)
def ks_statistic_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_revenue(spark, sf_dir)
    grp = daily.select(
        "cents",
        F.when(((F.dayofweek("day") - 1) % 7).isin(0, 6), F.lit(0))
         .otherwise(F.lit(1)).alias("is_wd"))
    per_v = grp.groupBy("cents").agg(
        F.sum("is_wd").cast("long").alias("n1v"),
        F.sum(1 - F.col("is_wd")).cast("long").alias("n2v"))
    upto = (Window.orderBy("cents")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    whole = Window.partitionBy()
    cum = per_v.select(
        F.sum("n1v").over(upto).alias("c1"),
        F.sum("n2v").over(upto).alias("c2"),
        F.sum("n1v").over(whole).alias("n1"),
        F.sum("n2v").over(whole).alias("n2"))
    gap = F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
    return cum.agg(
        F.any_value("n1").cast("long").alias("n_weekday"),
        F.any_value("n2").cast("long").alias("n_weekend"),
        F.max(gap).cast("long").alias("d_num"),
        (F.max(gap).cast("double")
         / (F.any_value("n1").cast("double")
            * F.any_value("n2").cast("double"))).alias("d_stat"))


@query(
    "spearman_daily_price_volume",
    oracle=f"""
        WITH {_DAILY_REV_SQL},
        r AS (
          SELECT 2 * RANK() OVER (ORDER BY n_orders)
                   + COUNT(*) OVER (PARTITION BY n_orders) - 1 AS rx,
                 2 * RANK() OVER (ORDER BY cents)
                   + COUNT(*) OVER (PARTITION BY cents) - 1 AS ry
          FROM daily
        ),
        s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(rx AS HUGEINT)) AS srx,
                 SUM(CAST(ry AS HUGEINT)) AS sry,
                 SUM(CAST(rx AS HUGEINT) * rx) AS srxrx,
                 SUM(CAST(rx AS HUGEINT) * ry) AS srxry,
                 SUM(CAST(ry AS HUGEINT) * ry) AS sryry
          FROM r
        )
        SELECT n AS n_days,
               CAST(CAST((CAST(n AS HUGEINT) * srxry - srx * sry)
                    AS VARCHAR) AS DOUBLE)
                 / sqrt(CAST(CAST((CAST(n AS HUGEINT) * srxrx
                                   - srx * srx) AS VARCHAR) AS DOUBLE)
                        * CAST(CAST((CAST(n AS HUGEINT) * sryry
                                     - sry * sry) AS VARCHAR)
                               AS DOUBLE)) AS rho
        FROM s
    """,
    doc="Exact Spearman rank correlation between daily order volume "
        "and daily revenue. Tie handling uses doubled average ranks "
        "(2*avg_rank = 2*min_rank + tie_count - 1, an integer), so "
        "the rank transform is exact; rho is then Pearson on the "
        "integer doubled ranks via the corr_matrix_lineitem "
        "sufficient-statistics discipline (DECIMAL(38,0)/HUGEINT "
        "accumulators, wide-int -> double through a string cast, one "
        "IEEE division at the end — the doubling factors cancel). "
        "Rank windows run over the calendar-bounded daily rollup.",
    tags=("statistics",),
)
def spearman_daily_price_volume(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.queries.analytics import (
        _corr_expr, corr_sum_aggs)
    daily = _daily_revenue(spark, sf_dir)
    r = daily.select(
        (2 * F.rank().over(Window.orderBy("n_orders"))
         + F.count(F.lit(1)).over(Window.partitionBy("n_orders"))
         - 1).alias("rx"),
        (2 * F.rank().over(Window.orderBy("cents"))
         + F.count(F.lit(1)).over(Window.partitionBy("cents"))
         - 1).alias("ry"))
    s = r.agg(*corr_sum_aggs(("rx", "ry")))
    return s.selectExpr(
        "n AS n_days",
        f"{_corr_expr('rx', 'ry', 'DECIMAL(38,0)', 'STRING')} AS rho")


# ------------------------------------------- Benford digit audit

_BENFORD = {
    1: "0.3010299956639812", 2: "0.17609125905568124",
    3: "0.12493873660829992", 4: "0.09691001300805642",
    5: "0.07918124604762482", 6: "0.06694678963061322",
    7: "0.05799194697768673", 8: "0.05115252244738129",
    9: "0.04575749056067514",
}
_BENFORD_CASE = ("CASE digit " + " ".join(
    f"WHEN {d} THEN CAST({v} AS DOUBLE)"
    for d, v in _BENFORD.items()) + " END")


@query(
    "benford_first_digit",
    oracle=f"""
        WITH d AS (
          SELECT CAST(SUBSTRING(CAST({_O_CENTS} AS VARCHAR), 1, 1)
                      AS BIGINT) AS digit
          FROM orders
        ),
        c AS (
          SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
          FROM d GROUP BY digit
        )
        SELECT digit, n,
               CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)
                 AS share,
               {_BENFORD_CASE} AS expected_share,
               ABS(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)
                   - {_BENFORD_CASE}) AS abs_dev
        FROM c
    """,
    doc="Benford's-law first-significant-digit audit of order values "
        "(the classic fraud / synthetic-data screen): count of each "
        "leading digit of the exact cent value, observed share, the "
        "Benford expectation log10(1+1/d), and the absolute "
        "deviation. Expected shares are embedded as identical "
        "literals on both engines so no cross-engine log() call is "
        "trusted. One map-side-combinable aggregate into a 9-row "
        "domain; the shares divide exact longs once.",
    tags=("statistics", "quality"),
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "orders").select(
        F.expr(f"CAST(SUBSTRING(CAST({_O_CENTS} AS STRING), 1, 1) "
               "AS BIGINT)").alias("digit"))
    c = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    whole = Window.partitionBy()
    share = F.col("n").cast("double") / F.sum("n").over(whole).cast("double")
    return c.select(
        "digit", "n", share.alias("share"),
        F.expr(_BENFORD_CASE).alias("expected_share"),
        F.abs(share - F.expr(_BENFORD_CASE)).alias("abs_dev"))


@query(
    "autocorr_daily_revenue",
    oracle=f"""
        WITH {_DAILY_REV_SQL},
        r AS (
          SELECT ROW_NUMBER() OVER (ORDER BY day) AS rn, cents
          FROM daily
        ),
        p AS (
          SELECT b.rn - a.rn AS lag, a.cents AS x, b.cents AS y
          FROM r a
          JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + 7
        ),
        s AS (
          SELECT lag,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(x AS HUGEINT)) AS sx,
                 SUM(CAST(y AS HUGEINT)) AS sy,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx,
                 SUM(CAST(x AS HUGEINT) * y) AS sxy,
                 SUM(CAST(y AS HUGEINT) * y) AS syy
          FROM p GROUP BY lag
        )
        SELECT lag, n AS n_pairs,
               CAST(CAST((CAST(n AS HUGEINT) * sxy - sx * sy)
                    AS VARCHAR) AS DOUBLE)
                 / sqrt(CAST(CAST((CAST(n AS HUGEINT) * sxx - sx * sx)
                              AS VARCHAR) AS DOUBLE)
                        * CAST(CAST((CAST(n AS HUGEINT) * syy
                                     - sy * sy) AS VARCHAR)
                               AS DOUBLE)) AS acf
        FROM s
    """,
    doc="Lag-1..7 autocorrelation function of the daily revenue "
        "series (the weekly-seasonality diagnostic): for each lag k, "
        "Pearson correlation between the series and itself shifted k "
        "ROWS (row-position lag over the day-ordered series, so gap "
        "days cannot silently stretch a lag). Pairs come from ONE "
        "equi-join of the calendar-bounded per-day relation against "
        "itself on rn + k (k exploded 1..7 on the Spark side, a range "
        "band in the oracle); sums accumulate exact cents products in "
        "DECIMAL(38,0)/HUGEINT per the corr_matrix_lineitem "
        "discipline.",
    tags=("statistics", "timeseries"),
)
def autocorr_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.queries.analytics import (
        _corr_expr, corr_sum_aggs)
    daily = _daily_revenue(spark, sf_dir)
    r = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("rn"), "cents")
    a = r.select(
        "cents",
        F.explode(F.array(*[F.lit(k) for k in range(1, 8)])).alias("lag"),
        F.col("rn").alias("rn_a"))
    b = r.select(F.col("rn").alias("rn_b"), F.col("cents").alias("y"))
    p = (a.join(b, a.rn_a + a.lag == b.rn_b)
          .select("lag", F.col("cents").alias("x"), "y"))
    s = p.groupBy("lag").agg(*corr_sum_aggs(("x", "y")))
    return s.selectExpr(
        "lag", "n AS n_pairs",
        f"{_corr_expr('x', 'y', 'DECIMAL(38,0)', 'STRING')} AS acf")


RSI_WINDOW = 14


@query(
    "rsi_daily_revenue",
    oracle=f"""
        WITH {_DAILY_REV_SQL},
        d AS (
          SELECT day,
                 cents - LAG(cents) OVER (ORDER BY day) AS diff
          FROM daily
        ),
        g AS (
          SELECT day,
                 GREATEST(diff, 0) AS gain,
                 GREATEST(-diff, 0) AS loss
          FROM d WHERE diff IS NOT NULL
        ),
        w AS (
          SELECT day,
                 CAST(SUM(gain) OVER (
                   ORDER BY day ROWS BETWEEN {RSI_WINDOW - 1} PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS gain_cents,
                 CAST(SUM(loss) OVER (
                   ORDER BY day ROWS BETWEEN {RSI_WINDOW - 1} PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS loss_cents,
                 COUNT(*) OVER (
                   ORDER BY day ROWS BETWEEN {RSI_WINDOW - 1} PRECEDING
                   AND CURRENT ROW) AS n_window
          FROM g
        )
        SELECT CAST(day AS TIMESTAMP) AS day, gain_cents, loss_cents,
               CASE WHEN gain_cents + loss_cents > 0
                    THEN 100.0 * CAST(gain_cents AS DOUBLE)
                         / CAST(gain_cents + loss_cents AS DOUBLE)
                    ELSE NULL END AS rsi
        FROM w WHERE n_window = {RSI_WINDOW}
    """,
    doc=f"{RSI_WINDOW}-day simple RSI (relative strength index) of "
        "daily revenue: day-over-day diffs in exact cents, gains and "
        "losses summed over a trailing {RSI_WINDOW}-row window, RSI = "
        "100 * gain / (gain + loss) as the single double division "
        "(NULL on an all-flat window). Emitted only for complete "
        "windows so both engines agree on the warm-up edge. All "
        "windows run over the calendar-bounded daily series.",
    tags=("statistics", "timeseries"),
)
def rsi_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_revenue(spark, sf_dir)
    byday = Window.orderBy("day")
    d = daily.select(
        "day", (F.col("cents") - F.lag("cents").over(byday)).alias("diff"))
    g = (d.where(F.col("diff").isNotNull())
          .select("day",
                  F.greatest("diff", F.lit(0)).alias("gain"),
                  F.greatest(-F.col("diff"), F.lit(0)).alias("loss")))
    trail = byday.rowsBetween(-(RSI_WINDOW - 1), Window.currentRow)
    w = g.select(
        "day",
        F.sum("gain").over(trail).cast("long").alias("gain_cents"),
        F.sum("loss").over(trail).cast("long").alias("loss_cents"),
        F.count(F.lit(1)).over(trail).alias("n_window"))
    return (w.where(F.col("n_window") == RSI_WINDOW)
             .select(F.col("day").cast("timestamp").alias("day"),
                     "gain_cents", "loss_cents",
                     F.when(F.col("gain_cents") + F.col("loss_cents") > 0,
                            F.lit(100.0)
                            * F.col("gain_cents").cast("double")
                            / (F.col("gain_cents")
                               + F.col("loss_cents")).cast("double"))
                      .alias("rsi")))


# ===================================================================
# Corpus-curation additions: vocabulary dynamics and cluster-keeper
# selection over the documents table, plus audience-overlap analysis
# on events. Tokenization is the corpus-wide single-space split every
# text query shares (operators/corpus_stats.py), so vocabularies are
# comparable across the whole text family.
# ===================================================================

VOCAB_GROWTH_BUCKETS = 32


@query(
    "vocab_growth_curve",
    oracle=f"""
        WITH bounds AS (
          SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
        ),
        bucketed AS (
          SELECT LEAST({VOCAB_GROWTH_BUCKETS - 1},
                       ((doc_id - lo) * {VOCAB_GROWTH_BUCKETS})
                         // (hi - lo + 1)) AS bucket,
                 text
          FROM documents CROSS JOIN bounds
        ),
        toks AS (
          SELECT bucket, unnest(string_split(text, ' ')) AS tok
          FROM bucketed
        ),
        per_bucket AS (
          SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens
          FROM toks GROUP BY bucket
        ),
        first_seen AS (
          SELECT tok, MIN(bucket) AS bucket FROM toks GROUP BY tok
        ),
        new_types AS (
          SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_new_types
          FROM first_seen GROUP BY bucket
        )
        SELECT p.bucket, p.n_tokens,
               COALESCE(t.n_new_types, 0) AS n_new_types,
               CAST(SUM(p.n_tokens) OVER (
                 ORDER BY p.bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_tokens,
               CAST(SUM(COALESCE(t.n_new_types, 0)) OVER (
                 ORDER BY p.bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_types
        FROM per_bucket p LEFT JOIN new_types t USING (bucket)
    """,
    doc="Heaps'-law vocabulary growth curve: cumulative token count "
        "vs cumulative distinct-type count measured at "
        f"{VOCAB_GROWTH_BUCKETS} fixed doc_id-range checkpoints (the "
        "sub-linear V ~ k*N^beta curve that sizes tokenizer "
        "vocabularies before training). A naive per-doc running "
        "distinct needs a corpus-sized ordered window; bucketing to a "
        "FIXED checkpoint count makes type attribution one "
        "min-aggregate per token (its first bucket) and confines the "
        "cumulative window to 32 rows. Bucket ids use pure integer "
        "div against broadcast min/max bounds — no double rounding at "
        "bucket edges on either engine.",
    tags=("curation", "text"),
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bounds = docs.agg(F.min("doc_id").alias("lo"),
                      F.max("doc_id").alias("hi"))
    b = VOCAB_GROWTH_BUCKETS
    bucketed = docs.crossJoin(F.broadcast(bounds)).select(
        F.least(F.lit(b - 1),
                F.expr(f"((doc_id - lo) * {b}) DIV (hi - lo + 1)"))
         .alias("bucket"),
        "text")
    toks = bucketed.select(
        "bucket", F.explode(F.split("text", " ")).alias("tok"))
    # ONE corpus pass: the (bucket, token) rollup is vocab-sized and
    # feeds BOTH downstream aggregates, so it is checkpointed —
    # document text is scanned and exploded exactly once, which
    # tests/test_plans_r6.py gates.
    base = (toks.groupBy("bucket", "tok")
                .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
                .localCheckpoint(eager=True))
    per_bucket = base.groupBy("bucket").agg(
        F.sum("n_occ").cast("long").alias("n_tokens"))
    first_seen = base.groupBy("tok").agg(F.min("bucket").alias("bucket"))
    new_types = first_seen.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_new_types"))
    cum = (Window.orderBy("bucket")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    joined = (per_bucket.join(new_types, "bucket", "left")
              .select("bucket", "n_tokens",
                      F.coalesce("n_new_types", F.lit(0)).cast("long")
                       .alias("n_new_types")))
    return joined.select(
        "bucket", "n_tokens", "n_new_types",
        F.sum("n_tokens").over(cum).cast("long").alias("cum_tokens"),
        F.sum("n_new_types").over(cum).cast("long").alias("cum_types"))


VOCAB_COVERAGE_K = 100


@query(
    "vocab_coverage_topk",
    oracle=f"""
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        counts AS (
          SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
          FROM toks GROUP BY tok
        ),
        total AS (
          SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM counts
        ),
        top AS (
          SELECT tok, n FROM counts
          ORDER BY n DESC, tok LIMIT {VOCAB_COVERAGE_K}
        )
        SELECT ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rank,
               tok, n,
               CAST(SUM(n) OVER (
                 ORDER BY n DESC, tok
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS cum_share
        FROM top CROSS JOIN total t
    """,
    doc=f"Corpus coverage of the top-{VOCAB_COVERAGE_K} vocabulary: "
        "for each of the most frequent tokens (ties pinned by token), "
        "the cumulative share of ALL token occurrences it and its "
        "predecessors cover — the Zipf concentration read before "
        "fixing a tokenizer's vocab size. Token counting is one "
        "map-side-combinable aggregate; the top-k is "
        "TakeOrderedAndProject (never a full sort); the corpus total "
        "rides a one-row broadcast and the rank/cumsum windows run "
        f"over exactly {VOCAB_COVERAGE_K} rows.",
    tags=("curation", "text"),
)
def vocab_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (load(spark, sf_dir, "documents")
            .select(F.explode(F.split("text", " ")).alias("tok")))
    counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    total = counts.agg(F.sum("n").cast("long").alias("n_total"))
    top = (counts.orderBy(F.col("n").desc(), "tok")
           .limit(VOCAB_COVERAGE_K))
    order = Window.orderBy(F.col("n").desc(), "tok")
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (top.crossJoin(F.broadcast(total))
            .select(F.row_number().over(order).alias("rank"),
                    "tok", "n",
                    (F.sum("n").over(cum).cast("double")
                     / F.col("n_total").cast("double"))
                     .alias("cum_share")))


@query(
    "dup_cluster_canonical_pick",
    oracle="""
        WITH keyed AS (
          SELECT doc_id, n_chars,
                 md5(array_to_string(list_sort(list_distinct(
                   list_filter(string_split(regexp_replace(lower(text),
                     '[^a-z0-9 ]', '', 'g'), ' '),
                     x -> x <> ''))), ' ')) AS norm_key
          FROM documents
        ),
        g AS (
          SELECT norm_key,
                 CAST(COUNT(*) AS BIGINT) AS n_members,
                 CAST(MAX(n_chars) AS BIGINT) AS canonical_len,
                 CAST(SUM(n_chars) AS BIGINT) AS sum_chars
          FROM keyed GROUP BY norm_key
          HAVING COUNT(*) >= 2
        )
        SELECT g.norm_key, g.n_members,
               MIN(k.doc_id) AS canonical_doc_id,
               g.canonical_len,
               g.sum_chars - g.canonical_len AS redundant_chars
        FROM g JOIN keyed k
          ON k.norm_key = g.norm_key AND k.n_chars = g.canonical_len
        GROUP BY g.norm_key, g.n_members, g.canonical_len, g.sum_chars
    """,
    doc="Quality-aware keeper selection per near-duplicate cluster: "
        "within each normalized-text cluster (the dedup_normalized_"
        "text canonicalization, operators/dedup.py), keep the LONGEST "
        "member (ties broken by smallest doc_id) instead of the "
        "blind MIN(doc_id) keeper — the 'keep best, drop rest' "
        "policy real curation pipelines apply after clustering. Two "
        "hash aggregates plus one equi-join on (md5 key, max length); "
        "the shuffle moves 32-byte keys and longs, never text, and no "
        "window is needed (argmax = join-back-on-max + MIN "
        "tiebreak, exact on both engines).",
    tags=("dedup", "curation"),
)
def dup_cluster_canonical_pick(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.operators.dedup import (
        _NORM_KEY_SPARK)
    keyed = load(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.expr(_NORM_KEY_SPARK).alias("norm_key"))
    g = (keyed.groupBy("norm_key")
         .agg(F.count(F.lit(1)).cast("long").alias("n_members"),
              F.max("n_chars").cast("long").alias("canonical_len"),
              F.sum("n_chars").cast("long").alias("sum_chars"))
         .where(F.col("n_members") >= 2))
    k = keyed.select(F.col("norm_key").alias("k_key"), "doc_id",
                     F.col("n_chars").cast("long").alias("k_len"))
    return (g.join(k, (g.norm_key == k.k_key)
                   & (g.canonical_len == k.k_len))
            .groupBy("norm_key", "n_members", "canonical_len",
                     "sum_chars")
            .agg(F.min("doc_id").alias("canonical_doc_id"))
            .select("norm_key", "n_members", "canonical_doc_id",
                    "canonical_len",
                    (F.col("sum_chars") - F.col("canonical_len"))
                     .alias("redundant_chars")))


@query(
    "event_type_user_jaccard",
    oracle="""
        WITH ut AS (
          SELECT DISTINCT user_id, event_type FROM events
        ),
        sizes AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
          FROM ut GROUP BY event_type
        ),
        inter AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 CAST(COUNT(*) AS BIGINT) AS n_both
          FROM ut a JOIN ut b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2
        )
        SELECT i.type_a, i.type_b, sa.n_users AS n_a,
               sb.n_users AS n_b, i.n_both,
               CAST(i.n_both AS DOUBLE)
                 / CAST(sa.n_users + sb.n_users - i.n_both AS DOUBLE)
                 AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.event_type = i.type_a
        JOIN sizes sb ON sb.event_type = i.type_b
    """,
    doc="Audience-overlap matrix: exact Jaccard similarity of the "
        "user sets behind every pair of event types (|A&B| / |A|B|, "
        "all three counts exact longs, one division). The pair "
        "intersection is a self-equi-join of the DISTINCT (user, "
        "type) relation on user_id — each user contributes at most "
        "C(#types, 2) pairs, and the type vocabulary is bounded, so "
        "the join output is O(users), not quadratic; per-type sizes "
        "broadcast back onto the bounded pair relation.",
    tags=("analytics", "similarity"),
)
def event_type_user_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ut feeds three consumers (sizes + both self-join sides);
    # un-materialized each re-ran the distinct over the fact table.
    # Unlike the gram streams (measured loss), ut is the |users x
    # types| reduction — orders of magnitude smaller than events —
    # so materializing it trades three full-data distincts for one.
    ut = (load(spark, sf_dir, "events")
          .select("user_id", "event_type").distinct()
          .localCheckpoint())
    sizes = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select(F.col("user_id").alias("u2"),
                  F.col("event_type").alias("type_b"))
    inter = (a.join(b, (a.user_id == b.u2) & (a.type_a < b.type_b))
             .groupBy("type_a", "type_b")
             .agg(F.count(F.lit(1)).cast("long").alias("n_both")))
    sa = sizes.select(F.col("event_type").alias("ka"),
                      F.col("n_users").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("kb"),
                      F.col("n_users").alias("n_b"))
    return (inter.join(F.broadcast(sa), inter.type_a == sa.ka)
            .join(F.broadcast(sb), inter.type_b == sb.kb)
            .select("type_a", "type_b", "n_a", "n_b", "n_both",
                    (F.col("n_both").cast("double")
                     / (F.col("n_a") + F.col("n_b")
                        - F.col("n_both")).cast("double"))
                     .alias("jaccard")))
