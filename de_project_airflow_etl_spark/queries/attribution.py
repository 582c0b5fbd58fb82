"""Round-10 promoted bank (staged as staged/round15.py): game-theoretic attribution (exact Shapley
values over the bounded channel lattice), shape-constrained regression
(isotonic fit via the exact minimax formula), distribution-free
predictive intervals (Mondrian split-conformal with an exact coverage
audit), multiple-testing control (Benjamini-Hochberg step-up over an
exact-rational drift panel), ranking from pairwise comparisons
(Bradley-Terry strengths via the fixed-point MM iteration), truncated
harmonic centrality on the near-dup graph, and the engine's first
dynamic-programming distance (DTW between two daily series).

Same contract as every registered query: ``(spark, sf_dir) -> DataFrame``
plus an exact DuckDB oracle, identical column aliases on both sides,
exact-integer arithmetic for anything accumulated (DECIMAL(38,0)/
HUGEINT for products), truncating ``div`` fixed point for iterative
algorithms, no ``rand()``, no ``.collect()``. Windows run only over
post-aggregate value-domain-bounded cells (checkpointed), never raw
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import sql_cents, wide
from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load


# Spark dayofweek is 1=Sunday..7=Saturday, DuckDB's is 0=Sunday..6.
_WKND_SPARK = "CASE WHEN (dayofweek(ts) - 1) IN (0, 6) THEN 1 ELSE 0 END"
_WKND_SQL = "CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END"


# ---------------------------------------------------------------------
# Exact Shapley-value channel attribution.
#
# Touch channels are the four non-purchase event types; a converting
# user's coalition is the SET of channels seen strictly before their
# first purchase. v(S) = number of conversions fully explained by S
# (touch-set \subseteq S). With k = 4 channels the subset lattice has
# 16 nodes, so the Shapley sum is EXACT: phi_i * 4! = sum over S not
# containing i of |S|!*(3-|S|)! * (v(S+i) - v(S)), integer weights
# {6, 2, 2, 6}.

_CHANNELS = [("click", 1), ("error", 2), ("signup", 4), ("view", 8)]
_CH_BITS_SPARK = ("CASE event_type WHEN 'click' THEN 1 WHEN 'error' "
                  "THEN 2 WHEN 'signup' THEN 4 WHEN 'view' THEN 8 "
                  "ELSE 0 END")
_SHAP_W = "CASE pc WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END"


def _popcount(col: str) -> str:
    return (f"(({col} >> 0) & 1) + (({col} >> 1) & 1) "
            f"+ (({col} >> 2) & 1) + (({col} >> 3) & 1)")


@query(
    "shapley_channel_attribution",
    oracle=f"""
        WITH fp AS (
          SELECT user_id, MIN(ts) AS fpts FROM events
          WHERE event_type = 'purchase' GROUP BY 1
        ),
        masks AS (
          SELECT fp.user_id,
                 COALESCE(bit_or(CASE WHEN e.ts < fp.fpts
                                 THEN {_CH_BITS_SPARK.replace("event_type", "e.event_type")}
                                 END), 0) AS mask
          FROM fp LEFT JOIN events e
            ON e.user_id = fp.user_id AND e.ts < fp.fpts
           AND e.event_type <> 'purchase'
          GROUP BY 1
        ),
        mc AS (
          SELECT mask, CAST(COUNT(*) AS BIGINT) AS cnt FROM masks
          GROUP BY 1
        ),
        subsets AS (
          SELECT unnest(generate_series(0, 15)) AS s
        ),
        v AS (
          SELECT s, CAST(COALESCE(SUM(CASE WHEN (mc.mask & s) = mc.mask
                                       THEN mc.cnt END), 0) AS BIGINT)
                      AS v
          FROM subsets LEFT JOIN mc ON (mc.mask & s) = mc.mask
          GROUP BY s
        ),
        ch(channel, bit) AS (
          VALUES ('click', 1), ('error', 2), ('signup', 4), ('view', 8)
        ),
        terms AS (
          SELECT ch.channel,
                 ({_popcount("vs0.s")}) AS pc,
                 vs1.v - vs0.v AS delta
          FROM ch JOIN v vs0 ON (vs0.s & ch.bit) = 0
          JOIN v vs1 ON vs1.s = (vs0.s | ch.bit)
        )
        SELECT channel,
               CAST(SUM(({_SHAP_W}) * delta) AS BIGINT) AS phi_x24,
               CAST(SUM(({_SHAP_W}) * delta) AS DOUBLE) / 24
                 AS phi_conversions
        FROM terms
        GROUP BY channel
    """,
    doc="Exact Shapley-value multi-touch attribution over the four "
        "touch channels (non-purchase event types seen strictly "
        "before a user's first purchase). The coalition value v(S) "
        "counts conversions whose full touch-set is contained in S; "
        "with k=4 the 16-subset lattice makes the Shapley sum exact "
        "integer arithmetic (phi scaled by 4!=24, weights "
        "|S|!(3-|S|)! in {{6,2,2,6}}). Completes the attribution "
        "family: position_attribution_revenue is heuristic (U-shape), "
        "markov_removal_effect is model-based — Shapley is the "
        "axiomatic one. Scale: ONE corpus pass (first-purchase agg + "
        "user-key equi-join + bit_or rollup to a <=16-row mask "
        "histogram); the whole lattice/panel phase is 16x16 "
        "broadcast-sized. Sum over channels of phi_x24 = "
        "24*(v(full)-v(empty)) — the efficiency axiom, pinned in "
        "tests.",
    tags=("attribution", "statistics"),
)
def shapley_channel_attribution(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    fp = (ev.filter(F.col("event_type") == "purchase")
            .groupBy("user_id").agg(F.min("ts").alias("fpts")))
    masks = (fp.join(ev.select("user_id", "ts", "event_type")
                       .withColumnRenamed("ts", "ets"),
                     on="user_id", how="left")
               .selectExpr(
                   "user_id",
                   "CASE WHEN ets < fpts AND event_type <> 'purchase' "
                   f"THEN {_CH_BITS_SPARK} END AS bit")
               .groupBy("user_id")
               .agg(F.expr("COALESCE(bit_or(bit), 0)").alias("mask")))
    # lazy checkpoints (r11, guide §1.4): the <=16-row lattice panels
    # still materialize once for their multiple consumers (v feeds
    # both v0 and v1), but the query now runs under ONE action instead
    # of paying two eager checkpoint job barriers first
    mc = (masks.groupBy("mask")
               .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
               .localCheckpoint(eager=False))  # <=16 rows: lattice below
    subsets = spark.range(16).selectExpr("CAST(id AS INT) AS s")
    v = (subsets.join(mc, F.expr("(mask & s) = mask"), "left")
                .groupBy("s")
                .agg(F.expr("CAST(COALESCE(SUM(cnt), 0) AS BIGINT)")
                      .alias("v"))
                .localCheckpoint(eager=False))  # 16 rows
    ch = spark.createDataFrame(_CHANNELS, ["channel", "bit"])
    v0 = v.select(F.col("s"), F.col("v").alias("v0"))
    v1 = v.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    terms = (ch.join(v0, F.expr("(s & bit) = 0"))
               .join(v1, F.expr("s1 = (s | bit)"))
               .selectExpr("channel", f"({_popcount('s')}) AS pc",
                           "v1 - v0 AS delta"))
    return (terms.groupBy("channel")
                 .agg(F.expr(f"CAST(SUM(({_SHAP_W}) * delta) AS BIGINT)")
                       .alias("phi_x24"),
                      F.expr(f"CAST(SUM(({_SHAP_W}) * delta) AS DOUBLE)"
                             " / 24").alias("phi_conversions")))


# ---------------------------------------------------------------------
# Isotonic (monotone nondecreasing) least-squares fit of daily revenue
# via the exact minimax identity: fit_d = max_{{j<=d}} min_{{k>=d}}
# mean(y[j..k]). Interval means are compared EXACTLY by scaling each
# by lcm(1..30)/len — every length divides L, so the scaled mean is an
# integer (DECIMAL(38,0); sums of cents * 2.3e12 stay far under 1e38).

_L30 = 2329089562800  # lcm(1..30); the event data spans <= 30 days


@query(
    "isotonic_daily_revenue_fit",
    oracle=f"""
        WITH daily AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(SUM({sql_cents("value")}) AS BIGINT) AS y
          FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        idx AS (
          SELECT day, y,
                 CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i,
                 CAST(SUM(y) OVER (ORDER BY day) AS HUGEINT) AS pref
          FROM daily
        ),
        base AS (
          SELECT i AS k, pref FROM idx
          UNION ALL SELECT 0, CAST(0 AS HUGEINT)
        ),
        m AS (
          SELECT lo.k + 1 AS j, hi.k AS k,
                 (hi.pref - lo.pref)
                   * ({_L30} // (hi.k - lo.k)) AS ms
          FROM base lo JOIN base hi ON lo.k < hi.k
        ),
        inner_min AS (
          SELECT m.j, d.i AS d, MIN(m.ms) AS mn
          FROM m JOIN idx d ON m.j <= d.i AND d.i <= m.k
          GROUP BY 1, 2
        ),
        fit AS (
          SELECT d, MAX(mn) AS fit_scaled FROM inner_min GROUP BY 1
        )
        SELECT idx.day, idx.y AS daily_cents,
               {wide("fit.fit_scaled")} / {_L30} AS fit_cents
        FROM fit JOIN idx ON idx.i = fit.d
    """,
    doc="Isotonic (nondecreasing least-squares) regression of daily "
        "purchase revenue on time — the engine's first shape-"
        "constrained regressor (the calibration step of Platt/"
        "isotonic classifier calibration, dose-response curves). "
        "Instead of the sequential pool-adjacent-violators algorithm "
        "it evaluates the exact minimax identity fit_d = max_{j<=d} "
        "min_{k>=d} mean(y[j..k]) over the calendar-bounded daily "
        "panel: interval means are made EXACT integers by scaling "
        "with lcm(1..30)/len in DECIMAL(38,0), so the max-of-min "
        "argmaxes are tie-free-deterministic on both engines; the "
        "only double op is the final display division. Scale: ONE "
        "corpus pass to the <=30-row daily aggregate (checkpointed); "
        "the O(n^3)<=5k-row triple panel never touches raw rows.",
    tags=("regression", "statistics"),
)
def isotonic_daily_revenue_fit(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    daily = (load(spark, sf_dir, "events")
             .filter(F.col("event_type") == "purchase")
             .selectExpr("CAST(CAST(ts AS DATE) AS STRING) AS day",
                         f"{sql_cents('value')} AS c")
             .groupBy("day")
             .agg(F.expr("CAST(SUM(c) AS BIGINT)").alias("y"))
             .localCheckpoint(eager=False))  # <=30 rows: all below
    w = Window.orderBy("day")
    # lazy checkpoints (r11, guide §1.4): the <=30-row panels still
    # materialize once for their multiple consumers, but the whole
    # bounded lattice now runs under ONE action instead of paying two
    # eager checkpoint job barriers before it
    idx = daily.select(
        "day", "y",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum("y").over(w.rowsBetween(Window.unboundedPreceding, 0))
         .cast("decimal(38,0)").alias("pref")).localCheckpoint(eager=False)
    base = (idx.selectExpr("i AS k", "pref")
               .unionAll(spark.range(1).selectExpr(
                   "CAST(0 AS BIGINT) AS k",
                   "CAST(0 AS DECIMAL(38,0)) AS pref")))
    lo = base.selectExpr("k AS lo_k", "pref AS lo_pref")
    hi = base.selectExpr("k AS hi_k", "pref AS hi_pref")
    m = (lo.join(hi, F.expr("lo_k < hi_k"))
           .selectExpr("lo_k + 1 AS j", "hi_k AS k",
                       f"(hi_pref - lo_pref) * ({_L30} div (hi_k - lo_k))"
                       " AS ms"))
    inner_min = (m.join(idx.selectExpr("i AS d"),
                        F.expr("j <= d AND d <= k"))
                  .groupBy("j", "d").agg(F.min("ms").alias("mn")))
    fit = inner_min.groupBy("d").agg(F.max("mn").alias("fit_scaled"))
    return (fit.join(idx, fit.d == idx.i)
               .selectExpr("day", "y AS daily_cents",
                           f"{wide('fit_scaled')} / {_L30} AS fit_cents"))


# ---------------------------------------------------------------------
# Mondrian (per-event-type) split-conformal predictive intervals with
# an exact finite-sample coverage audit. Calibration/test split by an
# md5 bit; the per-type model is the calibration mean, residuals are
# compared as EXACT integers on the shared denominator n_t:
# |c*n_t - sum_t| <= q_a. The conformal quantile index is
# ceil(0.9*(n_cal+1)).

_CONF_H = ("CAST(conv(substring(md5(concat('conf|', "
           "CAST(event_id AS STRING))), 1, 13), 16, 10) AS BIGINT)")
_CONF_H_SQL = ("CAST(('0x' || substring(md5('conf|' || "
               "CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT)")


@query(
    "split_conformal_value_interval",
    oracle=f"""
        WITH tagged AS (
          SELECT event_type, {sql_cents("value")} AS c,
                 {_CONF_H_SQL} % 2 AS grp
          FROM events
        ),
        model AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_cal,
                 CAST(SUM(c) AS HUGEINT) AS sum_cal
          FROM tagged WHERE grp = 0 GROUP BY 1
        ),
        cal_cells AS (
          SELECT t.event_type,
                 abs(CAST(t.c AS HUGEINT) * m.n_cal - m.sum_cal)
                   AS a,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM tagged t JOIN model m USING (event_type)
          WHERE t.grp = 0 GROUP BY 1, 2
        ),
        cum AS (
          SELECT event_type, a,
                 SUM(cnt) OVER (PARTITION BY event_type ORDER BY a)
                   AS cc
          FROM cal_cells
        ),
        q AS (
          SELECT c.event_type, MIN(c.a) AS q_a
          FROM cum c JOIN model m USING (event_type)
          WHERE c.cc >= (9 * (m.n_cal + 1) + 9) // 10
          GROUP BY 1
        ),
        test_cells AS (
          SELECT t.event_type,
                 abs(CAST(t.c AS HUGEINT) * m.n_cal - m.sum_cal)
                   AS a,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM tagged t JOIN model m USING (event_type)
          WHERE t.grp = 1 GROUP BY 1, 2
        )
        SELECT tc.event_type,
               MIN(m.n_cal) AS n_cal,
               CAST(SUM(tc.cnt) AS BIGINT) AS n_test,
               {wide("MIN(q.q_a)")} / MIN(m.n_cal) / 100
                 AS q_resid,
               CAST(SUM(CASE WHEN tc.a <= q.q_a THEN tc.cnt
                        ELSE 0 END) AS BIGINT) AS covered,
               CAST(SUM(CASE WHEN tc.a <= q.q_a THEN tc.cnt
                        ELSE 0 END) AS DOUBLE)
                 / SUM(tc.cnt) AS coverage
        FROM test_cells tc
        JOIN model m USING (event_type) JOIN q USING (event_type)
        GROUP BY 1
    """,
    doc="Mondrian split-conformal predictive interval for event value "
        "with an exact finite-sample coverage audit — the "
        "distribution-free uncertainty primitive modern ML serving "
        "pipelines wrap around point predictors. Events split into "
        "calibration/test halves by an md5 bit (no rand); the per-"
        "type model is the calibration mean; the 90% conformal "
        "radius is the ceil(0.9*(n+1))-th smallest |residual|, found "
        "EXACTLY by comparing |c*n_t - sum_t| integers on the shared "
        "denominator n_t (DECIMAL(38,0)) — no double anywhere until "
        "the two display columns. Test-side coverage is an exact "
        "integer comparison on the same scale. Plan: one scan, two "
        "(type, cents)-cell aggregates (value-domain-bounded), one "
        "cell window per type for the quantile index, broadcast "
        "joins of the 5-row model/quantile panels.",
    tags=("evaluation", "statistics"),
)
def split_conformal_value_interval(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    tagged = load(spark, sf_dir, "events").selectExpr(
        "event_type", f"{sql_cents('value')} AS c", f"{_CONF_H} % 2 AS grp")
    model = (tagged.filter("grp = 0").groupBy("event_type")
             .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_cal"),
                  F.expr("CAST(SUM(c) AS DECIMAL(38,0))").alias("sum_cal"))
             .localCheckpoint())  # 5 rows
    cal_cells = (tagged.filter("grp = 0")
                 .join(F.broadcast(model), "event_type")
                 .selectExpr("event_type",
                             "abs(CAST(c AS DECIMAL(38,0)) * n_cal"
                             " - sum_cal) AS a")
                 .groupBy("event_type", "a")
                 .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
                 .localCheckpoint())  # value-domain-bounded cells
    wc = (Window.partitionBy("event_type").orderBy("a")
                .rowsBetween(Window.unboundedPreceding, 0))
    cum = cal_cells.select("event_type", "a",
                           F.sum("cnt").over(wc).alias("cc"))
    q = (cum.join(F.broadcast(model), "event_type")
            .filter(F.expr("cc >= (9 * (n_cal + 1) + 9) div 10"))
            .groupBy("event_type").agg(F.min("a").alias("q_a")))
    test_cells = (tagged.filter("grp = 1")
                  .join(F.broadcast(model), "event_type")
                  .selectExpr("event_type",
                              "abs(CAST(c AS DECIMAL(38,0)) * n_cal"
                              " - sum_cal) AS a")
                  .groupBy("event_type", "a")
                  .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    return (test_cells
            .join(F.broadcast(model), "event_type")
            .join(F.broadcast(q), "event_type")
            .groupBy("event_type")
            .agg(F.min("n_cal").alias("n_cal"),
                 F.expr("CAST(SUM(cnt) AS BIGINT)").alias("n_test"),
                 F.expr(f"{wide('MIN(q_a)')} / MIN(n_cal) / 100")
                  .alias("q_resid"),
                 F.expr("CAST(SUM(CASE WHEN a <= q_a THEN cnt ELSE 0 "
                        "END) AS BIGINT)").alias("covered"),
                 F.expr("CAST(SUM(CASE WHEN a <= q_a THEN cnt ELSE 0 "
                        "END) AS DOUBLE) / SUM(cnt)").alias("coverage")))


# ---------------------------------------------------------------------
# Benjamini-Hochberg step-up over the per-event-type weekend drift
# panel. Each type gets an exact-rational two-proportion z^2 (share of
# high-value events, weekend vs weekday); the BH comparisons
# p_(r) <= r*alpha/m run on the EXACT rational pseudo-p
# den/(den+num) = 1/(1+z^2) via cross-multiplication in
# DECIMAL(38,0) — no doubles in any decision.

_HIGH_CENTS = 25000  # value >= 250.00 counts as "high-value"
_BH_ALPHA_NUM, _BH_ALPHA_DEN = 1, 4   # alpha = 0.25 on the pseudo-p


@query(
    "bh_step_up_drift_panel",
    oracle=f"""
        WITH b AS (
          SELECT event_type, {_WKND_SQL} AS wknd,
                 CASE WHEN {sql_cents("value")} >= {_HIGH_CENTS} THEN 1 ELSE 0 END
                   AS hi
          FROM events
        ),
        cell AS (
          SELECT event_type,
                 CAST(SUM(CASE WHEN wknd = 1 THEN hi ELSE 0 END)
                      AS HUGEINT) AS x1,
                 CAST(SUM(wknd) AS HUGEINT) AS n1,
                 CAST(SUM(CASE WHEN wknd = 0 THEN hi ELSE 0 END)
                      AS HUGEINT) AS x2,
                 CAST(SUM(1 - wknd) AS HUGEINT) AS n2
          FROM b GROUP BY 1
        ),
        z AS (
          SELECT event_type, x1, n1, x2, n2,
                 (n1 + n2) * (x1 * n2 - x2 * n1) * (x1 * n2 - x2 * n1)
                   AS num,
                 n1 * n2 * (x1 + x2) * (n1 + n2 - x1 - x2) AS den
          FROM cell
        ),
        ranked AS (
          SELECT event_type, num, den,
                 CAST(ROW_NUMBER() OVER (
                   ORDER BY CASE WHEN den = 0 THEN 0 ELSE
                     (num * 1000000 // (den + num)) * 1000000
                     + ((num * 1000000 % (den + num)) * 1000000)
                       // (den + num) END DESC,
                            event_type) AS BIGINT) AS r
          FROM z
        ),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ranked),
        flags AS (
          SELECT ranked.*, m.m,
                 CASE WHEN den > 0 AND {_BH_ALPHA_DEN} * m.m * den
                        <= {_BH_ALPHA_NUM} * r * (den + num)
                      THEN r END AS hit_r
          FROM ranked, m
        ),
        kstar AS (SELECT COALESCE(MAX(hit_r), 0) AS k FROM flags)
        SELECT event_type, r AS p_rank,
               CASE WHEN den = 0 THEN CAST(0 AS DOUBLE)
                    ELSE {wide("num")} / {wide("den")} END
                 AS z2,
               CASE WHEN den = 0 THEN CAST(1 AS DOUBLE)
                    ELSE {wide("den")}
                           / {wide("(den + num)")} END
                 AS pseudo_p,
               CAST(CASE WHEN r <= kstar.k THEN 1 ELSE 0 END AS INT)
                 AS rejected
        FROM flags, kstar
    """,
    doc="Benjamini-Hochberg step-up FDR control over the per-event-"
        "type weekend drift panel — the multiple-testing layer the "
        "registry's individual tests (two_proportion_drift_test, "
        "chi2) lacked: with m=5 simultaneous hypotheses, per-test "
        "thresholds overreject. Each type's statistic is the exact-"
        "rational pooled two-proportion z^2 for the high-value share "
        "(weekend vs weekday); significance ordering and every BH "
        "comparison p_(r) <= r*alpha/m run on the exact pseudo-p "
        "den/(den+num) = 1/(1+z^2) (a fixed monotone transform) via "
        "DECIMAL(38,0) cross-multiplication — both engines make "
        "IDENTICAL accept/reject decisions with no doubles in the "
        "decision path; z2/pseudo_p are display-only wide-cast "
        "divisions. The step-up max-k is a bounded 5-row panel fold. "
        "Plan: one scan, one 5-row aggregate, panel-only windows. "
        "Scale note (corrected per ADVICE r8): num = "
        "(n1+n2)*(x1*n2-x2*n1)^2 grows as N^5/16, so DECIMAL(38,0) "
        "exactness binds at ~4e6 events per type for the chunked "
        "ordering key (widest intermediate (den+num)*1e6) and ~4e7 "
        "for num itself / the BH threshold products — NOT the ~1e9 "
        "previously claimed. Beyond that, the 100TB path is a "
        "gcd-reduced rational or a wide()-double ordering key with "
        "exact-rational thresholds kept as-is.",
    tags=("statistics", "experimentation"),
)
def bh_step_up_drift_panel(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    b = load(spark, sf_dir, "events").selectExpr(
        "event_type", f"{_WKND_SPARK} AS wknd",
        f"CASE WHEN {sql_cents('value')} >= {_HIGH_CENTS}"
        " THEN 1 ELSE 0 END AS hi")
    cell = (b.groupBy("event_type")
            .agg(F.expr("CAST(SUM(CASE WHEN wknd = 1 THEN hi ELSE 0 "
                        "END) AS DECIMAL(38,0))").alias("x1"),
                 F.expr("CAST(SUM(wknd) AS DECIMAL(38,0))").alias("n1"),
                 F.expr("CAST(SUM(CASE WHEN wknd = 0 THEN hi ELSE 0 "
                        "END) AS DECIMAL(38,0))").alias("x2"),
                 F.expr("CAST(SUM(1 - wknd) AS DECIMAL(38,0))")
                  .alias("n2"))
            .localCheckpoint())  # 5 rows: panel-only ops below
    z = cell.selectExpr(
        "event_type",
        "(n1 + n2) * (x1 * n2 - x2 * n1) * (x1 * n2 - x2 * n1) AS num",
        "n1 * n2 * (x1 + x2) * (n1 + n2 - x1 - x2) AS den")
    # Significance ordering key: floor(num * 1e12 / (den + num)) — the
    # exact scaled quotient of num/(den+num) (monotone in z^2) —
    # computed by TWO-CHUNK long division (1e6 then 1e6) so the widest
    # intermediate is (den + num) * 1e6, not num * 1e12 (ADVICE r8:
    # the one-shot 1e12 scale lowered the DECIMAL(38,0) overflow
    # threshold to ~3e5 events per type; the chunked form is exact and
    # identical, and the binding constraint becomes num itself).
    _ORDER_KEY = ("CASE WHEN den = 0 THEN 0 ELSE "
                  "(num * 1000000 div (den + num)) * 1000000 "
                  "+ ((num * 1000000 % (den + num)) * 1000000) "
                  "div (den + num) END")
    ranked = z.select(
        "*",
        F.row_number().over(
            Window.orderBy(F.expr(_ORDER_KEY).desc(),
                           "event_type")).cast("long").alias("r"))
    m = ranked.agg(F.count(F.lit(1)).cast("long").alias("m"))
    flags = (ranked.crossJoin(F.broadcast(m))
             .selectExpr("*",
                         f"CASE WHEN den > 0 AND "
                         f"{_BH_ALPHA_DEN} * m * den <= "
                         f"{_BH_ALPHA_NUM} * r * (den + num) THEN r "
                         "END AS hit_r"))
    kstar = flags.agg(F.expr("COALESCE(MAX(hit_r), 0)").alias("k"))
    return (flags.crossJoin(F.broadcast(kstar))
            .selectExpr("event_type", "r AS p_rank",
                        "CASE WHEN den = 0 THEN CAST(0 AS DOUBLE) ELSE "
                        f"{wide('num')} / {wide('den')} END AS z2",
                        "CASE WHEN den = 0 THEN CAST(1 AS DOUBLE) ELSE "
                        f"{wide('den')} / {wide('(den + num)')} END"
                        " AS pseudo_p",
                        "CAST(CASE WHEN r <= k THEN 1 ELSE 0 END "
                        "AS INT) AS rejected"))


# ---------------------------------------------------------------------
# Bradley-Terry strengths of the five event types from per-user
# pairwise count comparisons, fitted with the Hunter-MM fixed-point
# iteration in exact truncating fixed point (SCALE = 1e9), so both
# engines land on the IDENTICAL integer strengths. A post-normalize
# floor of p >= 1000 (1e-6 of total mass) keeps every divisor
# >= 2000, which bounds the per-term quotient under 2^63 (Spark's
# decimal `div` returns BIGINT) and makes the iteration guard-free.

_BT_SCALE = 10**9
_BT_FLOOR = 1000
_BT_ITERS = 8
_BT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _sql_bt_iter(prev: str, out: str) -> str:
    """One unrolled Bradley-Terry MM round in HUGEINT arithmetic."""
    s = _BT_SCALE
    return f"""
        d_{out} AS MATERIALIZED (
          SELECT m.i,
                 SUM((CAST(m.n AS HUGEINT) * {s} * {s})
                     // (pi.p + pj.p)) AS d
          FROM m JOIN {prev} pi ON m.i = pi.i
          JOIN {prev} pj ON pj.i = m.j
          GROUP BY 1
        ),
        r_{out} AS (
          SELECT ws.i,
                 CASE WHEN COALESCE(d.d, 0) = 0 THEN CAST(0 AS HUGEINT)
                      ELSE (CAST(ws.w AS HUGEINT) * {s} * {s}) // d.d
                 END AS praw
          FROM wsum ws LEFT JOIN d_{out} d ON ws.i = d.i
        ),
        t_{out} AS (SELECT SUM(praw) AS tot FROM r_{out}),
        {out} AS MATERIALIZED (
          SELECT r.i,
                 GREATEST((r.praw * {s}) // t.tot,
                          CAST({_BT_FLOOR} AS HUGEINT)) AS p
          FROM r_{out} r, t_{out} t
        )
    """


@query(
    "bradley_terry_event_strengths",
    oracle=f"""
        WITH users AS (SELECT DISTINCT user_id FROM events),
        ty(t) AS (VALUES {", ".join(f"('{t}')" for t in _BT_TYPES)}),
        cnt AS (
          SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2
        ),
        grid AS MATERIALIZED (
          SELECT u.user_id, ty.t, COALESCE(cnt.c, 0) AS c
          FROM users u CROSS JOIN ty
          LEFT JOIN cnt ON cnt.user_id = u.user_id
                       AND cnt.event_type = ty.t
        ),
        wins AS MATERIALIZED (
          SELECT a.t AS i, b.t AS j,
                 CAST(SUM(CASE WHEN a.c > b.c THEN 1 ELSE 0 END)
                      AS BIGINT) AS w
          FROM grid a JOIN grid b
            ON a.user_id = b.user_id AND a.t <> b.t
          GROUP BY 1, 2
        ),
        m AS MATERIALIZED (
          SELECT w1.i, w1.j, w1.w, w1.w + w2.w AS n
          FROM wins w1 JOIN wins w2 ON w1.i = w2.j AND w1.j = w2.i
        ),
        wsum AS MATERIALIZED (SELECT i, CAST(SUM(w) AS BIGINT) AS w
                              FROM m GROUP BY 1),
        p0 AS MATERIALIZED (
          SELECT i, CAST({_BT_SCALE // 5} AS HUGEINT) AS p FROM wsum
        ),
        {",".join(_sql_bt_iter(f"p{k}", f"p{k + 1}")
                  for k in range(_BT_ITERS))}
        SELECT ws.i AS event_type,
               CAST(pf.p AS BIGINT) AS strength_e9,
               ws.w AS wins,
               (SELECT CAST(SUM(n) AS BIGINT) FROM m mm
                WHERE mm.i = ws.i) AS comparisons
        FROM wsum ws JOIN p{_BT_ITERS} pf ON pf.i = ws.i
    """,
    doc="Bradley-Terry strength ranking of the five event types from "
        "per-user pairwise comparisons (type a 'beats' b for a user "
        "when the user fired a more often; ties drop out) — ranking "
        "from paired comparisons is the family (chess/LLM-arena "
        "Elo-style) the registry lacked. Fitted with 8 rounds of the "
        "Hunter MM fixed-point p_i <- W_i / sum_j n_ij/(p_i+p_j) in "
        "exact truncating 1e9 fixed point with a 1e-6 post-normalize "
        "floor: both engines run the IDENTICAL integer recurrence "
        "(Spark decimal div == DuckDB // on values kept under 2^63 "
        "by the floor), so strengths hash-match exactly — the markov/"
        "pagerank idiom. Scale: ONE corpus pass to (user, type) "
        "counts; the dense 5-per-user grid and the self-join ride "
        "the user equi-join key; all iteration happens on the "
        "25-cell bounded matrix (localCheckpoint per round). At "
        "~1e10 users the n*S^2 dividends need HUGEINT-width on the "
        "Spark side too (DECIMAL(38,0) holds to ~1e20 comparisons).",
    tags=("ranking", "iterative", "statistics"),
)
def bradley_terry_event_strengths(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    s = _BT_SCALE
    ev = load(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    ty = spark.createDataFrame([(t,) for t in _BT_TYPES], ["t"])
    cnt = (ev.groupBy("user_id", "event_type")
             .agg(F.count(F.lit(1)).cast("long").alias("c"))
             .withColumnRenamed("user_id", "cu"))
    grid = (users.crossJoin(F.broadcast(ty))
                 .join(cnt, (F.col("user_id") == F.col("cu"))
                       & (F.col("t") == cnt.event_type), "left")
                 .select("user_id", "t",
                         F.coalesce("c", F.lit(0)).alias("c")))
    ga = grid.selectExpr("user_id", "t AS i", "c AS ci")
    gb = grid.selectExpr("user_id AS ub", "t AS j", "c AS cj")
    wins = (ga.join(gb, (ga.user_id == gb.ub) & (F.col("i") != F.col("j")))
              .groupBy("i", "j")
              .agg(F.expr("CAST(SUM(CASE WHEN ci > cj THEN 1 ELSE 0 "
                          "END) AS BIGINT)").alias("w")))
    w2 = wins.selectExpr("i AS wi", "j AS wj", "w AS wrev")
    m = (wins.join(w2, (wins.i == F.col("wj")) & (wins.j == F.col("wi")))
             .selectExpr("i", "j", "w", "w + wrev AS n")
             .localCheckpoint())  # 20 rows
    wsum = (m.groupBy("i").agg(F.expr("CAST(SUM(w) AS BIGINT)")
                               .alias("w"))
             .localCheckpoint())  # 5 rows
    p = wsum.selectExpr(
        "i", f"CAST({s // 5} AS DECIMAL(38,0)) AS p").localCheckpoint()
    for _ in range(_BT_ITERS):
        pi = p.selectExpr("i AS pii", "p AS ppi")
        pj = p.selectExpr("i AS pjj", "p AS ppj")
        d = (m.join(F.broadcast(pi), m.i == F.col("pii"))
              .join(F.broadcast(pj), m.j == F.col("pjj"))
              .groupBy("i")
              .agg(F.expr(
                  f"SUM((CAST(n AS DECIMAL(38,0)) * {s} * {s})"
                  " div (ppi + ppj))").alias("d")))
        r = (wsum.join(d, "i", "left")
                 .selectExpr("i",
                             "CASE WHEN COALESCE(d, 0) = 0 THEN "
                             "CAST(0 AS BIGINT) ELSE "
                             f"(CAST(w AS DECIMAL(38,0)) * {s} * {s})"
                             " div d END AS praw"))
        tot = r.agg(F.expr("SUM(CAST(praw AS DECIMAL(38,0)))")
                     .alias("tot"))
        p = (r.crossJoin(F.broadcast(tot))
              .selectExpr("i",
                          "CAST(GREATEST((CAST(praw AS DECIMAL(38,0))"
                          f" * {s}) div tot, {_BT_FLOOR})"
                          " AS DECIMAL(38,0)) AS p")
              .localCheckpoint())
    comp = m.groupBy("i").agg(F.expr("CAST(SUM(n) AS BIGINT)")
                              .alias("comparisons"))
    return (wsum.join(p, "i").join(comp, "i")
                .selectExpr("i AS event_type",
                            "CAST(p AS BIGINT) AS strength_e9",
                            "w AS wins", "comparisons"))


# ---------------------------------------------------------------------
# Truncated harmonic centrality (radius 4) on the verified near-dup
# graph — Boldi-Vigna's centrality restricted to a 4-hop ball so the
# score is exact integer arithmetic in twelfths (lcm(1..4) = 12):
# hc12(v) = sum over u within distance d <= 4 of 12 // d.

_HC_RADIUS = 4
_HC_TOP = 20


def _hc_lsh_pairs() -> str:
    # same idiom as queries/features.py:842 — the SQL is textually the
    # dedup_minhash_lsh oracle's verified-pairs chain
    from de_project_airflow_etl_spark.operators.dedup import _sql_lsh_pairs
    return _sql_lsh_pairs()


def _harmonic_bfs(pairs: DataFrame, radius: int = _HC_RADIUS) -> DataFrame:
    """Truncated harmonic centrality over undirected (doc_a, doc_b)
    pairs: ``radius`` unrolled BFS frontier rounds (frontier x edges
    equi-join + anti-join against visited, each localCheckpointed so
    edges materialize once), scores in units of 1/lcm(1..4)=1/12.
    Factored out of the registry query so planted-graph tests
    (tests/test_graph_scale_r15.py) can drive it on synthetic
    graphs with known distances."""
    # LAZY checkpoints throughout (r11, guide §1.4): every frontier/
    # visited relation is still materialized exactly once and reused
    # by its multiple consumers (next round's hop join + anti-join +
    # the levels union), but the 3 expansion rounds now run under ONE
    # action instead of 7 sequential eager-checkpoint job barriers;
    # scores byte-identical.
    sym = (pairs.selectExpr("doc_a AS src", "doc_b AS dst")
                .union(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
                .distinct()
                .localCheckpoint(eager=False))  # edges scanned once/round
    levels = [sym.withColumn("d", F.lit(1))]
    frontier = sym
    visited = sym
    for depth in range(2, radius + 1):
        hop = (frontier.join(sym.selectExpr("src AS mid", "dst AS nxt"),
                             frontier.dst == F.col("mid"))
                       .selectExpr("src", "nxt AS dst")
                       .filter("src <> dst")
                       .distinct())
        frontier = (hop.join(visited, ["src", "dst"], "left_anti")
                       .localCheckpoint(eager=False))
        visited = (visited.union(frontier)
                          .localCheckpoint(eager=False))
        levels.append(frontier.withColumn("d", F.lit(depth)))
    alldist = levels[0]
    for lv in levels[1:]:
        alldist = alldist.unionAll(lv)
    return (alldist.groupBy("src")
            .agg(F.count(F.lit(1)).cast("long").alias("reachable_4"),
                 F.expr("CAST(SUM(12 div d) AS BIGINT)")
                  .alias("harmonic_x12")))


@query(
    "harmonic_centrality_dup_graph",
    oracle=f"""
        WITH {_hc_lsh_pairs()},
        sym AS MATERIALIZED (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs
        ),
        d1 AS MATERIALIZED (SELECT src, dst FROM sym),
        c2 AS (
          SELECT a.src, b.dst FROM d1 a JOIN sym b ON a.dst = b.src
          WHERE b.dst <> a.src GROUP BY 1, 2
        ),
        d2 AS MATERIALIZED (
          SELECT c2.src, c2.dst FROM c2
          WHERE NOT EXISTS (SELECT 1 FROM d1
                            WHERE d1.src = c2.src AND d1.dst = c2.dst)
        ),
        c3 AS (
          SELECT a.src, b.dst FROM d2 a JOIN sym b ON a.dst = b.src
          WHERE b.dst <> a.src GROUP BY 1, 2
        ),
        d3 AS MATERIALIZED (
          SELECT c3.src, c3.dst FROM c3
          WHERE NOT EXISTS (SELECT 1 FROM d1
                            WHERE d1.src = c3.src AND d1.dst = c3.dst)
            AND NOT EXISTS (SELECT 1 FROM d2
                            WHERE d2.src = c3.src AND d2.dst = c3.dst)
        ),
        c4 AS (
          SELECT a.src, b.dst FROM d3 a JOIN sym b ON a.dst = b.src
          WHERE b.dst <> a.src GROUP BY 1, 2
        ),
        d4 AS MATERIALIZED (
          SELECT c4.src, c4.dst FROM c4
          WHERE NOT EXISTS (SELECT 1 FROM d1
                            WHERE d1.src = c4.src AND d1.dst = c4.dst)
            AND NOT EXISTS (SELECT 1 FROM d2
                            WHERE d2.src = c4.src AND d2.dst = c4.dst)
            AND NOT EXISTS (SELECT 1 FROM d3
                            WHERE d3.src = c4.src AND d3.dst = c4.dst)
        ),
        alldist AS (
          SELECT src, dst, 1 AS d FROM d1
          UNION ALL SELECT src, dst, 2 FROM d2
          UNION ALL SELECT src, dst, 3 FROM d3
          UNION ALL SELECT src, dst, 4 FROM d4
        ),
        hc AS (
          SELECT src AS doc_id,
                 CAST(COUNT(*) AS BIGINT) AS reachable_4,
                 CAST(SUM(12 // d) AS BIGINT) AS harmonic_x12
          FROM alldist GROUP BY 1
        )
        SELECT doc_id, reachable_4, harmonic_x12,
               CAST(harmonic_x12 AS DOUBLE) / 12 AS harmonic
        FROM hc
        ORDER BY harmonic_x12 DESC, doc_id
        LIMIT {_HC_TOP}
    """,
    doc="Truncated harmonic centrality (4-hop ball) over the verified "
        "near-dup graph — ranks documents by how CENTRAL they sit in "
        "their duplication neighborhood (the canonical-pick signal "
        "pagerank approximates, but distance- rather than flow-"
        "based; Boldi-Vigna's axiomatically preferred centrality). "
        "Scores are exact integers in twelfths (lcm(1..4)): hc12 = "
        "sum of 12//d over nodes within distance <= 4, so both "
        "engines rank identically with a doc_id tiebreak. Spark runs "
        "4 unrolled BFS frontier rounds (frontier x edges equi-join "
        "+ anti-join against visited), each localCheckpointed so "
        "edges are scanned once — O(radius) rounds of sparse "
        "per-source frontiers, never an all-pairs product; the "
        "oracle is the identical 4-level expansion with GROUP BY "
        "dedup per level (no path-explosion recursion). Top-20 rows "
        "by (harmonic_x12 DESC, doc_id).",
    tags=("dedup", "graph"),
)
def harmonic_centrality_dup_graph(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.operators.dedup import _lsh_verified
    pairs = _lsh_verified(spark, sf_dir).select("doc_a", "doc_b")
    hc = _harmonic_bfs(pairs)
    return (hc.selectExpr("src AS doc_id", "reachable_4", "harmonic_x12",
                          "CAST(harmonic_x12 AS DOUBLE) / 12 AS harmonic")
              .orderBy(F.desc("harmonic_x12"), "doc_id")
              .limit(_HC_TOP))


# ---------------------------------------------------------------------
# Dynamic time warping between the daily click-count and purchase-count
# series — the engine's first dynamic-programming operator. The DP is
# exact BIGINT arithmetic (costs |a_i - b_j|, INF = 1e15 as the
# boundary sentinel), so both engines produce the identical distance.
# Spark evaluates the full 30x30 table in ONE projection: an outer
# fold over rows i carrying the previous DP row as the accumulator
# array, with an inner fold over columns j threading the in-row
# left-to-right dependency (nested HOF lambdas, all codegen-side —
# no UDF, no collect). DuckDB's list_reduce cannot thread list
# accumulators (round-8 gotcha), so the oracle is a recursive CTE
# cell-stepper: single-row state (i, j, prev_row, cur_prefix),
# n^2 = 900 iterations over MATERIALIZED arrays.

_DTW_INF = 10**15


@query(
    "dtw_click_purchase_daily",
    oracle=f"""
        WITH RECURSIVE daily AS MATERIALIZED (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(SUM(CASE WHEN event_type = 'click' THEN 1
                          ELSE 0 END) AS BIGINT) AS a,
                 CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                          ELSE 0 END) AS BIGINT) AS b
          FROM events GROUP BY 1
        ),
        arrs AS MATERIALIZED (
          SELECT list(a ORDER BY day) AS av,
                 list(b ORDER BY day) AS bv,
                 CAST(COUNT(*) AS INT) AS n,
                 CAST(SUM(ABS(a - b)) AS BIGINT) AS lockstep,
                 list_concat([CAST(0 AS BIGINT)],
                             list_transform(generate_series(1, COUNT(*)),
                               x -> CAST({_DTW_INF} AS BIGINT))) AS r0
          FROM daily
        ),
        dp(i, j, prev, cur) AS (
          SELECT 1, 1, r0,
                 [CAST({_DTW_INF} AS BIGINT),
                  ABS(av[1] - bv[1])
                    + LEAST(r0[2], r0[1], CAST({_DTW_INF} AS BIGINT))]
          FROM arrs
          UNION ALL
          SELECT CASE WHEN j < n THEN i ELSE i + 1 END,
                 CASE WHEN j < n THEN j + 1 ELSE 1 END,
                 CASE WHEN j < n THEN prev ELSE cur END,
                 CASE WHEN j < n
                      THEN list_append(cur,
                             ABS(av[i] - bv[j + 1])
                               + LEAST(prev[j + 2], prev[j + 1],
                                       cur[j + 1]))
                      ELSE list_append([CAST({_DTW_INF} AS BIGINT)],
                             ABS(av[i + 1] - bv[1])
                               + LEAST(cur[2], cur[1],
                                       CAST({_DTW_INF} AS BIGINT)))
                 END
          FROM dp, arrs WHERE NOT (i = n AND j = n)
        )
        SELECT CAST(arrs.n AS BIGINT) AS n_days,
               CAST(dp.cur[dp.j + 1] AS BIGINT) AS dtw_l1,
               arrs.lockstep AS lockstep_l1
        FROM dp, arrs WHERE dp.i = arrs.n AND dp.j = arrs.n
    """,
    doc="Dynamic time warping distance (L1 costs, unconstrained "
        "band) between the daily click and purchase count series — "
        "the classic elastic-alignment measure for asking whether "
        "one series is a time-shifted copy of another, and the "
        "engine's first dynamic-programming operator. Exact BIGINT "
        "DP: both engines fill the identical 30x30 table (INF=1e15 "
        "boundary sentinel), reported beside the lockstep L1 "
        "distance (dtw <= lockstep always — the warping can only "
        "help; pinned in tests). Spark computes the whole DP in ONE "
        "whole-stage-codegen projection over a checkpointed 1-row "
        "array panel: outer fold over rows carrying the previous DP "
        "row, nested inner fold threading the in-row dependency — "
        "no UDF, no collect, no shuffle after the daily aggregate. "
        "Scale: the corpus pass is the daily count aggregate; the DP "
        "is calendar-bounded (n<=30), one row total.",
    tags=("timeseries", "statistics"),
)
def dtw_click_purchase_daily(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    inf = f"CAST({_DTW_INF} AS BIGINT)"
    daily = (load(spark, sf_dir, "events")
             .selectExpr("CAST(ts AS DATE) AS day",
                         "CASE WHEN event_type = 'click' THEN 1 ELSE 0 "
                         "END AS ac",
                         "CASE WHEN event_type = 'purchase' THEN 1 "
                         "ELSE 0 END AS bc")
             .groupBy("day")
             .agg(F.expr("CAST(SUM(ac) AS BIGINT)").alias("a"),
                  F.expr("CAST(SUM(bc) AS BIGINT)").alias("b")))
    arrs = (daily.agg(
        F.expr("transform(array_sort(collect_list(struct(day, a))),"
               " x -> x.a)").alias("av"),
        F.expr("transform(array_sort(collect_list(struct(day, b))),"
               " x -> x.b)").alias("bv"),
        F.expr("CAST(COUNT(*) AS INT)").alias("n"),
        F.expr("CAST(SUM(ABS(a - b)) AS BIGINT)").alias("lockstep"))
        .localCheckpoint())  # 1 row: the DP below is a pure projection
    return arrs.selectExpr(
        "CAST(n AS BIGINT) AS n_days",
        f"""element_at(
              aggregate(
                sequence(1, n),
                concat(array(CAST(0 AS BIGINT)),
                       transform(sequence(1, n), x -> {inf})),
                (prev, i) -> aggregate(
                  sequence(1, n),
                  array({inf}),
                  (row, j) -> concat(row, array(
                    ABS(element_at(av, CAST(i AS INT))
                        - element_at(bv, CAST(j AS INT)))
                    + LEAST(element_at(prev, CAST(j + 1 AS INT)),
                            element_at(prev, CAST(j AS INT)),
                            element_at(row, -1)))))),
              n + 1) AS dtw_l1""",
        "lockstep AS lockstep_l1")
