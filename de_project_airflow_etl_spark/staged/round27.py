"""Round-27 staged bank: four exact-arithmetic inference completions
— the Fligner-Policello robust rank-order test (the Behrens-Fisher-
safe replacement for Mann-Whitney when the two groups' dispersions
differ; placement counts, not pooled ranks), Dunn's post-hoc pairwise
z tests (WHICH event types differ once the registered Kruskal-Wallis
omnibus rejects — the missing follow-up step), the Stuart-Maxwell
test of marginal homogeneity (does the 3-band event-mix DISTRIBUTION
shift between a user's first and last event — the k-category McNemar
the registered Bowker symmetry test does not answer), and Cohen's
WEIGHTED kappa with linear and quadratic weights (ordinal 4-band
raters, where the registered unweighted kappa treats a 1-band miss
the same as a 3-band miss).

All four follow the repo's exact-arithmetic contract: placements and
midranks as 2x integers from distinct-cents cell cumulations (never a
raw-row rank), every accumulated product in DECIMAL(38,0)/HUGEINT,
the correctly-rounded string-route DECIMAL->DOUBLE cast, divisions
and sqrt (correctly rounded per IEEE-754) last; no ln() anywhere
(engine-rounding-specific, the recorded rule). Statistic definitions
follow the classical publications (Fligner & Policello 1981; Dunn
1964; Stuart 1955 / Maxwell 1970 with the Fleiss k=3 closed form;
Cohen 1968) — no external code.

Same contract as every staged query (see staged/__init__.py):
``(spark, sf_dir) -> DataFrame`` plus an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import sql_cents, wide
from de_project_airflow_etl_spark.staged import staged_query
from de_project_airflow_etl_spark.tables import load

_WKND_SPARK = "CASE WHEN (dayofweek(ts) - 1) IN (0, 6) THEN 1 ELSE 0 END"
_WKND_SQL = "CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END"


# ---------------------------------------------------------------------
# Fligner-Policello robust rank-order test, weekend vs weekday values.
#
# Placements (2x-scaled so ties stay integral): an X (weekend) row at
# cents value c has P2 = 2 * (#Y below c) + (#Y at c); symmetrically
# Q2 for Y (weekday) rows among X. With m = |X|, n = |Y|,
# Sx = sum P2, Sy = sum Q2, Sxx2 = sum P2^2, Syy2 = sum Q2^2:
#   U = (Sx - Sy) / (2 * sqrt( (m*Sxx2 - Sx^2)/m
#                              + (n*Syy2 - Sy^2)/n + Sx*Sy/(m*n) ))
# (the 2x scalings cancel: numerator and sqrt both carry one factor
# of 2). Every moment is an integer in DECIMAL(38,0)/HUGEINT —
# m*Sxx2 <= 4*(m*n)^2 stays under 10^38 for m*n < ~5e18, i.e. far
# past any per-side corpus this engine would feed one test.


@staged_query(
    "fligner_policello_weekend",
    oracle=f"""
        WITH v AS (
          SELECT {sql_cents("value")} AS c, {_WKND_SQL} AS w FROM events
        ),
        cell AS (
          SELECT c,
                 CAST(SUM(w) AS BIGINT) AS cx,
                 CAST(SUM(1 - w) AS BIGINT) AS cy
          FROM v GROUP BY c
        ),
        cum AS (
          SELECT cx, cy,
                 COALESCE(CAST(SUM(cx) OVER (ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) AS bx,
                 COALESCE(CAST(SUM(cy) OVER (ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) AS by_
          FROM cell
        ),
        s AS (
          SELECT CAST(SUM(cx) AS BIGINT) AS m,
                 CAST(SUM(cy) AS BIGINT) AS n,
                 SUM(CAST(cx AS HUGEINT) * (2 * by_ + cy)) AS sx,
                 SUM(CAST(cy AS HUGEINT) * (2 * bx + cx)) AS sy,
                 SUM(CAST(cx AS HUGEINT) * (2 * by_ + cy)
                     * (2 * by_ + cy)) AS sxx2,
                 SUM(CAST(cy AS HUGEINT) * (2 * bx + cx)
                     * (2 * bx + cx)) AS syy2
          FROM cum
        ),
        fin AS (
          SELECT m, n,
                 CASE WHEN m = 0 THEN NULL
                      ELSE {wide('sx')} / (2.0 * m) END AS mpx,
                 CASE WHEN n = 0 THEN NULL
                      ELSE {wide('sy')} / (2.0 * n) END AS mpy,
                 {wide('sx - sy')} AS num,
                 CASE WHEN m = 0 OR n = 0 THEN NULL
                      ELSE {wide('m * sxx2 - sx * sx')} / m
                           + {wide('n * syy2 - sy * sy')} / n
                           + {wide('sx')} * {wide('sy')}
                             / (CAST(m AS DOUBLE) * n) END AS vterm
          FROM s
        )
        SELECT m AS n_weekend, n AS n_weekday,
               mpx AS mean_placement_weekend,
               mpy AS mean_placement_weekday,
               CASE WHEN vterm IS NULL OR vterm <= 0 THEN NULL
                    ELSE num / (2.0 * SQRT(vterm)) END AS u_fp
        FROM fin
    """,
    doc="Fligner-Policello robust rank-order test of weekend vs "
        "weekday event values: the Mann-Whitney replacement that "
        "stays valid when the two groups have UNEQUAL dispersions "
        "(the nonparametric Behrens-Fisher problem — Mann-Whitney's "
        "null variance assumes exchangeability the registered "
        "ansari_bradley/mood tests show can fail). Placement counts "
        "P_i = #{weekday values below X_i} (ties half) ride 2x "
        "integers from ONE distinct-cents cell cumulation — never a "
        "raw-row rank; placement sums and squared sums accumulate in "
        "DECIMAL(38,0)/HUGEINT (m*Sxx2 <= 4(mn)^2 holds under 10^38 "
        "past any single-test corpus), and U is one string-route "
        "division with a correctly-rounded sqrt. Plan: one "
        "map-side-combinable cents-cell aggregate, one unpartitioned "
        "window over the value-domain-bounded cell table (the "
        "audited-safe post-aggregate shape), 1-row panel out.",
    tags=("staged", "statistics"),
)
def fligner_policello_weekend(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    cell = (load(spark, sf_dir, "events")
            .selectExpr(f"{sql_cents('value')} AS c", f"{_WKND_SPARK} AS w")
            .groupBy("c")
            .agg(F.sum("w").cast("long").alias("cx"),
                 F.expr("CAST(SUM(1 - w) AS BIGINT)").alias("cy")))
    cumw = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    cum = cell.select(
        "cx", "cy",
        F.coalesce(F.sum("cx").over(cumw).cast("long"),
                   F.lit(0)).alias("bx"),
        F.coalesce(F.sum("cy").over(cumw).cast("long"),
                   F.lit(0)).alias("by_"))
    s = cum.agg(
        F.sum("cx").cast("long").alias("m"),
        F.sum("cy").cast("long").alias("n"),
        F.expr("SUM(CAST(cx AS DECIMAL(38,0)) * (2 * by_ + cy))")
         .alias("sx"),
        F.expr("SUM(CAST(cy AS DECIMAL(38,0)) * (2 * bx + cx))")
         .alias("sy"),
        F.expr("SUM(CAST(cx AS DECIMAL(38,0)) * (2 * by_ + cy)"
               " * (2 * by_ + cy))").alias("sxx2"),
        F.expr("SUM(CAST(cy AS DECIMAL(38,0)) * (2 * bx + cx)"
               " * (2 * bx + cx))").alias("syy2"))
    v = s.selectExpr(
        "m", "n",
        f"CASE WHEN m = 0 THEN NULL ELSE {wide('sx')}"
        " / (CAST(2 AS DOUBLE) * m) END AS mpx",
        f"CASE WHEN n = 0 THEN NULL ELSE {wide('sy')}"
        " / (CAST(2 AS DOUBLE) * n) END AS mpy",
        f"{wide('sx - sy')} AS num",
        "CASE WHEN m = 0 OR n = 0 THEN NULL ELSE"
        f" {wide('m * sxx2 - sx * sx')} / m"
        f" + {wide('n * syy2 - sy * sy')} / n"
        f" + {wide('sx')} * {wide('sy')}"
        " / (CAST(m AS DOUBLE) * n) END AS vterm")
    return v.selectExpr(
        "m AS n_weekend", "n AS n_weekday",
        "mpx AS mean_placement_weekend",
        "mpy AS mean_placement_weekday",
        "CASE WHEN vterm IS NULL OR vterm <= 0 THEN NULL"
        " ELSE num / (CAST(2 AS DOUBLE) * SQRT(vterm)) END AS u_fp")


# ---------------------------------------------------------------------
# Dunn's post-hoc pairwise rank tests after Kruskal-Wallis.
#
# Global midranks over the pooled cents cells (2x-integral), per-type
# rank sums R2_g, tie term T = sum(cnt^3 - cnt); for each type pair
#   z_ab = (R2_a/(2 n_a) - R2_b/(2 n_b))
#          / sqrt( (N(N+1)(N-1) - T) / (12 (N-1))
#                  * (n_a + n_b) / (n_a n_b) )
# — an exact rational over integers until the final division + sqrt.


@staged_query(
    "dunn_posthoc_value_by_type",
    oracle=f"""
        WITH gv AS (
          SELECT event_type AS g, {sql_cents("value")} AS v,
                 CAST(COUNT(*) AS BIGINT) AS cnt_gv
          FROM events GROUP BY 1, 2
        ),
        vv AS (
          SELECT v, CAST(SUM(cnt_gv) AS BIGINT) AS cnt_v
          FROM gv GROUP BY v
        ),
        mr AS (
          SELECT v,
                 2 * COALESCE(CAST(SUM(cnt_v) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) + cnt_v + 1 AS midrank2
          FROM vv
        ),
        rg AS (
          SELECT g,
                 SUM(CAST(cnt_gv AS HUGEINT) * midrank2) AS r2,
                 CAST(SUM(cnt_gv) AS BIGINT) AS n_g
          FROM gv JOIN mr USING (v) GROUP BY g
        ),
        tot AS (
          SELECT CAST(SUM(cnt_v) AS BIGINT) AS n,
                 SUM(CAST(cnt_v AS HUGEINT) * cnt_v * cnt_v - cnt_v)
                   AS tie_num
          FROM vv
        )
        SELECT a.g AS type_a, b.g AS type_b, a.n_g AS n_a,
               b.n_g AS n_b,
               CASE WHEN t.n < 2 OR CAST(t.n AS HUGEINT) * (t.n + 1)
                         * (t.n - 1) - t.tie_num = 0 THEN NULL
                 ELSE {wide('a.r2 * b.n_g - b.r2 * a.n_g')}
                   / (2.0 * a.n_g * b.n_g)
                   / SQRT({wide("CAST(t.n AS HUGEINT) * (t.n + 1)"
                                " * (t.n - 1) - t.tie_num")}
                          / (12.0 * (t.n - 1))
                          * (a.n_g + b.n_g)
                          / (CAST(a.n_g AS DOUBLE) * b.n_g))
               END AS z_dunn
        FROM rg a JOIN rg b ON a.g < b.g CROSS JOIN tot t
    """,
    doc="Dunn's post-hoc test: once the registered kruskal_wallis_"
        "value_by_type omnibus rejects, WHICH of the C(5,2) event-"
        "type pairs actually differ — pairwise z statistics on the "
        "pooled-midrank means with the shared tie-corrected variance "
        "(the multiple-comparison follow-up the family lacked; "
        "consumers Bonferroni-scale the z's by the 10 pairs). "
        "Midranks are 2x integers from ONE distinct-cents cell "
        "cumulation (the kruskal_wallis shape); rank sums and the "
        "tie term sum(cnt^3 - cnt) ride DECIMAL(38,0)/HUGEINT; the "
        "mean-rank difference cross-multiplies exactly "
        "(R2_a*n_b - R2_b*n_a) before ONE string-route division and "
        "a correctly-rounded sqrt. Plan: one map-side-combinable "
        "(type, cents) aggregate feeds both the cell cumulation "
        "(bounded input) and the 5-row rank-sum table; the pair join "
        "is a broadcast self-join of the vocabulary-bounded 5-row "
        "panel with a one-row totals cross join — 10 rows out.",
    tags=("staged", "statistics"),
)
def dunn_posthoc_value_by_type(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    gv = (load(spark, sf_dir, "events")
          .selectExpr("event_type AS g", f"{sql_cents('value')} AS v")
          .groupBy("g", "v")
          .agg(F.count(F.lit(1)).cast("long").alias("cnt_gv"))
          # feeds vv AND rg (multi-consumer rule; bounded cells)
          .localCheckpoint())
    vv = gv.groupBy("v").agg(F.sum("cnt_gv").cast("long").alias("cnt_v"))
    cumw = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    mr = vv.select(
        "v",
        (2 * F.coalesce(F.sum("cnt_v").over(cumw).cast("long"), F.lit(0))
         + F.col("cnt_v") + 1).alias("midrank2"))
    rg = (gv.join(mr, "v")
            .groupBy("g")
            .agg(F.expr("SUM(CAST(cnt_gv AS DECIMAL(38,0)) * midrank2)")
                  .alias("r2"),
                 F.sum("cnt_gv").cast("long").alias("n_g")))
    # rg is referenced twice (pair self-join) but deliberately NOT
    # localCheckpoint-ed: a checkpoint on a broadcast build hides the
    # bounded-aggregate root from the BNLJ plan gate (round-6 lesson),
    # and the recompute only re-runs the 5-row aggregate over the
    # already-checkpointed gv cells.
    tot = vv.agg(
        F.sum("cnt_v").cast("long").alias("n"),
        F.expr("SUM(CAST(cnt_v AS DECIMAL(38,0)) * cnt_v * cnt_v"
               " - cnt_v)").alias("tie_num"))
    a = rg.select(F.col("g").alias("type_a"), F.col("r2").alias("r2_a"),
                  F.col("n_g").alias("n_a"))
    b = rg.select(F.col("g").alias("type_b"), F.col("r2").alias("r2_b"),
                  F.col("n_g").alias("n_b"))
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    var_num = wide("CAST(n AS DECIMAL(38,0)) * (n + 1) * (n - 1)"
                   " - tie_num")
    return (pairs.crossJoin(F.broadcast(tot))
            .selectExpr(
                "type_a", "type_b", "n_a", "n_b",
                "CASE WHEN n < 2 OR CAST(n AS DECIMAL(38,0)) * (n + 1)"
                " * (n - 1) - tie_num = 0 THEN NULL ELSE "
                f"{wide('r2_a * n_b - r2_b * n_a')}"
                " / (CAST(2 AS DOUBLE) * n_a * n_b)"
                f" / SQRT({var_num}"
                " / (CAST(12 AS DOUBLE) * (n - 1))"
                " * (n_a + n_b) / (CAST(n_a AS DOUBLE) * n_b))"
                " END AS z_dunn"))


# ---------------------------------------------------------------------
# Stuart-Maxwell marginal homogeneity, first vs last event band.
#
# Bands: browse = {click, view}, convert = {purchase, signup},
# error = {error}. Per user, the band of the FIRST and LAST event
# (ordered by ts, event_id). With off-diagonal counts n_ij,
# d_i = row_i - col_i and s_ij = n_ij + n_ji, the Fleiss k=3 closed
# form of d' V^- d is
#   chi2 = (s23*d1^2 + s13*d2^2 + s12*d3^2)
#          / (s12*s13 + s12*s23 + s13*s23)
# — an exact rational (NULL when the denominator is 0: fewer than two
# of the three symmetric pair sums populated).

_BAND_SQL = ("CASE WHEN event_type IN ('purchase', 'signup')"
             " THEN 'convert' WHEN event_type = 'error'"
             " THEN 'error' ELSE 'browse' END")


@staged_query(
    "stuart_maxwell_event_transitions",
    oracle=f"""
        WITH b AS (
          SELECT user_id, {_BAND_SQL} AS band, ts, event_id
          FROM events
        ),
        r AS (
          SELECT user_id, band,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS ra,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rd
          FROM b
        ),
        fl AS (
          SELECT user_id,
                 MAX(CASE WHEN ra = 1 THEN band END) AS fb,
                 MAX(CASE WHEN rd = 1 THEN band END) AS lb
          FROM r GROUP BY user_id
        ),
        m AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(CASE WHEN fb = 'browse' AND lb = 'convert'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n12,
                 CAST(SUM(CASE WHEN fb = 'browse' AND lb = 'error'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n13,
                 CAST(SUM(CASE WHEN fb = 'convert' AND lb = 'browse'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n21,
                 CAST(SUM(CASE WHEN fb = 'convert' AND lb = 'error'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n23,
                 CAST(SUM(CASE WHEN fb = 'error' AND lb = 'browse'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n31,
                 CAST(SUM(CASE WHEN fb = 'error' AND lb = 'convert'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n32
          FROM fl
        )
        SELECT n_users,
               (n12 + n13) - (n21 + n31) AS d_browse,
               (n21 + n23) - (n12 + n32) AS d_convert,
               (n31 + n32) - (n13 + n23) AS d_error,
               CAST(2 AS BIGINT) AS df,
               CASE WHEN (n12 + n21) * (n13 + n31)
                         + (n12 + n21) * (n23 + n32)
                         + (n13 + n31) * (n23 + n32) = 0 THEN NULL
                 ELSE {wide(
                     "CAST(n23 + n32 AS HUGEINT)"
                     " * ((n12 + n13) - (n21 + n31))"
                     " * ((n12 + n13) - (n21 + n31))"
                     " + CAST(n13 + n31 AS HUGEINT)"
                     " * ((n21 + n23) - (n12 + n32))"
                     " * ((n21 + n23) - (n12 + n32))"
                     " + CAST(n12 + n21 AS HUGEINT)"
                     " * ((n31 + n32) - (n13 + n23))"
                     " * ((n31 + n32) - (n13 + n23))")}
                   / {wide("CAST(n12 + n21 AS HUGEINT) * (n13 + n31)"
                           " + CAST(n12 + n21 AS HUGEINT)"
                           " * (n23 + n32)"
                           " + CAST(n13 + n31 AS HUGEINT)"
                           " * (n23 + n32)")}
               END AS sm_stat
        FROM m
    """,
    doc="Stuart-Maxwell test of marginal homogeneity on the paired "
        "(first event band, last event band) per user, over the "
        "3-band mapping browse={click,view} / convert={purchase,"
        "signup} / error: does the event-mix DISTRIBUTION a user "
        "starts in differ from the one they end in — the k-category "
        "McNemar that the registered bowker_symmetry test (cell-wise "
        "symmetry) does not answer (marginals can shift while every "
        "opposing cell pair stays balanced, and vice versa). Uses "
        "the Fleiss k=3 closed form of d'V^-d — an exact integer "
        "rational of the six off-diagonal counts with HUGEINT/"
        "DECIMAL(38,0) products and ONE string-route division; NULL "
        "when fewer than two symmetric pair sums are populated "
        "(singular V). Plan: two row_number windows partitioned by "
        "user_id (grows-with-data key), one user-grain aggregate, "
        "one 7-cell scalar panel — no joins.",
    tags=("staged", "statistics"),
)
def stuart_maxwell_event_transitions(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    b = (load(spark, sf_dir, "events")
         .selectExpr("user_id", f"{_BAND_SQL} AS band", "ts",
                     "event_id"))
    wa = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    r = b.select("user_id", "band",
                 F.row_number().over(wa).alias("ra"),
                 F.row_number().over(wd).alias("rd"))
    fl = (r.groupBy("user_id")
           .agg(F.max(F.when(F.col("ra") == 1, F.col("band")))
                 .alias("fb"),
                F.max(F.when(F.col("rd") == 1, F.col("band")))
                 .alias("lb")))
    cells = [("n12", "browse", "convert"), ("n13", "browse", "error"),
             ("n21", "convert", "browse"), ("n23", "convert", "error"),
             ("n31", "error", "browse"), ("n32", "error", "convert")]
    m = fl.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        *[F.expr(f"CAST(SUM(CASE WHEN fb = '{f_}' AND lb = '{l_}'"
                 f" THEN 1 ELSE 0 END) AS BIGINT)").alias(a_)
          for a_, f_, l_ in cells])
    num = ("CAST(n23 + n32 AS DECIMAL(38,0))"
           " * ((n12 + n13) - (n21 + n31))"
           " * ((n12 + n13) - (n21 + n31))"
           " + CAST(n13 + n31 AS DECIMAL(38,0))"
           " * ((n21 + n23) - (n12 + n32))"
           " * ((n21 + n23) - (n12 + n32))"
           " + CAST(n12 + n21 AS DECIMAL(38,0))"
           " * ((n31 + n32) - (n13 + n23))"
           " * ((n31 + n32) - (n13 + n23))")
    den = ("CAST(n12 + n21 AS DECIMAL(38,0)) * (n13 + n31)"
           " + CAST(n12 + n21 AS DECIMAL(38,0)) * (n23 + n32)"
           " + CAST(n13 + n31 AS DECIMAL(38,0)) * (n23 + n32)")
    return m.selectExpr(
        "n_users",
        "(n12 + n13) - (n21 + n31) AS d_browse",
        "(n21 + n23) - (n12 + n32) AS d_convert",
        "(n31 + n32) - (n13 + n23) AS d_error",
        "CAST(2 AS BIGINT) AS df",
        f"CASE WHEN {den} = 0 THEN NULL"
        f" ELSE {wide(num)} / {wide(den)} END AS sm_stat")


# ---------------------------------------------------------------------
# Cohen's weighted kappa, ordinal 4-band raters on documents.
#
# Rater A: n_chars bands (<100, <200, <400, else -> 0..3). Rater B:
# whitespace-count bands (<15, <30, <60, else). With cell counts
# O_ab, marginals r_a / c_b, disagreement weights w_ab = |a-b|
# (linear) or (a-b)^2 (quadratic):
#   kappa_w = 1 - n * sum(w_ab O_ab) / sum(w_ab r_a c_b)
# — exact integers until one string-route division per weighting.

_BAND_A = ("CASE WHEN n_chars < 100 THEN 0 WHEN n_chars < 200 THEN 1"
           " WHEN n_chars < 400 THEN 2 ELSE 3 END")
_BAND_B = ("CASE WHEN length(text) - length(replace(text, ' ', ''))"
           " < 15 THEN 0"
           " WHEN length(text) - length(replace(text, ' ', ''))"
           " < 30 THEN 1"
           " WHEN length(text) - length(replace(text, ' ', ''))"
           " < 60 THEN 2 ELSE 3 END")


@staged_query(
    "weighted_kappa_ordinal_bands",
    oracle=f"""
        WITH r AS (
          SELECT ({_BAND_A}) AS a, ({_BAND_B}) AS b
          FROM documents
        ),
        o AS (
          SELECT a, b, CAST(COUNT(*) AS BIGINT) AS o_ab
          FROM r GROUP BY a, b
        ),
        ra AS (
          SELECT a, CAST(SUM(o_ab) AS BIGINT) AS r_a FROM o GROUP BY a
        ),
        cb AS (
          SELECT b, CAST(SUM(o_ab) AS BIGINT) AS c_b FROM o GROUP BY b
        ),
        num AS (
          SELECT CAST(SUM(o_ab) AS BIGINT) AS n_docs,
                 CAST(SUM(ABS(a - b) * o_ab) AS BIGINT) AS wo_lin,
                 CAST(SUM((a - b) * (a - b) * o_ab) AS BIGINT)
                   AS wo_quad
          FROM o
        ),
        den AS (
          SELECT SUM(ABS(ra.a - cb.b)
                     * CAST(ra.r_a AS HUGEINT) * cb.c_b) AS we_lin,
                 SUM((ra.a - cb.b) * (ra.a - cb.b)
                     * CAST(ra.r_a AS HUGEINT) * cb.c_b) AS we_quad
          FROM ra CROSS JOIN cb
        )
        SELECT n.n_docs,
               1 - {wide('CAST(n.n_docs AS HUGEINT) * n.wo_lin')}
                 / {wide('d.we_lin')} AS kappa_linear,
               1 - {wide('CAST(n.n_docs AS HUGEINT) * n.wo_quad')}
                 / {wide('d.we_quad')} AS kappa_quadratic
        FROM num n CROSS JOIN den d
    """,
    doc="Cohen's WEIGHTED kappa between two ordinal 4-band document "
        "raters (a character-length band vs a whitespace-token-count "
        "band): the agreement coefficient where a 1-band miss costs "
        "less than a 3-band miss — the ordinal-scale member the "
        "registered unweighted cohens_kappa / fleiss_kappa / "
        "krippendorff family lacks; reported with both LINEAR "
        "(|a-b|) and QUADRATIC ((a-b)^2, the ICC-equivalent) weight "
        "schemes. kappa_w = 1 - n*sum(w O)/sum(w r c) is an exact "
        "integer rational: observed and expected weighted "
        "disagreements accumulate in BIGINT then HUGEINT/"
        "DECIMAL(38,0) for the n* and marginal products, ONE "
        "string-route division per scheme. Plan: one map-side-"
        "combinable 16-cell aggregate over the scan; marginals and "
        "the 4x4 expected grid are broadcast-sized panels.",
    tags=("staged", "statistics", "quality"),
)
def weighted_kappa_ordinal_bands(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    o = (load(spark, sf_dir, "documents")
         .selectExpr(f"({_BAND_A}) AS a", f"({_BAND_B}) AS b")
         .groupBy("a", "b")
         .agg(F.count(F.lit(1)).cast("long").alias("o_ab"))
         # 16-cell panel feeds marginals AND the numerator aggregate
         .localCheckpoint())
    ra = o.groupBy("a").agg(F.sum("o_ab").cast("long").alias("r_a"))
    cb = o.groupBy("b").agg(F.sum("o_ab").cast("long").alias("c_b"))
    num = o.agg(
        F.sum("o_ab").cast("long").alias("n_docs"),
        F.expr("CAST(SUM(ABS(a - b) * o_ab) AS BIGINT)").alias("wo_lin"),
        F.expr("CAST(SUM((a - b) * (a - b) * o_ab) AS BIGINT)")
         .alias("wo_quad"))
    den = (ra.crossJoin(F.broadcast(cb))
           .agg(F.expr("SUM(ABS(a - b) * CAST(r_a AS DECIMAL(38,0))"
                       " * c_b)").alias("we_lin"),
                F.expr("SUM((a - b) * (a - b)"
                       " * CAST(r_a AS DECIMAL(38,0)) * c_b)")
                 .alias("we_quad")))
    n_wo_quad = wide("CAST(n_docs AS DECIMAL(38,0)) * wo_quad")
    return (num.crossJoin(F.broadcast(den))
            .selectExpr(
                "n_docs",
                f"1 - {wide('CAST(n_docs AS DECIMAL(38,0)) * wo_lin')}"
                f" / {wide('we_lin')} AS kappa_linear",
                f"1 - {n_wo_quad}"
                f" / {wide('we_quad')} AS kappa_quadratic"))
