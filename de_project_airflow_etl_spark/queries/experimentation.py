"""Round-10 promoted bank (staged as staged/round12.py): experimentation and operations analytics
— sample-ratio-mismatch audit and CUPED variance-reduced lift for
A/B tests, Little's-law session throughput, Croston's method for
intermittent demand, and Burrows' Delta stylometry across sources.

Same contract and determinism rules as every registered query. Arm
assignment uses the repo's salted-hash determinism (first md5 hex
nibble of the user id — reproducible across engines and retries, the
corpus_hash_split discipline); the Croston recurrences reuse the
Holt fixed-point truncate-pinned halving fold; Burrows' z-score
panel work is bounded by (top-K words) x (sources).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import (
    fold_sorted_spark, fold_sorted_sql, sql_cents, wide,
)
from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load

# arm: first md5 hex nibble of the user id — '0'..'7' = A, '8'..'f' = B
_ARM_SPARK = ("CASE WHEN substring(md5(CAST(user_id AS STRING)), 1, 1)"
              " < '8' THEN 'A' ELSE 'B' END")
_ARM_SQL = ("CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)"
            " < '8' THEN 'A' ELSE 'B' END")


# ------------------------ sample-ratio-mismatch audit (A/B hygiene)


@query(
    "sample_ratio_mismatch_check",
    oracle=f"""
        WITH u AS (
          SELECT DISTINCT user_id, {_ARM_SQL} AS arm FROM events
        ),
        c AS (
          SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_a,
                 CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_b
          FROM u
        )
        SELECT n_a, n_b,
               CAST(n_a - n_b AS DOUBLE)
                 * CAST(n_a - n_b AS DOUBLE)
                 / CAST(n_a + n_b AS DOUBLE) AS chi2_stat,
               (2.0 * GREATEST(n_a, n_b) - (n_a + n_b) - 1.0)
                 / SQRT(CAST(n_a + n_b AS DOUBLE)) AS z_stat
        FROM c
    """,
    doc="Sample-ratio-mismatch audit for a deterministic 50/50 "
        "hash-assigned experiment: are the two arms' user counts "
        "consistent with the intended split — the FIRST check any "
        "A/B readout must pass, because a biased assignment "
        "invalidates everything downstream. Assignment is the "
        "repo's salted-hash determinism (first md5 hex nibble, "
        "retry- and engine-stable); the 1-df chi-square against "
        "50/50 reduces to (n_a - n_b)^2/(n_a + n_b) in exact "
        "integers with one division, plus the continuity-corrected "
        "z. Plan: one distinct-user aggregate, 1-row math.",
    tags=("statistics", "experimentation"),
)
def sample_ratio_mismatch_check(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    u = (load(spark, sf_dir, "events")
         .selectExpr("user_id", f"{_ARM_SPARK} AS arm")
         .distinct())
    c = u.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).cast("long")
         .alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).cast("long")
         .alias("n_b"))
    return c.selectExpr(
        "n_a", "n_b",
        "CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)"
        " / CAST(n_a + n_b AS DOUBLE) AS chi2_stat",
        "(2.0 * GREATEST(n_a, n_b) - (n_a + n_b) - 1.0)"
        " / SQRT(CAST(n_a + n_b AS DOUBLE)) AS z_stat")


# --------------------------- CUPED variance-reduced experiment lift

CUPED_SPLIT_DAY = 15  # pre-period: first 15 days of the corpus window


@query(
    "cuped_adjusted_lift",
    oracle=f"""
        WITH b AS (
          SELECT user_id,
                 date_diff('day',
                   (SELECT MIN(CAST(ts AS DATE)) FROM events),
                   CAST(ts AS DATE)) AS d,
                 {sql_cents("value")} AS c
          FROM events
        ),
        xy AS (
          SELECT user_id, {_ARM_SQL} AS arm,
                 CAST(COALESCE(SUM(CASE WHEN d < {CUPED_SPLIT_DAY}
                   THEN c END), 0) AS BIGINT) AS x,
                 CAST(COALESCE(SUM(CASE WHEN d >= {CUPED_SPLIT_DAY}
                   THEN c END), 0) AS BIGINT) AS y
          FROM b GROUP BY user_id
        ),
        mom AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(x AS DECIMAL(38,0))) AS sx,
                 SUM(CAST(y AS DECIMAL(38,0))) AS sy,
                 SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
                 SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
          FROM xy
        ),
        theta AS (
          SELECT n, {wide('sx')} AS sx_d,
                 (CAST(n AS DOUBLE) * {wide('sxy')}
                  - {wide('sx')} * {wide('sy')})
                 / (CAST(n AS DOUBLE) * {wide('sxx')}
                    - {wide('sx')} * {wide('sx')}) AS th
          FROM mom
        ),
        arms AS (
          SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
                 SUM(CAST(x AS DECIMAL(38,0))) AS asx,
                 SUM(CAST(y AS DECIMAL(38,0))) AS asy
          FROM xy GROUP BY arm
        )
        SELECT a.arm, a.n_users,
               {wide('a.asy')} / a.n_users / 100 AS mean_y,
               {wide('a.asx')} / a.n_users / 100 AS mean_x,
               t.th AS theta,
               ({wide('a.asy')} / a.n_users
                - t.th * ({wide('a.asx')} / a.n_users
                          - t.sx_d / t.n)) / 100 AS adj_mean_y
        FROM arms a, theta t
    """,
    doc="CUPED variance-reduced experiment readout (Deng et al. "
        "WSDM'13): per-user pre-period spend is the covariate, "
        "theta = cov(X,Y)/var(X) is pooled over all users, and each "
        "arm's outcome mean is adjusted by theta*(mean_x - "
        "overall_x) — the industry-standard trick that removes the "
        "between-user variance the pre-period already explains "
        "(often 30-50% tighter CIs for free). Everything derives "
        "from ONE exact DECIMAL(38,0) sufficient-moment pass "
        "(n, Sx, Sy, Sxx, Sxy) through the correctly-rounded string "
        "route, cross-multiplied so no mean is subtracted before "
        "the final IEEE ops; arm assignment is the deterministic "
        "md5 nibble. Plan: one per-user aggregate, one 1-row moment "
        "pass, one 2-row arm rollup — no window anywhere.",
    tags=("statistics", "experimentation"),
)
def cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    d0 = e.agg(F.min(F.to_date("ts")).alias("d0"))
    b = (e.crossJoin(F.broadcast(d0))
          .selectExpr("user_id",
                      "datediff(CAST(ts AS DATE), d0) AS d",
                      f"{sql_cents('value')} AS c"))
    xy = (b.groupBy("user_id")
           .agg(F.expr(f"CAST(COALESCE(SUM(CASE WHEN d <"
                       f" {CUPED_SPLIT_DAY} THEN c END), 0) AS BIGINT)")
                 .alias("x"),
                F.expr(f"CAST(COALESCE(SUM(CASE WHEN d >="
                       f" {CUPED_SPLIT_DAY} THEN c END), 0) AS BIGINT)")
                 .alias("y"))
           .selectExpr("user_id", "x", "y", f"{_ARM_SPARK} AS arm")
           # the per-user table feeds the pooled moments AND the arm
           # rollup; materialize so the fact table scans once
           .localCheckpoint())
    mom = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)))").alias("sx"),
        F.expr("SUM(CAST(y AS DECIMAL(38,0)))").alias("sy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"))
    theta = mom.selectExpr(
        "n", f"{wide('sx')} AS sx_d",
        f"(CAST(n AS DOUBLE) * {wide('sxy')}"
        f" - {wide('sx')} * {wide('sy')})"
        f" / (CAST(n AS DOUBLE) * {wide('sxx')}"
        f" - {wide('sx')} * {wide('sx')}) AS th")
    arms = xy.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)))").alias("asx"),
        F.expr("SUM(CAST(y AS DECIMAL(38,0)))").alias("asy"))
    return (arms.crossJoin(F.broadcast(theta))
                .selectExpr(
                    "arm", "n_users",
                    f"{wide('asy')} / n_users / 100 AS mean_y",
                    f"{wide('asx')} / n_users / 100 AS mean_x",
                    "th AS theta",
                    f"({wide('asy')} / n_users"
                    f" - th * ({wide('asx')} / n_users"
                    " - sx_d / n)) / 100 AS adj_mean_y"))


# ----------------------------- Little's law over 30-minute sessions

LL_GAP_US = 30 * 60 * 1_000_000


def _ll_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_micros(ts) AS t")


def _ll_session_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, session) durations, the relation
    ``littles_law_sessions`` checkpoints: its LAG / cumsum windows,
    which the checkpoint hides from the final plan."""
    w = Window.partitionBy("user_id").orderBy("t")
    m = _ll_events(spark, sf_dir).select(
        "user_id", "t",
        F.expr(f"CASE WHEN t - LAG(t) OVER (PARTITION BY user_id"
               f" ORDER BY t) > {LL_GAP_US}"
               " OR LAG(t) OVER (PARTITION BY user_id ORDER BY t)"
               " IS NULL THEN 1 ELSE 0 END").alias("is_start"))
    s = m.select(
        "user_id", "t",
        F.sum("is_start").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).cast("long")
         .alias("sess"))
    return (s.groupBy("user_id", "sess")
             .agg((F.max("t") - F.min("t")).cast("long")
                  .alias("dur_us")))


@query(
    "littles_law_sessions",
    oracle=f"""
        WITH e AS (
          SELECT user_id, epoch_us(ts) AS t FROM events
        ),
        m AS (
          SELECT user_id, t,
                 CASE WHEN t - LAG(t) OVER (PARTITION BY user_id
                   ORDER BY t) > {LL_GAP_US}
                   OR LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                   IS NULL THEN 1 ELSE 0 END AS is_start
          FROM e
        ),
        s AS (
          SELECT user_id, t,
                 CAST(SUM(is_start) OVER (PARTITION BY user_id
                   ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS sess
          FROM m
        ),
        sess AS (
          SELECT CAST(MAX(t) - MIN(t) AS BIGINT) AS dur_us
          FROM s GROUP BY user_id, sess
        ),
        horizon AS (
          SELECT CAST(MAX(t) - MIN(t) AS BIGINT) AS h_us FROM e
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
               (SELECT h_us FROM horizon) AS horizon_us,
               CAST(COUNT(*) AS DOUBLE) * 3600000000
                 / (SELECT h_us FROM horizon) AS lambda_per_hour,
               CAST(SUM(dur_us) AS DOUBLE) / COUNT(*) / 1000000
                 AS w_mean_s,
               CAST(SUM(dur_us) AS DOUBLE)
                 / (SELECT h_us FROM horizon) AS l_avg_concurrent
        FROM sess
    """,
    doc="Little's law over 30-minute-gap sessions: arrival rate "
        "lambda (sessions/hour), mean residence W (session "
        "duration), and average concurrency L — with L computed as "
        "total session-time over the horizon, which EQUALS the "
        "time-integral of concurrent sessions (the sweep-line "
        "integral identity), so L = lambda*W holds exactly by "
        "construction and the row is the capacity-planning readout "
        "(how many concurrent sessions does this traffic level "
        "imply). All sums are exact integer microseconds; three "
        "divisions at emit. Plan: per-user LAG/cumsum windows "
        "partition by user_id (grows with data — partitions stay "
        "user-sized), one session aggregate, 1-row math; no "
        "global sweep-line window over raw rows anywhere.",
    tags=("timeseries", "operations"),
)
def littles_law_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session table feeds the final aggregate only, but the horizon
    # needs the raw stream: checkpoint so the final plan carries one
    # scan for the horizon, one ckpt read
    sess = _ll_session_durations(spark, sf_dir).localCheckpoint()
    horizon = _ll_events(spark, sf_dir).agg(
        (F.max("t") - F.min("t")).cast("long").alias("h_us"))
    return (sess.agg(F.count(F.lit(1)).cast("long").alias("n_sessions"),
                     F.sum("dur_us").cast("long").alias("total_dur_us"))
                .crossJoin(F.broadcast(horizon))
                .selectExpr(
                    "n_sessions", "total_dur_us",
                    "h_us AS horizon_us",
                    "CAST(n_sessions AS DOUBLE) * 3600000000 / h_us"
                    " AS lambda_per_hour",
                    "CAST(total_dur_us AS DOUBLE) / n_sessions"
                    " / 1000000 AS w_mean_s",
                    "CAST(total_dur_us AS DOUBLE) / h_us"
                    " AS l_avg_concurrent"))


# -------------------- Croston's method for intermittent brand demand

CRO_BRAND = "Brand#13"


# The fold's accumulator reuses the ELEMENT struct type (q, g) —
# acc.q carries the smoothed size, acc.g the smoothed interval —
# because DuckDB's list_reduce has no separate seed: the seed rides
# list_prepend and must share the list's type.


def _cro_fold_spark() -> str:
    from de_project_airflow_etl_spark.queries.features import _tdiv2_spark
    znew = _tdiv2_spark("acc.q + e.q")
    pnew = _tdiv2_spark("acc.g + e.g")
    return ("aggregate(slice(a, 2, size(a) - 1), element_at(a, 1),"
            f" (acc, e) -> named_struct('q', {znew}, 'g', {pnew}))")


def _cro_fold_sql() -> str:
    from de_project_airflow_etl_spark.queries.features import _tdiv2_sql
    znew = _tdiv2_sql("acc.q + e.q")
    pnew = _tdiv2_sql("acc.g + e.g")
    return ("list_reduce(list_prepend(a[1], a[2:]),"
            f" (acc, e) -> {{'q': {znew}, 'g': {pnew}}})")


@query(
    "crostons_intermittent_demand",
    oracle=f"""
        WITH dd AS (
          SELECT CAST(l.l_shipdate AS DATE) AS day,
                 CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT))
                   AS BIGINT) AS q
          FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
          WHERE p.p_brand = '{CRO_BRAND}'
          GROUP BY 1
        ),
        g AS (
          SELECT day, q,
                 COALESCE(date_diff('day',
                   LAG(day) OVER (ORDER BY day), day), 1) AS gap
          FROM dd
        ),
        arr AS (
          SELECT list({{'q': q, 'g': CAST(gap AS BIGINT)}}
                      ORDER BY day) AS a,
                 CAST(COUNT(*) AS BIGINT) AS n_demand_days,
                 CAST(SUM(q) AS BIGINT) AS total_qty
          FROM g
        ),
        fold AS (
          SELECT n_demand_days, total_qty,
                 {_cro_fold_sql()} AS st
          FROM arr
        )
        SELECT n_demand_days, total_qty,
               CAST(st.q AS BIGINT) AS z_size,
               CAST(st.g AS BIGINT) AS p_interval,
               CASE WHEN st.g = 0 THEN CAST(NULL AS DOUBLE)
                    ELSE CAST(st.q AS DOUBLE) / st.g END
                 AS demand_per_day
        FROM fold
    """,
    doc="Croston's method on one brand's intermittent daily demand: "
        "demand SIZE and inter-demand INTERVAL are smoothed "
        "separately (alpha = 1/2 halving recurrences, seeded at the "
        "first demand event) and the forecast is their ratio — the "
        "standard intermittent-demand technique where plain EMA "
        "systematically lags sparse series. Both recurrences run as "
        "ONE truncate-pinned fixed-point integer fold over the "
        "day-ordered (quantity, gap) array (the Holt discipline: "
        "tdiv2 pins Spark's div to DuckDB's //), so the whole path "
        "is exact integers until the single final division. The "
        "demand-day array is calendar-bounded. Plan: one broadcast "
        "dim join (part), one daily rollup, a lag over the bounded "
        "demand-day table, then a 1-row fold.",
    tags=("timeseries", "operations"),
)
def crostons_intermittent_demand(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    pt = (load(spark, sf_dir, "part")
          .filter(F.col("p_brand") == CRO_BRAND)
          .select("p_partkey"))
    dd = (li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
            .selectExpr("CAST(l_shipdate AS DATE) AS day",
                        "CAST(ROUND(l_quantity) AS BIGINT) AS qq")
            .groupBy("day").agg(F.sum("qq").cast("long").alias("q")))
    g = dd.select(
        "day", "q",
        F.coalesce(
            F.datediff(F.col("day"),
                       F.lag("day").over(Window.orderBy("day"))),
            F.lit(1)).cast("long").alias("gap"))
    arr = g.agg(
        F.expr("transform(array_sort(collect_list(struct(day, q,"
               " gap))), x -> named_struct('q', x.q, 'g', x.gap))")
         .alias("a"),
        F.count(F.lit(1)).cast("long").alias("n_demand_days"),
        F.sum("q").cast("long").alias("total_qty"))
    fold = arr.selectExpr(
        "n_demand_days", "total_qty", f"{_cro_fold_spark()} AS st")
    return fold.selectExpr(
        "n_demand_days", "total_qty",
        "CAST(st.q AS BIGINT) AS z_size",
        "CAST(st.g AS BIGINT) AS p_interval",
        "CASE WHEN st.g = 0 THEN CAST(NULL AS DOUBLE)"
        " ELSE CAST(st.q AS DOUBLE) / st.g END AS demand_per_day")


# ------------------------- Burrows' Delta stylometry across sources

BD_TOPK = 20


@query(
    "burrows_delta_sources",
    oracle=f"""
        WITH tok AS (
          SELECT source, unnest(string_split(text, ' ')) AS term
          FROM documents
        ),
        tf AS (
          SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM tok WHERE term <> '' GROUP BY 1, 2
        ),
        stot AS (
          SELECT source, CAST(SUM(cnt) AS BIGINT) AS toks
          FROM tf GROUP BY source
        ),
        topw AS (
          SELECT term FROM (
            SELECT term, SUM(cnt) AS f FROM tf GROUP BY term
            ORDER BY f DESC, term LIMIT {BD_TOPK})
        ),
        grid AS (
          SELECT s.source, w.term,
                 CAST(COALESCE(tf.cnt, 0) AS DOUBLE) / s.toks AS rf
          FROM stot s CROSS JOIN topw w
          LEFT JOIN tf ON tf.source = s.source AND tf.term = w.term
        ),
        mu AS (
          SELECT term,
                 CAST(COUNT(*) AS BIGINT) AS ns,
                 {fold_sorted_sql("list(rf)")} AS sf,
                 {fold_sorted_sql("list(rf * rf)")} AS sff
          FROM grid GROUP BY term
        ),
        z AS (
          SELECT g.source, g.term,
                 CASE WHEN m.ns * m.sff - m.sf * m.sf <= 0 THEN 0.0
                      ELSE (g.rf - m.sf / m.ns)
                        / SQRT((m.ns * m.sff - m.sf * m.sf)
                               / (CAST(m.ns AS DOUBLE) * m.ns)) END
                   AS zv
          FROM grid g JOIN mu m USING (term)
        ),
        zp AS (
          SELECT source,
                 list_transform(list_sort(list({{'term': term,
                   'zv': zv}})), x -> x.zv) AS zs
          FROM z GROUP BY source
        )
        SELECT a.source AS source_a, b.source AS source_b,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_sort(list_transform(
                   generate_series(1, {BD_TOPK}),
                   i -> abs(a.zs[i] - b.zs[i])))),
                 (acc, v) -> acc + v) / {BD_TOPK} AS delta
        FROM zp a JOIN zp b ON a.source < b.source
    """,
    doc="Burrows' Delta between every source pair: z-score each "
        "source's relative frequency of the top-20 corpus words "
        "against the across-source mean/std, then Delta = mean "
        "|z difference| — THE classical stylometric distance "
        "(authorship attribution, register drift), here the "
        "source-fingerprint companion to the content-based overlap "
        "matrices. Per-cell relative frequencies are deterministic "
        "doubles (one division); the per-word across-source moments "
        "reduce via sorted folds (sources are bounded); z and Delta "
        "are identical-operand IEEE ops, with zero-variance words "
        "pinned to z = 0; the final pair sweep walks term-sorted "
        "z-vectors inside array lambdas over the bounded "
        "source-pair grid. Plan: one (source, term) count, a "
        "TakeOrdered top-K panel, a bounded sources x K grid — "
        "raw text never shuffles.",
    tags=("text", "statistics"),
)
def burrows_delta_sources(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    tf = (load(spark, sf_dir, "documents")
          .select("source",
                  F.explode(F.split("text", " ")).alias("term"))
          .filter(F.col("term") != "")
          .groupBy("source", "term")
          .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
          # the (source, term) counts feed totals, the top-K panel
          # and the grid; materialize so documents scans once
          .localCheckpoint())
    stot = tf.groupBy("source").agg(F.sum("cnt").cast("long")
                                     .alias("toks"))
    topw = (tf.groupBy("term").agg(F.sum("cnt").alias("f"))
              .orderBy(F.desc("f"), "term").limit(BD_TOPK)
              .select("term"))
    grid = (stot.crossJoin(F.broadcast(topw))
                .join(tf, ["source", "term"], "left")
                .selectExpr("source", "term",
                            "CAST(COALESCE(cnt, 0) AS DOUBLE) / toks"
                            " AS rf"))
    mu = grid.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("ns"),
        F.expr(fold_sorted_spark("collect_list(rf)")).alias("sf"),
        F.expr(fold_sorted_spark("collect_list(rf * rf)")).alias("sff"))
    z = (grid.join(mu, "term")
             .selectExpr(
                 "source", "term",
                 "CASE WHEN ns * sff - sf * sf <= 0 THEN 0.0"
                 " ELSE (rf - sf / ns)"
                 " / SQRT((ns * sff - sf * sf)"
                 " / (CAST(ns AS DOUBLE) * ns)) END AS zv"))
    zp = (z.groupBy("source")
           .agg(F.expr("transform(array_sort(collect_list("
                       "struct(term, zv))), x -> x.zv)").alias("zs"))
           .localCheckpoint())
    # pair sweep via the one-row scalar panel (gate-visible bounded
    # build), never an inequality self-join of the bounded table
    panel = zp.agg(F.expr("array_sort(collect_list(struct("
                          "source AS psource, zs AS pzs)))")
                   .alias("others"))
    return (zp.crossJoin(F.broadcast(panel))
              .selectExpr(
                  "source AS source_a",
                  "explode(filter(others, x -> x.psource > source))"
                  " AS o",
                  "zs")
              .selectExpr(
                  "source_a", "o.psource AS source_b",
                  f"aggregate(array_sort(transform(sequence(1,"
                  f" {BD_TOPK}), i -> abs(element_at(zs, i)"
                  " - element_at(o.pzs, i)))), CAST(0.0 AS DOUBLE),"
                  f" (acc, v) -> acc + v) / {BD_TOPK} AS delta"))
