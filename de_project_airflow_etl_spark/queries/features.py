"""Sketch structures, retrieval-evaluation and ML-prep operators
(promoted from ``staged/round6b.py`` in round 6 once CORRECTNESS_r05
adjudicated; same contract as every registered query — exact DuckDB
oracle, identical aliases, exact-integer / fixed-point arithmetic for
anything accumulated, no ``rand()``, no ``.collect()``).

The sketch family here (count-min, Bloom, KMV) is deterministic by
construction: every hash is a salted md5 prefix (13 hex chars = 52
bits, losslessly representable in an IEEE double and in BIGINT on
both engines), so the sketches are bit-identical across Spark and
DuckDB and across retries — the same discipline as the registry's
minhash / simhash / HLL queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load


def _h52(spark_inner: str, salt: str) -> str:
    """Spark-side salted 52-bit hash (BIGINT) of a string expression."""
    return (f"CAST(conv(substring(md5(concat('{salt}', {spark_inner})),"
            f" 1, 13), 16, 10) AS BIGINT)")


def _sql_h52(sql_inner: str, salt: str) -> str:
    """DuckDB mirror of :func:`_h52` — identical bits."""
    return (f"CAST(('0x' || substring(md5('{salt}' || {sql_inner}),"
            f" 1, 13)) AS BIGINT)")


# ------------------------------------------------- count-min sketch

CMS_DEPTH = 4     # independent hash rows
CMS_WIDTH = 64    # buckets per row
CMS_TOP = 20      # report the heaviest true keys

_CMS_SPARK_KEY = "concat(CAST(r AS STRING), '|', CAST(user_id AS STRING))"
_CMS_SQL_KEY = "CAST(r AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)"


@query(
    "cms_user_event_counts",
    oracle=f"""
        WITH rows_ AS (SELECT unnest(generate_series(0, {CMS_DEPTH - 1}))
                       AS r),
        cells AS (
          SELECT r, {_sql_h52(_CMS_SQL_KEY, 'cms')} % {CMS_WIDTH} AS b,
                 CAST(COUNT(*) AS BIGINT) AS counter
          FROM events CROSS JOIN rows_
          GROUP BY 1, 2
        ),
        truth AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_count
          FROM events GROUP BY 1
          ORDER BY true_count DESC, user_id LIMIT {CMS_TOP}
        ),
        probe AS (
          SELECT t.user_id, t.true_count, r.r,
                 {_sql_h52('CAST(r.r AS VARCHAR) ' +
                           "|| '|' || CAST(t.user_id AS VARCHAR)", 'cms')}
                   % {CMS_WIDTH} AS b
          FROM truth t CROSS JOIN rows_ r
        )
        SELECT p.user_id, p.true_count,
               MIN(c.counter) AS cms_estimate,
               MIN(c.counter) - p.true_count AS overcount
        FROM probe p JOIN cells c ON c.r = p.r AND c.b = p.b
        GROUP BY 1, 2
    """,
    doc="Count-min sketch over event user traffic: a 4x64 grid of "
        "salted-md5 bucket counters, probed for the 20 heaviest true "
        "users; the estimate is the row-wise minimum and `overcount` "
        "is the sketch's collision error (always >= 0 — the CMS "
        "one-sided guarantee, asserted by the property tests). The "
        "sketch build is ONE map-side-combinable aggregate into "
        "depth*width = 256 cells regardless of input size — the "
        "canonical 100 TB heavy-hitter pre-pass — and the probe side "
        "joins 80 rows against 256, all broadcast. Hashes are salted "
        "md5 prefixes, bit-identical on both engines.",
    tags=("sketch",),
)
def cms_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("user_id")
    rows = F.explode(F.expr(f"sequence(0, {CMS_DEPTH - 1})")).alias("r")
    cells = (e.select("user_id", rows)
              .select("r", (F.expr(_h52(_CMS_SPARK_KEY, 'cms'))
                            % CMS_WIDTH).alias("b"))
              .groupBy("r", "b")
              .agg(F.count(F.lit(1)).alias("counter")))
    truth = (e.groupBy("user_id")
              .agg(F.count(F.lit(1)).alias("true_count"))
              .orderBy(F.desc("true_count"), "user_id")
              .limit(CMS_TOP))
    probe = (truth.select("user_id", "true_count", rows)
                  .select("user_id", "true_count", "r",
                          (F.expr(_h52(_CMS_SPARK_KEY, 'cms'))
                           % CMS_WIDTH).alias("b")))
    return (probe.join(F.broadcast(cells), ["r", "b"])
                 .groupBy("user_id", "true_count")
                 .agg(F.min("counter").alias("cms_estimate"))
                 .select("user_id", "true_count", "cms_estimate",
                         (F.col("cms_estimate") - F.col("true_count"))
                         .alias("overcount")))


# ----------------------------------------------------- Bloom filter

BLOOM_M = 1 << 16    # bits — sized so absent probes see real FPs at sf0.1
BLOOM_K = 5          # hash functions
BLOOM_ABSENT = 10_000_000   # key offset guaranteed outside the key space

_BLOOM_SPARK_KEY = "concat(CAST(i AS STRING), '|', CAST(k AS STRING))"
_BLOOM_SQL_KEY = "CAST(i AS VARCHAR) || '|' || CAST(k AS VARCHAR)"


@query(
    "bloom_buyer_membership",
    oracle=f"""
        WITH hs AS (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS i),
        buyers AS (SELECT DISTINCT o_custkey AS k FROM orders),
        bits AS (
          SELECT DISTINCT {_sql_h52(_BLOOM_SQL_KEY, 'bloom')} % {BLOOM_M}
                 AS pos
          FROM buyers CROSS JOIN hs
        ),
        cand AS (
          SELECT c_custkey AS k, c_mktsegment, 'present' AS probe_kind
          FROM customer
          UNION ALL
          SELECT c_custkey + {BLOOM_ABSENT} AS k, c_mktsegment,
                 'absent' AS probe_kind
          FROM customer
        ),
        probe AS (
          SELECT c.k, c.c_mktsegment, c.probe_kind,
                 {_sql_h52("CAST(h.i AS VARCHAR) || '|' || "
                           "CAST(c.k AS VARCHAR)", 'bloom')}
                   % {BLOOM_M} AS pos
          FROM cand c CROSS JOIN hs h
        ),
        verdict AS (
          SELECT p.k, p.c_mktsegment, p.probe_kind,
                 CAST(COUNT(b.pos) AS BIGINT) AS n_hits
          FROM probe p LEFT JOIN bits b ON b.pos = p.pos
          GROUP BY 1, 2, 3
        ),
        actual AS (SELECT k, 1 AS is_member FROM buyers)
        SELECT v.c_mktsegment, v.probe_kind,
               CAST(COUNT(*) AS BIGINT) AS n_probes,
               CAST(SUM(CASE WHEN a.is_member = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_members,
               CAST(SUM(CASE WHEN v.n_hits = {BLOOM_K} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_bloom_positive,
               CAST(SUM(CASE WHEN v.n_hits = {BLOOM_K}
                              AND a.is_member IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_false_positive
        FROM verdict v LEFT JOIN actual a ON a.k = v.k
        GROUP BY 1, 2
    """,
    doc="Bloom-filter membership audit: a 2^16-bit / 5-hash filter "
        "built over the distinct buyer keys in orders, probed with a "
        "balanced present/absent candidate set (every customer key, "
        "plus the same keys offset out of the key space), scored per "
        "market segment — exact false-positive accounting against "
        "the true member set, and zero false negatives by "
        "construction (asserted by the property tests; the filter is "
        "deliberately small so absent probes see real collisions at "
        "sf0.1). This is the join-pre-filter pattern at 100 TB: the "
        "bit set is a DISTINCT over (keys x 5) positions — shuffles "
        "carry 8-byte ints only — and the probe side joins "
        "positions, never keys, so a 1000-executor run moves the "
        "filter, not the fact table. Salted-md5 positions are "
        "bit-identical across engines.",
    tags=("sketch",),
)
def bloom_buyer_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    hs = F.explode(F.expr(f"sequence(0, {BLOOM_K - 1})")).alias("i")
    buyers = (load(spark, sf_dir, "orders")
              .select(F.col("o_custkey").alias("k")).distinct())
    bits = (buyers.select("k", hs)
                  .select((F.expr(_h52(_BLOOM_SPARK_KEY, 'bloom'))
                           % BLOOM_M).alias("pos"))
                  .distinct()
                  .withColumn("hit", F.lit(1)))
    cust = load(spark, sf_dir, "customer").select("c_custkey",
                                                  "c_mktsegment")
    cand = (cust.select(F.col("c_custkey").alias("k"), "c_mktsegment",
                        F.lit("present").alias("probe_kind"))
                .unionAll(cust.select(
                    (F.col("c_custkey") + BLOOM_ABSENT).alias("k"),
                    "c_mktsegment", F.lit("absent").alias("probe_kind"))))
    probe = (cand.select("k", "c_mktsegment", "probe_kind", hs)
                 .select("k", "c_mktsegment", "probe_kind",
                         (F.expr(_h52(_BLOOM_SPARK_KEY, 'bloom'))
                          % BLOOM_M).alias("pos")))
    verdict = (probe.join(bits.select("pos", "hit"), "pos", "left")
                    .groupBy("k", "c_mktsegment", "probe_kind")
                    .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                          .alias("n_hits")))
    actual = buyers.withColumn("is_member", F.lit(1))
    return (verdict.join(F.broadcast(actual), "k", "left")
                   .groupBy("c_mktsegment", "probe_kind")
                   .agg(F.count(F.lit(1)).alias("n_probes"),
                        F.sum(F.when(F.col("is_member") == 1, 1)
                               .otherwise(0)).alias("n_members"),
                        F.sum(F.when(F.col("n_hits") == BLOOM_K, 1)
                               .otherwise(0)).alias("n_bloom_positive"),
                        F.sum(F.when((F.col("n_hits") == BLOOM_K)
                                     & F.col("is_member").isNull(), 1)
                               .otherwise(0)).alias("n_false_positive")))


# ------------------------------------------------------- KMV sketch

KMV_K = 256
_KMV_POW52 = 1 << 52


@query(
    "kmv_distinct_users",
    oracle=f"""
        WITH hashed AS (
          SELECT DISTINCT
                 {_sql_h52('CAST(user_id AS VARCHAR)', 'kmv')} AS h
          FROM events
        ),
        kmin AS (
          SELECT h FROM hashed ORDER BY h LIMIT {KMV_K}
        ),
        sk AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
                 CAST(MAX(h) AS BIGINT) AS kth_hash
          FROM kmin
        ),
        truth AS (
          SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
                 AS true_distinct
          FROM events
        )
        SELECT s.k_used, s.kth_hash,
               CAST(s.k_used - 1 AS DOUBLE) * {float(_KMV_POW52)}
                 / CAST(s.kth_hash AS DOUBLE) AS est_distinct,
               t.true_distinct,
               (CAST(s.k_used - 1 AS DOUBLE) * {float(_KMV_POW52)}
                 / CAST(s.kth_hash AS DOUBLE))
                 / CAST(t.true_distinct AS DOUBLE) AS est_over_true
        FROM sk s CROSS JOIN truth t
    """,
    doc="K-minimum-values distinct sketch over event users: keep the "
        "256 smallest distinct 52-bit salted-md5 hashes; the estimate "
        "is (k-1) * 2^52 / kth_min, reported against the exact "
        "distinct count. All inputs to the final division are "
        "exactly-representable doubles (hashes < 2^52; (k-1) * 2^52 "
        "has an 8-bit mantissa), so the IEEE result is bit-identical "
        "across engines. At 100 TB the distinct-hash relation is the "
        "only shuffle (8-byte ints) and the k-smallest step is a "
        "TakeOrdered (per-partition top-k, no global sort) — the "
        "mergeable-sketch alternative to an exact COUNT(DISTINCT) "
        "when the key space itself is the bottleneck.",
    tags=("sketch",),
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("user_id")
    hashed = (e.distinct()
               .select(F.expr(_h52("CAST(user_id AS STRING)", 'kmv'))
                        .alias("h")))
    kmin = hashed.orderBy("h").limit(KMV_K)
    sk = kmin.agg(F.count(F.lit(1)).alias("k_used"),
                  F.max("h").alias("kth_hash"))
    truth = e.agg(F.countDistinct("user_id").alias("true_distinct"))
    est = (F.col("k_used").cast("double") - F.lit(1.0)) \
        * F.lit(float(_KMV_POW52)) / F.col("kth_hash").cast("double")
    return (sk.crossJoin(F.broadcast(truth))
              .select("k_used", "kth_hash", est.alias("est_distinct"),
                      "true_distinct",
                      (est / F.col("true_distinct").cast("double"))
                      .alias("est_over_true")))


# -------------------------------------------------- daily OHLC bars


@query(
    "daily_ohlc_bars",
    oracle="""
        WITH e AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, ts, event_id,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        r AS (
          SELECT *,
                 row_number() OVER (PARTITION BY day
                                    ORDER BY ts, event_id) AS rn_o,
                 row_number() OVER (PARTITION BY day
                                    ORDER BY ts DESC, event_id DESC)
                   AS rn_c
          FROM e
        )
        SELECT day,
               MAX(CASE WHEN rn_o = 1 THEN cents END) AS open_cents,
               CAST(MAX(cents) AS BIGINT) AS high_cents,
               CAST(MIN(cents) AS BIGINT) AS low_cents,
               MAX(CASE WHEN rn_c = 1 THEN cents END) AS close_cents,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM r GROUP BY day
    """,
    doc="Daily OHLC candlesticks over the event value stream: "
        "open/close picked by deterministic (ts, event_id) row order "
        "— event_id breaks timestamp ties so retries agree — "
        "high/low/volume as plain integer-cents aggregates. One "
        "exchange hash-partitioned by day feeds both window sorts "
        "AND the final aggregate (day-partitioned windows, never "
        "unpartitioned), the bar-building pattern for any "
        "time-bucketed rollup at scale.",
    tags=("timeseries",),
)
def daily_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        F.to_date("ts").cast("string").alias("day"), "ts", "event_id",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"))
    w_open = Window.partitionBy("day").orderBy("ts", "event_id")
    w_close = Window.partitionBy("day").orderBy(F.desc("ts"),
                                                F.desc("event_id"))
    r = (e.withColumn("rn_o", F.row_number().over(w_open))
          .withColumn("rn_c", F.row_number().over(w_close)))
    return (r.groupBy("day")
             .agg(F.max(F.when(F.col("rn_o") == 1, F.col("cents")))
                   .alias("open_cents"),
                  F.max("cents").alias("high_cents"),
                  F.min("cents").alias("low_cents"),
                  F.max(F.when(F.col("rn_c") == 1, F.col("cents")))
                   .alias("close_cents"),
                  F.count(F.lit(1)).alias("n_events"),
                  F.sum("cents").alias("sum_cents")))


# ------------------------------------------- balanced resample plan


@query(
    "balanced_resample_plan",
    oracle="""
        WITH cls AS (
          SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs
          FROM embeddings GROUP BY label
        ),
        mx AS (SELECT CAST(MAX(n_vecs) AS BIGINT) AS max_n FROM cls)
        SELECT c.label, c.n_vecs,
               CAST((m.max_n + c.n_vecs - 1) // c.n_vecs AS BIGINT)
                 AS rep_factor,
               CAST(((m.max_n + c.n_vecs - 1) // c.n_vecs) * c.n_vecs
                    AS BIGINT) AS n_resampled,
               CAST(((m.max_n + c.n_vecs - 1) // c.n_vecs) * c.n_vecs
                    - m.max_n AS BIGINT) AS overshoot
        FROM cls c CROSS JOIN mx m
    """,
    doc="Class-balancing oversample plan for the labeled embedding "
        "corpus: per-class ceil(max/n) replication factors and the "
        "resulting resampled sizes — the deterministic alternative "
        "to random oversampling (replicate whole classes, let the "
        "downstream shuffle-shard pass interleave). One tiny "
        "aggregate plus a one-row broadcast max; the plan is "
        "metadata-sized no matter the corpus.",
    tags=("curation",),
)
def balanced_resample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    cls = (load(spark, sf_dir, "embeddings")
           .groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs")))
    mx = cls.agg(F.max("n_vecs").alias("max_n"))
    rep = F.expr("(max_n + n_vecs - 1) div n_vecs")
    return (cls.crossJoin(F.broadcast(mx))
               .select("label", "n_vecs",
                       rep.cast("long").alias("rep_factor"),
                       (rep * F.col("n_vecs")).cast("long")
                        .alias("n_resampled"),
                       (rep * F.col("n_vecs") - F.col("max_n"))
                        .cast("long").alias("overshoot")))


# ------------------------------------ Gini impurity feature ranking

GINI_SCALE = 10 ** 12

_GINI_FEATURES_SPARK = """
    explode(array(
      named_struct('feature', 'ship_year',
                   'val', CAST(year(l_shipdate) AS STRING)),
      named_struct('feature', 'linestatus', 'val', l_linestatus),
      named_struct('feature', 'qty_band',
                   'val', CAST(CAST(ROUND(l_quantity) AS BIGINT) div 10
                               AS STRING)),
      named_struct('feature', 'disc_band',
                   'val', CAST(CAST(ROUND(l_discount * 100) AS BIGINT)
                               AS STRING))))
"""

_GINI_FEATURES_SQL = """
    SELECT 'ship_year' AS feature,
           CAST(year(l_shipdate) AS VARCHAR) AS val, l_returnflag
    FROM lineitem
    UNION ALL
    SELECT 'linestatus', l_linestatus, l_returnflag FROM lineitem
    UNION ALL
    SELECT 'qty_band',
           CAST(CAST(ROUND(l_quantity) AS BIGINT) // 10 AS VARCHAR),
           l_returnflag
    FROM lineitem
    UNION ALL
    SELECT 'disc_band',
           CAST(CAST(ROUND(l_discount * 100) AS BIGINT) AS VARCHAR),
           l_returnflag
    FROM lineitem
"""


@query(
    "gini_feature_split_rank",
    oracle=f"""
        WITH unpiv AS ({_GINI_FEATURES_SQL}),
        cnt AS (
          SELECT feature, val, l_returnflag,
                 CAST(COUNT(*) AS BIGINT) AS n_vc
          FROM unpiv GROUP BY 1, 2, 3
        ),
        vals AS (
          SELECT feature, val,
                 CAST(SUM(n_vc) AS BIGINT) AS n_v,
                 SUM(CAST(n_vc AS HUGEINT) * n_vc) AS sumsq
          FROM cnt GROUP BY 1, 2
        ),
        feat AS (
          SELECT feature,
                 CAST(COUNT(*) AS BIGINT) AS n_values,
                 CAST(SUM(n_v) AS BIGINT) AS n_rows,
                 SUM((CAST(n_v AS HUGEINT) * n_v - sumsq)
                     * {GINI_SCALE} // n_v) AS imp
          FROM vals GROUP BY 1
        )
        SELECT feature, n_values, n_rows,
               CAST(imp // n_rows AS BIGINT) AS impurity_e12,
               CAST(row_number() OVER (ORDER BY imp // n_rows, feature)
                    AS BIGINT) AS split_rank
        FROM feat
    """,
    doc="Gini-impurity feature ranking for predicting l_returnflag "
        "from four candidate lineitem features (ship year / line "
        "status / quantity band / discount band) — the "
        "decision-stump feature-selection pass. The weighted impurity "
        "1 - sum_c p_c^2 is computed ENTIRELY in integers: per "
        "feature value, (n_v^2 - sum_c n_vc^2) * 1e12 floor-divided "
        "by n_v (DECIMAL(38,0) wide, per the overflow rule), summed, "
        "then floor-divided by the row count — bit-identical across "
        "engines, no floating accumulation anywhere. One unpivoted "
        "aggregate (4x the scan, map-side combinable into "
        "vocabulary-bounded cells) and a 4-row ranking window.",
    tags=("ml",),
)
def gini_feature_split_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_linestatus", "l_quantity", "l_discount",
        "l_returnflag")
    unpiv = li.select(F.expr(_GINI_FEATURES_SPARK).alias("fv"),
                      "l_returnflag").select("fv.feature", "fv.val",
                                             "l_returnflag")
    cnt = (unpiv.groupBy("feature", "val", "l_returnflag")
                .agg(F.count(F.lit(1)).alias("n_vc")))
    vals = (cnt.groupBy("feature", "val")
               .agg(F.sum("n_vc").alias("n_v"),
                    F.sum(F.expr("CAST(n_vc AS DECIMAL(38,0)) * n_vc"))
                     .alias("sumsq")))
    feat = (vals.groupBy("feature")
                .agg(F.count(F.lit(1)).alias("n_values"),
                     F.sum("n_v").alias("n_rows"),
                     F.sum(F.expr(
                         f"(CAST(n_v AS DECIMAL(38,0)) * n_v - sumsq)"
                         f" * {GINI_SCALE} div n_v")).alias("imp")))
    w = Window.orderBy(F.expr("imp div n_rows"), "feature")  # 4 rows
    return feat.select(
        "feature", "n_values", F.col("n_rows").cast("long").alias("n_rows"),
        F.expr("CAST(imp div n_rows AS BIGINT)").alias("impurity_e12"),
        F.row_number().over(w).cast("long").alias("split_rank"))


# ------------------------------------- smoothed target encoding

TENC_M = 100  # smoothing pseudo-count (orders)


@query(
    "target_encoding_smoothed",
    oracle=f"""
        WITH j AS (
          SELECT c.c_mktsegment,
                 CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        seg AS (
          SELECT c_mktsegment,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(cents) AS BIGINT) AS sum_cents
          FROM j GROUP BY 1
        ),
        tot AS (
          SELECT CAST(SUM(n_orders) AS BIGINT) AS n_all,
                 CAST(SUM(sum_cents) AS BIGINT) AS tot_cents
          FROM seg
        )
        SELECT s.c_mktsegment, s.n_orders, s.sum_cents,
               CAST(s.sum_cents AS DOUBLE) / CAST(s.n_orders AS DOUBLE)
                 AS raw_mean_cents,
               CAST(CAST(CAST(s.sum_cents AS HUGEINT) * g.n_all
                         + {TENC_M} * CAST(g.tot_cents AS HUGEINT)
                         AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(CAST(g.n_all AS HUGEINT)
                             * (s.n_orders + {TENC_M})
                             AS VARCHAR) AS DOUBLE) AS enc_cents
        FROM seg s CROSS JOIN tot g
    """,
    doc="Smoothed target encoding of the customer market segment "
        "against order value: enc = (sum + m * global_mean) / (n + m) "
        "with m=100 pseudo-observations, the leakage-safe categorical "
        "encoder for tabular ML. Computed as ONE exact rational — "
        "numerator sum_cents * n_all + m * tot_cents and denominator "
        "n_all * (n + m) both DECIMAL(38,0) — converted via the "
        "STRING->DOUBLE route because the numerator passes 2^53 at "
        "sf0.1 (the twap_user_values lesson). One fact-table "
        "aggregate into 5 segment cells, one broadcast global row.",
    tags=("ml",),
)
def target_encoding_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"))
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("cents").alias("sum_cents")))
    glob = seg.agg(F.sum("n_orders").alias("n_all"),
                   F.sum("sum_cents").alias("tot_cents"))
    return (seg.crossJoin(F.broadcast(glob))
               .select("c_mktsegment", "n_orders", "sum_cents",
                       (F.col("sum_cents").cast("double")
                        / F.col("n_orders").cast("double"))
                       .alias("raw_mean_cents"),
                       F.expr(
                           f"CAST(CAST(CAST(sum_cents AS DECIMAL(38,0))"
                           f" * n_all + {TENC_M}"
                           f" * CAST(tot_cents AS DECIMAL(38,0))"
                           f" AS STRING) AS DOUBLE)"
                           f" / CAST(CAST(CAST(n_all AS DECIMAL(38,0))"
                           f" * (n_orders + {TENC_M})"
                           f" AS STRING) AS DOUBLE)").alias("enc_cents")))


# ------------------------------------------- feature hashing (BoW)

FH_BUCKETS = 32


@query(
    "feature_hashing_bow",
    oracle=f"""
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        )
        SELECT {_sql_h52('tok', 'fh|')} % {FH_BUCKETS} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
               CAST(SUM(CASE WHEN {_sql_h52('tok', 'fhsign|')} % 2 = 0
                             THEN 1 ELSE -1 END) AS BIGINT)
                 AS signed_sum
        FROM toks GROUP BY 1
    """,
    doc="The hashing trick over the document corpus: every token is "
        "folded into one of 32 signed buckets (salted-md5 bucket + "
        "independent salted-md5 sign, the Weinberger et al. "
        "construction that keeps collisions unbiased), producing the "
        "fixed-width bag-of-words projection used to featurize "
        "unbounded vocabularies without a dictionary. One explode + "
        "one map-side-combinable aggregate into 32 cells; the "
        "distinct-token count is the only shuffle that carries "
        "strings, bounded by vocabulary not corpus.",
    tags=("ml",),
)
def feature_hashing_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (load(spark, sf_dir, "documents")
            .select(F.explode(F.split("text", " ")).alias("tok")))
    return (toks.groupBy((F.expr(_h52('tok', 'fh|')) % FH_BUCKETS)
                          .alias("bucket"))
                .agg(F.count(F.lit(1)).alias("n_tokens"),
                     F.countDistinct("tok").alias("n_distinct_tokens"),
                     F.sum(F.when(F.expr(_h52('tok', 'fhsign|')) % 2 == 0,
                                  1).otherwise(-1)).alias("signed_sum")))


# --------------------------------------- reciprocal rank fusion

RRF_QUERY_ID = 1    # deterministic probe vector (knn family uses 0)
RRF_TOPK = 50       # per-ranking candidate list length
RRF_OUT = 20        # fused results returned
RRF_C = 60          # the standard RRF dampening constant

_L2_SPARK = (
    "aggregate(zip_with(embedding, qv, (x, y) ->"
    " (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
    " 0D, (acc, v) -> acc + v)")

_L2_SQL = (
    "list_reduce(list_prepend(0.0, list_transform("
    "generate_series(1, len(embedding)),"
    " i -> (CAST(embedding[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE))"
    " * (CAST(embedding[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE)))),"
    " (acc, v) -> acc + v)")

# DuckDB cosine(embedding, qv) — the oracle-side twin of
# operators.similarity.cosine, shared by every oracle in this module
# that ranks by cosine (rrf_fusion_search, kendall_tau_rankings).
_COS_SQL = (
    "list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(embedding)), i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))), (acc, v) -> acc + v)"
    " / (SQRT(list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(embedding)), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))), (acc, v) -> acc + v))"
    " * SQRT(list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))), (acc, v) -> acc + v)))")


def _rrf_score_sql(r1: str, r2: str) -> str:
    """Exact-rational RRF: integer numerator/denominator, one final
    IEEE division of exactly-representable ints (< 2^53)."""
    c = RRF_C
    return f"""
        CASE WHEN {r1} IS NOT NULL AND {r2} IS NOT NULL
             THEN CAST({2 * c} + {r1} + {r2} AS DOUBLE)
                  / CAST(({c} + {r1}) * ({c} + {r2}) AS DOUBLE)
             WHEN {r1} IS NOT NULL
             THEN 1.0 / CAST({c} + {r1} AS DOUBLE)
             ELSE 1.0 / CAST({c} + {r2} AS DOUBLE) END
    """


def _ranked_lists(spark: SparkSession,
                  sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The two top-50 candidate lists (cosine desc / L2 asc) with
    their in-list ranks — shared by rrf_fusion_search and
    kendall_tau_rankings so both consume identical rankings."""
    from de_project_airflow_etl_spark.operators.similarity import cosine
    e = load(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") == RRF_QUERY_ID)
          .select(F.col("embedding").alias("qv")))
    # the scored relation feeds BOTH ranking branches (cosine desc,
    # L2 asc); un-materialized, each TakeOrdered re-scored the corpus
    # (4 scans between rrf_fusion_search and kendall_tau_rankings).
    # The (vec_id, cosv, l2sq) triple is ~10x narrower than the
    # embeddings it derives from — checkpoint it once.
    m = (e.filter(F.col("vec_id") != RRF_QUERY_ID)
          .crossJoin(F.broadcast(q))
          .select("vec_id", cosine("embedding", "qv").alias("cosv"),
                  F.expr(_L2_SPARK).alias("l2sq"))
          .localCheckpoint())
    wa = Window.orderBy(F.desc("cosv"), "vec_id")   # over 50 rows only
    wb = Window.orderBy("l2sq", "vec_id")           # over 50 rows only
    ra = (m.orderBy(F.desc("cosv"), "vec_id").limit(RRF_TOPK)
           .select("vec_id", F.row_number().over(wa).cast("long")
                   .alias("r1")))
    rb = (m.orderBy("l2sq", "vec_id").limit(RRF_TOPK)
           .select("vec_id", F.row_number().over(wb).cast("long")
                   .alias("r2")))
    return ra, rb



@query(
    "rrf_fusion_search",
    oracle=f"""
        WITH q AS (SELECT embedding AS qv FROM embeddings
                   WHERE vec_id = {RRF_QUERY_ID}),
        m AS (
          SELECT vec_id,
                 {_COS_SQL} AS cosv,
                 {_L2_SQL} AS l2sq
          FROM embeddings CROSS JOIN q
          WHERE vec_id <> {RRF_QUERY_ID}
        ),
        ra AS (
          SELECT vec_id, r FROM (
            SELECT vec_id, CAST(row_number() OVER
                   (ORDER BY cosv DESC, vec_id) AS BIGINT) AS r FROM m)
          WHERE r <= {RRF_TOPK}
        ),
        rb AS (
          SELECT vec_id, r FROM (
            SELECT vec_id, CAST(row_number() OVER
                   (ORDER BY l2sq, vec_id) AS BIGINT) AS r FROM m)
          WHERE r <= {RRF_TOPK}
        ),
        f AS (
          SELECT COALESCE(ra.vec_id, rb.vec_id) AS vec_id,
                 ra.r AS r1, rb.r AS r2
          FROM ra FULL JOIN rb ON ra.vec_id = rb.vec_id
        )
        SELECT vec_id,
               CAST(COALESCE(r1, -1) AS BIGINT) AS rank_cos,
               CAST(COALESCE(r2, -1) AS BIGINT) AS rank_l2,
               {_rrf_score_sql('r1', 'r2')} AS rrf_score
        FROM f
        ORDER BY rrf_score DESC, vec_id
        LIMIT {RRF_OUT}
    """,
    doc="Reciprocal-rank fusion of two retrieval rankings (cosine "
        "similarity and L2 distance) against one probe embedding: "
        "top-50 candidate lists per ranking, fused with the standard "
        "1/(60+rank) score and returned as the top-20 — the "
        "multi-retriever blending step of a RAG / hybrid-search "
        "stack. The score is an exact rational (integer numerator "
        "over integer denominator, both < 2^53) so the final IEEE "
        "division is bit-identical across engines; both metric folds "
        "are sequential array aggregates (deterministic order). At "
        "scale each ranking is a TakeOrdered top-k over a "
        "broadcast-probe scan — no corpus shuffle, no global sort — "
        "and ranking windows only ever run over the 50-row "
        "candidate lists.",
    tags=("similarity",),
)
def rrf_fusion_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    ra, rb = _ranked_lists(spark, sf_dir)
    f = ra.join(rb, "vec_id", "full_outer")
    return (f.select("vec_id",
                     F.coalesce("r1", F.lit(-1)).cast("long")
                      .alias("rank_cos"),
                     F.coalesce("r2", F.lit(-1)).cast("long")
                      .alias("rank_l2"),
                     F.expr(_rrf_score_sql("r1", "r2")).alias("rrf_score"))
             .orderBy(F.desc("rrf_score"), "vec_id")
             .limit(RRF_OUT))


# ----------------------------- Markov stationary event distribution

MARKOV_SCALE = 10 ** 12
MARKOV_ITERS = 12

_MARKOV_BASE_SQL = f"""
    pairs AS (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    trans AS (
      SELECT prev AS src, event_type AS dst,
             CAST(COUNT(*) AS BIGINT) AS n_ij
      FROM pairs WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    rowtot AS (
      SELECT src, CAST(SUM(n_ij) AS BIGINT) AS n_i FROM trans GROUP BY 1
    ),
    states AS (SELECT DISTINCT event_type AS state FROM events),
    ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_states FROM states),
    v0 AS (
      SELECT state, CAST({MARKOV_SCALE} // n_states AS BIGINT) AS v
      FROM states CROSS JOIN ns
    )
"""


def _markov_oracle() -> str:
    steps = []
    for t in range(1, MARKOV_ITERS + 1):
        steps.append(f"""
        v{t} AS (
          SELECT t.dst AS state,
                 CAST(SUM((p.v * t.n_ij) // rt.n_i) AS BIGINT) AS v
          FROM v{t - 1} p
          JOIN trans t ON t.src = p.state
          JOIN rowtot rt ON rt.src = t.src
          GROUP BY 1
        )""")
    return (f"WITH {_MARKOV_BASE_SQL}, {','.join(steps)}\n"
            f"SELECT state AS event_type, v AS stationary_e12\n"
            f"FROM v{MARKOV_ITERS}")


@query(
    "markov_stationary_event_mix",
    oracle=_markov_oracle(),
    doc="Stationary distribution of the user-journey Markov chain: "
        "per-user consecutive event-type transitions (lag over the "
        "(ts, event_id) order) define the transition counts; the "
        "uniform start vector is power-iterated 12 times in 1e12 "
        "fixed-point — every step is (v * n_ij) floor-div n_i in "
        "pure integers, so Spark and the 12-step unrolled DuckDB "
        "oracle agree bit-for-bit (the ann_ivf_kmeans_fit "
        "discipline). The corpus-scale work is ONE lag window "
        "partitioned by user and one transition aggregate; the "
        "iteration itself runs on the state-vocabulary-sized matrix "
        "(localCheckpointed per step to truncate lineage, like "
        "pagerank_dup_graph at dedup.py:692).",
    tags=("timeseries",),
)
def markov_stationary_event_mix(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("user_id", "ts",
                                             "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (e.withColumn("prev", F.lag("event_type").over(w))
              .filter(F.col("prev").isNotNull()))
    trans = (pairs.groupBy(F.col("prev").alias("src"),
                           F.col("event_type").alias("dst"))
                  .agg(F.count(F.lit(1)).alias("n_ij")))
    rowtot = trans.groupBy("src").agg(F.sum("n_ij").alias("n_i"))
    edges = (trans.join(rowtot, "src")
                  .select("src", "dst", "n_ij", "n_i").localCheckpoint())
    states = e.select(F.col("event_type").alias("state")).distinct()
    n_states = states.count()  # vocabulary-sized driver scalar (cf. ns)
    v = states.withColumn(
        "v", F.lit(MARKOV_SCALE // n_states)).localCheckpoint()
    for _ in range(MARKOV_ITERS):
        v = (edges.join(v, edges.src == v.state)
                  .select(F.col("dst").alias("state"),
                          F.expr("(v * n_ij) div n_i").alias("c"))
                  .groupBy("state")
                  .agg(F.sum("c").cast("long").alias("v"))
                  .localCheckpoint())
    return v.select(F.col("state").alias("event_type"),
                    F.col("v").alias("stationary_e12"))


# ------------------------------------------- k-core decomposition

KCORE_K = 2       # keep nodes with degree >= 2 among survivors
KCORE_ROUNDS = 6  # fixed simultaneous peels (defined semantics)


def _kcore_oracle() -> str:
    from de_project_airflow_etl_spark.operators.dedup import _sql_lsh_pairs
    # MATERIALIZED is load-bearing: e{t-1} is referenced twice per
    # round, and DuckDB's default CTE inlining would otherwise expand
    # the whole upstream minhash pipeline 2^rounds times.
    steps = ["""
        e0 AS MATERIALIZED (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM pairs
        )"""]
    for t in range(1, KCORE_ROUNDS + 1):
        steps.append(f"""
        k{t} AS MATERIALIZED (
          SELECT src FROM e{t - 1}
          GROUP BY src HAVING COUNT(*) >= {KCORE_K}
        ),
        e{t} AS MATERIALIZED (
          SELECT e.src, e.dst
          FROM e{t - 1} e
          JOIN k{t} a ON a.src = e.src
          JOIN k{t} b ON b.src = e.dst
        )""")
    return (f"WITH {_sql_lsh_pairs()}, {','.join(steps)}\n"
            f"SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT)"
            f" AS core_degree\n"
            f"FROM e{KCORE_ROUNDS} GROUP BY src")


@query(
    "kcore_dup_graph",
    oracle=_kcore_oracle(),
    doc="2-core of the LSH-verified near-dup graph by simultaneous "
        "peeling: six fixed rounds of 'drop every node whose degree "
        "among survivors is < 2', then report each survivor's "
        "in-core degree — the standard strengthening of "
        "connected-components that isolates the cyclically-connected "
        "duplicate clusters (pendant one-off matches peel away). "
        "Fixed round count keeps the semantics engine-independent; "
        "the DuckDB oracle is the same six peels unrolled as CTEs "
        "(the ann_ivf_kmeans_fit unrolled-oracle discipline). Each "
        "round is one degree aggregate + two semi-join-shaped hash "
        "joins on node ids, localCheckpointed to truncate lineage — "
        "O(rounds) shuffles of id-sized rows, never text, same scale "
        "shape as dedup_clusters' alternating-star loop "
        "(dedup.py::_connected_components).",
    tags=("graph",),
)
def kcore_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.operators.dedup import _lsh_verified
    pairs = _lsh_verified(spark, sf_dir).select("doc_a", "doc_b")
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
                  .union(pairs.select(F.col("doc_b").alias("src"),
                                      F.col("doc_a").alias("dst")))
                  .localCheckpoint(eager=False))
    # LAZY checkpoints (r11, guide §1.4): each round's edges are still
    # materialized exactly once (keep references them twice, the next
    # round once — the checkpoint dedupes), but the whole 6-round peel
    # now runs under ONE action instead of paying 7 sequential
    # driver-job barriers; labels byte-identical.
    for _ in range(KCORE_ROUNDS):
        keep = (edges.groupBy("src")
                     .agg(F.count(F.lit(1)).alias("d"))
                     .filter(F.col("d") >= KCORE_K)
                     .select("src"))
        edges = (edges.join(keep, "src")
                      .join(keep.withColumnRenamed("src", "dst"), "dst")
                      .select("src", "dst")
                      .localCheckpoint(eager=False))
    return (edges.groupBy(F.col("src").alias("doc_id"))
                 .agg(F.count(F.lit(1)).alias("core_degree")))


# --------------------------------- Holt linear trend (a = b = 1/2)


def _tdiv2_spark(x: str) -> str:
    """Truncate-toward-zero halving — pinned explicitly because Spark
    `div` truncates while DuckDB `//` floors on negatives."""
    return f"(CASE WHEN ({x}) < 0 THEN -((-({x})) div 2)" \
           f" ELSE ({x}) div 2 END)"


def _tdiv2_sql(x: str) -> str:
    return f"(CASE WHEN ({x}) < 0 THEN -((-({x})) // 2)" \
           f" ELSE ({x}) // 2 END)"


def _holt_spark_expr() -> str:
    lnew = _tdiv2_spark("e.cents + acc.l + acc.b")
    bnew = _tdiv2_spark(f"{lnew} - acc.l + acc.b")
    init = (
        "named_struct("
        "'l', element_at(arr, 1).cents,"
        " 'b', element_at(arr, 2).cents - element_at(arr, 1).cents,"
        " 'rows', array(named_struct("
        "'day', element_at(arr, 1).day,"
        " 'cents', element_at(arr, 1).cents,"
        " 'level_c', element_at(arr, 1).cents,"
        " 'trend_c', element_at(arr, 2).cents"
        " - element_at(arr, 1).cents,"
        " 'forecast_c', element_at(arr, 1).cents)))")
    merge = (
        f"named_struct('l', {lnew}, 'b', {bnew},"
        f" 'rows', concat(acc.rows, array(named_struct("
        f"'day', e.day, 'cents', e.cents, 'level_c', {lnew},"
        f" 'trend_c', {bnew}, 'forecast_c', acc.l + acc.b))))")
    return (f"inline(aggregate(slice(arr, 2, size(arr) - 1), {init},"
            f" (acc, e) -> {merge}, acc -> acc.rows))")


def _holt_oracle() -> str:
    lnew = _tdiv2_sql("s.cents + i.level_c + i.trend_c")
    bnew = _tdiv2_sql(f"{lnew} - i.level_c + i.trend_c")
    return f"""
        WITH RECURSIVE daily AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1
        ),
        seq AS (
          SELECT day, cents,
                 CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
          FROM daily
        ),
        it AS (
          SELECT s1.t AS t, s1.day, s1.cents,
                 s1.cents AS level_c,
                 s2.cents - s1.cents AS trend_c,
                 s1.cents AS forecast_c
          FROM seq s1 JOIN seq s2 ON s2.t = 2
          WHERE s1.t = 1
          UNION ALL
          SELECT s.t, s.day, s.cents,
                 {lnew} AS level_c,
                 {bnew} AS trend_c,
                 i.level_c + i.trend_c AS forecast_c
          FROM it i JOIN seq s ON s.t = i.t + 1
        )
        SELECT day, cents, level_c, trend_c, forecast_c FROM it
    """


@query(
    "holt_linear_daily_revenue",
    oracle=_holt_oracle(),
    doc="Holt's linear (double-exponential) smoothing of daily event "
        "revenue with alpha = beta = 1/2: per day, the smoothed "
        "level, trend, and the one-step-ahead forecast the PREVIOUS "
        "state implied — the classic trend-following baseline the "
        "EWMA family lacks. The recurrence runs in pure integer "
        "cents with truncate-toward-zero halving (pinned via an "
        "explicit CASE because Spark `div` truncates and DuckDB `//` "
        "floors on negatives — trends go negative); Spark folds a "
        "calendar-bounded sorted day array in ONE sequential "
        "aggregate expression (single projection — the "
        "winnowing_fingerprints CollapseProject lesson), the oracle "
        "is a recursive CTE with identical arithmetic. The "
        "corpus-scale work is the one daily rollup; the fold length "
        "is the calendar, not the data.",
    tags=("timeseries",),
)
def holt_linear_daily_revenue(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    daily = (load(spark, sf_dir, "events")
             .groupBy(F.to_date("ts").cast("string").alias("day"))
             .agg(F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)"))
                   .cast("long").alias("cents")))
    one = daily.agg(F.sort_array(
        F.collect_list(F.struct("day", "cents"))).alias("arr"))
    # inline() is a generator: one projection, columns named by the
    # struct fields (day, cents, level_c, trend_c, forecast_c)
    return one.select(F.expr(_holt_spark_expr()))


# --------------------------------------- Theil-Sen robust trend

_TS_DAILY_SQL = """
        daily AS (
          SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   AS x,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1
        )
"""


@query(
    "theil_sen_daily_trend",
    oracle=f"""
        WITH {_TS_DAILY_SQL},
        p AS (
          SELECT b.cents - a.cents AS num,
                 CAST(b.x - a.x AS BIGINT) AS den
          FROM daily a JOIN daily b ON b.x > a.x
        ),
        st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM p),
        r AS (
          SELECT num, den,
                 row_number() OVER (ORDER BY
                   CAST(num AS DOUBLE) / CAST(den AS DOUBLE), num, den)
                   AS rn
          FROM p
        ),
        med AS (
          SELECT num AS med_num, den AS med_den
          FROM r CROSS JOIN st WHERE rn = (n_pairs + 1) // 2
        ),
        nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
        ic AS (
          SELECT d.cents * m.med_den - m.med_num * d.x AS inum,
                 m.med_den AS iden
          FROM daily d CROSS JOIN med m
        ),
        icr AS (
          SELECT inum, iden, row_number() OVER (ORDER BY inum) AS rn
          FROM ic
        ),
        icm AS (
          SELECT inum AS intercept_num, iden AS intercept_den
          FROM icr CROSS JOIN nd WHERE rn = (n_days + 1) // 2
        )
        SELECT nd.n_days, st.n_pairs, m.med_num, m.med_den,
               CAST(m.med_num AS DOUBLE) / CAST(m.med_den AS DOUBLE)
                 AS slope_cents_per_day,
               i.intercept_num, i.intercept_den,
               CAST(i.intercept_num AS DOUBLE)
                 / CAST(i.intercept_den AS DOUBLE) AS intercept_cents
        FROM med m CROSS JOIN icm i CROSS JOIN nd CROSS JOIN st
    """,
    doc="Theil-Sen robust trend of daily event revenue: the (lower) "
        "median of all pairwise slopes, then the median intercept at "
        "the chosen slope — the estimator that shrugs off the "
        "outlier days that wreck OLS. Slopes are exact rationals "
        "(integer numerator/denominator; the ranking divides two "
        "exactly-representable ints so the IEEE sort key is "
        "bit-identical, with (num, den) tiebreaks), and intercepts "
        "share the slope's denominator so their median orders by "
        "integer numerator alone. Every window runs over "
        "calendar-bounded relations (days and day-pairs); the "
        "corpus-scale work is the one daily rollup.",
    tags=("statistics",),
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    # daily feeds FOUR consumers (both pair-join sides, the day count,
    # the intercept residuals) and the pair relation feeds two; left
    # un-materialized, every reference re-scanned and re-aggregated
    # the fact table (10 scans observed). Both relations are
    # calendar-bounded (<= |days| and |days|^2/2 rows), so checkpoint
    # them — the rollup runs once at any scale.
    daily = (load(spark, sf_dir, "events")
             .groupBy(F.datediff(F.to_date("ts"),
                                 F.lit("1970-01-01")).alias("x"))
             .agg(F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)"))
                   .cast("long").alias("cents"))
             .localCheckpoint())
    a = daily.select(F.col("x").alias("xa"), F.col("cents").alias("ca"))
    b = daily.select(F.col("x").alias("xb"), F.col("cents").alias("cb"))
    p = (a.join(b, F.col("xb") > F.col("xa"))
          .select((F.col("cb") - F.col("ca")).alias("num"),
                  (F.col("xb") - F.col("xa")).cast("long").alias("den"))
          .localCheckpoint())
    st = p.agg(F.count(F.lit(1)).alias("n_pairs"))
    wr = Window.orderBy(F.expr("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"),
                        "num", "den")  # day-pair-bounded
    med = (p.withColumn("rn", F.row_number().over(wr))
            .crossJoin(F.broadcast(st))
            .filter(F.expr("rn = (n_pairs + 1) div 2"))
            .select(F.col("num").alias("med_num"),
                    F.col("den").alias("med_den"), "n_pairs"))
    nd = daily.agg(F.count(F.lit(1)).alias("n_days"))
    ic = (daily.crossJoin(F.broadcast(med))
               .select(F.expr("cents * med_den - med_num * x")
                        .alias("inum"),
                       F.col("med_den").alias("iden")))
    wi = Window.orderBy("inum")  # calendar-bounded
    icm = (ic.withColumn("rn", F.row_number().over(wi))
             .crossJoin(F.broadcast(nd))
             .filter(F.expr("rn = (n_days + 1) div 2"))
             .select(F.col("inum").alias("intercept_num"),
                     F.col("iden").alias("intercept_den"), "n_days"))
    return (med.crossJoin(F.broadcast(icm))
               .select("n_days", "n_pairs", "med_num", "med_den",
                       F.expr("CAST(med_num AS DOUBLE)"
                              " / CAST(med_den AS DOUBLE)")
                        .alias("slope_cents_per_day"),
                       "intercept_num", "intercept_den",
                       F.expr("CAST(intercept_num AS DOUBLE)"
                              " / CAST(intercept_den AS DOUBLE)")
                        .alias("intercept_cents")))


# ------------------------------- contrastive negative sampling

NEG_ANCHOR_MOD = 25   # anchors = vec_id % 25 == 0 (deterministic ~4%)
NEG_PER_ANCHOR = 5

_NEG_KEY_SPARK = ("concat(CAST(anchor_id AS STRING), '|', "
                  "CAST(neg_id AS STRING))")
_NEG_KEY_SQL = ("CAST(anchor_id AS VARCHAR) || '|' || "
                "CAST(neg_id AS VARCHAR)")


@query(
    "negative_sampling_pairs",
    oracle=f"""
        WITH a AS (
          SELECT vec_id AS anchor_id, label AS anchor_label
          FROM embeddings WHERE vec_id % {NEG_ANCHOR_MOD} = 0
        ),
        c AS (
          SELECT vec_id AS neg_id, label AS neg_label FROM embeddings
        ),
        p AS (
          SELECT anchor_id, anchor_label, neg_id, neg_label,
                 {_sql_h52(_NEG_KEY_SQL, 'neg|')} AS score
          FROM a JOIN c ON neg_label <> anchor_label
        ),
        r AS (
          SELECT *, CAST(row_number() OVER (
                   PARTITION BY anchor_id ORDER BY score, neg_id)
                 AS BIGINT) AS neg_rank
          FROM p
        )
        SELECT anchor_id, anchor_label, neg_id, neg_label, neg_rank,
               score
        FROM r WHERE neg_rank <= {NEG_PER_ANCHOR}
    """,
    doc="Deterministic negative mining for contrastive training: for "
        "every anchor vector (a fixed ~4% hash-free id-slice), the 5 "
        "different-label vectors with the smallest salted-md5 "
        "(anchor, candidate) scores — i.e. a per-anchor uniform "
        "'random' negative set that is exactly reproducible across "
        "engines and retries (the no-rand() discipline). The anchor "
        "side broadcasts onto the corpus (BroadcastNestedLoopJoin on "
        "the label-inequality predicate), and the per-anchor top-5 "
        "is a partitioned rank window — at 100 TB this is the "
        "standard 'broadcast the query set, never shuffle the "
        "corpus' sampling shape, and WindowGroupLimit keeps the "
        "rank from materializing full partitions.",
    tags=("ml",),
)
def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    a = (e.filter(F.col("vec_id") % NEG_ANCHOR_MOD == 0)
          .select(F.col("vec_id").alias("anchor_id"),
                  F.col("label").alias("anchor_label")))
    c = e.select(F.col("vec_id").alias("neg_id"),
                 F.col("label").alias("neg_label"))
    p = (c.join(F.broadcast(a),
                F.col("neg_label") != F.col("anchor_label"))
          .select("anchor_id", "anchor_label", "neg_id", "neg_label",
                  F.expr(_h52(_NEG_KEY_SPARK, 'neg|')).alias("score")))
    w = Window.partitionBy("anchor_id").orderBy("score", "neg_id")
    return (p.withColumn("neg_rank",
                         F.row_number().over(w).cast("long"))
             .filter(F.col("neg_rank") <= NEG_PER_ANCHOR))


# ----------------------------------- LSH dedup recall/precision audit

# audit slice: doc_id < LSH_AUDIT_DOCS, a fixed number of documents at
# any scale, so the all-pairs truth join is bounded by a constant
LSH_AUDIT_DOCS = 1000


def _lsh_audit_oracle() -> str:
    from de_project_airflow_etl_spark.operators.dedup import (
        JACCARD_THRESHOLD, _sql_lsh_pairs)
    n = LSH_AUDIT_DOCS
    return f"""
        WITH {_sql_lsh_pairs()},
        truth AS MATERIALIZED (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
          WHERE a.doc_id < {n} AND b.doc_id < {n}
            AND CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
                / (len(a.hs) + len(b.hs)
                   - len(list_intersect(a.hs, b.hs)))
                >= {JACCARD_THRESHOLD}
        ),
        found AS MATERIALIZED (
          SELECT doc_a, doc_b FROM pairs
          WHERE doc_a < {n} AND doc_b < {n}
        ),
        hit AS (
          SELECT t.doc_a FROM truth t
          JOIN found f ON f.doc_a = t.doc_a AND f.doc_b = t.doc_b
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM found) AS n_lsh,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit,
               CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
                 / (SELECT COUNT(*) FROM truth) AS recall,
               CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
                 / (SELECT COUNT(*) FROM found) AS precision
    """


@query(
    "lsh_dedup_recall_audit",
    oracle=_lsh_audit_oracle(),
    doc="Recall/precision audit of the banded-LSH near-dup pipeline "
        "against exact ground truth on a bounded doc-id slice: "
        "all-pairs exact Jaccard (shingle-digest intersection over "
        "union, the dedup_minhash_lsh verification arithmetic) on "
        "the first LSH_AUDIT_DOCS = 1000 doc_ids is the truth set; the "
        "production LSH pairs restricted to the same slice are the "
        "candidates. Precision "
        "is 1.0 by construction (every LSH candidate is "
        "Jaccard-verified before emission) — the audit's real signal "
        "is recall: how many true pairs the 4x2 banding misses. "
        "This mirrors ann_recall_audit for the dedup family. The "
        "quadratic truth join is confined to that fixed-size slice "
        "(at most 499,500 pairs at any scale, as the retrieval "
        "panels cap theirs with vec_id < 500); the production side "
        "stays the banded equi-join, never all-pairs.",
    tags=("dedup", "evaluation"),
)
def lsh_dedup_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.operators.dedup import (
        JACCARD_THRESHOLD, _lsh_verified, _shingled)
    n = LSH_AUDIT_DOCS
    sub = (_shingled(spark, sf_dir).select("doc_id", "hs")
           .filter(F.col("doc_id") < n))
    a = sub.select(F.col("doc_id").alias("doc_a"),
                   F.col("hs").alias("hs_a"))
    b = sub.select(F.col("doc_id").alias("doc_b"),
                   F.col("hs").alias("hs_b"))
    truth = (a.join(b, F.col("doc_a") < F.col("doc_b"))
              .withColumn("n_inter", F.expr(
                  "size(array_intersect(hs_a, hs_b))"))
              .filter(F.expr(
                  f"CAST(n_inter AS DOUBLE)"
                  f" / (size(hs_a) + size(hs_b) - n_inter)"
                  f" >= {JACCARD_THRESHOLD}"))
              .select("doc_a", "doc_b"))
    found = (_lsh_verified(spark, sf_dir)
             .filter((F.col("doc_a") < n) & (F.col("doc_b") < n))
             .select("doc_a", "doc_b"))
    hit = truth.join(found, ["doc_a", "doc_b"])
    nt = truth.agg(F.count(F.lit(1)).alias("n_true"))
    nl = found.agg(F.count(F.lit(1)).alias("n_lsh"))
    nh = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (nt.crossJoin(F.broadcast(nl)).crossJoin(F.broadcast(nh))
              .select("n_true", "n_lsh", "n_hit",
                      (F.col("n_hit").cast("double")
                       / F.col("n_true").cast("double")).alias("recall"),
                      (F.col("n_hit").cast("double")
                       / F.col("n_lsh").cast("double"))
                      .alias("precision")))


# --------------------------------- Kendall tau between rankings


@query(
    "kendall_tau_rankings",
    oracle=f"""
        WITH q AS (SELECT embedding AS qv FROM embeddings
                   WHERE vec_id = {RRF_QUERY_ID}),
        m AS (
          SELECT vec_id,
                 {_COS_SQL} AS cosv,
                 {_L2_SQL} AS l2sq
          FROM embeddings CROSS JOIN q
          WHERE vec_id <> {RRF_QUERY_ID}
        ),
        ra AS (
          SELECT vec_id, r FROM (
            SELECT vec_id, CAST(row_number() OVER
                   (ORDER BY cosv DESC, vec_id) AS BIGINT) AS r FROM m)
          WHERE r <= {RRF_TOPK}
        ),
        rb AS (
          SELECT vec_id, r FROM (
            SELECT vec_id, CAST(row_number() OVER
                   (ORDER BY l2sq, vec_id) AS BIGINT) AS r FROM m)
          WHERE r <= {RRF_TOPK}
        ),
        both_ AS MATERIALIZED (
          SELECT ra.vec_id, ra.r AS r1, rb.r AS r2
          FROM ra JOIN rb ON ra.vec_id = rb.vec_id
        ),
        pairs_ AS (
          SELECT CASE WHEN (a.r1 - b.r1) * (a.r2 - b.r2) > 0
                      THEN 1 ELSE 0 END AS conc
          FROM both_ a JOIN both_ b ON a.vec_id < b.vec_id
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM both_) AS n_common,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(conc) AS BIGINT) AS n_concordant,
               CAST(COUNT(*) - SUM(conc) AS BIGINT) AS n_discordant,
               CAST(2 * SUM(conc) - COUNT(*) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS tau
        FROM pairs_
    """,
    doc="Kendall rank correlation between the cosine and L2 "
        "retrieval rankings, on the vectors both top-50 lists "
        "contain: exact concordant/discordant pair counting (no "
        "ties — ranks are distinct by construction), tau = (C - D) "
        "/ n_pairs as one division of exact integers. The ranking "
        "agreement metric that tells you whether fusing retrievers "
        "(rrf_fusion_search consumes the SAME _ranked_lists "
        "helper) is worth it. Pairs are emitted IN-ARRAY over the "
        "collected <= 50-row candidate list (frequent_item_pairs' "
        "nested-lambda pattern) — no join, no "
        "BroadcastNestedLoopJoin, never the corpus.",
    tags=("statistics",),
)
def kendall_tau_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No pair JOIN at all (an inequality-only self-join would plan as
    # BroadcastNestedLoopJoin and trip the repo's all-pairs gate even
    # though the input is <= 50 rows): collect the common candidates
    # into ONE sorted array and emit the C(n,2) ordered pairs with the
    # same nested transform/slice lambdas frequent_item_pairs uses.
    # xs is an aggregate output (physical operator boundary), so the
    # lambda references below cannot CollapseProject-inline anything
    # expensive — and each fold touches <= C(50,2) = 1225 elements.
    ra, rb = _ranked_lists(spark, sf_dir)
    both = ra.join(rb, "vec_id")  # equi-join, <= 50 rows
    packed = both.agg(F.expr(
        "sort_array(collect_list(struct(vec_id, r1, r2)))").alias("xs"))
    conc_sum = (
        "aggregate(flatten(transform(xs, (x, i) -> "
        "transform(slice(xs, i + 2, size(xs) - i - 1), "
        "y -> CASE WHEN (x.r1 - y.r1) * (x.r2 - y.r2) > 0 "
        "THEN 1L ELSE 0L END))), 0L, (acc, v) -> acc + v)")
    n_pairs = ("CAST(size(xs) AS BIGINT) "
               "* (CAST(size(xs) AS BIGINT) - 1) DIV 2")
    return packed.select(
        F.expr("CAST(size(xs) AS BIGINT)").alias("n_common"),
        F.expr(n_pairs).alias("n_pairs"),
        F.expr(conc_sum).alias("n_concordant"),
        F.expr(f"{n_pairs} - {conc_sum}").alias("n_discordant"),
        F.expr(f"CAST(2 * {conc_sum} - {n_pairs} AS DOUBLE)"
               f" / CAST({n_pairs} AS DOUBLE)").alias("tau"))


# ------------------------------ Markov next-event prediction eval


@query(
    "markov_next_event_accuracy",
    oracle="""
        WITH pairs AS (
          SELECT event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
          FROM events
        ),
        trans AS (
          SELECT prev AS src, event_type AS dst,
                 CAST(COUNT(*) AS BIGINT) AS n_ij
          FROM pairs WHERE prev IS NOT NULL GROUP BY 1, 2
        ),
        ranked AS (
          SELECT src, dst, n_ij,
                 row_number() OVER (PARTITION BY src
                                    ORDER BY n_ij DESC, dst) AS rn,
                 CAST(SUM(n_ij) OVER (PARTITION BY src) AS BIGINT)
                   AS n_total
          FROM trans
        )
        SELECT src, dst AS predicted_next, n_total,
               n_ij AS n_correct,
               CAST(n_ij AS DOUBLE) / CAST(n_total AS DOUBLE)
                 AS accuracy
        FROM ranked WHERE rn = 1
    """,
    doc="Top-1 next-event prediction accuracy of the first-order "
        "Markov model: per source event type, the argmax transition "
        "(count-desc, lexicographic tiebreak) and the exact fraction "
        "of observed transitions it would have predicted — the "
        "evaluation companion to markov_stationary_event_mix and "
        "user_event_transitions. One lag window partitioned by user, "
        "one vocabulary-bounded aggregate, and rank/total windows "
        "that only ever see |vocab|^2 rows.",
    tags=("evaluation",),
)
def markov_next_event_accuracy(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("user_id", "ts",
                                             "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (e.withColumn("prev", F.lag("event_type").over(w))
              .filter(F.col("prev").isNotNull()))
    trans = (pairs.groupBy(F.col("prev").alias("src"),
                           F.col("event_type").alias("dst"))
                  .agg(F.count(F.lit(1)).alias("n_ij")))
    wr = Window.partitionBy("src").orderBy(F.desc("n_ij"), "dst")
    wt = Window.partitionBy("src")
    ranked = (trans.withColumn("rn", F.row_number().over(wr))
                   .withColumn("n_total",
                               F.sum("n_ij").over(wt).cast("long")))
    return (ranked.filter(F.col("rn") == 1)
                  .select("src", F.col("dst").alias("predicted_next"),
                          "n_total", F.col("n_ij").alias("n_correct"),
                          (F.col("n_ij").cast("double")
                           / F.col("n_total").cast("double"))
                          .alias("accuracy")))
