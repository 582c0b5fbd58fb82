"""Grouped-aggregate pandas UDAFs (``pandas_udf`` over ``groupBy`` and
over bounded window frames) — the one Python-UDF surface the registry
lacked (SURVEY §7.2 names the UDF/UDAF family; mapInPandas /
mapInArrow / applyInPandas / UDTF are covered elsewhere).

A GROUPED_AGG pandas UDF ships every row of a group to one executor as
an Arrow batch — there is NO partial aggregation. That is the
surface's inherent scale hazard, so every query here feeds the UDAF a
PRE-AGGREGATED (value, weight) relation instead of raw rows: the
regular ``groupBy(key, value).agg(sum(weight))`` step is map-side
combinable and shrinks the UDAF's input from O(rows) to O(distinct
values) per group — bounded by the value domain (price cents, epoch
days, event-type labels), independent of row count. At 100 TB the
Arrow batch per group is therefore still small; the raw-row UDAF
formulation would not survive and is deliberately not used. The
windowed variant (``udaf_rolling_median_window``) runs over a bounded
ROWS frame, so its per-invocation input is the frame width, not the
partition.

Every statistic is computed in exact integer arithmetic inside the
UDAF (python ints are arbitrary-precision; the inputs are exact cents
/ days / counts), and the DuckDB oracles re-express the same quantity
with window/cumulative-sum SQL. Discrete quantiles follow the
convention ``sorted[floor((n-1)*q)]``; DuckDB's ``quantile_disc``
agrees for the median (ties at .5 resolve LOW, measured) but rounds
.75 fractions UP, so the quartile oracles pin the convention with
explicit row_number selection instead of the built-in.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType

from de_project_airflow_etl_spark.queries.util import cents, sql_cents
from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load

# ------------------------------------------------------------- UDAFs
#
# All UDAFs take a pre-aggregated (value, weight) pair of columns.
# Weights are positive longs; values are exact longs (cents / epoch
# days). Python-int arithmetic keeps every intermediate exact.


def _expand_index(w: pd.Series) -> int:
    return int(w.astype("int64").sum())


@F.pandas_udf(LongType())
def _weighted_lower_median(v: pd.Series, w: pd.Series) -> int:
    """Smallest value whose cumulative weight reaches half the total:
    the lower median of the weight-expanded multiset (equals
    ``quantile_disc(x, 0.5)`` = sorted[(n-1)//2] — for n odd that is
    the middle element; for n even the lower of the two middles, and
    2*cum(v) >= n first holds exactly there)."""
    d = (pd.DataFrame({"v": v.astype("int64"), "w": w.astype("int64")})
           .groupby("v", sort=True)["w"].sum())
    tot = int(d.sum())
    cum = 0
    for value, weight in d.items():
        cum += int(weight)
        if 2 * cum >= tot:
            return int(value)
    raise ValueError("empty group")  # groupBy never emits empty groups


def _disc_quantile(d: "pd.Series", idx: int) -> int:
    """Value at 0-based position ``idx`` of the weight-expanded sorted
    multiset (d: value -> weight, index-sorted ascending)."""
    cum = 0
    for value, weight in d.items():
        cum += int(weight)
        if cum > idx:
            return int(value)
    raise ValueError("quantile index out of range")


def _grouped(v: pd.Series, w: pd.Series) -> "pd.Series":
    return (pd.DataFrame({"v": v.astype("int64"), "w": w.astype("int64")})
              .groupby("v", sort=True)["w"].sum())


@F.pandas_udf(LongType())
def _q1_disc(v: pd.Series, w: pd.Series) -> int:
    d = _grouped(v, w)
    n = int(d.sum())
    return _disc_quantile(d, (n - 1) // 4)


@F.pandas_udf(LongType())
def _q3_disc(v: pd.Series, w: pd.Series) -> int:
    d = _grouped(v, w)
    n = int(d.sum())
    return _disc_quantile(d, (3 * (n - 1)) // 4)


@F.pandas_udf(LongType())
def _tukey_outlier_count(v: pd.Series, w: pd.Series) -> int:
    """Weight-expanded count outside the Tukey fences
    [q1 - 1.5*IQR, q3 + 1.5*IQR], with the fences cross-multiplied
    into integers (2*v < 5*q1 - 3*q3 etc.) so no double ever rounds."""
    d = _grouped(v, w)
    n = int(d.sum())
    q1 = _disc_quantile(d, (n - 1) // 4)
    q3 = _disc_quantile(d, (3 * (n - 1)) // 4)
    lo, hi = 5 * q1 - 3 * q3, 5 * q3 - 3 * q1
    return int(sum(int(weight) for value, weight in d.items()
                   if 2 * value < lo or 2 * value > hi))


@F.pandas_udf(LongType())
def _trimmed_sum(v: pd.Series, w: pd.Series) -> int:
    """Sum of the weight-expanded multiset after dropping the n//10
    smallest and n//10 largest ITEMS (10% trim each side). Partial
    weights at the trim boundary are handled exactly: a value's
    contribution is (weight - overlap_with_trimmed_region) * value."""
    d = _grouped(v, w)
    n = int(d.sum())
    k = n // 10
    total = sum(int(value) * int(weight) for value, weight in d.items())
    # sum of k smallest items
    def edge_sum(items) -> int:
        left, s = k, 0
        for value, weight in items:
            take = min(left, int(weight))
            s += take * int(value)
            left -= take
            if left == 0:
                break
        return s
    low = edge_sum(d.items())
    high = edge_sum(reversed(list(d.items())))
    return total - low - high


@F.pandas_udf(LongType())
def _longest_run(day: pd.Series) -> int:
    """Longest run of consecutive integers in a set of epoch days."""
    days = sorted(set(int(x) for x in day))
    best = cur = 1
    for a, b in zip(days, days[1:]):
        cur = cur + 1 if b == a + 1 else 1
        best = max(best, cur)
    return best


@F.pandas_udf(LongType())
def _lower_median_rows(v: pd.Series) -> int:
    """Unweighted lower median (= sorted[(n-1)//2]) — the windowed
    rolling-frame variant, where the frame is already row-bounded."""
    s = v.astype("int64").sort_values().reset_index(drop=True)
    return int(s.iloc[(len(s) - 1) // 2])


@F.pandas_udf(LongType())
def _wsum(w: pd.Series) -> int:
    """Exact sum of long weights. Spark refuses to mix GROUPED_AGG
    pandas UDFs with JVM aggregates in one agg() (
    INVALID_PANDAS_UDF_PLACEMENT), so the companion counts/sums ride
    the same surface."""
    return int(w.astype("int64").sum())


@F.pandas_udf(LongType())
def _nrows(v: pd.Series) -> int:
    """Row count of the group (see _wsum for why not F.count)."""
    return int(len(v))


@F.pandas_udf(StringType())
def _modal_string(v: pd.Series, w: pd.Series) -> str:
    """Most frequent string; ties broken toward the lexicographically
    smallest (the deterministic rule both engines can express)."""
    d = (pd.DataFrame({"v": v.astype(str), "w": w.astype("int64")})
           .groupby("v", sort=True)["w"].sum())
    best_v, best_w = None, -1
    for value, weight in d.items():  # ascending value order
        if int(weight) > best_w:
            best_v, best_w = value, int(weight)
    return best_v


# ------------------------------------------- weighted median by brand


@query(
    "udaf_weighted_median_brand",
    oracle=f"""
        WITH li AS (
          SELECT p_brand, {sql_cents("l_extendedprice")} AS cents,
                 CAST(l_quantity AS BIGINT) AS qty
          FROM lineitem JOIN part ON l_partkey = p_partkey
        ),
        g AS (
          SELECT p_brand, cents, SUM(qty) AS w FROM li GROUP BY 1, 2
        ),
        c AS (
          SELECT p_brand, cents,
                 SUM(w) OVER (PARTITION BY p_brand ORDER BY cents) AS cw,
                 SUM(w) OVER (PARTITION BY p_brand) AS tot
          FROM g
        )
        SELECT p_brand,
               MIN(cents) FILTER (WHERE 2 * cw >= tot) AS wmedian_cents,
               CAST(MAX(tot) AS BIGINT) AS total_qty
        FROM c GROUP BY p_brand
    """,
    doc="Quantity-weighted lower median of line price per brand via a "
        "grouped-aggregate pandas UDAF. The UDAF consumes the "
        "(cents, total-qty) pre-aggregate — map-side combinable, "
        "O(distinct prices) per brand regardless of row count — and "
        "walks the cumulative weight in exact python-int arithmetic. "
        "The oracle is the cumulative-sum window formulation, which "
        "is also the pure-SQL fallback a 100 TB run could swap in.",
    tags=("udaf", "quantile"),
)
def udaf_weighted_median_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", cents("l_extendedprice").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"))
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pre = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
             .groupBy("p_brand", "cents").agg(F.sum("qty").alias("w")))
    return (pre.groupBy("p_brand")
               .agg(_weighted_lower_median("cents", "w")
                    .alias("wmedian_cents"),
                    _wsum("w").alias("total_qty")))


# --------------------------------------------- trimmed mean by segment


@query(
    "udaf_trimmed_mean_segment",
    oracle=f"""
        WITH o AS (
          SELECT c_mktsegment, {sql_cents("o_totalprice")} AS cents
          FROM orders JOIN customer ON o_custkey = c_custkey
        ),
        r AS (
          SELECT c_mktsegment, cents,
                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                    ORDER BY cents) AS rn,
                 COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
          FROM o
        )
        SELECT c_mktsegment, CAST(MAX(n) AS BIGINT) AS n_orders,
               CAST(MAX(n) - 2 * (MAX(n) // 10) AS BIGINT) AS n_kept,
               CAST(SUM(cents) FILTER (WHERE rn > n // 10
                                         AND rn <= n - n // 10)
                    AS BIGINT) AS trimmed_sum_cents,
               CAST(SUM(cents) FILTER (WHERE rn > n // 10
                                         AND rn <= n - n // 10) AS DOUBLE)
                 / CAST(MAX(n) - 2 * (MAX(n) // 10) AS DOUBLE) / 100.0
                 AS trimmed_mean
        FROM r GROUP BY c_mktsegment
    """,
    doc="10%-trimmed mean of order value per market segment via a "
        "grouped-aggregate pandas UDAF over the (cents, count) "
        "pre-aggregate: the trim boundary is resolved with partial "
        "weights in exact integer arithmetic (equal values straddling "
        "the cut contribute exactly weight-minus-overlap), which "
        "makes the result independent of how ties are ordered — the "
        "property that lets the row-numbered oracle agree despite its "
        "arbitrary tie order. Only the final mean divides, with "
        "identical long operands on both engines.",
    tags=("udaf", "robust-stats"),
)
def udaf_trimmed_mean_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", cents("o_totalprice").alias("cents"))
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    pre = (o.join(c, o.o_custkey == c.c_custkey)
             .groupBy("c_mktsegment", "cents")
             .agg(F.count(F.lit(1)).alias("w")))
    agg = (pre.groupBy("c_mktsegment")
              .agg(_wsum("w").alias("n_orders"),
                   _trimmed_sum("cents", "w").alias("trimmed_sum_cents")))
    return agg.select(
        "c_mktsegment", "n_orders",
        (F.col("n_orders") - 2 * (F.col("n_orders") / 10).cast("long"))
            .alias("n_kept"),
        "trimmed_sum_cents",
        (F.col("trimmed_sum_cents").cast("double")
         / (F.col("n_orders")
            - 2 * (F.col("n_orders") / 10).cast("long")).cast("double")
         / F.lit(100.0)).alias("trimmed_mean"))


# ------------------------------------------------ Tukey-fence outliers


@query(
    "udaf_iqr_outlier_events",
    oracle=f"""
        WITH e AS (
          SELECT event_type, {sql_cents("value")} AS cents FROM events
        ),
        r AS (
          SELECT event_type, cents,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY cents) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM e
        ),
        q AS (
          -- explicit sorted[floor((n-1)q)] selection: DuckDB's
          -- quantile_disc rounds (n-1)*q to NEAREST (measured: .75
          -- fractions go up, .5 ties go down), so the convention is
          -- pinned by row_number instead of the built-in
          SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
                 MAX(cents) FILTER (WHERE rn = (n - 1) // 4 + 1)
                   AS q1_cents,
                 MAX(cents) FILTER (WHERE rn = (3 * (n - 1)) // 4 + 1)
                   AS q3_cents
          FROM r GROUP BY event_type
        )
        SELECT e.event_type, MAX(q.n) AS n,
               MAX(q.q1_cents) AS q1_cents, MAX(q.q3_cents) AS q3_cents,
               CAST(SUM(CASE WHEN 2 * e.cents < 5 * q.q1_cents
                                               - 3 * q.q3_cents
                               OR 2 * e.cents > 5 * q.q3_cents
                                               - 3 * q.q1_cents
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM e JOIN q USING (event_type)
        GROUP BY e.event_type
    """,
    doc="Tukey-fence outlier audit per event type: discrete quartiles "
        "(sorted[floor((n-1)q)], DuckDB's quantile_disc convention) "
        "and the count outside [q1 - 1.5*IQR, q3 + 1.5*IQR], with "
        "the fences cross-multiplied into integers so no double ever "
        "rounds. Three pandas UDAFs compose in ONE aggregate over the "
        "(cents, count) pre-aggregate — demonstrating multi-UDAF "
        "aggregation — and each sees O(distinct cents) rows per "
        "group, never O(events).",
    tags=("udaf", "robust-stats", "quantile"),
)
def udaf_iqr_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_type", cents("value").alias("cents"))
    pre = (e.groupBy("event_type", "cents")
             .agg(F.count(F.lit(1)).alias("w")))
    return (pre.groupBy("event_type")
               .agg(_wsum("w").alias("n"),
                    _q1_disc("cents", "w").alias("q1_cents"),
                    _q3_disc("cents", "w").alias("q3_cents"),
                    _tukey_outlier_count("cents", "w").alias("n_outliers")))


# ---------------------------------------------- longest active streak


@query(
    "udaf_longest_active_streak",
    oracle="""
        WITH d AS (
          SELECT DISTINCT user_id,
                 date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   AS day
          FROM events
        ),
        r AS (
          SELECT user_id, day,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY day) AS rn
          FROM d
        ),
        islands AS (
          SELECT user_id, day - rn AS island,
                 CAST(COUNT(*) AS BIGINT) AS run_len
          FROM r GROUP BY user_id, day - rn
        )
        SELECT i.user_id, MAX(n.n_active_days) AS n_active_days,
               MAX(i.run_len) AS longest_streak
        FROM islands i
        JOIN (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_active_days
              FROM d GROUP BY user_id) n USING (user_id)
        GROUP BY i.user_id
    """,
    doc="Longest consecutive-day activity streak per user — a "
        "genuinely non-built-in aggregate (the gaps-and-islands "
        "pattern) expressed as a grouped pandas UDAF over each "
        "user's DISTINCT epoch-day set. The distinct step is the "
        "scale bound: days per user are calendar-bounded (a few "
        "thousand) no matter how many raw events exist, so the Arrow "
        "batch per group stays tiny at 100 TB. The oracle is the "
        "classic day-minus-row_number island SQL.",
    tags=("udaf", "sessionization"),
)
def udaf_longest_active_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
         .cast("long").alias("day"))
    days = e.distinct()
    return (days.groupBy("user_id")
                .agg(_nrows("day").alias("n_active_days"),
                     _longest_run("day").alias("longest_streak")))


# ------------------------------------------- rolling median (windowed)

ROLL_FRAME = 6  # current row + 6 preceding = 7-event frame
ROLL_USER_MOD = 7  # deterministic user sample: user_id % 7 == 0


@query(
    "udaf_rolling_median_window",
    oracle=f"""
        SELECT user_id, event_id,
               {sql_cents("value")} AS cents,
               quantile_disc({sql_cents("value")}, 0.5) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN {ROLL_FRAME} PRECEDING AND CURRENT ROW)
                 AS rolling_med_cents
        FROM events
        WHERE user_id % {ROLL_USER_MOD} = 0
    """,
    doc="Rolling 7-event lower median of event value per user — the "
        "WINDOWED grouped-agg pandas UDAF surface: the same UDAF "
        "kind that aggregates a groupBy also evaluates over a bounded "
        "ROWS frame, where Spark ships each frame (<= 7 rows) to the "
        "Python worker as an Arrow batch. Partitioned by user and "
        "ordered by the unique (ts, event_id) pair, so frames are "
        "deterministic; the per-user partition is the only exchange. "
        "A deterministic user_id%7 sample keeps the verification "
        "output bounded; the plan is identical without it.",
    tags=("udaf", "window", "quantile"),
)
def udaf_rolling_median_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (load(spark, sf_dir, "events")
         .where(F.col("user_id") % ROLL_USER_MOD == 0)
         .select("user_id", "event_id", "ts",
                 cents("value").alias("cents")))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(-ROLL_FRAME, 0))
    return (e.withColumn("rolling_med_cents",
                         _lower_median_rows("cents").over(w))
             .select("user_id", "event_id", "cents", "rolling_med_cents"))


# --------------------------------------------------- modal event type


@query(
    "udaf_modal_event_type",
    oracle="""
        WITH c AS (
          SELECT user_id, event_type,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events GROUP BY user_id, event_type
        ),
        r AS (
          SELECT user_id, event_type, cnt,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY cnt DESC, event_type) AS rn
          FROM c
        )
        SELECT r.user_id,
               CAST(n.n_events AS BIGINT) AS n_events,
               n.n_distinct_types,
               r.event_type AS modal_type
        FROM r
        JOIN (SELECT user_id, SUM(cnt) AS n_events,
                     CAST(COUNT(*) AS BIGINT) AS n_distinct_types
              FROM c GROUP BY user_id) n USING (user_id)
        WHERE r.rn = 1
    """,
    doc="Modal event type per user (ties toward the lexicographically "
        "smallest type) — a STRING-returning grouped pandas UDAF over "
        "the (type, count) pre-aggregate, showing the surface is not "
        "numeric-only. Input per group is bounded by the event-type "
        "vocabulary (5 here, small everywhere), so the UDAF sees a "
        "handful of Arrow rows per user at any corpus size.",
    tags=("udaf", "mode"),
)
def udaf_modal_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("user_id", "event_type")
    pre = (e.groupBy("user_id", "event_type")
             .agg(F.count(F.lit(1)).alias("cnt")))
    return (pre.groupBy("user_id")
               .agg(_wsum("cnt").alias("n_events"),
                    _nrows("cnt").alias("n_distinct_types"),
                    _modal_string("event_type", "cnt").alias("modal_type")))
