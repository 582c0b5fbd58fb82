"""Determinism helpers shared by query implementations.

Double-precision SUM/AVG results depend on accumulation order, which
differs between Spark's partial+final hash aggregate and DuckDB's
scan-order aggregate. The testdata's monetary columns carry at most two
decimal digits (FIXTURES.md), so scaling them to exact int64 cents makes
the aggregate exact AND keeps the hot loop in whole-stage-codegen long
arithmetic (a DECIMAL(30+) accumulator would fall back to per-row
BigDecimal). Casting the exact integer result back to DOUBLE is
deterministic on both engines (sums stay far below 2^63; DuckDB
accumulates BIGINT into HUGEINT, Spark into BIGINT — both exact).
Oracles use the same construction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column | str, alias: str) -> Column:
    """Order-insensitive exact SUM over a monetary double column."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(cents(c)).cast("double") / F.lit(100)).alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Deterministic AVG: exact cents sum, then one double division."""
    c = F.col(col) if isinstance(col, str) else col
    return ((F.sum(cents(c)).cast("double") / F.lit(100)) / F.count(c)).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM({sql_cents(expr)}) AS DOUBLE) / 100 AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return (f"CAST(SUM({sql_cents(expr)}) AS DOUBLE) / 100"
            f" / COUNT({expr}) AS {alias}")


# Multi-factor products (e.g. price * (1-discount) * (1+tax)) overflow
# DECIMAL(38) and would be rounded engine-specifically. Instead scale the
# 2-decimal inputs to exact BIGINTs, do all arithmetic in int64 (exact,
# order-insensitive), and divide once at the end.

def cents(col: Column | str) -> Column:
    """price -> integer cents (exact for 2-decimal data)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def sql_cents(expr: str) -> str:
    return f"CAST(ROUND({expr} * 100) AS BIGINT)"


# Exact integers that can pass 2^53 (DECIMAL(38,0) sums of products,
# DuckDB HUGEINT) reach DOUBLE through their decimal string: the digits
# are identical on both engines and the string -> double parse is
# correctly rounded everywhere, while a direct numeric cast is not.
# DuckDB reads STRING as an alias of VARCHAR, so one spelling serves
# the Spark text and the oracle.

def wide(expr: str) -> str:
    """Exact wide integer -> nearest double via its decimal string."""
    return f"CAST(CAST({expr} AS STRING) AS DOUBLE)"


def dlit(x: float) -> str:
    """A double literal rendered identically in both engines: repr()
    round-trips exactly and the string cast is correctly rounded (a bare
    decimal literal parses as DECIMAL in Spark)."""
    return f"CAST('{x!r}' AS DOUBLE)"


# Deterministic double reduction: a bounded sum of per-group DOUBLE
# terms is bit-identical on both engines when each folds the SORTED
# terms left to right from a 0.0 seed. DuckDB's list_reduce takes no
# seed, so prepending 0.0 reproduces Spark's association exactly.
# Running-sum windows are not a substitute: DuckDB may combine window
# aggregates through a segment tree rather than left to right.

def fold_sorted_spark(arr: str) -> str:
    """Spark SQL: sorted 0.0-seeded sum of a DOUBLE array column."""
    return (f"aggregate(array_sort({arr}), CAST(0.0 AS DOUBLE), "
            f"(acc, v) -> acc + v)")


def fold_sorted_sql(list_expr: str) -> str:
    """DuckDB twin of ``fold_sorted_spark``; pass a list column, or
    ``f"list({term})"`` to fold a per-row term of the group."""
    return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_sort({list_expr})), (acc, v) -> acc + v)")


# ---------------------------------------------------- distributed rank

RANK_BUCKETS = 32        # value-range buckets per refinement level
RANK_OVERSIZE = 4        # refine buckets holding > OVERSIZE * n/K rows
RANK_LEVELS = 3          # max refinement depth (keys fit 32^3 << 2^63)


def global_row_number(df, value_col: str, tiebreak: str, out: str,
                      descending: bool = False, adaptive: bool = True,
                      _keep_key: bool = False):
    """Exact global ROW_NUMBER() OVER (ORDER BY value [DESC], tiebreak)
    with no unpartitioned window, by iterative value-range bucketing:

    1. Equal-width buckets over [min, max] of the (monotone) sort
       position, so every row in bucket b sorts before every row in
       b+1 under the requested direction.
    2. Skewed distributions defeat one level of equal width (a long
       tail or a spike puts most rows in one bucket), so buckets
       holding more than OVERSIZE * n/K rows are refined, up to
       RANK_LEVELS deep, with a three-way rule: the bucket's EDGE
       values (its first- and last-sorting values) each get their own
       TIEBREAK-range sub-split — rows sharing one value are ordered
       by tiebreak alone, so a tiebreak split of an equal-value run
       preserves the total order exactly — and the interior is
       re-split by value range. Point masses and zero-inflated spikes
       are, at some level, the min or max of the bucket holding them,
       so the edge rule levels them; only a spike forever strictly
       interior to a continuous neighborhood can survive all levels
       (document/extend RANK_LEVELS if such data exists). Each
       level's per-bucket stats feed a 1-scalar balance probe on the
       driver (one action decides whether to stop or refine), so
       well-spread data exits after a single check.
    3. Composite keys (parent * 3K + sub) keep lexicographic order;
       per-key counts prefix-sum into broadcast offsets (the only
       unpartitioned window, <= K^RANK_LEVELS tiny rows); global rank
       = offset + row_number over the key-partitioned window.

    ``adaptive=False`` skips refinement entirely (no extra passes) for
    axes the caller KNOWS are bounded-range and roughly spread (e.g.
    document length); long-tailed / point-mass-prone axes (spend,
    frequency, zero-inflated metrics) must keep it. Preconditions:
    value and tiebreak are non-null numerics (engines disagree on NULL
    placement in ORDER BY anyway) and tiebreak is unique per row.
    Bucketing only needs monotonicity, not cross-engine exactness —
    correctness rests on the within-bucket sort over the true columns.
    """

    K = RANK_BUCKETS
    v = F.col(value_col).cast("double")
    t = F.col(tiebreak).cast("double")

    def _bucket(pos, lo, hi):
        span = hi - lo + F.lit(1.0)
        return (F.least(F.lit(K - 1), F.floor((pos - lo) * K / span))
                 .cast("long"))

    if not adaptive:
        # single-level bucketing needs no driver-side decision, so the
        # min/max stay IN-PLAN as a broadcast one-row aggregate —
        # constructing the DataFrame (plan gates, gen_plans) costs
        # nothing, and the stats pass fuses into the one job.
        stats = df.agg(F.min(v).alias("__gmn"), F.max(v).alias("__gmx"))
        pos1 = (F.col("__gmx") - v) if descending else v
        lo1 = F.lit(0.0) if descending else F.col("__gmn")
        hi1 = ((F.col("__gmx") - F.col("__gmn")) if descending
               else F.col("__gmx"))
        keyed = (df.crossJoin(F.broadcast(stats))
                   .withColumn("__bk", _bucket(pos1, lo1, hi1))
                   .drop("__gmn", "__gmx"))
        return _rank_over_buckets(keyed, value_col, tiebreak, out,
                                  descending, _keep_key)

    # adaptive: the refinement decision (stop or re-split) is made on
    # the driver per level, one scalar probe per decision, so the
    # global stats are one eager 3-scalar probe.
    mn, mx, n = df.agg(F.min(v), F.max(v), F.count(F.lit(1))).first()
    if not n:
        return df.withColumn(out, F.lit(1).cast("long"))

    pos1 = (F.lit(float(mx)) - v) if descending else v
    lo1 = F.lit(0.0) if descending else F.lit(float(mn))
    hi1 = (F.lit(float(mx) - float(mn)) if descending
           else F.lit(float(mx)))
    keyed = df.withColumn("__bk", _bucket(pos1, lo1, hi1))
    for _ in range(RANK_LEVELS - 1):
        keyed = keyed.localCheckpoint(eager=False)
        bstats = (keyed.groupBy("__bk")
                       .agg(F.count(F.lit(1)).alias("__bn"),
                            F.min(v).alias("__bvmn"),
                            F.max(v).alias("__bvmx"),
                            F.min(t).alias("__btmn"),
                            F.max(t).alias("__btmx"))
                       .localCheckpoint())  # tiny; probed + joined
        worst = bstats.agg(F.max("__bn")).first()[0]
        if worst * K <= n * RANK_OVERSIZE:
            break
        # three-way refinement: [0,K) first-sorting edge value by
        # tiebreak range, [K,2K) interior by value range, [2K,3K)
        # last-sorting edge value by tiebreak range
        first_v = F.col("__bvmx") if descending else F.col("__bvmn")
        last_v = F.col("__bvmn") if descending else F.col("__bvmx")
        pos2 = (F.col("__bvmx") - v) if descending else v
        lo2 = F.lit(0.0) if descending else F.col("__bvmn")
        hi2 = ((F.col("__bvmx") - F.col("__bvmn")) if descending
               else F.col("__bvmx"))
        tb = _bucket(t, F.col("__btmn"), F.col("__btmx"))
        sub = (F.when(F.col("__bn") * K <= F.lit(n) * RANK_OVERSIZE,
                      F.lit(0).cast("long"))
                .when(v == first_v, tb)
                .when(v == last_v, F.lit(2 * K) + tb)
                .otherwise(F.lit(K) + _bucket(pos2, lo2, hi2)))
        keyed = (keyed.join(F.broadcast(bstats), "__bk")
                      .withColumn("__bk",
                                  F.col("__bk") * (3 * K)
                                  + sub.cast("long"))
                      .drop("__bn", "__bvmn", "__bvmx",
                            "__btmn", "__btmx"))

    return _rank_over_buckets(keyed, value_col, tiebreak, out,
                              descending, _keep_key)


def _rank_over_buckets(keyed, value_col: str, tiebreak: str, out: str,
                       descending: bool, _keep_key: bool):
    """Shared rank tail: per-bucket counts prefix-sum into broadcast
    offsets (the only unpartitioned window, bucket-count rows), then
    global rank = offset + row_number over the bucket-partitioned
    window."""
    from pyspark.sql import Window

    counts = keyed.groupBy("__bk").agg(F.count(F.lit(1)).alias("__c"))
    offsets = (counts.withColumn(
                   "__off",
                   F.coalesce(
                       F.sum("__c").over(
                           Window.orderBy("__bk")
                                 .rowsBetween(Window.unboundedPreceding, -1)),
                       F.lit(0)))
                     .select("__bk", "__off"))
    order = [F.desc(value_col) if descending else F.asc(value_col),
             F.asc(tiebreak)]
    local = Window.partitionBy("__bk").orderBy(*order)
    ranked = (keyed.join(F.broadcast(offsets), "__bk")
                   .withColumn(out,
                               F.row_number().over(local) + F.col("__off"))
                   .drop("__off"))
    return ranked if _keep_key else ranked.drop("__bk")


# ----------------------------------------------- tracked persist()

# Multi-consumer bounded intermediates are persist()ed (not
# localCheckpoint()ed) when the plan must stay inspectable — the
# InMemoryRelation prints its child, so pushdown/broadcast plan gates
# still see the scan. The cost is lifecycle: cached blocks outlive the
# query's materialization. Harness runs (bench.py, the test fixtures,
# profile_correctness) release them via spark.catalog.clearCache();
# a long-lived session composing many queries should call
# release_tracked_caches() instead, which releases EXACTLY the blocks
# query implementations pinned without nuking caches the application
# itself manages.
_TRACKED_CACHES: list = []


def tracked_persist(df):
    """``df.persist()`` with an explicit release path (see above).

    Entries callers already unpersisted themselves (e.g. dedup's
    ``finally`` blocks) are pruned here, so the list — and the py4j
    handles it retains — cannot grow without bound in a long-lived
    session (ADVICE r7)."""
    _TRACKED_CACHES[:] = [d for d in _TRACKED_CACHES if _still_cached(d)]
    _TRACKED_CACHES.append(df.persist())
    return df


def _still_cached(df) -> bool:
    try:
        return df.is_cached
    except Exception:  # session already stopped — nothing retained
        return False


def release_tracked_caches() -> int:
    """Unpersist every query-pinned cache; returns how many blocks
    were actually freed (entries already released by their caller —
    or listed twice — don't inflate the count)."""
    n = 0
    while _TRACKED_CACHES:
        df = _TRACKED_CACHES.pop()
        try:
            if df.is_cached:
                df.unpersist()
                n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n
