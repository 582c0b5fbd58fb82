"""Testdata table access.

The driver ships TPC-H-ish parquet tables (TESTDATA.md). Each query
callable receives ``(spark, sf_dir)``; helpers here load tables and
register temp views so both the DataFrame API and ``spark.sql`` can be
used against the same inputs.

At 100 TB scale these reads are exactly the same code path — a
``spark.read.parquet`` over a partitioned lake directory; Catalyst
handles partition pruning / predicate pushdown / column pruning from
the declarative plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as a DataFrame."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark rejects
        # outright unless nanosAsLong is on. Our session factory sets
        # it, but the driver may hand us a plain session — set it
        # defensively (runtime-settable, idempotent) so every query
        # works on any SparkSession.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = _normalize_event_ts(spark, df)
    return df


def _normalize_event_ts(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Give ``events.ts`` one canonical type (TIMESTAMP, UTC instant).

    The driver's generator has shipped two physical encodings so far:
    TIMESTAMP(NANOS) (readable only as a nanosecond long under
    ``nanosAsLong``) and TIMESTAMP(MICROS, isAdjustedToUTC=false)
    (read as TIMESTAMP_NTZ). Every downstream operator — epoch math
    via ``unix_micros``, watermarks, stream-stream interval joins —
    assumes a plain TIMESTAMP whose instant equals the file's naive
    value read as UTC, which is also exactly how the DuckDB oracle
    treats it (naive timestamp, ``epoch()`` == UTC). Normalizing here,
    in the one loader every query goes through, keeps every query
    implementation encoding-agnostic.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    # Pin the session zone for EVERY encoding (runtime-settable,
    # idempotent — same defensive pattern as nanosAsLong above): the
    # NTZ cast interprets the naive value in the session zone, and
    # even for already-instant encodings every downstream
    # date/day-granularity cast (cast('date'), date_trunc) renders in
    # the session zone — the oracle treats all of these as UTC.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        # nanosecond long -> truncate to micros exactly as DuckDB does
        # when casting ns -> us.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def fan_out(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Widen a narrow scan before CPU-heavy per-row work.

    The local testdata ships ONE single-row-group parquet file per
    table, so every scan is a single task no matter how
    ``spark.sql.files.maxPartitionBytes`` is set (row groups are the
    minimum split unit) — and a hashing-heavy operator then runs on one
    of 32 cores. Repartitioning first costs a shuffle of the raw rows
    (sub-MB here) and buys full-width parallelism for the expensive
    map.

    At production scale a 100 TB table spans thousands of files, the
    scan is already wider than the core count, and this helper no-ops —
    the condition, not the repartition, is the design.
    """
    target = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) >= target:
        return df
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = TABLES) -> None:
    """Register temp views for SQL-flavored queries."""
    for name in names:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
