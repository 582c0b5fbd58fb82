"""Accumulator-width regression tests: the moment/revenue sums must
survive magnitudes past 2^63 (ANSI mode turns a silent wrap into a
query abort — outlier_zscore_orders crashed at sf0.1 exactly this way
in round 5, because sum(cents^2) over 3e4 rows/group crossed int64
while the sf0.01 correctness scale stayed just under). These tests
push synthetic data PAST the boundary so the width of every
scale-critical accumulation is exercised directly, not inferred from
testdata magnitudes."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

# 200 rows x (6e7 cents)^2 = 7.2e20 — an int64 sum aborts, a
# DECIMAL(38,0) sum is exact.
BIG_CENTS = 60_000_000
N_ROWS = 200


@pytest.fixture(scope="module")
def big_orders(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("overflow")
    (spark.range(N_ROWS)
     .selectExpr("id AS o_orderkey", "id % 3 AS o_custkey",
                 "'1-URGENT' AS o_orderstatus",
                 f"CAST({BIG_CENTS} / 100.0 AS DOUBLE) AS o_totalprice",
                 "timestamp'1995-01-01' AS o_orderdate",
                 "'1-URGENT' AS o_orderpriority")
     .write.mode("overwrite").parquet(f"{tmp}/orders.parquet"))
    return str(tmp)


def test_zscore_moment_sums_survive_past_int64(spark, big_orders):
    from de_project_airflow_etl_spark.queries.aggregates_ext import (
        outlier_zscore_orders,
    )
    # sum of squares = 200 * (6e7)^2 = 7.2e20 > 2^63: the query must
    # run (constant values -> sd == 0 -> empty outlier set is fine;
    # the point is it does not abort)
    outlier_zscore_orders(spark, big_orders).collect()


def test_revenue_accumulation_survives_past_int64(spark):
    """The shared TPC-H revenue construction: per-row product fits
    int64, the SUM must not — verified against exact Decimal."""
    from de_project_airflow_etl_spark.queries.tpch import _rev_sum
    df = spark.range(N_ROWS).selectExpr(
        f"CAST({BIG_CENTS * 1000} / 100.0 AS DOUBLE) AS l_extendedprice",
        "CAST(0.05 AS DOUBLE) AS l_discount")
    got = df.agg(_rev_sum()).first()["revenue"]
    exact = (Decimal(N_ROWS) * Decimal(BIG_CENTS * 1000)
             * Decimal(100 - 5)) / Decimal(10_000)
    assert got == pytest.approx(float(exact), rel=0, abs=0)


def test_regression_moments_survive_past_int64(spark, tmp_path):
    from de_project_airflow_etl_spark.queries.aggregates_ext import (
        regression_aggregates,
    )
    (spark.range(N_ROWS)
     .selectExpr("'A' AS l_returnflag",
                 # vary x so the slope denominator is nonzero; per-row
                 # cents ~6e7 keep each product int64-safe while the
                 # accumulated moments cross 2^63
                 f"CAST(({BIG_CENTS} + id * 1000) / 100.0 AS DOUBLE)"
                 " AS l_quantity",
                 f"CAST(({BIG_CENTS} + id * 2000) / 100.0 AS DOUBLE)"
                 " AS l_extendedprice")
     .write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet"))
    rows = regression_aggregates(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0]["slope"] == pytest.approx(2.0)  # y grows 2x per x


# ------------------------------------------- shared exact-double helpers

# DECIMAL(38,0) magnitudes past 2^53 where the nearest double is a
# rounding decision: 2^53 + 1 (a tie, rounds to even), 2^60 + 3, and
# two 37-/38-digit values that DuckDB's direct DECIMAL -> DOUBLE cast
# misrounds by one ulp (the reason the string route exists).
WIDE_DIGITS = ("9007199254740993", "1152921504606846979",
               "7325501306473332540141824227166885268",
               "-68960332154114916793764502436821137399")


def test_wide_gives_identical_double_on_both_engines(spark):
    import duckdb

    from de_project_airflow_etl_spark.queries.util import wide
    cols = ", ".join(
        f"{wide(f'CAST({d} AS DECIMAL(38,0))')} AS w{i}"
        for i, d in enumerate(WIDE_DIGITS))
    got_spark = list(spark.sql(f"SELECT {cols}").first())
    got_duck = list(duckdb.connect().execute(f"SELECT {cols}").fetchone())
    want = [float(int(d)) for d in WIDE_DIGITS]  # correctly rounded
    assert [repr(v) for v in got_spark] == [repr(v) for v in want]
    assert [repr(v) for v in got_duck] == [repr(v) for v in want]


def test_sorted_fold_is_bit_identical_on_both_engines(spark):
    import random

    import duckdb

    from de_project_airflow_etl_spark.queries.util import (
        dlit, fold_sorted_spark, fold_sorted_sql,
    )
    rng = random.Random(26)
    terms = [rng.choice((-1, 1)) * rng.random() * 10.0 ** rng.randint(-3, 16)
             for _ in range(64)]
    rng.shuffle(terms)

    def left_fold(ts):
        acc = 0.0
        for t in ts:
            acc += t
        return acc

    want = left_fold(sorted(terms))
    # the sum must depend on order, or the test proves nothing
    assert left_fold(terms) != want != left_fold(reversed(terms))

    spark_arr = "array(" + ", ".join(dlit(t) for t in terms) + ")"
    duck_list = "[" + ", ".join(dlit(t) for t in terms) + "]"
    con = duckdb.connect()
    got = {
        "spark_array": spark.sql(
            f"SELECT {fold_sorted_spark(spark_arr)} AS s").first()["s"],
        "duck_list": con.execute(
            f"SELECT {fold_sorted_sql(duck_list)}").fetchone()[0],
    }
    # the per-group shape: terms arrive in partition order on Spark and
    # in scan order on DuckDB; the sort makes the order irrelevant
    rows = spark.createDataFrame([(t,) for t in terms], "t double")
    got["spark_group"] = (rows.repartition(4)
                          .agg(F.expr(fold_sorted_spark("collect_list(t)"))
                               .alias("s"))
                          .first()["s"])
    con.execute("CREATE TABLE terms AS SELECT * FROM (VALUES "
                + ", ".join(f"({dlit(t)})" for t in terms) + ") v(t)")
    got["duck_group"] = con.execute(
        f"SELECT {fold_sorted_sql('list(t)')} FROM terms").fetchone()[0]
    assert {k: repr(v) for k, v in got.items()} == {
        k: repr(want) for k in got}
