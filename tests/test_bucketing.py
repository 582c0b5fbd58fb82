"""Bucketed-table co-located joins: pre-bucketing both fact tables on
the join key removes the shuffle from every subsequent join on that key
— at 100 TB this turns the recurring orders⋈lineitem join from a
full-network shuffle into a zero-exchange sort-merge per bucket pair.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.plans.inspect import formatted_plan
from de_project_airflow_etl_spark.session import scoped_conf
from de_project_airflow_etl_spark.tables import load


@pytest.fixture(scope="module")
def bucketed(spark, sf_dir):
    """orders + lineitem saved as tables bucketed by the join key."""
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        # a stale warehouse dir without a catalog entry (killed run)
        # blocks CREATE TABLE — clear both sides first
        spark.sql(f"DROP TABLE IF EXISTS b_{name}")
        shutil.rmtree(f"{warehouse}/b_{name}", ignore_errors=True)
        (load(spark, sf_dir, name)
         .write.bucketBy(8, key).sortBy(key)
         .mode("overwrite")
         .saveAsTable(f"b_{name}"))
    yield
    for name in ("orders", "lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS b_{name}")


def test_bucketed_join_has_no_shuffle(spark, sf_dir, bucketed):
    # disable auto-broadcast: at test scale the small side would be
    # broadcast and hide the property under test (the 100 TB case is
    # two fact tables, neither broadcastable)
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        joined = (
            spark.table("b_orders")
                 .join(spark.table("b_lineitem"),
                       F.col("o_orderkey") == F.col("l_orderkey"))
                 .groupBy("o_orderpriority")
                 .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = formatted_plan(joined)
    assert "SortMergeJoin" in plan, plan
    assert "SelectedBucketsCount" in plan, plan
    # the join consumes bucket layout directly: exactly one exchange
    # in the whole plan (the final aggregation), none under the join
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_bucketed_join_matches_unbucketed_result(spark, sf_dir, bucketed):
    bucketed_result = {
        (r["o_orderpriority"], r["n"])
        for r in (spark.table("b_orders")
                  .join(spark.table("b_lineitem"),
                        F.col("o_orderkey") == F.col("l_orderkey"))
                  .groupBy("o_orderpriority")
                  .agg(F.count(F.lit(1)).alias("n")).collect())
    }
    plain_result = {
        (r["o_orderpriority"], r["n"])
        for r in (load(spark, sf_dir, "orders")
                  .join(load(spark, sf_dir, "lineitem"),
                        F.col("o_orderkey") == F.col("l_orderkey"))
                  .groupBy("o_orderpriority")
                  .agg(F.count(F.lit(1)).alias("n")).collect())
    }
    assert bucketed_result == plain_result
