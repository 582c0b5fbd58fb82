"""Default-tier oracle check for the relational core: TPC-H Q1, Q3 and
Q6, a window rank, a running total, a set operation, a correlated and a
scalar subquery, and a grouping-sets and a rollup aggregate, against
DuckDB at the correctness scale factor.

The full registry sweep (tests/test_correctness.py) sits in the slow
tier; these ten cheap queries give the default run a direct signal on
the families every other query builds on.
"""

from __future__ import annotations

import pytest

from de_project_airflow_etl_spark.registry import all_queries
from tests.harness import compare

RELATIONAL_QUERIES = (
    "pricing_summary",                  # TPC-H Q1
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "window_rank_customers_in_nation",
    "window_running_revenue",
    "except_all_nations",
    "correlated_exists_recent_buyers",
    "scalar_subquery_above_avg",
    "grouping_sets_flags",
    "rollup_quantity",
)


@pytest.mark.parametrize("name", RELATIONAL_QUERIES)
def test_relational_query_matches_oracle(name, spark, sf_dir, duck):
    q = all_queries()[name]
    problems = compare(q.fn(spark, sf_dir),
                       duck.execute(q.oracle).fetchdf(), name)
    assert not problems, "\n".join(problems)
