"""Default-tier oracle check for the queries whose DuckDB oracle routes
wide integers through ``util.wide``'s ``CAST(... AS STRING)`` spelling.

The full registry sweep (tests/test_correctness.py) sits in the slow
tier; these eight queries give the default run a direct Spark-vs-DuckDB
signal on the shared string route, at the correctness scale factor.
"""

from __future__ import annotations

import pytest

from de_project_airflow_etl_spark.registry import all_queries
from tests.harness import compare

WIDE_ROUTE_QUERIES = (
    "bh_step_up_drift_panel",
    "group_sequential_ab_readout",
    "huber_mean_event_value",
    "isotonic_daily_revenue_fit",
    "james_stein_type_means",
    "quantile_normalize_source_chars",
    "split_conformal_value_interval",
    "wasserstein_weekend_value",
)


@pytest.mark.parametrize("name", WIDE_ROUTE_QUERIES)
def test_wide_route_query_matches_oracle(name, spark, sf_dir, duck):
    q = all_queries()[name]
    assert "AS STRING) AS DOUBLE)" in q.oracle
    problems = compare(q.fn(spark, sf_dir),
                       duck.execute(q.oracle).fetchdf(), name)
    assert not problems, "\n".join(problems)
