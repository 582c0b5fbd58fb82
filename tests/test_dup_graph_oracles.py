"""Default-tier oracle check for the dup-graph family: the verified
MinHash+LSH pairs and the three graph queries built on them, against
DuckDB at the correctness scale factor.

The full registry sweep (tests/test_correctness.py) sits in the slow
tier; this gives the default run a direct signal on the shared pairs
relation and on the connected-components fixpoint.
"""

from __future__ import annotations

import pytest

from de_project_airflow_etl_spark.registry import all_queries
from tests.harness import compare

DUP_GRAPH_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_clusters",
    "pagerank_dup_graph",
    "triangle_count_dup_graph",
)


@pytest.mark.parametrize("name", DUP_GRAPH_QUERIES)
def test_dup_graph_query_matches_oracle(name, spark, sf_dir, duck):
    q = all_queries()[name]
    try:
        problems = compare(q.fn(spark, sf_dir),
                           duck.execute(q.oracle).fetchdf(), name)
    finally:
        spark.catalog.clearCache()
    assert not problems, "\n".join(problems)
