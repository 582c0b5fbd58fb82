"""The driver-gate replica: every registered query with an oracle must
match DuckDB exactly (row count + schema names + exact values) at the
correctness scale factor; oracle-less queries must at least execute and
return a stable schema.
"""

from __future__ import annotations

import pytest

from de_project_airflow_etl_spark.registry import all_queries
from tests.harness import compare

QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    q = QUERIES[name]
    sdf = q.fn(spark, sf_dir)
    if q.oracle is None:
        rows = sdf.collect()
        assert sdf.columns, f"{name}: empty schema"
        assert rows is not None
        return
    ddf = duck.execute(q.oracle).fetchdf()
    problems = compare(sdf, ddf, name)
    assert not problems, "\n".join(problems)


def test_registry_is_populated():
    assert len(QUERIES) >= 30, sorted(QUERIES)
    with_oracle = [n for n, q in QUERIES.items() if q.oracle]
    assert len(with_oracle) >= 25


# r11 test tiering: multi-minute sweep/scale/property module —
# excluded from the default (driver-budget) run; run with
# -m "slow or not slow" for the full signal (see pytest.ini).
pytestmark = pytest.mark.slow
