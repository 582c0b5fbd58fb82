"""Blanket gates for the ENTIRE staged pen (rounds 8-13 banks):
exact-value verification vs DuckDB through the same harness the
registry uses. The plan rules, the nested-loop rule among them, run
over staged and registered queries alike in tests/test_plan_rules.py
— every staged query must already carry its 100 TB plan shape BEFORE
promotion (see de_project_airflow_etl_spark/staged/__init__.py for
the window-arithmetic rationale).

Query-specific plan gates for staged banks live in the per-bank
tests/test_staged_r*.py modules and move under tests/test_plans_r*.py
when the bank is promoted (round-7 precedent: test_plans_r7.py /
test_plans_r7b.py)."""

from __future__ import annotations

import pytest

from de_project_airflow_etl_spark.staged import STAGED
from tests.harness import compare


@pytest.mark.parametrize("name", sorted(STAGED))
def test_staged_query_matches_oracle(name, spark, sf_dir, duck):
    q = STAGED[name]
    assert q.oracle is not None, f"{name}: staged queries must ship oracles"
    problems = compare(q.fn(spark, sf_dir),
                       duck.execute(q.oracle).fetchdf(), name)
    assert not problems, "\n".join(problems)


def test_staged_results_nonempty(spark, sf_dir):
    for name, q in sorted(STAGED.items()):
        df = q.fn(spark, sf_dir)
        assert df.columns, f"{name}: empty schema"
        assert df.limit(1).count() == 1, f"{name}: empty result at {sf_dir}"

