"""Targeted gate for the round-13 staged bank (DP sensitivity
audit). The blanket oracle-match / non-empty gates in
tests/test_staged_pen.py already parametrize over ALL staged queries;
the scan budgets ride tests/test_plan_rules.py.
"""

from __future__ import annotations

from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


def test_r13_dp_sensitivity_consistent(spark, sf_dir):
    row = REG["dp_sensitivity_audit"].fn(spark, sf_dir).collect()[0]
    assert row.n_users > 0
    assert row.linf_count_sensitivity >= 1
    assert row.linf_day_sensitivity >= 1
    assert 0.0 < row.max_user_share <= 1.0
    # max >= mean always
    assert row.linf_sum_sensitivity_c / 100 >= row.mean_user_total - 1e-9


def test_r13_sql_udfs_inline_no_python(spark, sf_dir):
    """SQL UDFs must inline into ordinary expressions — no Python
    eval node anywhere in the plan (that is their whole point)."""
    df = REG["sql_udf_band_rollup"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.band_label == f"band_{r.band}"
        assert r.revenue >= 0.0
