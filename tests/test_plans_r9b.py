"""Targeted gates for the round-9b staged bank (blanket oracle
gates ride tests/test_staged_pen.py; scan budgets ride
tests/test_plan_rules.py)."""

from __future__ import annotations

from de_project_airflow_etl_spark.plans.inspect import node_names, window_nodes
from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


def test_log_rank_windows_consume_lifetime_cells(spark, sf_dir):
    """The suffix-sum risk windows rank the calendar-bounded distinct-
    lifetime table: no window subtree may touch a raw parquet scan
    (the checkpoint hides the Aggregate — round-6-late rule)."""
    windows = window_nodes(REG["log_rank_test_ab_arms"].fn(spark, sf_dir))
    assert windows
    for wnode in windows:
        assert "Scan parquet" not in wnode.children().apply(0).toString()


def test_log_rank_is_internally_consistent(spark, sf_dir):
    r = REG["log_rank_test_ab_arms"].fn(spark, sf_dir).collect()[0]
    assert r["v"] > 0
    assert abs(r["chi2_stat"] - r["z_stat"] ** 2) < 1e-9
    assert 0 <= r["o1"] <= r["n_arm_a"]


def test_dynamic_session_plans_native_session_window(spark, sf_dir):
    """The dynamic gap must ride the engine's merging-session
    aggregate (session_window in the plan), not a hand-rolled
    gaps-and-islands window chain."""
    from de_project_airflow_etl_spark.plans.inspect import formatted_plan
    plan = formatted_plan(
        REG["session_window_dynamic_gap"].fn(spark, sf_dir))
    assert "session_window" in plan, plan[:1500]


def test_cucconi_is_symmetric_in_zu_zv_roles(spark, sf_dir):
    """ZU and ZV share null moments; C must be symmetric under
    swapping them (algebraic sanity of the pinned formula)."""
    r = (REG["cucconi_location_scale_weekend"]
         .fn(spark, sf_dir).collect()[0])
    zu, zv, rho = r["zu"], r["zv"], r["rho"]
    c_swapped = (zv * zv + zu * zu - 2 * rho * zv * zu) \
        / (2 * (1 - rho * rho))
    assert abs(r["cucconi_c"] - c_swapped) < 1e-12
    assert -1 < rho < 0  # the rank/contrary-rank sums anti-correlate
    assert r["cucconi_c"] >= 0


def test_kendalls_w_is_in_unit_interval(spark, sf_dir):
    r = (REG["kendalls_w_dow_concordance"]
         .fn(spark, sf_dir).collect()[0])
    assert 0.0 <= r["kendalls_w"] <= 1.0
    assert r["n_weeks"] >= 1


def test_apply_in_arrow_plans_arrow_group_map(spark, sf_dir):
    """The group-map must run on the Arrow path (FlatMapGroupsInArrow
    / ...InBatch exec), never pickled row-at-a-time Python."""
    df = REG["group_apply_arrow_label_stats"].fn(spark, sf_dir)
    names = node_names(df)
    assert any("Arrow" in n or "FlatMapGroupsInBatch" in n
               for n in names), names
    assert not any("BatchEvalPython" in n for n in names), names
