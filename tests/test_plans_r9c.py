"""Targeted gates for the round-9c staged bank (serial-correlation
diagnostics, categorical trend/symmetry/stratified inference, ordinal
association, forecast/quantile-loss panels, ERR, Benford, lexical
dominance, the ordered funnel) — the 100 TB shape evidence each
docstring claims plus range invariants on the statistics themselves.
Scan budgets and the no-window rules live in tests/test_plan_rules.py.

The blanket oracle-match / non-empty gates in
tests/test_staged_pen.py already parametrize over ALL staged queries.
"""

from __future__ import annotations

from de_project_airflow_etl_spark.plans.inspect import (
    partition_columns, window_nodes,
)
from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


def test_err_rank_rides_window_group_limit(spark, sf_dir):
    df = REG["err_retrieval_eval"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "WindowGroupLimit" in plan, (
        "the per-anchor top-k rank filter must ride the partial "
        "WindowGroupLimit pushdown (the ndcg plan it mirrors)")


def test_bowker_window_partitioned_by_user(spark, sf_dir):
    wins = window_nodes(
        REG["bowker_symmetry_event_transitions"].fn(spark, sf_dir))
    assert wins, "the transition lag must be a window"
    for w in wins:
        assert "user_id" in partition_columns(w), w.simpleString(25)


# ------------------------------------------------ range invariants


def test_acf_in_unit_interval(spark, sf_dir):
    row = REG["ljung_box_daily_revenue"].fn(
        spark, sf_dir).collect()[0]
    for k in range(1, 8):
        assert -1.0 <= row[f"acf_{k}"] <= 1.0
    assert row["lb_q_stat"] >= 0.0


def test_ccf_in_unit_interval_and_lag0_positive(spark, sf_dir):
    row = REG["cross_correlation_revenue_count"].fn(
        spark, sf_dir).collect()[0]
    for c in ("ccf_m3", "ccf_m2", "ccf_m1", "ccf_0",
              "ccf_1", "ccf_2", "ccf_3"):
        assert -1.0 <= row[c] <= 1.0
    # revenue and volume move together contemporaneously
    assert row["ccf_0"] > 0.0


def test_cochran_armitage_consistency(spark, sf_dir):
    row = REG["cochran_armitage_dow_trend"].fn(
        spark, sf_dir).collect()[0]
    assert row["var_scaled"] > 0.0
    assert abs(row["z_stat"]) < 50.0
    assert row["n_purchases"] < row["n_events"]


def test_bowker_nonnegative(spark, sf_dir):
    row = REG["bowker_symmetry_event_transitions"].fn(
        spark, sf_dir).collect()[0]
    assert row["bowker_stat"] >= 0.0
    assert 1 <= row["df"] <= 10  # <= C(5,2) unordered type pairs


def test_ordinal_association_bounds(spark, sf_dir):
    row = REG["ordinal_association_dow_band"].fn(
        spark, sf_dir).collect()[0]
    assert -1.0 <= row["gamma"] <= 1.0
    assert -1.0 <= row["somers_d_yx"] <= 1.0
    assert -1.0 <= row["somers_d_xy"] <= 1.0
    assert -1.0 <= row["tau_b"] <= 1.0
    # |tau_b| is the geometric mean of the |Somers' D|s
    assert abs(row["tau_b"]) <= max(abs(row["somers_d_yx"]),
                                    abs(row["somers_d_xy"])) + 1e-12


def test_cmh_consistency(spark, sf_dir):
    row = REG["cmh_weekend_purchase_weeks"].fn(
        spark, sf_dir).collect()[0]
    assert row["cmh_stat"] >= 0.0
    assert row["sum_v"] > 0.0
    assert row["or_mh"] > 0.0


def test_err_bounds(spark, sf_dir):
    row = REG["err_retrieval_eval"].fn(spark, sf_dir).collect()[0]
    assert row["n_queries"] == 20
    # binary relevance with R = 1/2: ERR <= sum (1/2)^r / r < 0.7
    assert 0.0 <= row["mean_err"] <= 0.7


def test_smape_bounds(spark, sf_dir):
    row = REG["smape_daily_forecasts"].fn(spark, sf_dir).collect()[0]
    assert 0.0 <= row["smape"] <= 2.0
    assert row["mape"] >= 0.0
    assert row["rmse_cents"] >= 0.0


def test_pinball_p50_vs_p90_asymmetry(spark, sf_dir):
    row = REG["pinball_loss_quantile_forecast"].fn(
        spark, sf_dir).collect()[0]
    assert row["pinball_p50"] >= 0.0
    assert row["pinball_p90"] >= 0.0


def test_benford_panel(spark, sf_dir):
    row = REG["benford_first_digit_value"].fn(
        spark, sf_dir).collect()[0]
    assert row["chi2_stat"] >= 0.0
    # MAD of nine proportion gaps is at most ~2/9
    assert 0.0 <= row["mad_stat"] <= 0.25
    assert row["n_values"] > 0


def test_lexical_dominance_invariants(spark, sf_dir):
    rows = REG["lexical_dominance_panel"].fn(
        spark, sf_dir).collect()
    assert len(rows) >= 2
    for r in rows:
        assert 0.0 < r["berger_parker"] <= 1.0
        assert 0.0 <= r["simpson_d"] <= 1.0
        assert 0.0 <= r["hapax_ratio"] <= 1.0
        assert 0.0 <= r["sichel_s"] <= 1.0
        assert r["vocab"] <= r["n_tokens"]


def test_funnel_monotone(spark, sf_dir):
    row = REG["funnel_conversion_steps"].fn(
        spark, sf_dir).collect()[0]
    assert (row["n_users"] >= row["n_signup"] >= row["n_view_after"]
            >= row["n_click_after"] >= row["n_purchase_after"])
    for c in ("conv_view", "conv_click", "conv_purchase"):
        assert 0.0 <= row[c] <= 1.0
