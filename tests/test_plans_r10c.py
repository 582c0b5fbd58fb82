"""Targeted gates for the round-10c staged bank (pooled-EDF panel,
decomposition strength, Grubbs, winsorized mean, partial correlation)
— range invariants. Scan budgets and window counts live in
tests/test_plan_rules.py.

The blanket oracle-match / non-empty gates in
tests/test_staged_pen.py already parametrize over ALL staged queries.
"""

from __future__ import annotations

from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


# ------------------------------------------------ range invariants


def test_edf_panel_bounds(spark, sf_dir):
    row = REG["edf_two_sample_panel_weekend"].fn(
        spark, sf_dir).collect()[0]
    assert 0.0 <= row["d_plus"] <= 1.0
    assert 0.0 <= row["d_minus"] <= 1.0
    assert row["ks_d"] == max(row["d_plus"], row["d_minus"])
    assert abs(row["kuiper_v"] - (row["d_plus"] + row["d_minus"])) < 1e-15
    assert row["ad_stat"] >= 0.0


def test_seasonal_strength_bounds(spark, sf_dir):
    row = REG["seasonal_strength_weekly"].fn(
        spark, sf_dir).collect()[0]
    assert 0.0 <= row["seasonal_strength"] <= 1.0
    assert row["var_detrended"] >= row["var_remainder"] >= 0.0 or (
        row["seasonal_strength"] == 0.0)


def test_grubbs_positive(spark, sf_dir):
    row = REG["grubbs_max_deviation_daily"].fn(
        spark, sf_dir).collect()[0]
    assert row["g_stat"] > 0.0
    # G is bounded by (n-1)/sqrt(n)
    assert row["g_stat"] <= (row["n_days"] - 1) / row["n_days"] ** 0.5


def test_winsorized_mean_between_bounds(spark, sf_dir):
    row = REG["winsorized_mean_value"].fn(spark, sf_dir).collect()[0]
    assert row["p05_cents"] <= row["p95_cents"]
    assert (row["p05_cents"] / 100.0 <= row["winsorized_mean"]
            <= row["p95_cents"] / 100.0)
    assert row["winsorized_mean"] > 0.0


def test_partial_corr_bounds(spark, sf_dir):
    row = REG["partial_corr_revenue_count_dow"].fn(
        spark, sf_dir).collect()[0]
    assert -1.0 <= row["partial_corr"] <= 1.0
    assert row["sxx_w"] > 0.0 and row["syy_w"] > 0.0
