"""Targeted gates for the round-8b promoted bank (second indicator
batch over the daily value bars + nonparametric/evaluation
statistics) — range invariants. Scan budgets for the checkpointed
bounded intermediates and the window-input rules live in
tests/test_plan_rules.py.

Oracle equality rides the registry-wide tests/test_correctness.py
sweep (promoted in round 8; gates carried over from the staged era).
"""

from __future__ import annotations

from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


# ------------------------------------------------ range invariants


def test_r8b_williams_r_bounded(spark, sf_dir):
    rows = REG["williams_r_daily"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.hi_c >= r.lo_c
        if r.williams_r is not None:
            assert -100.0 - 1e-9 <= r.williams_r <= 1e-9


def test_r8b_aroon_bounded(spark, sf_dir):
    rows = REG["aroon_daily_value"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.days_since_high <= 24
        assert 0 <= r.days_since_low <= 24
        assert 4.0 <= r.aroon_up <= 100.0
        assert 4.0 <= r.aroon_down <= 100.0
        # exact multiples of 4 by construction (25-day window)
        assert r.aroon_up % 4.0 == 0.0
        assert r.aroon_down % 4.0 == 0.0


def test_r8b_mfi_bounded(spark, sf_dir):
    rows = REG["money_flow_index_daily"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.pos_flow3 >= 0 and r.neg_flow3 >= 0
        if r.mfi is not None:
            assert -1e-9 <= r.mfi <= 100.0 + 1e-9


def test_r8b_donchian_consistent(spark, sf_dir):
    rows = REG["donchian_channel_daily"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.up_c >= r.dn_c
        assert r.width_c == r.up_c - r.dn_c
        assert r.dn_c / 100 - 1e-9 <= r.mid <= r.up_c / 100 + 1e-9
        assert r.breakout_up in (0, 1) and r.breakout_down in (0, 1)
        # close cannot escape both sides of yesterday's channel at once
        assert r.breakout_up + r.breakout_down <= 1


def test_r8b_cmo_bounded(spark, sf_dir):
    rows = REG["chande_momentum_daily"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.up_sum_c >= 0 and r.down_sum_c >= 0
        if r.cmo is not None:
            assert -100.0 - 1e-9 <= r.cmo <= 100.0 + 1e-9


def test_r8b_ad_line_is_running_sum(spark, sf_dir):
    rows = sorted(REG["accum_dist_daily_flow"].fn(
        spark, sf_dir).collect(), key=lambda r: r.day)
    assert rows
    acc = 0
    for r in rows:
        acc += r.mfv_ppm
        # ad stays far below 2^53 here, so the emitted double is exact
        assert r.ad_line * 1_000_000 == acc, r.day


def test_r8b_wilcoxon_consistent(spark, sf_dir):
    row = REG["wilcoxon_signed_rank_ampm"].fn(
        spark, sf_dir).collect()[0]
    n = row.n_days
    assert 0 <= row.w2_plus <= n * (n + 1)
    assert row.mean2 == n * (n + 1) // 2
    assert row.var4 > 0
    assert row.z_stat is not None


def test_r8b_sign_test_consistent(spark, sf_dir):
    row = REG["sign_test_daily_updown"].fn(
        spark, sf_dir).collect()[0]
    assert row.up_days >= 0 and row.down_days >= 0
    assert row.flat_days >= 0
    if row.up_days + row.down_days > 0:
        assert row.z_stat is not None


def test_r8b_mood_median_consistent(spark, sf_dir):
    row = REG["mood_median_test_event_type"].fn(
        spark, sf_dir).collect()[0]
    assert row.chi2_stat >= 0.0
    assert row.df == row.n_groups - 1
    assert 0 <= row.total_above <= row.n_events
    # strictly-above counts can never reach half past the median
    assert row.total_above <= row.n_events


def test_r8b_friedman_consistent(spark, sf_dir):
    row = REG["friedman_dow_value_ranks"].fn(
        spark, sf_dir).collect()[0]
    assert row.n_blocks >= 1
    assert row.k_treatments == 7
    assert row.df == 6
    assert row.chi2_f >= -1e-9
    # chi2_F is capped by b*(k-1) when rankings are identical weekly
    assert row.chi2_f <= row.n_blocks * 6 + 1e-9


def test_r8b_jonckheere_consistent(spark, sf_dir):
    row = REG["jonckheere_terpstra_value_by_type"].fn(
        spark, sf_dir).collect()[0]
    # J2 = 2J in [0, 2 * sum_{g<h} n_g n_h] = [0, 2*e2]
    assert 0 <= row.j2 <= 2 * row.e2
    assert row.var_j > 0
    assert row.z_stat is not None


def test_r8b_f1_consistent(spark, sf_dir):
    rows = REG["per_class_f1_length_rules"].fn(
        spark, sf_dir).collect()
    assert len(rows) == 3
    assert {r.cls for r in rows} == {"short", "medium", "long"}
    for r in rows:
        assert r.tp >= 0 and r.fp >= 0 and r.fn >= 0
        if r.precision_ is not None:
            assert 0.0 <= r.precision_ <= 1.0
        if r.recall_ is not None:
            assert 0.0 <= r.recall_ <= 1.0
        if r.f1 is not None:
            assert 0.0 <= r.f1 <= 1.0
            # F1 is the harmonic mean: between min and max of P/R
            assert min(r.precision_, r.recall_) - 1e-12 <= r.f1
            assert r.f1 <= max(r.precision_, r.recall_) + 1e-12


def test_r8b_cvm_nonnegative(spark, sf_dir):
    row = REG["cramer_von_mises_weekend"].fn(
        spark, sf_dir).collect()[0]
    assert row.cvm_t >= 0.0
    assert row.n_weekend > 0 and row.n_weekday > 0
    # T is bounded by the pooled mass: sum cnt_v * 1 / N <= 1 scaled
    assert row.cvm_t <= 1.0 + 1e-9
