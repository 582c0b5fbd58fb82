"""Targeted gates for the round-11 staged bank (changepoint and
randomness diagnostics, token-frequency Gini, Nelson-Aalen) —
range/consistency invariants. Scan budgets and window rules live in
tests/test_plan_rules.py.

The blanket oracle-match / non-empty gates in
tests/test_staged_pen.py already parametrize over ALL staged queries.
"""

from __future__ import annotations

from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


# ------------------------------------------------ range invariants


def test_r11_pettitt_consistent(spark, sf_dir):
    row = REG["pettitt_changepoint_daily"].fn(
        spark, sf_dir).collect()[0]
    n = row.n_days
    assert 1 <= row.t_change_idx <= n - 1
    assert abs(row.u_at_change) == row.k_stat
    # |U_t| is at most t*(n-t) <= n^2/4
    assert 0 <= row.k_stat <= n * n // 4


def test_r11_cox_stuart_consistent(spark, sf_dir):
    row = REG["cox_stuart_trend_daily"].fn(spark, sf_dir).collect()[0]
    assert row.n_up + row.n_down <= row.n_days // 2
    if row.z_stat is not None:
        assert row.z_stat == row.z_stat


def test_r11_dixon_q_bounded(spark, sf_dir):
    row = REG["dixon_q_daily_extremes"].fn(spark, sf_dir).collect()[0]
    assert row.min_revenue <= row.max_revenue
    for q in (row.q_min, row.q_max):
        if q is not None:
            assert 0.0 <= q <= 1.0


def test_r11_turning_points_bounded(spark, sf_dir):
    row = REG["turning_points_daily"].fn(spark, sf_dir).collect()[0]
    assert 0 <= row.n_turns <= row.n_days - 2
    assert row.var_turns > 0


def test_r11_token_gini_bounded(spark, sf_dir):
    rows = REG["token_gini_by_source"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_types <= r.n_tokens
        # Gini of a positive distribution is in [0, 1)
        assert -1e-9 <= r.gini < 1.0


def test_r11_nelson_aalen_monotone(spark, sf_dir):
    rows = sorted(REG["nelson_aalen_user_lifetimes"].fn(
        spark, sf_dir).collect(), key=lambda r: r.t_days)
    assert rows
    prev = 0.0
    for r in rows:
        assert r.d_churned <= r.n_at_risk
        assert r.cum_hazard >= prev - 1e-12  # cumulative: monotone
        prev = r.cum_hazard


def test_r11_pettitt_matches_brute_force(spark, sf_dir):
    """The O(n^2) recurrence must equal the textbook triple-loop
    definition, recomputed driver-side from the daily series."""
    from de_project_airflow_etl_spark.queries.util import daily_cents
    daily = sorted((r.day, r.cents) for r in
                   daily_cents(spark, sf_dir).collect())
    a = [c for _, c in daily]
    n = len(a)

    def sgn(x):
        return (x > 0) - (x < 0)

    best_k, best_t = -1, None
    for t in range(1, n):
        u = sum(sgn(a[i] - a[j])
                for i in range(t) for j in range(t, n))
        if abs(u) > best_k:
            best_k, best_t = abs(u), t
    row = REG["pettitt_changepoint_daily"].fn(
        spark, sf_dir).collect()[0]
    assert row.k_stat == best_k
    assert row.t_change_idx == best_t
