"""Targeted gates for the round-15 staged bank (Shapley attribution,
isotonic fit, conformal intervals, BH step-up, Bradley-Terry,
harmonic centrality, DTW) — range/order invariants and independent
pure-Python recomputations of the three algorithmically novel
operators (PAVA isotonic, exact Shapley, DTW). Scan budgets live in
tests/test_plan_rules.py.

The blanket oracle-match / non-empty gates in
tests/test_staged_pen.py already parametrize over ALL staged queries.
"""

from __future__ import annotations

import itertools
import math

from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


# --------------------------------------------------- range invariants


def test_shapley_efficiency_axiom(spark, sf_dir, duck):
    out = (REG["shapley_channel_attribution"].fn(spark, sf_dir)
           .toPandas().set_index("channel"))
    assert set(out.index) <= {"click", "error", "signup", "view"}
    assert (out.phi_x24 >= 0).all()  # v is monotone on the lattice
    # efficiency: sum phi = v(full) - v(empty), scaled by 4!
    v_full, v_empty = duck.execute("""
        WITH fp AS (SELECT user_id, MIN(ts) AS fpts FROM events
                    WHERE event_type = 'purchase' GROUP BY 1),
        touched AS (
          SELECT fp.user_id,
                 CAST(MAX(CASE WHEN e.ts IS NOT NULL THEN 1 ELSE 0
                          END) AS BIGINT) AS any_touch
          FROM fp LEFT JOIN events e
            ON e.user_id = fp.user_id AND e.ts < fp.fpts
           AND e.event_type <> 'purchase'
          GROUP BY 1)
        SELECT COUNT(*), SUM(CASE WHEN any_touch = 0 THEN 1 ELSE 0 END)
        FROM touched
    """).fetchone()
    assert out.phi_x24.sum() == 24 * (v_full - v_empty)


def test_isotonic_fit_is_monotone_and_pava_exact(spark, sf_dir, duck):
    out = (REG["isotonic_daily_revenue_fit"].fn(spark, sf_dir)
           .toPandas().sort_values("day").reset_index(drop=True))
    fits = out.fit_cents.tolist()
    assert all(a <= b + 1e-9 for a, b in zip(fits, fits[1:]))
    assert out.daily_cents.min() <= min(fits) + 1e-6
    assert max(fits) <= out.daily_cents.max() + 1e-6
    # independent pool-adjacent-violators recomputation
    y = [float(v) for v in out.daily_cents]
    blocks = [[v, 1.0] for v in y]  # [sum, weight]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][0] * blocks[i + 1][1] > blocks[i + 1][0] * blocks[i][1]:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    pava = [s / w for s, w in blocks for _ in range(int(w))]
    assert len(pava) == len(fits)
    for a, b in zip(pava, fits):
        assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def test_conformal_coverage_near_nominal(spark, sf_dir):
    out = (REG["split_conformal_value_interval"].fn(spark, sf_dir)
           .toPandas())
    assert len(out) == 5
    assert (out.covered <= out.n_test).all()
    assert (out.q_resid >= 0).all()
    # marginal validity: coverage concentrates near 0.9 (slack for
    # the finite per-type calibration sets at sf0.01)
    assert (out.coverage >= 0.8).all()
    assert (out.coverage <= 1.0).all()


def test_bh_rejections_are_a_rank_prefix(spark, sf_dir):
    out = (REG["bh_step_up_drift_panel"].fn(spark, sf_dir)
           .toPandas().sort_values("p_rank").reset_index(drop=True))
    assert len(out) == 5
    assert (out.z2 >= 0).all()
    assert ((out.pseudo_p > 0) & (out.pseudo_p <= 1)).all()
    # pseudo-p ordering agrees with the rank order (ties allowed)
    ps = out.pseudo_p.tolist()
    assert all(a <= b + 1e-12 for a, b in zip(ps, ps[1:]))
    # step-up: the rejected set is exactly ranks 1..k*
    rej = out.rejected.tolist()
    k = sum(rej)
    assert rej == [1] * k + [0] * (5 - k)


def test_bradley_terry_mass_and_bounds(spark, sf_dir):
    from de_project_airflow_etl_spark.queries.attribution import (
        _BT_FLOOR, _BT_SCALE)
    out = (REG["bradley_terry_event_strengths"].fn(spark, sf_dir)
           .toPandas())
    assert len(out) == 5
    assert (out.strength_e9 >= _BT_FLOOR).all()
    assert (out.wins <= out.comparisons).all()
    # normalization: truncating division loses < 1 unit per type,
    # the floor adds at most 5 * _BT_FLOOR
    assert _BT_SCALE - 50 <= out.strength_e9.sum() \
        <= _BT_SCALE + 5 * _BT_FLOOR


def test_harmonic_centrality_bounds(spark, sf_dir):
    out = (REG["harmonic_centrality_dup_graph"].fn(spark, sf_dir)
           .toPandas())
    assert 0 < len(out) <= 20
    # every term 12//d for d in 1..4 lies in [3, 12]
    assert (out.harmonic_x12 <= 12 * out.reachable_4).all()
    assert (out.harmonic_x12 >= 3 * out.reachable_4).all()
    hc = out.harmonic_x12.tolist()
    assert hc == sorted(hc, reverse=True)


def test_dtw_bounded_by_lockstep_and_python_dp(spark, sf_dir, duck):
    row = (REG["dtw_click_purchase_daily"].fn(spark, sf_dir)
           .toPandas().iloc[0])
    assert 0 <= row.dtw_l1 <= row.lockstep_l1
    # independent O(n^2) python DP on the same daily series
    daily = duck.execute("""
        SELECT CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                    END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                    ELSE 0 END) AS BIGINT) AS b
        FROM events GROUP BY CAST(ts AS DATE) ORDER BY CAST(ts AS DATE)
    """).fetchall()
    a = [r[0] for r in daily]
    b = [r[1] for r in daily]
    n = len(a)
    assert row.n_days == n
    INF = float("inf")
    prev = [0.0] + [INF] * n
    for i in range(1, n + 1):
        cur = [INF]
        for j in range(1, n + 1):
            cur.append(abs(a[i - 1] - b[j - 1])
                       + min(prev[j], prev[j - 1], cur[j - 1]))
        prev = cur
    assert row.dtw_l1 == prev[n]


def test_shapley_python_recomputation(spark, sf_dir, duck):
    """Exact Shapley from first principles (itertools over the 4-set)."""
    out = (REG["shapley_channel_attribution"].fn(spark, sf_dir)
           .toPandas().set_index("channel").phi_x24.to_dict())
    masks = dict(duck.execute("""
        WITH fp AS (SELECT user_id, MIN(ts) AS fpts FROM events
                    WHERE event_type = 'purchase' GROUP BY 1),
        m AS (
          SELECT fp.user_id,
                 COALESCE(bit_or(CASE e.event_type
                   WHEN 'click' THEN 1 WHEN 'error' THEN 2
                   WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END), 0)
                   AS mask
          FROM fp LEFT JOIN events e
            ON e.user_id = fp.user_id AND e.ts < fp.fpts
           AND e.event_type <> 'purchase'
          GROUP BY 1)
        SELECT mask, COUNT(*) FROM m GROUP BY 1
    """).fetchall())

    def v(subset_mask: int) -> int:
        return sum(c for m, c in masks.items()
                   if (m & subset_mask) == m)

    bits = {"click": 1, "error": 2, "signup": 4, "view": 8}
    for ch, bit in bits.items():
        phi = 0
        others = [x for x in bits.values() if x != bit]
        for r in range(4):
            for combo in itertools.combinations(others, r):
                s = sum(combo)
                w = math.factorial(r) * math.factorial(3 - r)
                phi += w * (v(s | bit) - v(s))
        assert out[ch] == phi, ch
