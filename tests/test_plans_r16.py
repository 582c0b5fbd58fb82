"""Targeted gates for the round-16 staged bank (Wasserstein-1D,
Huber IRLS, ordinal-pattern census, group-sequential readout,
James-Stein shrinkage) — range/order invariants and independent
pure-Python recomputations. Scan budgets live in
tests/test_plan_rules.py.

The blanket oracle-match / non-empty gates in
tests/test_staged_pen.py already parametrize over ALL staged queries.
"""

from __future__ import annotations

import math

from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


# ------------------------------------------ independent recomputations


def _weekend_cells(duck):
    return duck.execute("""
        SELECT CAST(ROUND(value * 100) AS BIGINT) AS c,
               SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0
                   END) AS c1,
               SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 0 ELSE 1
                   END) AS c2
        FROM events GROUP BY 1 ORDER BY 1
    """).fetchall()


def test_wasserstein_python_recomputation(spark, sf_dir, duck):
    row = (REG["wasserstein_weekend_value"].fn(spark, sf_dir)
           .toPandas().iloc[0])
    cells = _weekend_cells(duck)
    n1 = sum(r[1] for r in cells)
    n2 = sum(r[2] for r in cells)
    assert (row.n_weekend, row.n_weekday) == (n1, n2)
    num, f1, f2 = 0, 0, 0
    for (c, c1, c2), nxt in zip(cells, cells[1:]):
        f1 += c1
        f2 += c2
        num += abs(f1 * n2 - f2 * n1) * (nxt[0] - c)
    assert math.isclose(row.w1_dollars, num / (n1 * n2) / 100,
                        rel_tol=1e-12)
    assert row.w1_dollars >= 0


def test_huber_python_recomputation(spark, sf_dir, duck):
    from de_project_airflow_etl_spark.queries.estimators import (
        _HUBER_ITERS, _HUBER_K_CENTS, _MC, _W6)
    row = (REG["huber_mean_event_value"].fn(spark, sf_dir)
           .toPandas().iloc[0])
    cells = duck.execute("""
        SELECT CAST(ROUND(value * 100) AS BIGINT) AS c, COUNT(*)
        FROM events GROUP BY 1
    """).fetchall()
    n = sum(cnt for _, cnt in cells)
    s = sum(c * cnt for c, cnt in cells)
    assert row.n_events == n
    k_mc = _HUBER_K_CENTS * _MC
    mu = (s * _MC) // n
    for _ in range(_HUBER_ITERS):
        num = den = 0
        for c, cnt in cells:
            r = abs(c * _MC - mu)
            w6 = _W6 if r <= k_mc else (k_mc * _W6) // r
            num += w6 * cnt * c * _MC
            den += w6 * cnt
        mu = num // den
    assert math.isclose(row.huber_mean, mu / _MC / 100, rel_tol=1e-12)
    lo = min(c for c, _ in cells) / 100
    hi = max(c for c, _ in cells) / 100
    assert lo <= row.huber_mean <= hi


def test_ordinal_census_python_recomputation(spark, sf_dir, duck):
    out = (REG["ordinal_pattern_census_daily"].fn(spark, sf_dir)
           .toPandas())
    y = [r[0] for r in duck.execute("""
        SELECT SUM(CAST(ROUND(value * 100) AS BIGINT))
        FROM events GROUP BY CAST(ts AS DATE) ORDER BY CAST(ts AS DATE)
    """).fetchall()]
    census: dict[str, int] = {}
    for a, b, c in zip(y, y[1:], y[2:]):
        # rank by (value, index): stable ordering of positions
        order = sorted(range(3), key=lambda i: ((a, b, c)[i], i))
        pat = "".join(str(i) for i in order)
        census[pat] = census.get(pat, 0) + 1
    got = dict(zip(out.pattern, out.cnt))
    assert got == census
    assert out.cnt.sum() == len(y) - 2
    assert math.isclose(out.share.sum(), 1.0, rel_tol=1e-12)


def test_group_sequential_monotone_and_consistent(spark, sf_dir):
    out = (REG["group_sequential_ab_readout"].fn(spark, sf_dir)
           .toPandas().sort_values("look").reset_index(drop=True))
    assert out.look.tolist() == [1, 2, 3, 4, 5]
    for col in ("n_a", "x_a", "n_b", "x_b"):
        vals = out[col].tolist()
        assert all(a <= b for a, b in zip(vals, vals[1:])), col
    assert (out.x_a <= out.n_a).all() and (out.x_b <= out.n_b).all()
    # O'Brien-Fleming boundaries decrease across looks
    bounds = out.z2_bound.tolist()
    assert all(a > b for a, b in zip(bounds, bounds[1:]))
    assert ((out.crossed == 1) == (out.z2 > out.z2_bound)).all()


def test_james_stein_shrinks_toward_grand_mean(spark, sf_dir):
    out = (REG["james_stein_type_means"].fn(spark, sf_dir)
           .toPandas())
    assert len(out) == 5
    b = out.shrink_b.iloc[0]
    assert (out.shrink_b == b).all()
    assert 0.0 <= b <= 1.0
    grand = ((out.raw_mean * out.n_events).sum()
             / out.n_events.sum())
    for _, r in out.iterrows():
        expect = grand + b * (r.raw_mean - grand)
        assert math.isclose(r.js_mean, expect, rel_tol=1e-9), \
            r.event_type
        # shrunk estimate lies between the raw mean and the grand mean
        lo, hi = sorted((r.raw_mean, grand))
        assert lo - 1e-9 <= r.js_mean <= hi + 1e-9
