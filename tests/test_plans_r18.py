"""Targeted gates for the round-18 staged bank (Good-Turing/Chao1,
IPF raking, capture-recapture) — invariants and independent
pure-Python recomputations (the IPF fixed point and the capture
estimators). Scan budgets live in tests/test_plan_rules.py.

The blanket oracle-match / non-empty gates in
tests/test_staged_pen.py already parametrize over ALL staged queries.
"""

from __future__ import annotations

import math

from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


def test_good_turing_chao1_bounds(spark, sf_dir, duck):
    out = (REG["good_turing_chao1_by_source"].fn(spark, sf_dir)
           .toPandas())
    assert len(out) == 20
    assert (out.f1 <= out.vocab).all()
    assert ((out.gt_unseen_mass >= 0)
            & (out.gt_unseen_mass <= 1)).all()
    # Chao1 never estimates FEWER types than observed
    assert (out.chao1_richness >= out.vocab - 1e-9).all()
    # spot-check one source against a direct frequency census
    s0 = out[out.source == "src0"].iloc[0]
    f1, f2 = duck.execute("""
        WITH tf AS (
          SELECT term, COUNT(*) AS f
          FROM (SELECT unnest(string_split(text, ' ')) AS term
                FROM documents WHERE source = 'src0')
          GROUP BY 1)
        SELECT SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END),
               SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) FROM tf
    """).fetchone()
    assert (s0.f1, s0.f2) == (f1, f2)
    assert math.isclose(
        s0.chao1_richness,
        s0.vocab + f1 * (f1 - 1) / (2 * (f2 + 1)), rel_tol=1e-12)


def test_ipf_python_fixed_point_and_margins(spark, sf_dir, duck):
    from de_project_airflow_etl_spark.queries.population import (
        _IPF_ITERS, _IPF_S)
    out = (REG["ipf_raking_purchase_mix"].fn(spark, sf_dir)
           .toPandas())
    rows = duck.execute("""
        SELECT dayofweek(ts),
               CASE WHEN CAST(ROUND(value * 100) AS BIGINT) < 5000
                    THEN 'b0'
                    WHEN CAST(ROUND(value * 100) AS BIGINT) < 10000
                    THEN 'b1'
                    WHEN CAST(ROUND(value * 100) AS BIGINT) < 20000
                    THEN 'b2'
                    WHEN CAST(ROUND(value * 100) AS BIGINT) < 35000
                    THEN 'b3' ELSE 'b4' END,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
        FROM events
    """).fetchall()
    obs: dict[tuple, int] = {}
    rm: dict[int, int] = {}
    cm: dict[str, int] = {}
    np_ = na = 0
    for dow, band, isp in rows:
        obs[(dow, band)] = obs.get((dow, band), 0) + isp
        rm[dow] = rm.get(dow, 0) + 1
        cm[band] = cm.get(band, 0) + 1
        np_ += isp
        na += 1
    rt = {d: (c * np_ * _IPF_S) // na for d, c in rm.items()}
    ct = {b: (c * np_ * _IPF_S) // na for b, c in cm.items()}
    w = {k: v * _IPF_S for k, v in obs.items()}
    for _ in range(_IPF_ITERS):
        rs: dict[int, int] = {}
        for (d, b), v in w.items():
            rs[d] = rs.get(d, 0) + v
        w = {(d, b): 0 if rs[d] == 0 else (v * rt[d]) // rs[d]
             for (d, b), v in w.items()}
        cs: dict[str, int] = {}
        for (d, b), v in w.items():
            cs[b] = cs.get(b, 0) + v
        w = {(d, b): 0 if cs[b] == 0 else (v * ct[b]) // cs[b]
             for (d, b), v in w.items()}
    got = {(int(r.dow), r.band): int(r.raked_e6)
           for _, r in out.iterrows()}
    assert got == w
    # after the final column step, column margins match targets to
    # truncation slack (<= #cells units)
    for b, t in ct.items():
        tot = sum(v for (d, bb), v in w.items() if bb == b)
        assert 0 <= t - tot <= 35


def test_capture_recapture_python(spark, sf_dir, duck):
    row = (REG["capture_recapture_user_weeks"].fn(spark, sf_dir)
           .toPandas().iloc[0])
    caps = duck.execute("""
        WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS dmin FROM events)
        SELECT user_id,
               MAX(CASE WHEN date_diff('day', d0.dmin, CAST(ts AS
                   DATE)) < 7 THEN 1 ELSE 0 END),
               MAX(CASE WHEN date_diff('day', d0.dmin, CAST(ts AS
                   DATE)) BETWEEN 7 AND 13 THEN 1 ELSE 0 END)
        FROM events, d0
        WHERE date_diff('day', d0.dmin, CAST(ts AS DATE)) < 14
        GROUP BY 1
    """).fetchall()
    n1 = sum(c1 for _, c1, _ in caps)
    n2 = sum(c2 for _, _, c2 in caps)
    m = sum(c1 * c2 for _, c1, c2 in caps)
    assert (row.n_week1, row.n_week2, row.n_both) == (n1, n2, m)
    assert math.isclose(row.lincoln_petersen, n1 * n2 / m,
                        rel_tol=1e-12)
    assert math.isclose(row.chapman,
                        (n1 + 1) * (n2 + 1) / (m + 1) - 1,
                        rel_tol=1e-12)
    # both estimate at least the number of distinct captured users
    captured = len(caps)
    assert row.lincoln_petersen >= row.n_both
    assert row.chapman <= row.lincoln_petersen + 1e-9
    assert captured <= n1 + n2
