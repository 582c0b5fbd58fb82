"""Planted-ground-truth tests for the round-28 staged bank
(Breusch-Pagan, Chow break, OLS influence, KPSS, variance ratio).
Blanket oracle / non-empty gates ride tests/test_staged_pen.py.

References are pure-Python re-computations of the classical formulas
over the planted daily cents series (one event per day, so the daily
rollup equals the planted value in cents).
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from de_project_airflow_etl_spark.staged import STAGED

BASE = datetime(2024, 1, 1, 12, 0)


def _write_daily(spark, path, values):
    """One 'view' event per consecutive day with the given value."""
    rows = [(i + 1, BASE + timedelta(days=i), i + 1, "view", v, "{}")
            for i, v in enumerate(values)]
    (spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
     .write.mode("overwrite").parquet(f"{path}/events.parquet"))


def _cents(values):
    return [round(v * 100) for v in values]


def _ols(ts, ys):
    n = len(ts)
    st, sy = sum(ts), sum(ys)
    stt = sum(t * t for t in ts)
    sty = sum(t * y for t, y in zip(ts, ys))
    b = (n * sty - st * sy) / (n * stt - st * st)
    a = (sy - b * st) / n
    return a, b


def _resid(ts, ys):
    a, b = _ols(ts, ys)
    return [y - a - b * t for t, y in zip(ts, ys)]


# ------------------------------------------------- Breusch-Pagan


def test_breusch_pagan_matches_reference(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("bp"))
    vals = [10.0, 12.0, 9.0, 15.0, 30.0, 5.0, 45.0, 2.0, 60.0, 1.0]
    _write_daily(spark, tmp, vals)
    ys = _cents(vals)
    ts = list(range(1, len(ys) + 1))
    u = [e * e for e in _resid(ts, ys)]
    n = len(ts)
    st, su = sum(ts), sum(u)
    stt = sum(t * t for t in ts)
    stu = sum(t * ui for t, ui in zip(ts, u))
    suu = sum(ui * ui for ui in u)
    r2 = ((n * stu - st * su) ** 2
          / ((n * stt - st * st) * (n * suu - su * su)))
    r = STAGED["breusch_pagan_daily_trend"].fn(spark, tmp).collect()[0]
    assert r["n_days"] == n and r["df"] == 1
    assert r["bp_stat"] == pytest.approx(n * r2, rel=1e-9)


def test_breusch_pagan_perfect_fit_guard(spark, tmp_path_factory):
    """An exactly linear series has zero residuals -> NULL, no abort."""
    tmp = str(tmp_path_factory.mktemp("bp0"))
    _write_daily(spark, tmp, [float(10 + 2 * i) for i in range(6)])
    r = STAGED["breusch_pagan_daily_trend"].fn(spark, tmp).collect()[0]
    assert r["bp_stat"] is None


# ------------------------------------------------------- Chow test


def _rss(ts, ys):
    return sum(e * e for e in _resid(ts, ys))


def test_chow_matches_reference(spark, tmp_path_factory):
    """Flat first half, steep second half -> F matches the classical
    two-segment RSS comparison."""
    tmp = str(tmp_path_factory.mktemp("chow"))
    vals = [10.0, 10.5, 9.5, 10.2, 9.8, 10.1,
            20.0, 26.0, 31.0, 37.0, 43.0, 48.0]
    _write_daily(spark, tmp, vals)
    ys = _cents(vals)
    n = len(ys)
    ts = list(range(1, n + 1))
    half = n // 2
    rss_p = _rss(ts, ys)
    rss_a = _rss(ts[:half], ys[:half])
    rss_b = _rss(ts[half:], ys[half:])
    f_ref = ((rss_p - rss_a - rss_b) / 2) / ((rss_a + rss_b) / (n - 4))
    r = STAGED["chow_break_test_daily"].fn(spark, tmp).collect()[0]
    assert r["n_days"] == n
    assert r["n_first"] == half and r["n_second"] == n - half
    assert r["rss_pooled"] == pytest.approx(rss_p, rel=1e-9)
    assert r["chow_f"] == pytest.approx(f_ref, rel=1e-9)
    assert r["chow_f"] > 10  # the planted break is blatant


def test_chow_short_panel_guard(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("chow0"))
    _write_daily(spark, tmp, [10.0, 11.0, 13.0, 9.0, 12.0])
    r = STAGED["chow_break_test_daily"].fn(spark, tmp).collect()[0]
    assert r["chow_f"] is None  # n < 7


# ------------------------------------------------- OLS influence


def test_ols_influence_matches_reference(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("infl"))
    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 90.0]
    _write_daily(spark, tmp, vals)
    ys = _cents(vals)
    n = len(ys)
    ts = list(range(1, n + 1))
    es = _resid(ts, ys)
    st = sum(ts)
    stt = sum(t * t for t in ts)
    c = n * stt - st * st
    hs = [1 / n + (n * t - st) ** 2 / (n * c) for t in ts]
    s2 = sum(e * e for e in es) / (n - 2)
    ds = [e * e * h / (2 * s2 * (1 - h) ** 2)
          for e, h in zip(es, hs)]
    rows = STAGED["ols_influence_diagnostics_daily"].fn(
        spark, tmp).collect()
    assert len(rows) == 5
    # the planted outlier is the last day and must rank first
    top = rows[0] if rows[0]["cooks_d"] >= rows[-1]["cooks_d"] \
        else rows[-1]
    by_d = {r["day"].date().isoformat(): r for r in rows}
    last_day = (BASE + timedelta(days=n - 1)).date().isoformat()
    assert last_day in by_d
    got = by_d[last_day]
    assert got["leverage"] == pytest.approx(hs[-1], rel=1e-12)
    assert got["cooks_d"] == pytest.approx(ds[-1], rel=1e-9)
    assert got["cooks_d"] == pytest.approx(max(ds), rel=1e-9)
    assert top["cooks_d"] == pytest.approx(max(ds), rel=1e-9)


# ------------------------------------------------------------ KPSS


def test_kpss_matches_reference(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("kpss"))
    vals = [10.0, 14.0, 9.0, 20.0, 25.0, 22.0, 31.0, 28.0]
    _write_daily(spark, tmp, vals)
    ys = _cents(vals)
    n = len(ys)
    ybar = sum(ys) / n
    s = 0.0
    a = 0.0
    for y in ys:
        s += y - ybar
        a += s * s
    sigma2 = sum((y - ybar) ** 2 for y in ys) / n
    eta = a / (n * n * sigma2)
    r = STAGED["kpss_level_stationarity_daily"].fn(
        spark, tmp).collect()[0]
    assert r["n_days"] == n
    assert r["kpss_eta"] == pytest.approx(eta, rel=1e-12)


def test_kpss_constant_series_guard(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("kpss0"))
    _write_daily(spark, tmp, [7.0] * 5)
    r = STAGED["kpss_level_stationarity_daily"].fn(
        spark, tmp).collect()[0]
    assert r["kpss_eta"] is None


def test_kpss_random_walk_exceeds_noise(spark, tmp_path_factory):
    """A cumulating series must score far above an alternating one
    (the statistic's whole point)."""
    tmpw = str(tmp_path_factory.mktemp("kpssw"))
    walk = [float(10 + 3 * i) for i in range(12)]
    _write_daily(spark, tmpw, walk)
    eta_walk = STAGED["kpss_level_stationarity_daily"].fn(
        spark, tmpw).collect()[0]["kpss_eta"]
    tmpn = str(tmp_path_factory.mktemp("kpssn"))
    noise = [10.0 if i % 2 == 0 else 12.0 for i in range(12)]
    _write_daily(spark, tmpn, noise)
    eta_noise = STAGED["kpss_level_stationarity_daily"].fn(
        spark, tmpn).collect()[0]["kpss_eta"]
    assert eta_walk > 5 * eta_noise


# -------------------------------------------------- variance ratio


def test_variance_ratio_matches_reference(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("vr"))
    vals = [10.0, 12.0, 9.0, 15.0, 13.0, 18.0, 14.0, 21.0, 17.0,
            25.0, 19.0, 30.0]
    _write_daily(spark, tmp, vals)
    ys = _cents(vals)
    q = 7
    d1 = [b - a for a, b in zip(ys, ys[1:])]
    dq = [ys[i] - ys[i - q] for i in range(q, len(ys))]

    def popvar(xs):
        m = sum(xs) / len(xs)
        return sum((x - m) ** 2 for x in xs) / len(xs)

    ref = popvar(dq) / (q * popvar(d1))
    r = STAGED["variance_ratio_daily_revenue"].fn(spark,
                                                  tmp).collect()[0]
    assert r["n_diffs"] == len(d1)
    assert r["n_qdiffs"] == len(dq)
    assert r["vr_stat"] == pytest.approx(ref, rel=1e-12)


def test_variance_ratio_short_series_guard(spark, tmp_path_factory):
    """Fewer than q+2 days -> no second q-difference -> NULL."""
    tmp = str(tmp_path_factory.mktemp("vr0"))
    _write_daily(spark, tmp, [10.0, 12.0, 9.0, 15.0, 13.0])
    r = STAGED["variance_ratio_daily_revenue"].fn(spark,
                                                  tmp).collect()[0]
    assert r["vr_stat"] is None
