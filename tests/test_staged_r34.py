"""Planted-ground-truth tests for the round-34 staged bank (PACF via
Durbin-Levinson, ANOVA effect sizes). Blanket oracle / non-empty
gates ride tests/test_staged_pen.py.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from de_project_airflow_etl_spark.staged import STAGED

BASE = datetime(2024, 1, 1, 12, 0)


def _write_events(spark, path, rows):
    data = [(eid, ts, uid, et, v, "{}") for eid, ts, uid, et, v in rows]
    (spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
     .write.mode("overwrite").parquet(f"{path}/events.parquet"))


def _write_daily(spark, path, values):
    rows = [(i + 1, BASE + timedelta(days=i), i + 1, "view", v)
            for i, v in enumerate(values)]
    _write_events(spark, path, rows)


# ---------------------------------------------------------------- PACF


def _pacf_ref(ys):
    """Durbin-Levinson over the biased acv, pure Python."""
    n = len(ys)
    ybar = sum(ys) / n
    c = [sum((ys[t] - ybar) * (ys[t + k] - ybar)
             for t in range(n - k)) for k in range(4)]
    rho = [ck / c[0] for ck in c]
    p1 = rho[1]
    p2 = (rho[2] - rho[1] ** 2) / (1 - rho[1] ** 2)
    phi21 = rho[1] * (1 - p2)
    p3 = (rho[3] - phi21 * rho[2] - p2 * rho[1]) \
        / (1 - phi21 * rho[1] - p2 * rho[2])
    return rho[1:], (p1, p2, p3)


def test_pacf_matches_durbin_levinson(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("pacf"))
    vals = [10.0, 14.0, 11.0, 18.0, 13.0, 20.0, 16.0, 24.0, 19.0,
            27.0, 21.0, 30.0]
    _write_daily(spark, tmp, vals)
    ys = [round(v * 100) for v in vals]
    rhos, pacfs = _pacf_ref(ys)
    r = STAGED["pacf_daily_revenue"].fn(spark, tmp).collect()[0]
    assert r["n_days"] == len(ys)
    for i, (rho, pacf) in enumerate(zip(rhos, pacfs), start=1):
        assert r[f"rho{i}"] == pytest.approx(rho, rel=1e-12), i
        assert r[f"pacf{i}"] == pytest.approx(pacf, rel=1e-9), i


def test_pacf_constant_series_guard(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("pacf0"))
    _write_daily(spark, tmp, [5.0] * 8)
    r = STAGED["pacf_daily_revenue"].fn(spark, tmp).collect()[0]
    assert r["rho1"] is None and r["pacf2"] is None


def test_pacf_lag1_equals_acf1(spark, tmp_path_factory):
    """By definition pacf1 == rho1 exactly."""
    tmp = str(tmp_path_factory.mktemp("pacf1"))
    _write_daily(spark, tmp, [10.0, 30.0, 12.0, 28.0, 15.0, 26.0,
                              11.0, 31.0])
    r = STAGED["pacf_daily_revenue"].fn(spark, tmp).collect()[0]
    assert r["pacf1"] == r["rho1"]
    assert r["rho1"] < 0  # the planted series alternates


# -------------------------------------------------- ANOVA effect sizes


def _effect_ref(groups):
    vals = [v for vs in groups.values() for v in vs]
    n, k = len(vals), len(groups)
    grand = sum(vals) / n
    sst = sum((v - grand) ** 2 for v in vals)
    ssb = sum(len(vs) * (sum(vs) / len(vs) - grand) ** 2
              for vs in groups.values())
    msw = (sst - ssb) / (n - k)
    eta = ssb / sst
    omega = (ssb - (k - 1) * msw) / (sst + msw)
    eps = (ssb - (k - 1) * msw) / sst
    return eta, omega, eps


def test_effect_sizes_match_reference(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("eff"))
    groups = {"click": [1.0, 2.0, 1.5, 2.5],
              "purchase": [8.0, 9.0, 7.5, 10.0],
              "view": [4.0, 5.0, 4.5]}
    rows, eid = [], 0
    for g, vs in groups.items():
        for v in vs:
            eid += 1
            rows.append((eid, BASE, eid, g, v))
    _write_events(spark, tmp, rows)
    cents = {g: [round(v * 100) for v in vs]
             for g, vs in groups.items()}
    eta, omega, eps = _effect_ref(cents)
    r = STAGED["anova_effect_sizes_event_type"].fn(
        spark, tmp).collect()[0]
    assert r["n_events"] == 11 and r["k_groups"] == 3
    assert r["eta_sq"] == pytest.approx(eta, rel=1e-12)
    assert r["omega_sq"] == pytest.approx(omega, rel=1e-12)
    assert r["epsilon_sq"] == pytest.approx(eps, rel=1e-12)
    # the planted separation is blatant
    assert r["eta_sq"] > 0.9
    # omega and epsilon correct eta downward
    assert r["omega_sq"] < r["eta_sq"]
    assert r["epsilon_sq"] < r["eta_sq"]


def test_effect_sizes_constant_corpus_guard(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("eff0"))
    rows = [(i + 1, BASE, i + 1, t, 5.0)
            for i, t in enumerate(["click", "view", "click", "view"])]
    _write_events(spark, tmp, rows)
    r = STAGED["anova_effect_sizes_event_type"].fn(
        spark, tmp).collect()[0]
    assert r["eta_sq"] is None and r["omega_sq"] is None
