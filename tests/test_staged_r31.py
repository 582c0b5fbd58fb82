"""Planted-ground-truth tests for the round-31 staged bank
(Diebold-Mariano, RMST at 30 days, weekly periodogram). Blanket
oracle / non-empty gates ride tests/test_staged_pen.py.
"""

from __future__ import annotations

import math
from datetime import datetime, timedelta

import pytest

from de_project_airflow_etl_spark.staged import STAGED
from de_project_airflow_etl_spark.staged.round31 import RMST_TAU

BASE = datetime(2024, 1, 1, 12, 0)


def _write_events(spark, path, rows):
    """rows: (event_id, ts, user_id, event_type, value)"""
    data = [(eid, ts, uid, et, v, "{}") for eid, ts, uid, et, v in rows]
    (spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
     .write.mode("overwrite").parquet(f"{path}/events.parquet"))


def _write_daily(spark, path, values):
    rows = [(i + 1, BASE + timedelta(days=i), i + 1, "view", v)
            for i, v in enumerate(values)]
    _write_events(spark, path, rows)


# --------------------------------------------------- Diebold-Mariano


def test_dm_matches_reference(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("dm"))
    vals = [10.0, 12.0, 9.0, 15.0, 13.0, 18.0, 14.0, 21.0, 17.0,
            25.0, 19.0, 30.0, 22.0]
    _write_daily(spark, tmp, vals)
    ys = [round(v * 100) for v in vals]
    ds = []
    for i in range(7, len(ys)):
        e1 = ys[i] - ys[i - 1]
        e2 = ys[i] - ys[i - 7]
        ds.append(e1 * e1 - e2 * e2)
    n = len(ds)
    dbar = sum(ds) / n
    var = sum((d - dbar) ** 2 for d in ds) / n
    ref = dbar / math.sqrt(var / n)
    r = STAGED["diebold_mariano_forecasts"].fn(spark, tmp).collect()[0]
    assert r["n_common_days"] == n
    assert r["mean_loss_diff"] == pytest.approx(dbar, rel=1e-12)
    assert r["dm_stat"] == pytest.approx(ref, rel=1e-9)


def test_dm_identical_losses_guard(spark, tmp_path_factory):
    """A perfectly 7-periodic series where lag-1 and lag-7 errors
    happen to give constant loss diff -> zero variance -> NULL."""
    tmp = str(tmp_path_factory.mktemp("dm0"))
    # constant series: e1 = e2 = 0 everywhere -> d identically 0
    _write_daily(spark, tmp, [10.0] * 10)
    r = STAGED["diebold_mariano_forecasts"].fn(spark, tmp).collect()[0]
    assert r["mean_loss_diff"] == 0.0
    assert r["dm_stat"] is None


# --------------------------------------------------------------- RMST


def test_rmst_all_churn_at_five_days(spark, tmp_path_factory):
    """Every user active exactly days 0..4 (lifetime 5), one late
    marker user keeps corpus_end far away so nobody is censored...
    the marker user itself is censored. Churned mass at t=5 with
    survival dropping to the marker-only tail."""
    tmp = str(tmp_path_factory.mktemp("rmst5"))
    rows, eid = [], 0
    for uid in range(1, 5):   # 4 users, lifetime 5 (days 0 and 4)
        eid += 1; rows.append((eid, BASE, uid, "view", 1.0))
        eid += 1
        rows.append((eid, BASE + timedelta(days=4), uid, "view", 1.0))
    # marker user active on day 40 only: lifetime 1, censored
    eid += 1
    rows.append((eid, BASE + timedelta(days=40), 99, "view", 1.0))
    _write_events(spark, tmp, rows)
    r = STAGED["rmst_user_lifetimes"].fn(spark, tmp).collect()[0]
    assert r["n_users"] == 5 and r["tau_days"] == RMST_TAU
    # KM: t=1: risk 5, churn 0 (marker censored) -> S=1
    #     t=5: risk 4, churn 4 -> S=0
    # RMST = 1*1 + S(1)=1 over [1,5) = 4, then 0 after -> 5.0
    assert r["rmst_days"] == pytest.approx(5.0, rel=1e-12)


def test_rmst_matches_python_km(spark, tmp_path_factory):
    """Mixed lifetimes with censoring: compare to a direct Python KM
    integration."""
    tmp = str(tmp_path_factory.mktemp("rmstpy"))
    # (uid, first_day, last_day)
    spans = [(1, 0, 2), (2, 0, 6), (3, 1, 9), (4, 0, 19), (5, 2, 24),
             (6, 0, 24), (7, 3, 21)]
    rows, eid = [], 0
    for uid, f, l_ in spans:
        eid += 1
        rows.append((eid, BASE + timedelta(days=f), uid, "view", 1.0))
        if l_ != f:
            eid += 1
            rows.append((eid, BASE + timedelta(days=l_), uid, "view",
                         1.0))
    _write_events(spark, tmp, rows)
    corpus_end = max(l_ for _, _, l_ in spans)
    lives = [(l_ - f + 1, 1 if corpus_end - l_ < 7 else 0)
             for _, f, l_ in spans]
    times = sorted({t for t, _ in lives})
    surv, rmst, prev_s, prev_t = 1.0, 0.0, 1.0, 0
    tau = RMST_TAU
    for t in times:
        if t >= tau:
            break
        n_risk = sum(1 for tt, _ in lives if tt >= t)
        d = sum(1 for tt, c in lives if tt == t and c == 0)
        rmst += prev_s * (t - prev_t)
        surv = surv * (1 - d / n_risk)
        prev_s, prev_t = surv, t
    rmst += prev_s * (tau - prev_t)
    r = STAGED["rmst_user_lifetimes"].fn(spark, tmp).collect()[0]
    assert r["n_users"] == len(spans)
    assert r["rmst_days"] == pytest.approx(rmst, rel=1e-12)


# -------------------------------------------------------- periodogram


def test_periodogram_pure_weekly_cycle(spark, tmp_path_factory):
    """A pure period-7 cosine over exactly 4 weeks concentrates ~all
    variance at the weekly frequency."""
    tmp = str(tmp_path_factory.mktemp("pgram"))
    vals = [100.0 + 50.0 * math.cos(2 * math.pi * i / 7)
            for i in range(28)]
    _write_daily(spark, tmp, vals)
    r = STAGED["periodogram_weekly_power"].fn(spark, tmp).collect()[0]
    assert r["n_days"] == 28
    assert r["var_fraction_weekly"] == pytest.approx(1.0, abs=1e-4)


def test_periodogram_matches_python(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("pgram2"))
    vals = [10.0, 25.0, 14.0, 31.0, 22.0, 9.0, 40.0, 12.0, 28.0,
            17.0]
    _write_daily(spark, tmp, vals)
    ys = [round(v * 100) for v in vals]
    n = len(ys)
    ybar = sum(ys) / n
    c = sum((y - ybar) * math.cos(2 * math.pi * ((i + 1) % 7) / 7)
            for i, y in enumerate(ys))
    s = sum((y - ybar) * math.sin(2 * math.pi * ((i + 1) % 7) / 7)
            for i, y in enumerate(ys))
    power = (c * c + s * s) / n
    b = sum((y - ybar) ** 2 for y in ys)
    frac = 2 * (c * c + s * s) / (n * b)
    r = STAGED["periodogram_weekly_power"].fn(spark, tmp).collect()[0]
    assert r["power_weekly"] == pytest.approx(power, rel=1e-9)
    assert r["var_fraction_weekly"] == pytest.approx(frac, rel=1e-9)


def test_periodogram_constant_guard(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("pgram0"))
    _write_daily(spark, tmp, [5.0] * 9)
    r = STAGED["periodogram_weekly_power"].fn(spark, tmp).collect()[0]
    assert r["power_weekly"] == 0.0
    assert r["var_fraction_weekly"] is None
