"""Planted-ground-truth tests for the round-33 staged bank (Gehan-
Wilcoxon, ICC(1,1), Poisson dispersion, Mahalanobis outlier days).
Blanket oracle / non-empty gates ride tests/test_staged_pen.py.
"""

from __future__ import annotations

import hashlib
import math
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


def _write_docs(spark, path, rows):
    data = [(i + 1, t, "en", "s0", len(t)) for i, t in enumerate(rows)]
    (spark.createDataFrame(
        data, "doc_id long, text string, lang string, source string,"
              " n_chars long")
     .write.mode("overwrite").parquet(f"{path}/documents.parquet"))


def _grp(uid):
    return 1 if hashlib.md5(str(uid).encode()).hexdigest()[0] < "8" \
        else 0


# ---------------------------------------------------- Gehan-Wilcoxon


def _gehan_ref(lives):
    """lives: (grp, t, censored). Weighted log-rank with w = n_j."""
    times = sorted({t for _, t, c in lives if c == 0})
    u = 0
    var = 0.0
    for tt in times:
        n = sum(1 for _, t, _ in lives if t >= tt)
        n1 = sum(1 for g, t, _ in lives if t >= tt and g == 1)
        d = sum(1 for _, t, c in lives if t == tt and c == 0)
        d1 = sum(1 for g, t, c in lives if t == tt and c == 0
                 and g == 1)
        u += n * d1 - n1 * d
        if n > 1:
            var += n1 * (n - n1) * d * (n - d) / (n - 1)
    return u, var


def test_gehan_matches_reference(spark, tmp_path_factory):
    """Planted conversion spans: group-1 users convert fast, group-0
    slowly, one censored user per group."""
    tmp = str(tmp_path_factory.mktemp("gehan"))
    g1 = [u for u in range(1, 300) if _grp(u) == 1][:5]
    g0 = [u for u in range(1, 300) if _grp(u) == 0][:5]
    rows, eid, lives = [], 0, []
    # (uid, first_day, conv_day or None, last_day)
    plan = [(g1[0], 0, 1, 5), (g1[1], 0, 2, 9), (g1[2], 1, 3, 9),
            (g1[3], 0, 1, 2), (g1[4], 0, None, 9),
            (g0[0], 0, 5, 9), (g0[1], 1, 8, 9), (g0[2], 0, 6, 8),
            (g0[3], 2, 9, 9), (g0[4], 0, None, 7)]
    for uid, f, conv, last in plan:
        eid += 1
        rows.append((eid, BASE + timedelta(days=f), uid, "view", 1.0))
        if conv is not None:
            eid += 1
            rows.append((eid, BASE + timedelta(days=conv), uid,
                         "purchase", 1.0))
        eid += 1
        rows.append((eid, BASE + timedelta(days=last), uid, "view",
                     1.0))
        t = (conv if conv is not None else last) - f + 1
        lives.append((_grp(uid), t, 0 if conv is not None else 1))
    _write_events(spark, tmp, rows)
    u_ref, v_ref = _gehan_ref(lives)
    r = STAGED["gehan_wilcoxon_ab_arms"].fn(spark, tmp).collect()[0]
    assert r["n_arm_a"] == 5 and r["n_arm_b"] == 5
    assert r["gehan_u"] == u_ref
    assert r["gehan_var"] == pytest.approx(v_ref, rel=1e-12)
    assert r["z_stat"] == pytest.approx(u_ref / math.sqrt(v_ref),
                                        rel=1e-12)
    # group 1 converts earlier -> more early deaths than expected
    assert r["z_stat"] > 0


# -------------------------------------------------------- ICC(1,1)


def _icc_ref(votes):
    """votes: list of 3-tuples. Direct one-way ANOVA ICC(1,1)."""
    n, k = len(votes), 3
    grand = sum(sum(v) for v in votes) / (n * k)
    msb = k * sum((sum(v) / k - grand) ** 2 for v in votes) / (n - 1)
    msw = sum((x - sum(v) / k) ** 2 for v in votes for x in v) \
        / (n * (k - 1))
    return (msb - msw) / (msb + (k - 1) * msw)


def test_icc_matches_anova_reference(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("icc"))
    cases = [
        ("data . " + "x" * 200, (1, 1, 1)),
        ("data only short", (1, 0, 0)),
        ("plain . short", (0, 0, 1)),
        ("x" * 250, (0, 1, 0)),
        ("data " + "x" * 220, (1, 1, 0)),
        ("nothing here", (0, 0, 0)),
        ("data . more", (1, 0, 1)),
    ]
    _write_docs(spark, tmp, [t for t, _ in cases])
    for t, votes in cases:
        got = (1 if "data" in t else 0, 1 if len(t) >= 200 else 0,
               1 if "." in t else 0)
        assert got == votes, (t[:30], got, votes)
    ref = _icc_ref([list(v) for _, v in cases])
    r = STAGED["icc_quality_raters"].fn(spark, tmp).collect()[0]
    assert r["n_docs"] == len(cases)
    assert r["icc_1_1"] == pytest.approx(ref, rel=1e-12)


def test_icc_perfect_reliability(spark, tmp_path_factory):
    """All three raters agree on every doc and docs differ -> 1."""
    tmp = str(tmp_path_factory.mktemp("icc1"))
    docs = ["data . " + "x" * 200, "nothing here",
            "data . " + "y" * 220, "short plain"]
    _write_docs(spark, tmp, docs)
    r = STAGED["icc_quality_raters"].fn(spark, tmp).collect()[0]
    assert r["icc_1_1"] == 1.0


# ----------------------------------------------- Poisson dispersion


def test_dispersion_matches_closed_form(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("disp"))
    counts = [3, 7, 2, 9, 5, 1, 8]
    rows, eid = [], 0
    for i, c in enumerate(counts):
        for _ in range(c):
            eid += 1
            rows.append((eid, BASE + timedelta(days=i), eid, "view",
                         1.0))
    _write_events(spark, tmp, rows)
    n = len(counts)
    cbar = sum(counts) / n
    d_ref = sum((c - cbar) ** 2 for c in counts) / cbar
    r = STAGED["poisson_dispersion_daily_counts"].fn(
        spark, tmp).collect()[0]
    assert r["n_days"] == n and r["n_events"] == sum(counts)
    assert r["dispersion_stat"] == pytest.approx(d_ref, rel=1e-12)
    assert r["dispersion_index"] == pytest.approx(d_ref / (n - 1),
                                                  rel=1e-12)


def test_dispersion_constant_counts_zero(spark, tmp_path_factory):
    """Identical daily counts -> D = 0 (maximally under-dispersed)."""
    tmp = str(tmp_path_factory.mktemp("disp0"))
    rows, eid = [], 0
    for i in range(5):
        for _ in range(4):
            eid += 1
            rows.append((eid, BASE + timedelta(days=i), eid, "view",
                         1.0))
    _write_events(spark, tmp, rows)
    r = STAGED["poisson_dispersion_daily_counts"].fn(
        spark, tmp).collect()[0]
    assert r["dispersion_stat"] == 0.0


# ------------------------------------------------ Mahalanobis days


def test_mahalanobis_matches_reference(spark, tmp_path_factory):
    """Days with correlated (revenue, count) plus one day that is
    normal in each margin but off the joint ellipse — it must win."""
    tmp = str(tmp_path_factory.mktemp("maha"))
    # (revenue_dollars_per_event, n_events): keep revenue = 10/event
    # except the planted anomaly (high count, LOW revenue)
    days = [(10.0, 2), (10.0, 4), (10.0, 6), (10.0, 8), (10.0, 3),
            (10.0, 5), (2.0, 7)]
    rows, eid = [], 0
    for i, (val, cnt) in enumerate(days):
        for _ in range(cnt):
            eid += 1
            rows.append((eid, BASE + timedelta(days=i), eid, "view",
                         val))
    _write_events(spark, tmp, rows)
    a = [round(v * 100) * c for v, c in days]   # daily cents
    b = [c for _, c in days]
    n = len(days)
    abar, bbar = sum(a) / n, sum(b) / n
    suu = sum((x - abar) ** 2 for x in a)
    svv = sum((y - bbar) ** 2 for y in b)
    suv = sum((x - abar) * (y - bbar) for x, y in zip(a, b))
    det = suu * svv - suv * suv
    d2 = [(n - 1) * (svv * (x - abar) ** 2
                     - 2 * suv * (x - abar) * (y - bbar)
                     + suu * (y - bbar) ** 2) / det
          for x, y in zip(a, b)]
    rows_out = STAGED["mahalanobis_outlier_days"].fn(
        spark, tmp).collect()
    assert len(rows_out) == 5
    top = rows_out[0]
    anomaly_day = (BASE + timedelta(days=6)).date()
    assert top["day"].date() == anomaly_day
    assert top["mahalanobis_d2"] == pytest.approx(max(d2), rel=1e-9)
    assert max(d2) == d2[6]


def test_mahalanobis_singular_guard(spark, tmp_path_factory):
    """Perfectly collinear (revenue, count) days -> singular scatter
    -> NULL distances, no abort."""
    tmp = str(tmp_path_factory.mktemp("maha0"))
    rows, eid = [], 0
    for i, cnt in enumerate([2, 4, 6]):
        for _ in range(cnt):
            eid += 1
            rows.append((eid, BASE + timedelta(days=i), eid, "view",
                         10.0))
    _write_events(spark, tmp, rows)
    for r in STAGED["mahalanobis_outlier_days"].fn(spark,
                                                   tmp).collect():
        assert r["mahalanobis_d2"] is None
