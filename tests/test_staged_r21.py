"""Planted-ground-truth and independent-recomputation tests for the
round-21/22 staged banks (runs test, Mood scale, energy distance,
Hoeffding's D, Page's L, sample-entropy matches, distance
correlation, stratified split, chi2 unigram divergence).

The blanket oracle-match / non-empty gates in
tests/test_staged_pen.py already parametrize over ALL staged queries;
these tests pin the MATH with pure-Python recomputations on planted
inputs whose exact answers are known in advance. Their scan budgets
live in tests/test_plan_rules.py.
"""

from __future__ import annotations

import math
from datetime import date, datetime, timedelta

import pytest

from de_project_airflow_etl_spark.staged import STAGED

_BASE = datetime(2024, 1, 3, 12, 0, 0)  # a Wednesday (weekday)


def _write_events(spark, path, rows):
    """rows: (event_id, day_offset, sec_offset, user_id, type, cents)"""
    data = [(eid, _BASE + timedelta(days=d, seconds=s), uid, et,
             c / 100.0, "{}")
            for eid, d, s, uid, et, c in rows]
    (spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
     .write.mode("overwrite").parquet(f"{path}/events.parquet"))


def _write_docs(spark, path, rows):
    data = [(i, t, "en", s, len(t)) for i, t, s in rows]
    (spark.createDataFrame(
        data, "doc_id long, text string, lang string, source string,"
              " n_chars long")
     .write.mode("overwrite").parquet(f"{path}/documents.parquet"))


def _daily_rows(cents_by_day):
    """One event per day at the given daily cents totals."""
    return [(i + 1, i, 0, 1, "view", c)
            for i, c in enumerate(cents_by_day)]


# ------------------------------------------------------- runs test


def test_runs_test_alternating_sequence(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("runs"))
    # 9 distinct dailies, perfectly alternating around the median 50:
    # signs for [10,90,20,80,30,70,40,60] (50 = lower median, dropped)
    # alternate every step -> R = 8 runs, n1 = n2 = 4
    cents = [1000, 9000, 2000, 8000, 3000, 7000, 4000, 6000, 5000]
    _write_events(spark, tmp, _daily_rows(cents))
    r = STAGED["wald_wolfowitz_runs_daily"].fn(spark, tmp).collect()[0]
    assert (r["n_above"], r["n_below"], r["n_runs"]) == (4, 4, 8)
    mu = 2 * 4 * 4 / 8 + 1
    var = 2 * 4 * 4 * (2 * 4 * 4 - 8) / (8 * 8 * 7)
    assert math.isclose(r["z_runs"], (8 - mu) / math.sqrt(var),
                        rel_tol=1e-12)


def test_runs_test_monotone_sequence_two_runs(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("runs2"))
    # strictly increasing dailies: all belows precede all aboves -> R=2
    cents = [1000 * (i + 1) for i in range(9)]
    _write_events(spark, tmp, _daily_rows(cents))
    r = STAGED["wald_wolfowitz_runs_daily"].fn(spark, tmp).collect()[0]
    assert (r["n_above"], r["n_below"], r["n_runs"]) == (4, 4, 2)
    assert r["z_runs"] < -2.0  # far too few runs for randomness


# -------------------------------------------------- Mood scale test


def _midranks2(values):
    """value -> 2x pooled midrank, classical cell construction."""
    cells = {}
    for v in values:
        cells[v] = cells.get(v, 0) + 1
    out, cum = {}, 0
    for v in sorted(cells):
        out[v] = 2 * cum + cells[v] + 1
        cum += cells[v]
    return out


def test_mood_scale_python_recomputation(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("mood"))
    # weekend (Sat offset 3, Sun offset 4 from Wed) gets the extreme
    # values, weekday the central ones -> large positive T deviation
    wknd = [1000, 9000, 1500, 8500]
    wkdy = [4800, 5000, 5000, 5200, 4900, 5100]
    rows = [(i + 1, 3 + (i % 2), i, 1, "view", c)
            for i, c in enumerate(wknd)]
    rows += [(100 + i, i % 3, 60 + i, 2, "view", c)
             for i, c in enumerate(wkdy)]
    _write_events(spark, tmp, rows)
    r = STAGED["mood_scale_test_weekend"].fn(spark, tmp).collect()[0]
    pooled = wknd + wkdy
    m2 = _midranks2(pooled)
    n = len(pooled)
    t_stat = sum(((m2[v] - n - 1) / 2.0) ** 2 for v in wknd)
    assert (r["n_weekend"], r["n_weekday"]) == (len(wknd), len(wkdy))
    assert math.isclose(r["mood_t"], t_stat, rel_tol=1e-12)
    n1, n2 = len(wknd), len(wkdy)
    e_t = n1 * (n * n - 1) / 12.0
    v_t = n1 * n2 * (n + 1) * (n * n - 4) / 180.0
    assert math.isclose(r["z_mood"], (t_stat - e_t) / math.sqrt(v_t),
                        rel_tol=1e-12)


# ----------------------------------------------- energy distance


def test_energy_distance_point_masses(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("energy"))
    # weekend all at 0 cents, weekday all at 100 cents:
    # E|X-Y| = 100c, within-terms 0 -> D^2 = 200c = 2 dollars
    rows = [(i + 1, 3 + (i % 2), i, 1, "view", 0) for i in range(4)]
    rows += [(100 + i, i % 3, 60 + i, 2, "view", 100)
             for i in range(5)]
    _write_events(spark, tmp, rows)
    r = STAGED["energy_distance_weekend"].fn(spark, tmp).collect()[0]
    assert (r["n_weekend"], r["n_weekday"]) == (4, 5)
    assert r["mean_cross_absdiff"] == 1.0
    assert r["energy_dist_dollars"] == 2.0


def test_energy_distance_brute_force(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("energy2"))
    wknd = [100, 300, 300, 700, 1900]
    wkdy = [200, 200, 500, 1100, 1300, 1700]
    rows = [(i + 1, 3 + (i % 2), i, 1, "view", c)
            for i, c in enumerate(wknd)]
    rows += [(100 + i, i % 3, 60 + i, 2, "view", c)
             for i, c in enumerate(wkdy)]
    _write_events(spark, tmp, rows)
    r = STAGED["energy_distance_weekend"].fn(spark, tmp).collect()[0]
    s12 = sum(abs(a - b) for a in wknd for b in wkdy)
    s11 = sum(abs(a - b) for a in wknd for b in wknd) / 2
    s22 = sum(abs(a - b) for a in wkdy for b in wkdy) / 2
    n1, n2 = len(wknd), len(wkdy)
    d2 = (2 * s12 / (n1 * n2) - 2 * s11 / (n1 * n1)
          - 2 * s22 / (n2 * n2)) / 100
    assert math.isclose(r["energy_dist_dollars"], d2, rel_tol=1e-12)
    assert math.isclose(r["mean_cross_absdiff"],
                        s12 / (n1 * n2) / 100, rel_tol=1e-12)


# ----------------------------------------------------- Hoeffding D


def _hoeffding_py(xs, ys):
    """Independent recomputation: Hoeffding (1948) with midranks and
    half-credit bivariate ranks (x assumed tie-free)."""
    n = len(xs)
    def mid(v, vals):
        return (sum(1 for u in vals if u < v)
                + (sum(1 for u in vals if u == v) + 1) / 2)
    d1 = d2 = d3 = 0.0
    for i in range(n):
        r = mid(xs[i], xs)
        s = mid(ys[i], ys)
        q = 1 + sum(
            (1.0 if ys[j] < ys[i] else 0.5 if ys[j] == ys[i] else 0.0)
            for j in range(n) if xs[j] < xs[i])
        d1 += (q - 1) * (q - 2)
        d2 += (r - 1) * (r - 2) * (s - 1) * (s - 2)
        d3 += (r - 2) * (s - 2) * (q - 1)
    num = (n - 2) * (n - 3) * d1 + d2 - 2 * (n - 2) * d3
    return 30.0 * num / (n * (n - 1) * (n - 2) * (n - 3) * (n - 4))


def test_hoeffding_monotone_and_recomputation(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("hoeffd"))
    cents = [1000, 2500, 2500, 4000, 7000, 7000, 9000, 12000]
    _write_events(spark, tmp, _daily_rows(cents))
    r = STAGED["hoeffding_d_daily"].fn(spark, tmp).collect()[0]
    xs = list(range(len(cents)))
    expected = _hoeffding_py(xs, cents)
    assert r["n_days"] == len(cents)
    assert math.isclose(r["hoeffding_d"], expected, rel_tol=1e-12)
    assert r["hoeffding_d"] > 0.5  # strong monotone dependence


def test_hoeffding_u_shape_detected(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("hoeffd2"))
    # perfect U: Pearson/Kendall ~ 0 but Hoeffding clearly positive
    cents = [8100, 4900, 2500, 900, 100, 100, 900, 2500, 4900, 8100]
    _write_events(spark, tmp, _daily_rows(cents))
    r = STAGED["hoeffding_d_daily"].fn(spark, tmp).collect()[0]
    expected = _hoeffding_py(list(range(len(cents))), cents)
    assert math.isclose(r["hoeffding_d"], expected, rel_tol=1e-12)
    assert r["hoeffding_d"] > 0.05


# -------------------------------------------------------- Page's L


def test_page_l_perfect_weekday_trend(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("pagel"))
    # two complete epoch-weeks where cents strictly increase with
    # x % 7 -> within-week ranks equal dow+1 -> L = 2 * sum j*j = 280
    base_x = (_BASE.date() - date(1970, 1, 1)).days
    start = base_x + ((7 - base_x % 7) % 7)  # first x with x % 7 == 0
    rows = []
    eid = 0
    for wk in range(2):
        for dow in range(7):
            eid += 1
            off = start + 7 * wk + dow - base_x
            rows.append((eid, off, 0, 1, "view", 1000 * (dow + 1)))
    _write_events(spark, tmp, rows)
    r = STAGED["page_l_trend_dow"].fn(spark, tmp).collect()[0]
    assert r["n_weeks"] == 2
    assert r["page_l"] == 2 * sum(j * j for j in range(1, 8))
    e_l = 2 * 7 * 64 / 4.0
    v_l = 2 * 49 * 8 * 48 / 144.0
    assert math.isclose(r["z_page"], (280 - e_l) / math.sqrt(v_l),
                        rel_tol=1e-12)
    assert r["z_page"] > 3.0


def test_page_l_drops_incomplete_weeks(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("pagel2"))
    base_x = (_BASE.date() - date(1970, 1, 1)).days
    start = base_x + ((7 - base_x % 7) % 7)
    rows = []
    eid = 0
    for dow in range(7):  # one complete week
        eid += 1
        rows.append((eid, start + dow - base_x, 0, 1, "view",
                     1000 * (dow + 1)))
    for dow in range(4):  # one incomplete week: must be dropped
        eid += 1
        rows.append((eid, start + 7 + dow - base_x, 0, 1, "view", 500))
    _write_events(spark, tmp, rows)
    r = STAGED["page_l_trend_dow"].fn(spark, tmp).collect()[0]
    assert r["n_weeks"] == 1
    assert r["page_l"] == sum(j * j for j in range(1, 8))


# ------------------------------------------- sample-entropy matches


def test_sample_entropy_constant_series(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("sampen"))
    # constant series: every template matches every other -> A == B,
    # ratio exactly 1 (maximal regularity)
    cents = [5000] * 10
    _write_events(spark, tmp, _daily_rows(cents))
    r = STAGED["sample_entropy_matches_daily"].fn(
        spark, tmp).collect()[0]
    assert r["n_days"] == 10
    assert r["r_cents"] == 0
    n_t = 10 - 2
    assert r["b_count"] == n_t * (n_t - 1) // 2
    assert r["a_count"] == r["b_count"]
    assert r["match_ratio"] == 1.0


def test_sample_entropy_brute_force(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("sampen2"))
    cents = [1000, 1200, 1000, 1300, 1000, 1200, 5000, 1000, 1200,
             1000, 1400, 1100]
    _write_events(spark, tmp, _daily_rows(cents))
    r = STAGED["sample_entropy_matches_daily"].fn(
        spark, tmp).collect()[0]
    med = sorted(cents)[(len(cents) - 1) // 2]
    mad = sorted(abs(c - med) for c in cents)[(len(cents) - 1) // 2]
    assert r["r_cents"] == mad
    n = len(cents)
    tpl = [(cents[i], cents[i + 1], cents[i + 2])
           for i in range(n - 2)]
    b = sum(1 for i in range(len(tpl)) for j in range(i + 1, len(tpl))
            if max(abs(tpl[i][0] - tpl[j][0]),
                   abs(tpl[i][1] - tpl[j][1])) <= mad)
    a = sum(1 for i in range(len(tpl)) for j in range(i + 1, len(tpl))
            if max(abs(tpl[i][0] - tpl[j][0]),
                   abs(tpl[i][1] - tpl[j][1]),
                   abs(tpl[i][2] - tpl[j][2])) <= mad)
    assert (r["b_count"], r["a_count"]) == (b, a)


# -------------------------------------------- distance correlation


def _dcor_py(xs, ys):
    n = len(xs)
    a = [[abs(xs[i] - xs[j]) for j in range(n)] for i in range(n)]
    b = [[abs(ys[i] - ys[j]) for j in range(n)] for i in range(n)]
    def center(m):
        rm = [sum(row) / n for row in m]
        gm = sum(rm) / n
        return [[m[i][j] - rm[i] - rm[j] + gm for j in range(n)]
                for i in range(n)]
    ac, bc = center(a), center(b)
    dcov2 = sum(ac[i][j] * bc[i][j]
                for i in range(n) for j in range(n)) / (n * n)
    dvx = sum(ac[i][j] ** 2
              for i in range(n) for j in range(n)) / (n * n)
    dvy = sum(bc[i][j] ** 2
              for i in range(n) for j in range(n)) / (n * n)
    return dcov2, dvx, dvy


def test_distance_correlation_recomputation(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("dcor"))
    cents = [1000, 4000, 2000, 8000, 3000, 9000, 1000, 7000]
    _write_events(spark, tmp, _daily_rows(cents))
    r = STAGED["distance_correlation_daily"].fn(spark, tmp).collect()[0]
    dcov2, dvx, dvy = _dcor_py(list(range(len(cents))), cents)
    assert r["n_days"] == len(cents)
    assert math.isclose(r["dcov2"], dcov2, rel_tol=1e-9)
    assert math.isclose(r["dvarx2"], dvx, rel_tol=1e-9)
    assert math.isclose(r["dvary2"], dvy, rel_tol=1e-9)
    assert math.isclose(r["dcor"],
                        math.sqrt(dcov2 / math.sqrt(dvx * dvy)),
                        rel_tol=1e-9)


def test_distance_correlation_linear_is_one(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("dcor2"))
    cents = [1000 * (i + 1) for i in range(8)]  # y = 1000(x+1)
    _write_events(spark, tmp, _daily_rows(cents))
    r = STAGED["distance_correlation_daily"].fn(spark, tmp).collect()[0]
    assert math.isclose(r["dcor"], 1.0, rel_tol=1e-12)


# ------------------------------------------------ stratified split


def test_stratified_split_partitions_every_doc(spark,
                                               tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("split"))
    docs = [(i, f"tok{i} common text words", f"s{i % 3}")
            for i in range(200)]
    _write_docs(spark, tmp, docs)
    rows = STAGED["stratified_split_manifest"].fn(spark, tmp).collect()
    total = sum(r["n_docs"] for r in rows)
    assert total == 200  # every doc in exactly one split
    by_split = {}
    for r in rows:
        by_split[r["split"]] = by_split.get(r["split"], 0) + r["n_docs"]
    assert set(by_split) <= {"train", "val", "test"}
    assert by_split["train"] > by_split.get("val", 0)
    assert by_split["train"] > by_split.get("test", 0)
    # deterministic: a second run yields the identical manifest
    rows2 = STAGED["stratified_split_manifest"].fn(spark, tmp).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


# --------------------------------------- chi2 unigram divergence


def test_chi2_divergence_identical_sources_zero(spark,
                                                tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("chi2"))
    text = "alpha beta gamma delta alpha beta"
    docs = [(i, text, f"s{i % 2}") for i in range(10)]
    _write_docs(spark, tmp, docs)
    rows = STAGED["chi2_divergence_source_unigrams"].fn(
        spark, tmp).collect()
    assert len(rows) == 1  # one unordered pair
    assert rows[0]["chi2_div"] == 0.0  # identical distributions


def test_chi2_divergence_python_recomputation(spark,
                                              tmp_path_factory):
    from de_project_airflow_etl_spark.staged.round22 import CHI2_V
    tmp = str(tmp_path_factory.mktemp("chi2b"))
    docs = [(1, "apple apple banana cherry", "sa"),
            (2, "apple banana banana banana dates", "sb"),
            (3, "cherry cherry dates", "sa")]
    _write_docs(spark, tmp, docs)
    rows = STAGED["chi2_divergence_source_unigrams"].fn(
        spark, tmp).collect()
    assert len(rows) == 1
    vocab = ["apple", "banana", "cherry", "dates"]
    ca = {"apple": 2, "banana": 1, "cherry": 3, "dates": 1}
    cb = {"apple": 1, "banana": 3, "cherry": 0, "dates": 1}
    na, nb = sum(ca.values()), sum(cb.values())
    terms = []
    for t in vocab:
        pa = (ca[t] + 1) / (na + CHI2_V)
        pb = (cb[t] + 1) / (nb + CHI2_V)
        terms.append((pa - pb) ** 2 / pb)
    # the keep-list only holds terms that EXIST in the corpus, so the
    # recomputation is over the 4 real terms; fold the SORTED terms
    # left-to-right exactly like both engines do (not fsum)
    expected = 0.0
    for v in sorted(terms):
        expected += v
    assert math.isclose(rows[0]["chi2_div"], expected, rel_tol=1e-12)


# ------------------------------------------------- Brunner-Munzel


def _brunner_munzel_py(xs, ys):
    """Independent recomputation (scipy-equivalent formulation):
    xs = group 1 (weekend), ys = group 2 (weekday)."""
    pooled = sorted(xs + ys)
    def midrank(v, vals):
        return (sum(1 for u in vals if u < v)
                + (sum(1 for u in vals if u == v) + 1) / 2)
    n1, n2 = len(xs), len(ys)
    p1 = [midrank(v, pooled) for v in xs]
    p2 = [midrank(v, pooled) for v in ys]
    w1 = [midrank(v, xs) for v in xs]
    w2 = [midrank(v, ys) for v in ys]
    rb1, rb2 = sum(p1) / n1, sum(p2) / n2
    s1 = sum((p - w - rb1 + (n1 + 1) / 2) ** 2
             for p, w in zip(p1, w1)) / (n1 - 1)
    s2 = sum((p - w - rb2 + (n2 + 1) / 2) ** 2
             for p, w in zip(p2, w2)) / (n2 - 1)
    w_bm = (n1 * n2 * (rb2 - rb1)
            / ((n1 + n2) * math.sqrt(n1 * s1 + n2 * s2)))
    p_hat = (rb2 - (n2 + 1) / 2) / n1
    return w_bm, p_hat


def test_brunner_munzel_python_recomputation(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("bm"))
    wknd = [1000, 1000, 3000, 5000, 9000]
    wkdy = [2000, 4000, 4000, 6000, 8000, 8000, 10000]
    rows = [(i + 1, 3 + (i % 2), i, 1, "view", c)
            for i, c in enumerate(wknd)]
    rows += [(100 + i, i % 3, 60 + i, 2, "view", c)
             for i, c in enumerate(wkdy)]
    _write_events(spark, tmp, rows)
    r = STAGED["brunner_munzel_weekend"].fn(spark, tmp).collect()[0]
    w_bm, p_hat = _brunner_munzel_py(wknd, wkdy)
    assert (r["n_weekend"], r["n_weekday"]) == (5, 7)
    assert math.isclose(r["w_bm"], w_bm, rel_tol=1e-12)
    assert math.isclose(r["p_hat"], p_hat, rel_tol=1e-12)


def test_brunner_munzel_symmetric_is_zero(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("bm2"))
    vals = [1000, 2000, 3000, 4000]
    rows = [(i + 1, 3 + (i % 2), i, 1, "view", c)
            for i, c in enumerate(vals)]
    rows += [(100 + i, i % 3, 60 + i, 2, "view", c)
             for i, c in enumerate(vals)]
    _write_events(spark, tmp, rows)
    r = STAGED["brunner_munzel_weekend"].fn(spark, tmp).collect()[0]
    assert r["w_bm"] == 0.0  # identical samples -> exactly centered
    assert r["p_hat"] == 0.5


# --------------------------------------------------- Cochran's Q


def test_cochrans_q_hand_computed(spark, tmp_path_factory):
    from datetime import date as _date
    tmp = str(tmp_path_factory.mktemp("cq"))
    base_x = (_BASE.date() - _date(1970, 1, 1)).days
    start = base_x + ((7 - base_x % 7) % 7)  # first x, x % 7 == 0
    # two complete epoch-weeks; flags: u1=(1,0) u2=(1,1) u3=(0,1)
    # u4=(1,0); need daily coverage of all 14 days (filler user 9)
    rows = []
    def ev(uid, wk, typ):
        rows.append((len(rows) + 1, start + 7 * wk - base_x,
                     len(rows), uid, typ, 100))
    for d in range(14):
        rows.append((len(rows) + 1, start + d - base_x, 999, 9,
                     "view", 100))
    ev(1, 0, "purchase"); ev(1, 1, "view")
    ev(2, 0, "purchase"); ev(2, 1, "purchase")
    ev(3, 0, "view");     ev(3, 1, "purchase")
    ev(4, 0, "purchase"); ev(4, 1, "view")
    _write_events(spark, tmp, rows)
    r = STAGED["cochrans_q_weekly_purchase"].fn(spark, tmp).collect()[0]
    # rows (incl. user 9 all-zero): R = [1,2,1,1,0]; C = [3,2]; k=2
    k, t = 2, 5
    sum_cj2 = 9 + 4
    sum_r2 = 1 + 4 + 1 + 1 + 0
    q = (k - 1) * (k * sum_cj2 - t * t) / (k * t - sum_r2)
    assert r["k_weeks"] == 2 and r["n_users"] == 5
    assert math.isclose(r["q_stat"], q, rel_tol=1e-12)
    # McNemar identity at k=2: Q = (b-c)^2/(b+c); here b=2, c=1
    assert math.isclose(q, (2 - 1) ** 2 / (2 + 1), rel_tol=1e-12)


# ------------------------------------- Bartels rank von Neumann


def test_bartels_monotone_series(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("rvn"))
    n = 9
    cents = [1000 * (i + 1) for i in range(n)]  # strictly increasing
    _write_events(spark, tmp, _daily_rows(cents))
    r = STAGED["bartels_rank_von_neumann_daily"].fn(
        spark, tmp).collect()[0]
    # ranks 1..n: num = n-1 unit steps, den = n(n^2-1)/12
    rvn = (n - 1) / (n * (n * n - 1) / 12)
    assert r["n_days"] == n
    assert math.isclose(r["rvn"], rvn, rel_tol=1e-12)
    assert r["z_rvn"] < -3.0  # strong positive serial dependence


def test_bartels_python_recomputation(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("rvn2"))
    cents = [3000, 1000, 4000, 1000, 5000, 9000, 2000, 6000]
    _write_events(spark, tmp, _daily_rows(cents))
    r = STAGED["bartels_rank_von_neumann_daily"].fn(
        spark, tmp).collect()[0]
    m2 = _midranks2(cents)
    ranks = [m2[c] / 2 for c in cents]
    n = len(cents)
    num = sum((ranks[i] - ranks[i + 1]) ** 2 for i in range(n - 1))
    den = sum((x - (n + 1) / 2) ** 2 for x in ranks)
    assert math.isclose(r["rvn"], num / den, rel_tol=1e-12)
