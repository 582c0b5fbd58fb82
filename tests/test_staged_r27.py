"""Planted-ground-truth tests for the round-27 staged bank
(Fligner-Policello, Dunn post-hoc, Stuart-Maxwell, weighted kappa).
Blanket oracle / non-empty gates ride tests/test_staged_pen.py.
"""

from __future__ import annotations

import math
from datetime import datetime, timedelta

import pytest

from de_project_airflow_etl_spark.staged import STAGED

SAT = datetime(2024, 1, 6, 12, 0)   # Saturday -> weekend
MON = datetime(2024, 1, 8, 12, 0)   # Monday  -> weekday


def _write_events(spark, path, rows):
    """rows: (event_id, ts, user_id, event_type, value)"""
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


# ------------------------------------------------ Fligner-Policello


def _fp_u(xs, ys):
    """Pure-Python placements reference (Fligner & Policello 1981)."""
    p = [sum(1 for y in ys if y < x) + 0.5 * sum(1 for y in ys if y == x)
         for x in xs]
    q = [sum(1 for x in xs if x < y) + 0.5 * sum(1 for x in xs if x == y)
         for y in ys]
    pb, qb = sum(p) / len(p), sum(q) / len(q)
    v1 = sum((pi - pb) ** 2 for pi in p)
    v2 = sum((qi - qb) ** 2 for qi in q)
    return (sum(p) - sum(q)) / (2 * math.sqrt(v1 + v2 + pb * qb))


def test_fligner_policello_matches_reference(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("fp"))
    xs = [1.00, 2.00, 2.00, 5.00, 9.00]        # weekend
    ys = [2.00, 3.00, 4.00, 4.00, 6.00, 7.00]  # weekday
    rows, eid = [], 0
    for v in xs:
        eid += 1; rows.append((eid, SAT, eid, "view", v))
    for v in ys:
        eid += 1; rows.append((eid, MON, eid, "view", v))
    _write_events(spark, tmp, rows)
    r = STAGED["fligner_policello_weekend"].fn(spark, tmp).collect()[0]
    assert r["n_weekend"] == 5 and r["n_weekday"] == 6
    p = [sum(1 for y in ys if y < x)
         + 0.5 * sum(1 for y in ys if y == x) for x in xs]
    assert r["mean_placement_weekend"] == pytest.approx(sum(p) / 5)
    assert r["u_fp"] == pytest.approx(_fp_u(xs, ys), rel=1e-12)


def test_fligner_policello_separation_guard(spark, tmp_path_factory):
    """Complete separation (every weekend value above every weekday
    value) makes all placement variances AND the cross term zero —
    the statistic is infinite; the query must emit NULL, not abort
    (the degenerate-input guard rule)."""
    tmp = str(tmp_path_factory.mktemp("fp2"))
    rows, eid = [], 0
    for v in (10.0, 11.0, 12.0, 13.0):
        eid += 1; rows.append((eid, SAT, eid, "view", v))
    for v in (1.0, 2.0, 3.0, 4.0):
        eid += 1; rows.append((eid, MON, eid, "view", v))
    _write_events(spark, tmp, rows)
    r = STAGED["fligner_policello_weekend"].fn(spark, tmp).collect()[0]
    assert r["mean_placement_weekend"] == 4.0
    assert r["mean_placement_weekday"] == 0.0
    assert r["u_fp"] is None


def test_fligner_policello_one_empty_group_guard(spark,
                                                 tmp_path_factory):
    """No weekend rows at all -> every output stat NULL, no abort."""
    tmp = str(tmp_path_factory.mktemp("fp3"))
    rows = [(i + 1, MON, i + 1, "view", float(i + 1)) for i in range(4)]
    _write_events(spark, tmp, rows)
    r = STAGED["fligner_policello_weekend"].fn(spark, tmp).collect()[0]
    assert r["n_weekend"] == 0 and r["n_weekday"] == 4
    assert r["mean_placement_weekend"] is None
    assert r["u_fp"] is None


# ------------------------------------------------------ Dunn post-hoc


def _dunn_ref(groups):
    """Pure-Python Dunn (1964) with midranks and tie correction.
    groups: dict name -> list of values; returns dict (a,b) -> z."""
    pooled = sorted(v for vs in groups.values() for v in vs)
    n = len(pooled)
    # midrank of each distinct value
    mid = {}
    i = 0
    while i < len(pooled):
        j = i
        while j < len(pooled) and pooled[j] == pooled[i]:
            j += 1
        mid[pooled[i]] = (i + 1 + j) / 2
        i = j
    ties = {}
    for v in pooled:
        ties[v] = ties.get(v, 0) + 1
    t = sum(c ** 3 - c for c in ties.values())
    out = {}
    names = sorted(groups)
    for ai in range(len(names)):
        for bi in range(ai + 1, len(names)):
            a, b = names[ai], names[bi]
            ra = sum(mid[v] for v in groups[a]) / len(groups[a])
            rb = sum(mid[v] for v in groups[b]) / len(groups[b])
            var = (n * (n + 1) / 12 - t / (12 * (n - 1))) \
                * (1 / len(groups[a]) + 1 / len(groups[b]))
            out[(a, b)] = (ra - rb) / math.sqrt(var)
    return out


def test_dunn_matches_reference(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("dunn"))
    groups = {"click": [1.0, 2.0, 2.0, 4.0],
              "purchase": [3.0, 5.0, 6.0, 6.0, 8.0],
              "view": [2.0, 3.0, 7.0]}
    rows, eid = [], 0
    for g, vs in groups.items():
        for v in vs:
            eid += 1; rows.append((eid, MON, eid, g, v))
    _write_events(spark, tmp, rows)
    got = {(r["type_a"], r["type_b"]): r
           for r in STAGED["dunn_posthoc_value_by_type"].fn(
               spark, tmp).collect()}
    ref = _dunn_ref(groups)
    assert set(got) == set(ref)
    for pair, z in ref.items():
        assert got[pair]["z_dunn"] == pytest.approx(z, rel=1e-12), pair
    assert got[("click", "purchase")]["n_a"] == 4
    assert got[("click", "purchase")]["n_b"] == 5


def test_dunn_equal_groups_zero(spark, tmp_path_factory):
    """Identical value multisets in every group -> all z exactly 0."""
    tmp = str(tmp_path_factory.mktemp("dunn0"))
    rows, eid = [], 0
    for g in ("click", "view", "purchase"):
        for v in (1.0, 2.0, 3.0):
            eid += 1; rows.append((eid, MON, eid, g, v))
    _write_events(spark, tmp, rows)
    for r in STAGED["dunn_posthoc_value_by_type"].fn(spark,
                                                     tmp).collect():
        assert r["z_dunn"] == 0.0


def test_dunn_all_tied_guard(spark, tmp_path_factory):
    """Every pooled value identical -> the tie term consumes the
    whole variance (N(N+1)(N-1) == T): z must be NULL, not a
    divide-by-zero abort."""
    tmp = str(tmp_path_factory.mktemp("dunnt"))
    rows, eid = [], 0
    for g in ("click", "view"):
        for _ in range(3):
            eid += 1; rows.append((eid, MON, eid, g, 5.0))
    _write_events(spark, tmp, rows)
    for r in STAGED["dunn_posthoc_value_by_type"].fn(spark,
                                                     tmp).collect():
        assert r["z_dunn"] is None


# -------------------------------------------------- Stuart-Maxwell


def _sm_ref(n):
    """d' V^-1 d via the 2x2 inverse (drop category 3). n: 3x3."""
    row = [sum(n[i]) for i in range(3)]
    col = [sum(n[i][j] for i in range(3)) for j in range(3)]
    d = [row[i] - col[i] for i in range(3)]
    v11 = row[0] + col[0] - 2 * n[0][0]
    v22 = row[1] + col[1] - 2 * n[1][1]
    v12 = -(n[0][1] + n[1][0])
    det = v11 * v22 - v12 * v12
    return (v22 * d[0] ** 2 - 2 * v12 * d[0] * d[1]
            + v11 * d[1] ** 2) / det


def test_stuart_maxwell_matches_inverse(spark, tmp_path_factory):
    """Planted first/last band pairs; the closed form must equal the
    matrix-inverse definition. Bands: browse / convert / error."""
    tmp = str(tmp_path_factory.mktemp("sm"))
    band_evt = {"browse": "view", "convert": "purchase",
                "error": "error"}
    order = ["browse", "convert", "error"]
    n = [[2, 5, 1], [2, 3, 4], [0, 2, 1]]  # n[first][last]
    rows, eid, uid = [], 0, 0
    for i in range(3):
        for j in range(3):
            for _ in range(n[i][j]):
                uid += 1
                eid += 1
                rows.append((eid, MON, uid, band_evt[order[i]], 1.0))
                eid += 1
                rows.append((eid, MON + timedelta(hours=2), uid,
                             band_evt[order[j]], 1.0))
    _write_events(spark, tmp, rows)
    r = STAGED["stuart_maxwell_event_transitions"].fn(
        spark, tmp).collect()[0]
    assert r["n_users"] == sum(map(sum, n))
    row = [sum(n[i]) for i in range(3)]
    col = [sum(n[i][j] for i in range(3)) for j in range(3)]
    assert r["d_browse"] == row[0] - col[0]
    assert r["d_convert"] == row[1] - col[1]
    assert r["d_error"] == row[2] - col[2]
    assert r["sm_stat"] == pytest.approx(_sm_ref(n), rel=1e-12)


def test_stuart_maxwell_single_event_users_diagonal(spark,
                                                    tmp_path_factory):
    """Users with one event have first band == last band: all mass on
    the diagonal -> every d is 0 and the statistic is NULL (singular
    V, no off-diagonal pair sums)."""
    tmp = str(tmp_path_factory.mktemp("sm0"))
    rows = [(i + 1, MON, i + 1, "view", 1.0) for i in range(5)]
    _write_events(spark, tmp, rows)
    r = STAGED["stuart_maxwell_event_transitions"].fn(
        spark, tmp).collect()[0]
    assert (r["d_browse"], r["d_convert"], r["d_error"]) == (0, 0, 0)
    assert r["sm_stat"] is None


# ------------------------------------------------- weighted kappa


def _bands(text):
    a = 0 if len(text) < 100 else 1 if len(text) < 200 \
        else 2 if len(text) < 400 else 3
    sp = text.count(" ")
    b = 0 if sp < 15 else 1 if sp < 30 else 2 if sp < 60 else 3
    return a, b


def _kappa_ref(pairs, weight):
    n = len(pairs)
    r = [0] * 4
    c = [0] * 4
    wo = 0
    for a, b in pairs:
        r[a] += 1
        c[b] += 1
        wo += weight(a, b)
    we = sum(weight(a, b) * r[a] * c[b] for a in range(4)
             for b in range(4))
    return 1 - n * wo / we


def test_weighted_kappa_matches_reference(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("wk"))
    docs = [
        "w " * 5 + "x" * 40,              # a=0 (~50 ch), b=0 (5 sp)
        "w " * 20 + "x" * 110,            # a=1 (150), b=1 (20 sp)
        "w " * 40 + "x" * 220,            # a=2 (300), b=2 (40 sp)
        "w " * 70 + "x" * 300,            # a=3 (440), b=3 (70 sp)
        "w " * 35 + "x" * 80,             # a=1 (150), b=2 (35 sp)
        "w " * 10 + "x" * 330,            # a=2 (350), b=0 (10 sp)
    ]
    _write_docs(spark, tmp, docs)
    pairs = [_bands(t) for t in docs]
    # sanity: the planted texts hit the intended bands
    assert pairs == [(0, 0), (1, 1), (2, 2), (3, 3), (1, 2), (2, 0)]
    r = STAGED["weighted_kappa_ordinal_bands"].fn(spark,
                                                  tmp).collect()[0]
    assert r["n_docs"] == 6
    assert r["kappa_linear"] == pytest.approx(
        _kappa_ref(pairs, lambda a, b: abs(a - b)), rel=1e-12)
    assert r["kappa_quadratic"] == pytest.approx(
        _kappa_ref(pairs, lambda a, b: (a - b) ** 2), rel=1e-12)


def test_weighted_kappa_perfect_agreement(spark, tmp_path_factory):
    """Both raters always land in the same band -> both kappas = 1."""
    tmp = str(tmp_path_factory.mktemp("wk1"))
    docs = ["w " * 5 + "x" * 40, "w " * 20 + "x" * 110,
            "w " * 40 + "x" * 220, "w " * 70 + "x" * 300]
    _write_docs(spark, tmp, docs)
    assert [_bands(t) for t in docs] == [(0, 0), (1, 1), (2, 2), (3, 3)]
    r = STAGED["weighted_kappa_ordinal_bands"].fn(spark,
                                                  tmp).collect()[0]
    assert r["kappa_linear"] == 1.0
    assert r["kappa_quadratic"] == 1.0
