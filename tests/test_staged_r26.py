"""Planted-ground-truth tests for the round-26 staged bank (IPS/SNIPS
off-policy value, Krippendorff's alpha). Blanket oracle / non-empty
gates ride tests/test_staged_pen.py.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta
from itertools import combinations

import pytest

from de_project_airflow_etl_spark.staged import STAGED


def _arm(user_id: int) -> int:
    return 1 if hashlib.md5(str(user_id).encode()).hexdigest()[0] < "8" \
        else 0


def _write_events(spark, path, rows):
    """rows: (event_id, ts, user_id, event_type, value)"""
    data = [(eid, ts, uid, et, v, "{}") for eid, ts, uid, et, v in rows]
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


# --------------------------------------------------- IPS / SNIPS


def test_ips_exact_counterfactual_value(spark, tmp_path_factory):
    """Hand-planted arms and rewards: pick user ids whose md5 arm is
    known, give weekend-first users target arm 1, and check
    V_IPS = 2 * matched_cents / n / 100 exactly."""
    tmp = str(tmp_path_factory.mktemp("ips"))
    arm1 = [u for u in range(1, 60) if _arm(u) == 1][:3]
    arm0 = [u for u in range(1, 60) if _arm(u) == 0][:3]
    sat = datetime(2024, 1, 6, 12, 0)   # Saturday -> target arm 1
    mon = datetime(2024, 1, 8, 12, 0)   # Monday  -> target arm 0
    rows, eid = [], 0
    # two arm-1 users start on a weekend (match), one on Monday (no)
    for u, ts in [(arm1[0], sat), (arm1[1], sat), (arm1[2], mon)]:
        eid += 1; rows.append((eid, ts, u, "purchase", 10.00))
    # one arm-0 user starts on Monday (match), two on Saturday (no)
    for u, ts in [(arm0[0], mon), (arm0[1], sat), (arm0[2], sat)]:
        eid += 1; rows.append((eid, ts, u, "purchase", 30.00))
    _write_events(spark, tmp, rows)
    r = STAGED["ips_offpolicy_value"].fn(spark, tmp).collect()[0]
    assert r["n_users"] == 6
    assert r["n_matched"] == 3            # arm1[0], arm1[1], arm0[0]
    matched_cents = 1000 + 1000 + 3000
    assert r["v_ips"] == pytest.approx(2 * matched_cents / 6 / 100)
    assert r["v_snips"] == pytest.approx(matched_cents / 3 / 100)
    assert r["v_logged"] == pytest.approx((2 * 1000 + 3 * 3000 + 1000)
                                          / 6 / 100)


def test_ips_no_matches_guard(spark, tmp_path_factory):
    """A corpus where no logged arm equals the target arm must report
    v_snips = 0 rather than divide by zero."""
    tmp = str(tmp_path_factory.mktemp("ips0"))
    arm0 = [u for u in range(1, 80) if _arm(u) == 0][:3]
    sat = datetime(2024, 1, 6, 12, 0)  # weekend -> target 1 != arm 0
    rows = [(i + 1, sat, u, "purchase", 5.0)
            for i, u in enumerate(arm0)]
    _write_events(spark, tmp, rows)
    r = STAGED["ips_offpolicy_value"].fn(spark, tmp).collect()[0]
    assert r["n_matched"] == 0
    assert r["v_ips"] == 0.0 and r["v_snips"] == 0.0


def test_ips_non_purchase_events_carry_no_reward(spark,
                                                 tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("ips2"))
    u = [x for x in range(1, 40) if _arm(x) == 1][0]
    sat = datetime(2024, 1, 6, 9, 0)
    rows = [(1, sat, u, "view", 99.0),
            (2, sat + timedelta(hours=1), u, "purchase", 7.50)]
    _write_events(spark, tmp, rows)
    r = STAGED["ips_offpolicy_value"].fn(spark, tmp).collect()[0]
    assert r["v_logged"] == pytest.approx(7.50)
    assert r["v_ips"] == pytest.approx(2 * 7.50)  # matched, p = 1/2


# ------------------------------------------- Krippendorff's alpha


def _alpha_py(units):
    """Reference pairwise implementation (nominal, complete data):
    D_o from within-unit rater pairs, D_e from all cross-value pairs
    of the pooled N values."""
    vals = [v for u in units for v in u]
    n_pairs_o = sum(1 for u in units for a, b in combinations(u, 2)
                    if a != b)
    d_o = n_pairs_o / (len(units) * 3)  # x2 orientations / (m-1)=2
    n = len(vals)
    d_e = sum(1 for a, b in combinations(vals, 2) if a != b) \
        / (n * (n - 1) / 2)
    d_e = d_e  # unordered fraction == ordered fraction
    return 1 - d_o / d_e


def test_krippendorff_perfect_agreement(spark, tmp_path_factory):
    """All three raters agree on every doc -> alpha = 1 exactly.
    Rater rules: contains 'data' / n_chars >= 200 / contains '.'."""
    tmp = str(tmp_path_factory.mktemp("kripp1"))
    pos_text = "data . " + "x" * 200          # all three say 1
    neg_text = "short plain text"             # all three say 0
    docs = [(1, pos_text, "s0"), (2, pos_text, "s0"),
            (3, neg_text, "s0"), (4, neg_text, "s0")]
    _write_docs(spark, tmp, docs)
    r = STAGED["krippendorff_alpha_quality_rules"].fn(
        spark, tmp).collect()[0]
    assert r["krippendorff_alpha"] == 1.0


def test_krippendorff_matches_pairwise_reference(spark,
                                                 tmp_path_factory):
    """Mixed-agreement corpus: the closed-form rational must equal the
    brute-force pairwise D_o/D_e computation."""
    tmp = str(tmp_path_factory.mktemp("kripp2"))
    cases = [  # (contains data, long, contains .)
        ("data . " + "x" * 200, (1, 1, 1)),
        ("data only short", (1, 0, 0)),
        ("plain . short", (0, 0, 1)),
        ("x" * 250, (0, 1, 0)),
        ("data " + "x" * 220, (1, 1, 0)),
        ("nothing here", (0, 0, 0)),
    ]
    docs = [(i + 1, t, "s0") for i, (t, _) in enumerate(cases)]
    _write_docs(spark, tmp, docs)
    # sanity: the planted rater votes match the rule outputs
    for t, votes in cases:
        got = (1 if "data" in t else 0, 1 if len(t) >= 200 else 0,
               1 if "." in t else 0)
        assert got == votes, (t[:30], got, votes)
    expected = _alpha_py([list(v) for _, v in cases])
    r = STAGED["krippendorff_alpha_quality_rules"].fn(
        spark, tmp).collect()[0]
    assert r["krippendorff_alpha"] == pytest.approx(expected, rel=1e-12)
