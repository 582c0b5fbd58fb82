"""Planted-ground-truth tests for the round-32 staged bank
(cross-fitted doubly-robust value, epsilon-greedy replay). Blanket
oracle / non-empty gates ride tests/test_staged_pen.py.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta

import pytest

from de_project_airflow_etl_spark.staged import STAGED

SAT = datetime(2024, 1, 6, 12, 0)   # Saturday -> weekend context
MON = datetime(2024, 1, 8, 12, 0)   # Monday  -> weekday context


def _write_events(spark, path, rows):
    data = [(eid, ts, uid, et, v, "{}") for eid, ts, uid, et, v in rows]
    (spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
     .write.mode("overwrite").parquet(f"{path}/events.parquet"))


def _nib(uid, pos):
    return hashlib.md5(str(uid).encode()).hexdigest()[pos]


def _arm(uid):
    return 1 if _nib(uid, 0) < "8" else 0


def _fold(uid):
    return 1 if _nib(uid, 1) < "8" else 0


def _pick_users(n_each):
    """One list of user ids per (arm, fold) combo."""
    buckets = {(a, f): [] for a in (0, 1) for f in (0, 1)}
    uid = 0
    while any(len(v) < n_each for v in buckets.values()):
        uid += 1
        key = (_arm(uid), _fold(uid))
        if len(buckets[key]) < n_each:
            buckets[key].append(uid)
    return buckets


# ------------------------------------------------- doubly robust


def _dr_ref(users):
    """users: list of (arm, fold, w, reward_cents). Pure per-user DR
    with opposite-fold group means, p = 1/2."""
    cells = {}
    for a, f, w, r in users:
        c = cells.setdefault((f, w, a), [0, 0])
        c[0] += 1
        c[1] += r
    total = 0.0
    for a, f, w, r in users:
        opp = cells.get((1 - f, w, w))
        if not opp or opp[0] == 0:
            return None
        q = opp[1] / opp[0]
        total += q + (2 * (r - q) if a == w else 0.0)
    return total / len(users) / 100


def test_dr_matches_per_user_reference(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("dr"))
    buckets = _pick_users(3)
    rows, eid, planted = [], 0, []
    rewards = iter([10.0, 20.0, 30.0, 5.0, 15.0, 25.0, 8.0, 16.0,
                    24.0, 12.0, 6.0, 18.0])
    for (a, f), uids in sorted(buckets.items()):
        for i, uid in enumerate(uids):
            w = 1 if i % 2 == 0 else 0     # mix contexts per bucket
            ts = SAT if w else MON
            v = next(rewards)
            eid += 1
            rows.append((eid, ts, uid, "purchase", v))
            planted.append((a, f, w, round(v * 100)))
    _write_events(spark, tmp, rows)
    ref = _dr_ref(planted)
    assert ref is not None  # every (fold, w) model cell populated?
    r = STAGED["doubly_robust_offpolicy_value"].fn(
        spark, tmp).collect()[0]
    assert r["n_users"] == len(planted)
    assert r["v_dr"] == pytest.approx(ref, rel=1e-12)
    # direct method: mean of opposite-fold matched-cell means
    cells = {}
    for a, f, w, rr in planted:
        c = cells.setdefault((f, w, a), [0, 0])
        c[0] += 1
        c[1] += rr
    dm = sum(cells[(1 - f, w, w)][1] / cells[(1 - f, w, w)][0]
             for a, f, w, rr in planted) / len(planted) / 100
    assert r["v_dm"] == pytest.approx(dm, rel=1e-12)


def test_dr_empty_model_cell_guard(spark, tmp_path_factory):
    """All users in one fold -> every opposite-fold model cell is
    empty -> NULL, not an abort."""
    tmp = str(tmp_path_factory.mktemp("dr0"))
    uids = [u for u in range(1, 200) if _fold(u) == 1][:4]
    rows = [(i + 1, MON, u, "purchase", 10.0)
            for i, u in enumerate(uids)]
    _write_events(spark, tmp, rows)
    r = STAGED["doubly_robust_offpolicy_value"].fn(
        spark, tmp).collect()[0]
    assert r["v_dr"] is None and r["v_dm"] is None


# -------------------------------------------- epsilon-greedy replay


def _eg_ref(days):
    """days: list of (day_str, r0, r1) sorted. Pure-Python replay."""
    s0 = p0 = s1 = p1 = coll = expl = 0
    for day, r0, r1 in days:
        h = hashlib.md5(day.encode()).hexdigest()
        if h[0] < "4":
            expl += 1
            arm = 0 if h[1] < "8" else 1
        elif p0 == 0:
            arm = 0
        elif p1 == 0:
            arm = 1
        else:
            arm = 0 if s0 * p1 >= s1 * p0 else 1
        if arm == 0:
            s0 += r0
            p0 += 1
            coll += r0
        else:
            s1 += r1
            p1 += 1
            coll += r1
    b0 = sum(r0 for _, r0, _ in days)
    b1 = sum(r1 for _, _, r1 in days)
    return {"n_days": len(days), "n_explore_days": expl,
            "collected_reward": coll,
            "best_fixed_reward": max(b0, b1),
            "regret": max(b0, b1) - coll,
            "best_arm": "purchase" if b0 >= b1 else "click"}


def test_eg_replay_matches_reference(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("eg"))
    counts = [(3, 1), (0, 4), (5, 2), (1, 1), (2, 6), (4, 0),
              (2, 2), (0, 3), (6, 1), (1, 5), (3, 3), (2, 0)]
    rows, eid, days = [], 0, []
    for i, (np_, nc) in enumerate(counts):
        day = (SAT + timedelta(days=i))
        days.append((day.date().isoformat(), np_, nc))
        for _ in range(np_):
            eid += 1
            rows.append((eid, day, eid, "purchase", 1.0))
        for _ in range(nc):
            eid += 1
            rows.append((eid, day, eid, "click", 1.0))
    # drop all-empty days from the planted list (no events -> no row)
    days = [(d, a, b) for d, a, b in days if a + b > 0]
    _write_events(spark, tmp, rows)
    ref = _eg_ref(days)
    r = STAGED["epsilon_greedy_replay_regret"].fn(
        spark, tmp).collect()[0]
    for k, v in ref.items():
        assert r[k] == v, (k, r[k], v)


def test_eg_replay_one_dominant_arm(spark, tmp_path_factory):
    """Purchase dominates every day: regret comes only from explore
    days that picked click and any early click exploitation."""
    tmp = str(tmp_path_factory.mktemp("eg1"))
    rows, eid, days = [], 0, []
    for i in range(10):
        day = (MON + timedelta(days=i))
        days.append((day.date().isoformat(), 5, 1))
        for _ in range(5):
            eid += 1
            rows.append((eid, day, eid, "purchase", 1.0))
        eid += 1
        rows.append((eid, day, eid, "click", 1.0))
    _write_events(spark, tmp, rows)
    ref = _eg_ref(days)
    r = STAGED["epsilon_greedy_replay_regret"].fn(
        spark, tmp).collect()[0]
    assert r["best_arm"] == "purchase"
    assert r["best_fixed_reward"] == 50
    assert r["collected_reward"] == ref["collected_reward"]
    assert r["regret"] == ref["regret"]
