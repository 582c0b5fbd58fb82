"""Targeted gates for the round-20 staged bank (negative-binomial
moments fit, Needleman-Wunsch alignment) — invariants and a
pure-Python NW DP recomputation. Scan budgets live in
tests/test_plan_rules.py.

The blanket oracle-match / non-empty gates in
tests/test_staged_pen.py already parametrize over ALL staged queries.
"""

from __future__ import annotations

import math

from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


def test_negative_binomial_python(spark, sf_dir, duck):
    row = (REG["negative_binomial_user_counts"].fn(spark, sf_dir)
           .toPandas().iloc[0])
    counts = [c for (c,) in duck.execute(
        "SELECT COUNT(*) FROM events GROUP BY user_id").fetchall()]
    n = len(counts)
    m = sum(counts) / n
    v = sum((c - m) ** 2 for c in counts) / (n - 1)
    assert row.n_users == n
    assert math.isclose(row.mean_count, m, rel_tol=1e-9)
    assert math.isclose(row.var_count, v, rel_tol=1e-9)
    assert math.isclose(row.dispersion_index, v / m, rel_tol=1e-9)
    if v > m:
        assert math.isclose(row.nb_size_r, m * m / (v - m),
                            rel_tol=1e-9)
        assert row.nb_size_r > 0
    else:
        assert row.nb_size_r is None or math.isnan(row.nb_size_r)


def test_nw_alignment_python_dp(spark, sf_dir):
    from de_project_airflow_etl_spark.queries.seqalign import (
        _NW_GAP, _NW_MATCH, _NW_MISS)
    row = (REG["nw_alignment_week_type_seqs"].fn(spark, sf_dir)
           .toPandas().iloc[0])
    a, b = row.seq_week1, row.seq_week2
    assert len(a) == 7 and len(b) == 7
    assert set(a) | set(b) <= set("cepsv")  # first letters of types
    prev = [_NW_GAP * j for j in range(len(b) + 1)]
    for i in range(1, len(a) + 1):
        cur = [_NW_GAP * i]
        for j in range(1, len(b) + 1):
            s = _NW_MATCH if a[i - 1] == b[j - 1] else _NW_MISS
            cur.append(max(prev[j - 1] + s, prev[j] + _NW_GAP,
                           cur[j - 1] + _NW_GAP))
        prev = cur
    assert row.nw_score == prev[len(b)]
    # the gapless alignment is one candidate, so NW dominates it
    assert row.nw_score >= row.lockstep_score
    # perfect-match ceiling
    assert row.nw_score <= _NW_MATCH * 7
