"""Planted-ground-truth tests for the round-30 staged bank (RBO
ranking overlap, RBP retrieval eval) on synthetic embeddings whose
rankings are known analytically. Blanket oracle / non-empty
gates ride tests/test_staged_pen.py.
"""

from __future__ import annotations

import pytest

from de_project_airflow_etl_spark.staged import STAGED
from de_project_airflow_etl_spark.staged.round30 import RBP_K


def _write_embeddings(spark, path, rows):
    """rows: (vec_id, [floats], label)"""
    (spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
     .write.mode("overwrite").parquet(f"{path}/embeddings.parquet"))


# -------------------------------------------------------------- RBO


def test_rbo_identical_rankings(spark, tmp_path_factory):
    """Vectors on a line through the probe: cosine and L2 order
    agree, so every prefix overlaps fully — A_d = d for d <= n and
    RBO = 0.5 * sum(2^-d) + tail where A_d caps at n.

    Probe is vec 1 (the RRF_QUERY_ID); candidates are scaled copies
    of the probe with distinct L2 distances and identical cosine 1.0
    -> cosine ties break by vec_id, L2 by distance; choose scales so
    both orders equal vec_id order."""
    tmp = str(tmp_path_factory.mktemp("rbo1"))
    dim = 4
    base = [1.0, 2.0, 0.5, 1.5]
    rows = [(1, [float(x) for x in base], 0)]
    # scales above 1, increasing -> L2 distance increases with vec_id;
    # cosine is exactly 1.0 for all (ties -> vec_id order)
    for i, s in enumerate((1.5, 2.0, 2.5, 3.0), start=2):
        rows.append((i, [float(x * s) for x in base], 0))
    _write_embeddings(spark, tmp, rows)
    r = STAGED["rbo_ranking_overlap"].fn(spark, tmp).collect()[0]
    n = 4  # candidates
    k = r["k"]
    assert r["agreement_at_k"] == pytest.approx(n / k)
    ref = 0.5 * sum(min(d, n) / (d * 2 ** d) for d in range(1, k + 1))
    assert r["rbo_p05"] == pytest.approx(ref, rel=1e-12)


def test_rbo_disjoint_prefixes(spark, tmp_path_factory):
    """Two candidates where cosine prefers one and L2 the other at
    depth 1: A_1 = 0, A_2 = 2 -> RBO = 0.5*(0/2 + 2/(2*4) + tail).

    cand 2: same direction as probe (cos 1.0) but far away (L2 big).
    cand 3: orthogonal-ish (low cos) but extremely close in L2."""
    tmp = str(tmp_path_factory.mktemp("rbo2"))
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),          # probe
        (2, [10.0, 0.0, 0.0, 0.0], 0),         # cos 1.0, L2 81
        (3, [0.9, 0.5, 0.0, 0.0], 0),          # cos < 1, L2 0.26
    ]
    _write_embeddings(spark, tmp, rows)
    r = STAGED["rbo_ranking_overlap"].fn(spark, tmp).collect()[0]
    k = r["k"]
    # A_1 = 0 (cos top is 2, l2 top is 3); A_d = 2 for d >= 2
    ref = 0.5 * sum((0 if d == 1 else 2) / (d * 2 ** d)
                    for d in range(1, k + 1))
    assert r["rbo_p05"] == pytest.approx(ref, rel=1e-12)


# -------------------------------------------------------------- RBP


def test_rbp_matches_closed_form(spark, tmp_path_factory):
    """One anchor (vec 0), candidates with known cosine order and
    planted relevance at ranks 1 and 3 -> RBP sums are the exact
    dyadic weights at those ranks."""
    tmp = str(tmp_path_factory.mktemp("rbp"))
    # anchor must satisfy vec_id % 25 == 0 and < 500 -> vec 0 only
    rows = [(0, [1.0, 0.0, 0.0, 0.0], 7)]
    # candidates along decreasing cosine: angle grows with vec_id
    coss = [0.99, 0.95, 0.90, 0.80, 0.70, 0.60, 0.50, 0.40, 0.30,
            0.20, 0.10]
    import math
    labels = [7, 1, 7, 1, 1, 1, 1, 1, 1, 1, 1]  # rel at ranks 1, 3
    for i, (c, lab) in enumerate(zip(coss, labels), start=1):
        s = math.sqrt(1 - c * c)
        rows.append((i, [float(c), float(s), 0.0, 0.0], lab))
    _write_embeddings(spark, tmp, rows)
    r = STAGED["rbp_retrieval_eval"].fn(spark, tmp).collect()[0]
    assert r["n_queries"] == 1 and r["k_eval"] == RBP_K
    assert r["precision_at_k"] == pytest.approx(2 / RBP_K)
    # p = 1/2: (1-p) * (p^0 + p^2) = 0.5 * (1 + 0.25)
    assert r["rbp_p50"] == pytest.approx(0.5 * (1 + 0.25), rel=1e-12)
    # p = 3/4: 0.25 * (1 + (3/4)^2)
    assert r["rbp_p75"] == pytest.approx(
        0.25 * (1 + (3 / 4) ** 2), rel=1e-12)


def test_rbp_no_relevant_is_zero(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("rbp0"))
    rows = [(0, [1.0, 0.0], 7)]
    rows += [(i, [1.0, float(i) / 10], 1) for i in range(1, 6)]
    _write_embeddings(spark, tmp, rows)
    r = STAGED["rbp_retrieval_eval"].fn(spark, tmp).collect()[0]
    assert r["rbp_p50"] == 0.0 and r["rbp_p75"] == 0.0
    assert r["precision_at_k"] == 0.0
