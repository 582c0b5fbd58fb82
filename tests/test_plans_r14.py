"""Targeted gates for the round-14 staged bank (operating-point /
lift evaluation, actuarial survival, contingency residuals,
reliability, corpus/embedding panels) — range invariants. Scan
budgets and the no-window rules live in tests/test_plan_rules.py.

The blanket oracle-match / non-empty gates in
tests/test_staged_pen.py already parametrize over ALL staged queries.
"""

from __future__ import annotations

import pytest

from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


# ------------------------------------------------ range invariants


def test_youden_point_consistency(spark, sf_dir):
    row = REG["youden_j_optimal_threshold"].fn(
        spark, sf_dir).collect()[0]
    assert 0.0 <= row["sensitivity"] <= 1.0
    assert 0.0 <= row["specificity"] <= 1.0
    assert abs(row["j_stat"] - (row["sensitivity"]
               + row["specificity"] - 1.0)) < 1e-12
    assert row["j_stat"] >= 0.0  # J at the optimum beats chance


def test_decile_lift_partitions_and_gains(spark, sf_dir):
    rows = sorted(REG["decile_lift_table"].fn(
        spark, sf_dir).collect(), key=lambda r: r["decile"])
    assert [r["decile"] for r in rows] == list(range(1, 11))
    n = sum(r["n_events"] for r in rows)
    # deciles partition the population with near-equal sizes
    assert max(r["n_events"] for r in rows) - min(
        r["n_events"] for r in rows) <= 1
    assert rows[-1]["cum_gain"] == pytest.approx(1.0, abs=1e-12)
    gains = [r["cum_gain"] for r in rows]
    assert gains == sorted(gains)
    assert all(r["lift"] >= 0.0 for r in rows)
    assert n == sum(r["n_events"] for r in rows)


def test_actuarial_life_table_monotone_survival(spark, sf_dir):
    rows = sorted(REG["actuarial_life_table"].fn(
        spark, sf_dir).collect(), key=lambda r: r["interval_idx"])
    assert rows, "at least one interval"
    s_prev, n_prev = 1.0, None
    for r in rows:
        assert 0.0 <= r["cond_q"] <= 1.0
        assert r["surv_s"] <= s_prev + 1e-12
        s_prev = r["surv_s"]
        if n_prev is not None:
            assert r["n_enter"] <= n_prev
        n_prev = r["n_enter"]


def test_haberman_residuals_cover_the_table(spark, sf_dir):
    rows = REG["haberman_adjusted_residuals"].fn(
        spark, sf_dir).collect()
    assert len(rows) == 35  # 7 dows x 5 event types
    assert sum(r["o"] for r in rows) == pytest.approx(
        sum(r["expected"] for r in rows), rel=1e-9)


def test_cronbach_alpha_bounds(spark, sf_dir):
    row = REG["cronbachs_alpha_quality_rules"].fn(
        spark, sf_dir).collect()[0]
    # alpha <= 1 always; can be negative, but the ratio is positive
    assert row["cronbach_alpha"] <= 1.0
    assert row["item_to_total_var_ratio"] > 0.0


def test_vocab_coverage_monotone(spark, sf_dir):
    row = REG["vocab_coverage_curve"].fn(spark, sf_dir).collect()[0]
    assert 1 <= row["k50"] <= row["k90"] <= row["k95"] <= row["k99"] \
        <= row["vocab_size"]


def test_cross_source_overlap_symmetric_pairs(spark, sf_dir):
    rows = REG["cross_source_ngram_overlap"].fn(
        spark, sf_dir).collect()
    for r in rows:
        assert r["source_a"] < r["source_b"]  # unordered, canonical
        assert 0.0 <= r["containment"] <= 1.0
        assert r["n_shared"] <= min(r["n_grams_a"], r["n_grams_b"])


def test_isotropy_bounds(spark, sf_dir):
    row = REG["embedding_isotropy_panel"].fn(
        spark, sf_dir).collect()[0]
    assert -1.0 <= row["mean_pairwise_cosine"] <= 1.0
    # quantized normalized vectors have squared norm ~ 1
    assert row["mean_sq_norm_q"] == pytest.approx(1.0, abs=1e-3)
