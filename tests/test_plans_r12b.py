"""Targeted gates for the round-12b staged bank (blanket oracle
gates ride tests/test_staged_pen.py)."""

from __future__ import annotations

import pytest

from de_project_airflow_etl_spark.plans.inspect import node_names
from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


def test_single_pass_readouts_have_no_joins_or_windows(spark, sf_dir):
    """DiD, MDE and Fleiss' kappa are one map-side-combinable
    aggregate over the scan: no joins (no windows: their
    ``max_windows: 0`` rows in ``PLAN_RULES``)."""
    for name in ("difference_in_differences_arms",
                 "power_mde_event_value", "fleiss_kappa_quality_rules"):
        names = node_names(REG[name].fn(spark, sf_dir))
        assert not any("Join" in n for n in names), (name, names)


def test_did_z_is_estimate_over_se(spark, sf_dir):
    r = (REG["difference_in_differences_arms"]
         .fn(spark, sf_dir).collect()[0])
    assert r["z_stat"] == pytest.approx(r["did_cents"] / r["se_cents"],
                                        rel=1e-12)
    assert r["se_cents"] > 0


def test_mde_scales_inversely_with_sqrt_n(spark, sf_dir):
    """Sanity: MDE must be positive and the relative form consistent
    with the absolute one (mde_rel = mde_abs*100 / mean_cents)."""
    r = REG["power_mde_event_value"].fn(spark, sf_dir).collect()[0]
    assert r["mde_dollars"] > 0
    assert r["mde_relative"] == pytest.approx(
        r["mde_dollars"] / r["mean_value"], rel=1e-12)


def test_fleiss_kappa_bounded(spark, sf_dir):
    r = (REG["fleiss_kappa_quality_rules"]
         .fn(spark, sf_dir).collect()[0])
    assert -1.0 <= r["fleiss_kappa"] <= 1.0


def test_fleiss_kappa_matches_python_reference(spark, tmp_path_factory):
    """Closed-form vs the textbook P_bar/P_e computation on a planted
    corpus with known rater votes."""
    from datetime import datetime

    tmp = tmp_path_factory.mktemp("fleiss")
    # doc text controls raters: contains 'data'? len >= 200? has '.'?
    docs = [
        (1, "data here. " + "x" * 200, "en", "a", 211),   # 1,1,1
        (2, "plain words here", "en", "a", 16),           # 0,0,0
        (3, "data short.", "en", "a", 11),                # 1,0,1
        (4, "y" * 250, "en", "a", 250),                   # 0,1,0
        (5, "data " + "z" * 240, "en", "a", 245),         # 1,1,0
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string,"
              " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp}/events_unused.parquet")
    # n_chars must match len(text) semantics used by the rule
    rows = [(d, t, lg, s, len(t)) for d, t, lg, s, _ in docs]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    r = (REG["fleiss_kappa_quality_rules"]
         .fn(spark, str(tmp)).collect()[0])
    # textbook reference
    pos = [sum((1 if "data" in t else 0, 1 if n >= 200 else 0,
                1 if "." in t else 0)) for _, t, _, _, n in rows]
    N, m = len(pos), 3
    p_i = [(p * p + (m - p) * (m - p) - m) / (m * (m - 1)) for p in pos]
    p_bar = sum(p_i) / N
    p1 = sum(pos) / (m * N)
    p_e = p1 * p1 + (1 - p1) * (1 - p1)
    expect = (p_bar - p_e) / (1 - p_e)
    assert r["fleiss_kappa"] == pytest.approx(expect, rel=1e-12)


def test_jackknife_variance_nonnegative_and_fold_based(spark, sf_dir):
    r = (REG["jackknife_ratio_variance_daily"]
         .fn(spark, sf_dir).collect()[0])
    assert r["jk_variance"] >= 0
    assert r["jk_se_dollars"] >= 0
    assert r["revenue_per_event"] > 0
