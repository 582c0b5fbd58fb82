"""Targeted gates for the round-9 promoted bank (readability, link
prediction, forecast/calibration summaries, runs test, Page's trend,
retrieval diversity, FILTER clause) — WindowGroupLimit pushdown and
range invariants. Scan budgets and window rules live in
tests/test_plan_rules.py.

Oracle equality rides the registry-wide tests/test_correctness.py
sweep (promoted in round 8; gates carried over from the staged era).
"""

from __future__ import annotations

from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


def test_r9_ild_topk_rides_window_group_limit(spark, sf_dir):
    """The top-10 list construction must keep the WindowGroupLimit
    pushdown (rank<=k bounded per map task), same as the NDCG gate."""
    df = REG["ild_retrieval_diversity"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "WindowGroupLimit" in plan, plan[:2000]


# ------------------------------------------------ range invariants


def test_r9_readability_counts_consistent(spark, sf_dir):
    rows = REG["readability_indices_by_source"].fn(
        spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_letters <= r.n_alnum
        assert r.n_docs == r.n_sentences_unit
        assert r.n_words > 0 and r.n_syllables > 0
        # every word has at most ~all-letters syllable groups
        assert r.n_syllables <= r.n_letters
        for v in (r.ari, r.coleman_liau, r.flesch):
            assert v == v and abs(v) < 1e6  # finite, sane


def test_r9_ra_scores_bounded(spark, sf_dir):
    rows = REG["resource_allocation_link_pred"].fn(
        spark, sf_dir).collect()
    assert rows, "expected at least one two-hop pair in the dup graph"
    for r in rows:
        assert r.doc_lo < r.doc_hi
        assert r.n_common >= 1
        assert r.already_linked in (0, 1)
        # a common neighbor has degree >= 2, so each term <= 1/2
        assert 0.0 < r.ra_score <= r.n_common / 2 + 1e-12


def test_r9_theil_u_positive(spark, sf_dir):
    row = REG["theil_u_daily_forecasts"].fn(
        spark, sf_dir).collect()[0]
    assert row.sse_seasonal7 >= 0.0 and row.sse_naive1 >= 0.0
    if row.theil_u2 is not None:
        assert row.theil_u2 >= 0.0


def test_r9_pages_trend_consistent(spark, sf_dir):
    row = REG["pages_trend_test_dow"].fn(spark, sf_dir).collect()[0]
    assert row.n_blocks >= 1
    assert row.e_l2 == row.n_blocks * 7 * 64
    # L2 ranges over [b*2*(1*7+2*6+..), b*2*(1*2+2*4..)]: loose bounds
    assert row.n_blocks * 7 * 2 * 1 <= row.l2_stat
    assert row.l2_stat <= row.n_blocks * 7 * 2 * 7 * 7
    assert row.var_l > 0


def test_r9_ece_bounded(spark, sf_dir):
    row = REG["ece_calibration_purchase"].fn(
        spark, sf_dir).collect()[0]
    assert 0.0 <= row.ece <= row.mce + 1e-12
    assert row.mce <= 1.0
    assert 1 <= row.n_bins <= 10


def test_r9_runs_test_consistent(spark, sf_dir):
    row = REG["runs_test_daily_updown"].fn(spark, sf_dir).collect()[0]
    n = row.n_up + row.n_down
    assert 1 <= row.n_runs <= n
    assert row.e_runs <= n + 1
    assert row.var_runs > 0
    assert row.z_stat == row.z_stat  # finite


def test_r9_filter_clause_consistent(spark, sf_dir):
    rows = REG["filter_clause_weekday_mix"].fn(
        spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_weekend <= r.n_events
        assert (r.weekend_cents or 0) >= 0
        assert r.weekend_users <= r.n_weekend


def test_r9_ild_bounded(spark, sf_dir):
    rows = REG["ild_retrieval_diversity"].fn(spark, sf_dir).collect()
    assert len(rows) == 20  # the fixed NDCG panel
    for r in rows:
        assert r.n_items == 10
        assert r.n_pairs == 45
        assert -1.0 - 1e-9 <= r.mean_pair_cos <= 1.0 + 1e-9


def test_r9_rescaled_range_consistent(spark, sf_dir):
    rows = REG["rescaled_range_daily"].fn(spark, sf_dir).collect()
    assert rows
    scales = {r.scale for r in rows}
    assert scales == {8, 16}
    for r in rows:
        assert r.range_scaled >= 0
        assert r.var_scaled >= 0
        if r.rs_stat is not None:
            # 1 <= R/S <= sqrt(s) for any series of length s
            assert 0.0 < r.rs_stat <= r.scale ** 0.5 + 1e-9


def test_r9_named_window_consistent(spark, sf_dir):
    rows = sorted(REG["named_window_daily_stats"].fn(
        spark, sf_dir).collect(), key=lambda r: r.day)
    assert rows
    for i, r in enumerate(rows):
        assert r.day_idx == i + 1
        assert r.n_7d == min(7, i + 1)
        assert r.sum_7d == sum(x.cents for x in rows[max(0, i - 6):i + 1])


def test_r9_full_join_sides_consistent(spark, sf_dir):
    rows = REG["streaming_stream_stream_full_join"].fn(
        spark, sf_dir).collect()
    assert rows
    sides = {r.side for r in rows}
    assert "matched" in sides
    for r in rows:
        if r.side == "matched":
            assert r.event_id is not None and r.click_event_id is not None
            assert 0 <= r.gap_us <= 3_600_000_000
        elif r.side == "purchase_only":
            assert r.event_id is not None and r.click_event_id is None
            assert r.gap_us is None
        else:
            assert r.side == "click_only"
            assert r.event_id is None and r.click_event_id is not None
            assert r.gap_us is None
