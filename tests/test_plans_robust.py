"""Physical-plan gates for the round-7 new-surface bank
(queries/robust.py + the streaming dedup in streaming/ingest.py):
median windows over checkpointed rollups, and sequential folds
collapsed to one projection. The Markov iteration's zero-scan budget,
the window rules and the nested-loop rule with its three documented
calendar-/vocabulary-bounded exceptions ride tests/test_plan_rules.py;
oracle equality rides the registry-wide tests/test_correctness.py
sweep."""

from __future__ import annotations

import pytest

from de_project_airflow_etl_spark.plans.inspect import (
    node_names, window_nodes,
)
from de_project_airflow_etl_spark.registry import all_queries

R7N_BANK = {n: q for n, q in all_queries().items()
            if q.fn.__module__
            == "de_project_airflow_etl_spark.queries.robust"}


def test_bank_is_complete():
    assert len(R7N_BANK) == 7, sorted(R7N_BANK)


# ----------------------------------------- window-hazard structure


@pytest.mark.parametrize("name", ["hodges_lehmann_weekend_shift",
                                  "siegel_repeated_medians_trend"])
def test_median_windows_consume_checkpointed_rollup(spark, sf_dir, name):
    """The unpartitioned median-rank windows consume the
    localCheckpoint-ed calendar-bounded daily rollup — the checkpoint
    hides the Aggregate root from the subtree walk (the round-6-late
    gate-visibility lesson), so the provable property is that no
    window subtree touches a raw parquet scan."""
    windows = window_nodes(R7N_BANK[name].fn(spark, sf_dir))
    assert windows, "expected a WindowExec"
    for wnode in windows:
        sub = wnode.children().apply(0).toString()
        assert "Scan parquet" not in sub, (name, sub[:800])


def test_single_pass_statistics_have_no_joins_or_windows(spark, sf_dir):
    """MCC and Cohen's d are one map-side-combinable aggregate over
    the scan: no joins (no windows: their ``max_windows: 0`` rows in
    ``PLAN_RULES``)."""
    for name in ("matthews_corr_quality_rules", "cohens_d_weekend_value"):
        names = node_names(R7N_BANK[name].fn(spark, sf_dir))
        assert not any("Join" in n for n in names), (name, names)


def test_ewma_is_single_projection_fold(spark, sf_dir):
    """The EWMA fold must stay ONE generator projection above the
    daily rollup (the CollapseProject re-evaluation lesson): exactly
    one aggregate() call in the executed plan."""
    df = R7N_BANK["ewma_control_chart_daily"].fn(spark, sf_dir)
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("aggregate(") == 1, executed[:2000]


def test_markov_attribution_shares_sum_to_one(spark, sf_dir):
    rows = (R7N_BANK["markov_removal_effect_attribution"]
            .fn(spark, sf_dir).collect())
    assert rows
    total = sum(r["attribution_share"] for r in rows)
    assert abs(total - 1.0) < 1e-9
    for r in rows:
        # removal can only ever LOWER conversion (monotone under edge
        # removal, preserved by truncating fixed point)
        assert 0 <= r["conv_e12_removed"] <= r["conv_e12_full"]


def test_streaming_dedup_matches_batch_distinct(spark, sf_dir, duck):
    """Stream/batch agreement for dropDuplicatesWithinWatermark (also
    covered by the registry sweep; pinned here so the streaming file
    keeps a dedicated gate)."""
    from tests.harness import compare
    q = all_queries()["streaming_dedup_within_watermark"]
    problems = compare(q.fn(spark, sf_dir),
                       duck.execute(q.oracle).fetchdf(), q.name)
    assert not problems, "\n".join(problems)
