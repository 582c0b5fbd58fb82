"""Physical-plan gates for the round-7 promoted bank
(queries/surfaces_r7.py + queries/evaluation.py): statistics windows
confined to post-aggregate inputs, scans pruned to the columns the
query consumes, and the bank's targeted shapes. Correct results with
a wrong plan fail here. The nested-loop rule and its two
documented-bounded exceptions live in tests/test_plan_rules.py.
Oracle equality rides the registry-wide tests/test_correctness.py
sweep.

The query-specific gates carried over verbatim from the staged-era
tests (tests/test_staged_r7.py, promoted in round 7)."""

from __future__ import annotations

import re

from de_project_airflow_etl_spark.plans.inspect import (
    formatted_plan, has_broadcast_join, partition_columns,
    scan_read_schema, window_nodes,
)
from de_project_airflow_etl_spark.registry import all_queries

# the round-7 bank: everything registered by the two promoted modules
R7_BANK = {n: q for n, q in all_queries().items()
           if q.fn.__module__ in
           ("de_project_airflow_etl_spark.queries.surfaces_r7",
            "de_project_airflow_etl_spark.queries.evaluation")}


def test_bank_is_complete():
    assert len(R7_BANK) == 36, sorted(R7_BANK)


# ------------------------------- targeted plan shapes (first half)


def test_macd_is_single_projection_fold(spark, sf_dir):
    """The MACD fold must stay ONE generator projection above the
    daily rollup (the CollapseProject re-evaluation lesson): exactly
    one aggregate() call in the executed plan."""
    df = R7_BANK["macd_daily_revenue"].fn(spark, sf_dir)
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("aggregate(") == 1, executed[:2000]


def test_triplet_mining_has_no_window_and_no_candidate_arrays(spark,
                                                              sf_dir):
    """Hardest-pos/neg selection must be max_by/min_by single-value
    aggregation: no collect_list of per-anchor candidate arrays in the
    plan (no rank window: its ``max_windows: 0`` row in
    ``PLAN_RULES``)."""
    plan = formatted_plan(
        R7_BANK["contrastive_triplet_mining"].fn(spark, sf_dir))
    assert "collect_list" not in plan, "per-anchor candidate arrays"


def test_method_agreement_shuffles_hashes_not_text(spark, sf_dir):
    """The three per-key count exchanges must key on md5 hashes: after
    the keyed projection no exchange may carry the text column. r11:
    the counts are COUNT(*) OVER (PARTITION BY k_i) windows (the
    partition keys grow with data, so this is not the fixed-key
    hazard) instead of groupBy + join-back — the plan must hold
    exactly ONE documents scan (the old shape re-parsed text 4x)."""
    df = R7_BANK["dedup_method_agreement"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans == 1, f"expected 1 documents scan, saw {n_scans}"


def test_cohort_triangle_broadcasts_sizes(spark, sf_dir):
    assert has_broadcast_join(
        R7_BANK["weekly_cohort_triangle"].fn(spark, sf_dir))


def test_session_histogram_windows_are_user_partitioned(spark, sf_dir):
    """The sessionize window must partition by user_id — never a
    global ordering of the event stream."""
    windows = window_nodes(
        R7_BANK["session_duration_log2_histogram"].fn(spark, sf_dir))
    assert windows
    for wnode in windows:
        assert "user_id" in partition_columns(wnode), wnode.simpleString(25)


def test_quality_vote_is_zero_shuffle_scan(spark, sf_dir):
    """Per-doc flags are array lambdas in codegen; the only exchange
    is the |sources|-cell aggregate."""
    plan = formatted_plan(R7_BANK["quality_ensemble_vote"].fn(spark, sf_dir))
    assert plan.count("Exchange") <= 2, plan[:1500]
    schemas = scan_read_schema(
        R7_BANK["quality_ensemble_vote"].fn(spark, sf_dir))
    assert schemas and all("doc_id" not in s for s in schemas), schemas
