"""Targeted gates for the round-12 staged bank (experimentation /
operations analytics) — window partition evidence and consistency
invariants including the Little's-law identity. Scan budgets live in
tests/test_plan_rules.py.

The blanket oracle-match / non-empty gates in
tests/test_staged_pen.py already parametrize over ALL staged queries.
"""

from __future__ import annotations

from de_project_airflow_etl_spark.plans.inspect import (
    PlanWalk, partition_columns, recorded_checkpoints, window_nodes,
)
from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


def test_r12_littles_law_windows_partition_by_user(spark, sf_dir):
    """The sessionization windows must partition by user_id — a
    grows-with-data key, never an unpartitioned sweep over raw
    rows. They run inside the session checkpoint, which the walk
    enters when the query builds with its checkpoints recorded."""
    with recorded_checkpoints() as plans:
        df = REG["littles_law_sessions"].fn(spark, sf_dir)
    windows = window_nodes(PlanWalk(df._jdf.queryExecution().sparkPlan(),
                                    plans))
    assert len(windows) >= 2, [w.simpleString(25) for w in windows]
    for wnode in windows:
        assert "user_id" in partition_columns(wnode), wnode.simpleString(25)


# ------------------------------------------------ invariants


def test_r12_srm_consistent(spark, sf_dir):
    row = REG["sample_ratio_mismatch_check"].fn(
        spark, sf_dir).collect()[0]
    assert row.n_a > 0 and row.n_b > 0
    assert row.chi2_stat >= 0.0


def test_r12_cuped_consistent(spark, sf_dir):
    rows = REG["cuped_adjusted_lift"].fn(spark, sf_dir).collect()
    assert {r.arm for r in rows} == {"A", "B"}
    thetas = {r.theta for r in rows}
    assert len(thetas) == 1  # pooled theta identical across arms
    for r in rows:
        assert r.n_users > 0
        assert r.mean_y >= 0.0 and r.mean_x >= 0.0


def test_r12_littles_law_identity(spark, sf_dir):
    """L = lambda * W must hold EXACTLY up to float rounding — it is
    the integral identity the query's docstring claims."""
    row = REG["littles_law_sessions"].fn(spark, sf_dir).collect()[0]
    lam_per_us = row.lambda_per_hour / 3_600_000_000
    w_us = row.w_mean_s * 1_000_000
    assert abs(lam_per_us * w_us - row.l_avg_concurrent) <= 1e-9 * max(
        1.0, row.l_avg_concurrent)
    assert row.n_sessions > 0
    assert row.total_dur_us >= 0


def test_r12_croston_consistent(spark, sf_dir):
    row = REG["crostons_intermittent_demand"].fn(
        spark, sf_dir).collect()[0]
    assert row.n_demand_days >= 1
    assert 0 <= row.z_size <= row.total_qty
    assert row.p_interval >= 0
    if row.demand_per_day is not None:
        assert row.demand_per_day >= 0.0


def test_r12_burrows_delta_consistent(spark, sf_dir):
    rows = REG["burrows_delta_sources"].fn(spark, sf_dir).collect()
    # 20 sources -> 190 unordered pairs
    n_sources = len({r.source_a for r in rows}
                    | {r.source_b for r in rows})
    assert len(rows) == n_sources * (n_sources - 1) // 2
    for r in rows:
        assert r.source_a < r.source_b
        assert r.delta >= 0.0
