"""Targeted gates for the round-8c promoted bank (the blanket
oracle-match now rides the registry-wide tests/test_correctness.py
sweep — promoted in round 8; this module pins the
query-specific plan shapes and invariants)."""

from __future__ import annotations

from de_project_airflow_etl_spark.plans.inspect import PlanWalk, node_names
from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


def test_zipf_head_is_take_ordered(spark, sf_dir):
    """The top-k head must plan as TakeOrderedAndProject (per-
    partition heaps), never a global sort of the vocabulary."""
    names = node_names(REG["zipf_rank_frequency_table"]
                       .fn(spark, sf_dir))
    assert any("TakeOrderedAndProject" in n for n in names), names


def test_stack_generator_runs_before_any_exchange(spark, sf_dir):
    """stack() must fan out inside the scan's projection: exactly one
    exchange (the metric aggregate) in the plan."""
    from de_project_airflow_etl_spark.plans.inspect import formatted_plan
    plan = formatted_plan(
        REG["stack_generator_charge_mix"].fn(spark, sf_dir))
    assert plan.count("Exchange") <= 2, plan[:1500]


def test_bootstrap_weights_have_poisson_like_mass(spark, sf_dir):
    """The pinned md5 thresholds must produce weight masses near the
    Poisson(1) pmf (0.368/0.368/0.184/0.080) — a seeded-constant typo
    would skew every resample."""
    from de_project_airflow_etl_spark.queries.surfaces_r8 import (
        BOOT_B, _BOOT_U_SPARK, _BOOT_W)
    from de_project_airflow_etl_spark.tables import load
    from pyspark.sql import functions as F
    e = (load(spark, sf_dir, "events").selectExpr("event_id")
         .select("event_id",
                 F.explode(F.expr(f"sequence(0, {BOOT_B} - 1)"))
                  .alias("b"))
         .selectExpr(f"{_BOOT_U_SPARK} AS u")
         .selectExpr(f"{_BOOT_W} AS w"))
    rows = {r["w"]: r["n"] for r in
            e.groupBy("w").agg(F.count("*").alias("n")).collect()}
    total = sum(rows.values())
    assert abs(rows.get(0, 0) / total - 0.3679) < 0.02
    assert abs(rows.get(1, 0) / total - 0.3679) < 0.02
    assert abs(rows.get(2, 0) / total - 0.1839) < 0.02


def test_bootstrap_ci_brackets_the_mean(spark, sf_dir):
    row = REG["hash_bootstrap_mean_ci"].fn(spark, sf_dir).collect()[0]
    assert row["ci_lo"] <= row["mean_value"] <= row["ci_hi"]
    assert row["n_resamples"] == 32


def test_truncation_ranks_get_partial_group_limit(spark, sf_dir):
    """Both top-k rankings must ride Spark's rank-limit pushdown
    (WindowGroupLimit Partial before the exchange) so no window
    partition holds a corpus-sized slice."""
    df = REG["dim_truncation_recall_audit"].fn(spark, sf_dir)
    walk = PlanWalk(df._jdf.queryExecution().sparkPlan())
    limits = [walk.jnodes[i].toString().split("\n")[0]
              for i, n in enumerate(walk.names)
              if n.startswith("WindowGroupLimit")]
    assert sum("Partial" in s for s in limits) >= 2, limits


def test_truncation_overlap_bounded_and_self_consistent(spark, sf_dir):
    rows = (REG["dim_truncation_recall_audit"]
            .fn(spark, sf_dir).collect())
    assert rows
    for r in rows:
        assert 0 <= r["n_common"] <= 10
        assert abs(r["overlap_at_10"] - r["n_common"] / 10) < 1e-12
