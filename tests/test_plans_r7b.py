"""Targeted physical-plan gates for the promoted round-7 evaluation
bank (queries/evaluation.py: evaluation statistics, sketches,
attribution) — the 100 TB shape evidence each query's docstring
claims. Promoted from tests/test_staged_r7b.py in round 7; the
bank's nested-loop rule, scan budgets and window rules live in
tests/test_plan_rules.py, and oracle equality rides the
registry-wide tests/test_correctness.py.
"""

from __future__ import annotations

from de_project_airflow_etl_spark.plans.inspect import PlanWalk, node_names
from de_project_airflow_etl_spark.registry import all_queries

R7B_BANK = {n: q for n, q in all_queries().items()
            if q.fn.__module__
            == "de_project_airflow_etl_spark.queries.evaluation"}


def test_single_pass_statistics_have_no_joins_or_windows(spark, sf_dir):
    """Welch t and the two-feature OLS are one map-side-combinable
    aggregate over the scan: no joins (no windows: their
    ``max_windows: 0`` rows in ``PLAN_RULES``)."""
    for name in ("welch_t_test_weekend_value", "ols_two_feature_price"):
        names = node_names(R7B_BANK[name].fn(spark, sf_dir))
        assert not any("Join" in n for n in names), (name, names)


def test_map_retrieval_rank_gets_partial_group_limit(spark, sf_dir):
    """The per-anchor top-k must trigger Spark's rank-limit pushdown:
    a WindowGroupLimit in Partial mode BEFORE the exchange keeps at
    most k rows per (map partition, anchor), so the rank window never
    receives a corpus-sized partition — the engine-native two-phase
    top-k."""
    df = R7B_BANK["map_retrieval_eval"].fn(spark, sf_dir)
    walk = PlanWalk(df._jdf.queryExecution().sparkPlan())
    limits = [walk.jnodes[i].toString().split("\n")[0]
              for i, n in enumerate(walk.names)
              if n.startswith("WindowGroupLimit")]
    assert any("Partial" in s for s in limits), (
        "no partial rank-limit pushdown: " + str(limits))


def test_theta_sketch_heads_are_take_ordered(spark, sf_dir):
    """Each bottom-k sketch head must plan as TakeOrderedAndProject
    (per-partition heaps, no global sort of the hash relation). The
    heads are checkpointed in the query (lineage truncated), so the
    pre-checkpoint shape is asserted by rebuilding one head exactly
    the way the query does."""
    from pyspark.sql import functions as F

    from de_project_airflow_etl_spark.queries.evaluation import (
        THETA_K, _uh_spark)
    from de_project_airflow_etl_spark.tables import load
    head = (load(spark, sf_dir, "events")
            .filter(F.col("event_type") == "click")
            .select(F.expr(_uh_spark()).alias("h"))
            .distinct()
            .orderBy("h").limit(THETA_K))
    names = node_names(head)
    assert any("TakeOrderedAndProject" in n for n in names), names
    assert not any("Sort" == n for n in names), names


def test_attribution_join_is_equi_not_nested_loop(spark, sf_dir):
    """The purchase-touch fan-out must ride the user_id equi-join
    (sort-merge / shuffled-hash with the time range as residual),
    never a nested loop or cartesian over the fact table (its
    ``nested_loops: "none"`` row in ``PLAN_RULES``)."""
    names = node_names(R7B_BANK["position_attribution_revenue"]
                       .fn(spark, sf_dir))
    # hash-equi on user_id (broadcast at small SF, sort-merge once
    # the purchase side outgrows the broadcast threshold)
    assert any("SortMergeJoin" in n or "ShuffledHashJoin" in n
               or "BroadcastHashJoin" in n for n in names), names


def test_param_binding_folds_into_pushed_filter(spark, sf_dir):
    """The :min_total named parameter must fold to a literal that
    reaches the orders scan as a pushed filter — binding cannot cost
    pushdown."""
    from de_project_airflow_etl_spark.plans.inspect import (
        formatted_plan, has_pushed_filter)
    df = R7B_BANK["param_bound_revenue_floor"].fn(spark, sf_dir)
    assert has_pushed_filter(df, "o_totalprice"), (
        formatted_plan(df)[:1500])


def test_group_by_all_plans_as_plain_aggregate(spark, sf_dir):
    """GROUP BY ALL must bind to the same single hash aggregate as
    the explicitly-keyed form — no joins (no windows: its
    ``max_windows: 0`` row in ``PLAN_RULES``)."""
    names = node_names(R7B_BANK["group_by_all_weekday_mix"]
                       .fn(spark, sf_dir))
    assert not any("Join" in n for n in names), names
    assert any("Aggregate" in n for n in names), names


def test_audio_chunk_windows_plan_is_one_vectorized_pass(spark, sf_dir):
    """The 1-to-N chunker must plan as ONE MapInPandas over a scan
    pruned to (doc_id, text) — no shuffle, no row-at-a-time Python
    eval (the widened small-query bench band leans on this gate)."""
    from de_project_airflow_etl_spark.plans.inspect import (
        formatted_plan, scan_read_schema)
    df = R7B_BANK["multimodal_audio_chunk_windows"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan, plan[:1200]
    assert "BatchEvalPython" not in plan, "row-at-a-time Python crept in"
    assert "Exchange" not in plan, plan[:1200]
    schemas = scan_read_schema(df)
    assert schemas and all("lang" not in s and "n_chars" not in s
                           for s in schemas), schemas
