"""Physical-plan gates for the round-5 additions (UDAF family +
evaluation/reporting analytics): the properties their 100 TB story
depends on — pre-aggregation BEFORE any grouped pandas UDAF, single
scoring passes, broadcast-only joins, and no accidental cartesians.
Correct results with a wrong plan fail here."""

from __future__ import annotations

import re

from de_project_airflow_etl_spark.operators.dedup import (
    dedup_normalized_text, fuzzy_name_match_pairs,
)
from de_project_airflow_etl_spark.operators.similarity import (
    ann_recall_audit, centroid_assignment_margin,
)
from de_project_airflow_etl_spark.operators.udaf import (
    udaf_iqr_outlier_events, udaf_longest_active_streak,
    udaf_modal_event_type, udaf_rolling_median_window,
    udaf_trimmed_mean_segment, udaf_weighted_median_brand,
)
from de_project_airflow_etl_spark.plans.inspect import formatted_plan
from de_project_airflow_etl_spark.queries.analytics import (
    monthly_revenue_mom_yoy,
)


def _ops(plan: str) -> list[str]:
    """Operator names from the formatted plan's numbered tree."""
    return [m.group(1) for m in
            re.finditer(r"^\s*\(\d+\)\s+(\w[\w ]*\w)", plan, re.M)]


# --------------------------------------------------- UDAF pre-aggregate

def test_udafs_consume_preaggregated_input(spark, sf_dir):
    """Every grouped pandas UDAF must sit ABOVE a JVM hash aggregate:
    the (value, weight) pre-aggregate is what bounds the Arrow batch
    per group at corpus scale (module doc, operators/udaf.py). A plan
    where ArrowAggregatePython reads raw rows is the scale bug this
    gate exists to catch."""
    for fn in (udaf_weighted_median_brand, udaf_trimmed_mean_segment,
               udaf_iqr_outlier_events, udaf_modal_event_type,
               udaf_longest_active_streak):
        ops = _ops(formatted_plan(fn(spark, sf_dir)))
        assert "ArrowAggregatePython" in ops, (fn.__name__, ops)
        # the pre-aggregate (plain HashAggregate for groupBy/distinct)
        # must appear before the pandas aggregate
        assert "HashAggregate" in ops, (fn.__name__, ops)
        assert (ops.index("HashAggregate")
                < ops.index("ArrowAggregatePython")), (fn.__name__, ops)


def test_udaf_weighted_median_broadcasts_part(spark, sf_dir):
    plan = formatted_plan(udaf_weighted_median_brand(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_udaf_windowed_variant_runs_in_arrow_window(spark, sf_dir):
    """The rolling-median UDAF must evaluate as a bounded-frame
    ArrowWindowPython over ONE user-partitioned exchange — no extra
    shuffles, no global sort."""
    ops = _ops(formatted_plan(udaf_rolling_median_window(spark, sf_dir)))
    assert "ArrowWindowPython" in ops, ops
    assert ops.count("Exchange") == 1, ops


# ------------------------------------------------- matching / dedup

def test_fuzzy_match_is_blocked_equi_join(spark, sf_dir):
    """Blocking must make the pair generation an equi-join on the
    block key — a nested-loop over names would be the quadratic
    record-linkage anti-pattern."""
    plan = formatted_plan(fuzzy_name_match_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_normalized_dedup_is_single_aggregate(spark, sf_dir):
    """Canonical-key dedup is ONE hash aggregate on md5 keys: no join
    anywhere, exactly one exchange (which moves 32-byte hashes, never
    text — the projection drops text before the shuffle)."""
    plan = formatted_plan(dedup_normalized_text(spark, sf_dir))
    ops = _ops(plan)
    assert not any("Join" in o for o in ops), ops
    assert ops.count("Exchange") == 1, ops


# -------------------------------------------- similarity evaluation

def test_recall_audit_scores_once(spark, sf_dir):
    """The fold-heavy scoring subtree (corpus x query broadcast) must
    appear exactly once — the two-branch formulation that computed it
    twice and SortMergeJoined the halves is the regression this
    guards against."""
    plan = formatted_plan(ann_recall_audit(spark, sf_dir))
    ops = _ops(plan)
    # exactly one BNLJ: the deliberate corpus x bounded-query-sample
    # broadcast (the knn pattern — the % filter bounds the build side
    # by construction, so the scalar-build invariant doesn't apply)
    assert ops.count("BroadcastNestedLoopJoin") == 1, ops
    assert "SortMergeJoin" not in ops, ops


def test_centroid_margin_has_no_window_or_self_join(spark, sf_dir):
    """Best/second selection is a sorted-array aggregation over the
    label-bounded candidate list: no rank window, no self-join, and
    the centroid subtree (the posexplode Generate) built exactly
    once."""
    plan = formatted_plan(centroid_assignment_margin(spark, sf_dir))
    ops = _ops(plan)
    assert "SortMergeJoin" not in ops, ops
    assert "Window" not in ops, ops
    assert ops.count("Generate") == 1, ops


# ----------------------------------------------- reporting analytics

def test_monthly_growth_joins_broadcast(spark, sf_dir):
    """The calendar self-joins run on the month-bounded rollup and
    must both broadcast."""
    plan = formatted_plan(monthly_revenue_mom_yoy(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


# ------------------------------ small-headline-query shape gates
#
# These queries bench under 0.4s at sf0.1, where the wall-clock gate
# runs with a widened 3x band (bench.py) — so their regression signal
# is the PLAN SHAPE asserted here (test_bench_gate.py enforces that
# every such query has a gate in a plan/scale module).

def test_small_headline_shapes(spark, sf_dir):
    from de_project_airflow_etl_spark.registry import all_queries
    qs = all_queries()

    def ops_of(name):
        return _ops(formatted_plan(qs[name].fn(spark, sf_dir)))

    # partitioned running-frame window: ONE exchange, one window, no join
    ops = ops_of("window_running_revenue")
    assert ops.count("Exchange") == 1 and "Window" in ops, ops
    assert not any("Join" in o for o in ops), ops

    # ROLLUP/CUBE lower to Expand + ONE shuffled aggregate — losing
    # Expand would mean N separate scans/aggregates
    for name in ("rollup_quantity", "cube_order_priority"):
        ops = ops_of(name)
        assert "Expand" in ops and ops.count("Exchange") == 1, (name, ops)

    # JSON extraction stays a projection feeding one aggregate
    ops = ops_of("variant_json_events")
    assert ops.count("Exchange") == 1, ops
    assert not any("Join" in o for o in ops), ops

    # per-document token stats: pure codegen map — ZERO exchanges
    ops = ops_of("text_token_stats")
    assert "Exchange" not in ops, ops

    # MERGE upsert: union + ONE co-partitioned full-outer join
    plan = formatted_plan(qs["merge_upsert_customers"].fn(spark, sf_dir))
    assert "Union" in plan and "FullOuter" in plan, plan

    # exact-median MAD: per-type medians ride BROADCAST joins back
    # onto events (three stages), no shuffled join of the fact side
    ops = ops_of("mad_outlier_events")
    assert "BroadcastHashJoin" in ops, ops
    assert "SortMergeJoin" not in ops, ops

    # vocab: TakeOrdered bounds the id-assignment window; the id join
    # broadcasts the 20-row vocab; one corpus regroup exchange
    plan = formatted_plan(qs["tokenize_to_ids"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan

    # file-compaction planning: one metadata-sized aggregate, no join
    ops = ops_of("compaction_file_plan")
    assert not any("Join" in o for o in ops), ops

    # TPC-H Q6: filters must reach the scan (pure scan-filter-agg)
    from de_project_airflow_etl_spark.plans.inspect import (
        has_pushed_filter,
    )
    df = qs["tpch_q6_forecast_revenue"].fn(spark, sf_dir)
    assert has_pushed_filter(df, "l_shipdate"), formatted_plan(df)
    assert has_pushed_filter(df, "l_discount"), formatted_plan(df)


def test_twap_reuses_user_partitioning(spark, sf_dir):
    """LEAD window and final aggregate both key on user_id: ONE
    exchange must serve both (losing the reuse doubles the shuffle of
    the fact table)."""
    from de_project_airflow_etl_spark.queries.analytics import (
        twap_user_values,
    )
    ops = _ops(formatted_plan(twap_user_values(spark, sf_dir)))
    assert "Window" in ops, ops
    assert ops.count("Exchange") == 1, ops


def test_rank_normalize_windows_are_dim_partitioned(spark, sf_dir):
    """Exact per-dimension ranks must ride windows PARTITIONED on the
    dimension index (64 equal partitions by construction) — an
    unpartitioned rank over the exploded matrix would be the
    single-task global sort this plan exists to avoid."""
    from de_project_airflow_etl_spark.operators.similarity import (
        embedding_rank_normalize,
    )
    df = embedding_rank_normalize(spark, sf_dir)
    executed = df._jdf.queryExecution().executedPlan().toString()
    # every window spec in the executed plan carries the dim key
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", executed)
    assert specs, executed
    assert all("i#" in s for s in specs), specs
