"""Physical-plan gates for the round-6 promoted bank
(queries/mining.py + queries/features.py): statistics windows confined
to the post-aggregate daily rollup, scans pruned to the columns the
query consumes, and the bank's targeted shapes. Correct results with
a wrong plan fail here. The bank's scan budgets, window rules and
nested-loop exceptions live in tests/test_plan_rules.py."""

from __future__ import annotations

import pytest

from de_project_airflow_etl_spark.plans.inspect import (
    PlanWalk, formatted_plan, node_names, recorded_checkpoints,
    scan_read_schema, unbounded_windows, window_nodes,
)
from de_project_airflow_etl_spark.registry import all_queries

# the round-6 bank: everything registered by the two promoted modules
R6_BANK = {n: q for n, q in all_queries().items()
           if q.fn.__module__ in
           ("de_project_airflow_etl_spark.queries.mining",
            "de_project_airflow_etl_spark.queries.features")}


# ------------------------------- daily-rollup statistics family

_DAILY_STATS = (
    "mann_whitney_daily_value", "ks_statistic_daily_value",
    "spearman_daily_price_volume", "autocorr_daily_revenue",
    "rsi_daily_revenue",
)


@pytest.mark.parametrize("name", _DAILY_STATS)
def test_daily_stats_window_sits_above_daily_aggregate(spark, sf_dir,
                                                       name):
    """The unpartitioned windows these tests use are only legal
    because their input is the calendar-bounded daily rollup (the
    strict window rule of each query's ``PLAN_RULES`` row), and the
    orders scan must read only the two columns the rollup needs."""
    schemas = scan_read_schema(R6_BANK[name].fn(spark, sf_dir))
    assert schemas, name
    for line in schemas:
        assert "o_orderdate" in line and "o_totalprice" in line, line
        assert "o_custkey" not in line and "o_orderstatus" not in line, (
            f"{name}: orders scan not pruned: {line}")


def test_benford_scan_prunes_to_totalprice(spark, sf_dir):
    df = R6_BANK["benford_first_digit"].fn(spark, sf_dir)
    (line,) = scan_read_schema(df)
    assert "o_totalprice" in line and "o_orderdate" not in line, line


# ------------------------------------------ vocabulary family

def test_vocab_coverage_topk_is_take_ordered(spark, sf_dir):
    """The top-k must plan as TakeOrderedAndProject (heap per
    partition + driver merge of k rows), never a global sort of the
    full token-count relation."""
    plan = formatted_plan(R6_BANK["vocab_coverage_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_vocab_growth_explodes_corpus_once(spark, sf_dir):
    """Document text is scanned and exploded exactly ONCE: both
    downstream rollups (tokens-per-bucket, first-seen-bucket) read the
    checkpointed (bucket, token) base aggregate, so the walk, which
    enters that checkpoint once however many scans read it, holds one
    explode ``Generate``."""
    with recorded_checkpoints() as plans:
        df = R6_BANK["vocab_growth_curve"].fn(spark, sf_dir)
    walk = PlanWalk(df._jdf.queryExecution().sparkPlan(), plans)
    explodes = [j.toString().split("\n")[0]
                for n, j in zip(walk.names, walk.jnodes)
                if n == "GenerateExec"
                and "explode(" in j.toString().split("\n")[0]]
    assert len(explodes) == 1, (explodes, walk.names)


# ---------------------------------------- dedup keeper / overlap

def test_canonical_pick_joins_on_key_without_window(spark, sf_dir):
    """Keeper selection is the join-back argmax: no Window operator
    (and no nested loop: its ``nested_loops: "none"`` row in
    ``PLAN_RULES``)."""
    plan = formatted_plan(
        R6_BANK["dup_cluster_canonical_pick"].fn(spark, sf_dir))
    assert "Window" not in plan, "argmax degenerated to a window"


def test_event_type_jaccard_broadcasts_sizes(spark, sf_dir):
    """Per-type sizes (bounded vocabulary) must broadcast onto the
    pair relation."""
    plan = formatted_plan(
        R6_BANK["event_type_user_jaccard"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


# ----------------------------- round6b bank: targeted plan shapes


def test_sketch_rankings_are_take_ordered(spark, sf_dir):
    """The CMS heavy-key probe list and the KMV k-smallest selection
    must plan as TakeOrdered (per-partition top-k merge), never a
    global sort of the key space."""
    for name in ("cms_user_event_counts", "kmv_distinct_users"):
        plan = formatted_plan(R6_BANK[name].fn(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, name
        assert "Sort [" not in plan.replace(
            "TakeOrderedAndProject", ""), f"{name}: residual global sort"


def test_feature_hashing_scan_prunes_to_text(spark, sf_dir):
    schemas = scan_read_schema(
        R6_BANK["feature_hashing_bow"].fn(spark, sf_dir))
    assert schemas and all("struct<text:string>" in s for s in schemas), \
        schemas


def test_bloom_scans_prune_to_keys(spark, sf_dir):
    schemas = scan_read_schema(
        R6_BANK["bloom_buyer_membership"].fn(spark, sf_dir))
    joined = " ".join(schemas)
    assert "o_custkey" in joined and "o_totalprice" not in joined, schemas
    assert "c_custkey" in joined and "c_name" not in joined, schemas


def test_negative_sampling_rank_is_group_limited(spark, sf_dir):
    """The per-anchor top-5 must run through WindowGroupLimit so no
    anchor partition ever materializes its full candidate list."""
    plan = formatted_plan(
        R6_BANK["negative_sampling_pairs"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_target_encoding_broadcasts_customer_dim(spark, sf_dir):
    from de_project_airflow_etl_spark.plans.inspect import (
        has_broadcast_join)
    assert has_broadcast_join(
        R6_BANK["target_encoding_smoothed"].fn(spark, sf_dir))


def test_gini_unpivot_scans_lineitem_once_per_feature_block(spark,
                                                            sf_dir):
    """The unpivot is ONE generator over one scan — the plan must
    contain a single lineitem file scan (the explode fans out rows,
    not scans) and prune it to the five consumed columns."""
    schemas = scan_read_schema(
        R6_BANK["gini_feature_split_rank"].fn(spark, sf_dir))
    assert len(schemas) == 1, schemas
    assert "l_extendedprice" not in schemas[0], schemas


def test_holt_is_single_projection_fold(spark, sf_dir):
    """The Holt fold must stay ONE generator projection above the
    daily rollup (the CollapseProject re-evaluation lesson): exactly
    one aggregate() call in the executed plan."""
    df = R6_BANK["holt_linear_daily_revenue"].fn(spark, sf_dir)
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("aggregate(") == 1, executed[:2000]


def test_survival_retention_windows_sit_above_lifetime_aggregate(
        spark, sf_dir):
    """survival_retention_curve's unpartitioned suffix-sum window is
    only legal because its input is the calendar-bounded distinct-
    lifetime aggregate: every WindowExec subtree must contain an
    Aggregate, and the events scan must prune to (user_id, ts).
    r11: the query lazily checkpoints both the per-user rollup and the
    KM term relation (multi-consumer re-execution fix), which hides
    the window/scan from the FINAL plan — so assert on the query's own
    pre-checkpoint helpers (the lof-gate precedent), and additionally
    that the final plan holds no parquet scan (every consumer reads
    the checkpointed blocks)."""
    from de_project_airflow_etl_spark.queries.mining import (
        _survival_km_terms, _survival_user_lifetimes)
    u = _survival_user_lifetimes(spark, sf_dir)
    for line in scan_read_schema(u):
        assert "event_type" not in line and "props" not in line, (
            f"events scan not pruned: {line}")
    terms = _survival_km_terms(u)
    assert window_nodes(terms), (
        "expected the n_at_risk suffix-sum WindowExec")
    offenders = unbounded_windows(terms)
    assert not offenders, f"window consumes un-aggregated rows: {offenders}"
    df = R6_BANK["survival_retention_curve"].fn(spark, sf_dir)
    final_names = node_names(df)
    assert not any("FileSourceScan" in n or "BatchScan" in n
                   for n in final_names), (
        "final plan re-reads parquet despite the checkpoints: "
        + str(final_names))


def test_lof_bucket_sizes_broadcast_not_windowed(spark, sf_dir):
    """Bucket sizing must be an aggregate + broadcast join-back, not
    a window partitioned by the FIXED 2^LOF_BITS bucket space (whose
    partitions would be data-sized at scale), and the kNN relation
    must be checkpointed so the within-bucket all-pairs join is
    derived once. The checkpoint truncates lineage, so the final
    plan's scans must all be ExistingRDD (checkpointed) — any parquet
    scan left in the final plan (or any Window: the query's
    ``max_windows: 0`` row in ``PLAN_RULES``) means the pre-aggregation
    moved back inline."""
    names = node_names(R6_BANK["lof_bucket_outliers"].fn(spark, sf_dir))
    assert not any("FileSourceScan" in n or "BatchScan" in n
                   for n in names), (
        "post-checkpoint plan re-reads the source: " + str(names))
