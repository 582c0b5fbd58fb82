"""Physical-plan assertions: the scale-critical properties the 100 TB
design depends on — filter/projection pushdown into parquet scans,
broadcast joins for dims, partition pruning on partitioned lakes,
top-k planning. Correct results with a wrong plan fail here."""

from __future__ import annotations

from pyspark.sql import functions as F

from de_project_airflow_etl_spark.plans.inspect import (
    formatted_plan, has_broadcast_join, has_partition_filter,
    has_pushed_filter, scan_read_schema,
)
from de_project_airflow_etl_spark.queries.relational import (
    filter_project, topk_orders,
)
from de_project_airflow_etl_spark.queries.joins import (
    join_multiway_region_revenue, join_segment_revenue,
)
from de_project_airflow_etl_spark.queries.flagship import daily_events


def test_filter_pushdown(spark, sf_dir):
    df = filter_project(spark, sf_dir)
    assert has_pushed_filter(df, "l_returnflag"), formatted_plan(df)
    assert has_pushed_filter(df, "l_discount"), formatted_plan(df)


def test_column_pruning(spark, sf_dir):
    df = filter_project(spark, sf_dir)
    schemas = scan_read_schema(df)
    assert schemas, "no scan found"
    # 16-column lineitem must be read as just the needed columns
    assert all("l_extendedprice" not in s for s in schemas), schemas


def test_flagship_prunes_columns(spark, sf_dir):
    df = daily_events(spark, sf_dir)
    schemas = scan_read_schema(df)
    assert all("props" not in s for s in schemas), schemas


def test_dimension_joins_broadcast(spark, sf_dir):
    assert has_broadcast_join(join_segment_revenue(spark, sf_dir))
    assert has_broadcast_join(join_multiway_region_revenue(spark, sf_dir))


def test_topk_plans_take_ordered(spark, sf_dir):
    plan = formatted_plan(topk_orders(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_partition_pruning_on_partitioned_lake(spark, tmp_path):
    """A filter on the partition column must become a PartitionFilter
    (zero non-matching files touched) — the reference's
    filters=[('net','=',d)] behavior (SURVEY §4), Spark-native."""
    path = str(tmp_path / "lake")
    df = spark.range(100).withColumn(
        "day", (F.col("id") % 5).cast("string"))
    df.write.partitionBy("day").mode("overwrite").parquet(path)
    read = spark.read.parquet(path).filter(F.col("day") == "3")
    assert has_partition_filter(read, "day"), formatted_plan(read)
    assert read.count() == 20


def test_asof_join_is_single_shuffle_no_range_join(spark, sf_dir):
    """The as-of join must plan as union + one hash exchange + window —
    never a range/theta join (BroadcastNestedLoop or CartesianProduct),
    which would be quadratic at scale."""
    from de_project_airflow_etl_spark.queries.timeseries import (
        asof_join_click_purchase,
    )
    df = asof_join_click_purchase(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    import re
    # formatted mode lists each physical node once as "(N) Exchange"
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_ivf_assignment_broadcasts_centroids(spark, sf_dir):
    from de_project_airflow_etl_spark.operators.similarity import ann_ivf_search
    assert has_broadcast_join(ann_ivf_search(spark, sf_dir))


def test_embedding_dedup_is_equi_join(spark, sf_dir):
    """LSH blocking must make the pair search an equi-join on the
    bucket key — a cross join over the corpus would be O(n^2)."""
    from de_project_airflow_etl_spark.operators.dedup import (
        dedup_embedding_cosine,
    )
    plan = formatted_plan(dedup_embedding_cosine(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_lsh_candidate_join_is_equi_join(spark, sf_dir):
    # Inspect the un-materialized pairs plan (the public query returns
    # an eagerly checkpointed result whose plan is an opaque RDD scan).
    from de_project_airflow_etl_spark.operators.dedup import (
        _lsh_pairs_plan, _shingled,
    )
    digests = _shingled(spark, sf_dir).select("doc_id", "hs")
    plan = formatted_plan(_lsh_pairs_plan(digests))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_lsh_query_leaves_no_cached_relations(spark, sf_dir):
    """Round-1 leak regression: after the materialized pairs relation
    is built, no persisted DataFrame may remain registered in the
    CacheManager (pinned executor memory at 100 TB)."""
    from de_project_airflow_etl_spark.operators import dedup
    dedup.clear_pairs_cache()
    spark.catalog.clearCache()
    dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_dedup_clusters_labels_without_a_join(spark, sf_dir):
    """At the star-forest fixpoint the labels are the edges themselves
    (union + distinct): the final executed plan joins nothing."""
    from de_project_airflow_etl_spark.operators import dedup
    df = dedup.dedup_clusters(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan, plan


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """Explicit strategy hints override the cost-based choice — the
    manual control knob when statistics mislead the planner at scale."""
    from de_project_airflow_etl_spark.tables import load
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cond = o.o_custkey == c.c_custkey
    merge_plan = formatted_plan(o.join(c.hint("merge"), cond))
    assert "SortMergeJoin" in merge_plan, merge_plan
    shuffle_hash_plan = formatted_plan(o.join(c.hint("shuffle_hash"), cond))
    assert "ShuffledHashJoin" in shuffle_hash_plan, shuffle_hash_plan
    bcast_plan = formatted_plan(o.join(c.hint("broadcast"), cond))
    assert "BroadcastHashJoin" in bcast_plan, bcast_plan


def test_whole_stage_codegen_in_agg(spark, sf_dir):
    from de_project_airflow_etl_spark.queries.relational import pricing_summary
    df = pricing_summary(spark, sf_dir)
    df.collect()  # AQE: the final plan (with codegen spans) exists post-run
    plan = formatted_plan(df)
    # whole-stage-codegen'd operators are tagged "[codegen id : N]"
    assert "codegen id" in plan, plan
    # and the aggregation is two-phase (map-side partial before the shuffle)
    assert "partial_sum" in plan, plan


def test_stratified_sample_prunes_text(spark, sf_dir):
    """The md5-threshold sample never touches the (heavy) text column:
    the scan must read only doc_id + lang."""
    from de_project_airflow_etl_spark.queries.etl import (
        stratified_sample_documents,
    )
    df = stratified_sample_documents(spark, sf_dir)
    schemas = scan_read_schema(df)
    assert schemas and all("text" not in s for s in schemas), schemas


def test_unpivot_single_shuffle(spark, sf_dir):
    """UNPIVOT is an Expand over the aggregated rows — the only
    exchange in the plan is the aggregation's own shuffle."""
    from de_project_airflow_etl_spark.queries.grouping import (
        unpivot_nation_metrics,
    )
    plan = formatted_plan(unpivot_nation_metrics(spark, sf_dir))
    assert "Expand" in plan, plan
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles <= 1, plan


def test_bitmap_distinct_two_level_agg(spark, sf_dir):
    """The bitmap distinct plans as two hash aggregates over fixed-width
    bitmap partials — never an expand-based distinct of raw user_ids."""
    from de_project_airflow_etl_spark.queries.flagship import (
        daily_users_bitmap_exact,
    )
    plan = formatted_plan(daily_users_bitmap_exact(spark, sf_dir))
    assert "bitmap_construct_agg" in plan, plan
    assert "Expand" not in plan, plan


def test_ivf_assignment_no_corpus_shuffle(spark, sf_dir):
    """_assign_cells must not shuffle the embeddings corpus: the only
    hash exchanges allowed belong to the tiny seeds/centroid subplan
    (partitionBy label / collect_list), never a repartition of the
    scored vectors by vec_id (the old window-argmax formulation)."""
    from de_project_airflow_etl_spark.operators.similarity import (
        ann_ivf_search,
    )
    plan = formatted_plan(ann_ivf_search(spark, sf_dir))
    assert "hashpartitioning(vec_id" not in plan, plan


def test_interval_overlap_join_rides_equi_key(spark, sf_dir):
    """The interval-overlap self-join must plan as an equi-join on
    o_custkey (the date inequality as a post-join residual) — a
    range-only formulation would degenerate to a cartesian/BNL plan
    that is quadratic in table size."""
    from de_project_airflow_etl_spark.queries.timeseries import (
        interval_overlap_orders,
    )
    plan = formatted_plan(interval_overlap_orders(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_gap_fill_spine_is_distributed(spark, sf_dir):
    """The date spine must come from sequence+explode (Generate node),
    never a driver-side loop, and the fill window must not add a
    second exchange beyond the user_id shuffles of the joins."""
    from de_project_airflow_etl_spark.queries.timeseries import (
        gap_fill_forward_fill,
    )
    plan = formatted_plan(gap_fill_forward_fill(spark, sf_dir))
    assert "Generate" in plan, plan  # explode(sequence(...))
    assert "CartesianProduct" not in plan, plan


def test_mode_window_runs_on_aggregated_input(spark, sf_dir):
    """mode_per_group's row_number window must sit above the hash
    aggregate (O(distinct pairs) rows), not above the raw scan."""
    from de_project_airflow_etl_spark.queries.aggregates_ext import (
        mode_per_group,
    )
    plan = formatted_plan(mode_per_group(spark, sf_dir))
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1, plan
    # the formatted tree prints top-down: the window (consumer) must
    # appear above, i.e. before, the aggregate that feeds it
    assert win_pos < agg_pos, plan


def test_zscore_stats_join_is_broadcast(spark, sf_dir):
    """The O(groups) stats side must broadcast — the fact table is
    never shuffled for the outlier filter."""
    from de_project_airflow_etl_spark.queries.aggregates_ext import (
        outlier_zscore_orders,
    )
    assert has_broadcast_join(outlier_zscore_orders(spark, sf_dir))


def test_contamination_eval_side_broadcasts(spark, sf_dir):
    """The tiny eval-set n-gram side must broadcast: at 100 TB the
    corpus is never shuffled for the contamination join, and nothing
    degenerates to a cartesian product."""
    from de_project_airflow_etl_spark.operators.curation import (
        contamination_check,
    )
    plan = formatted_plan(contamination_check(spark, sf_dir))
    assert has_broadcast_join(contamination_check(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_pack_sequences_single_data_sized_shuffle(spark, sf_dir):
    """Round-7 two-phase re-plan: the DATA-SIZED stream shuffles
    exactly once, on (source, bucket) — a grows-with-data key, never
    the bare fixed-cardinality shard key; the remaining exchanges
    carry only the bucket-count-sized partials/prefix table (one of
    them broadcast). No global sort anywhere."""
    import re

    from de_project_airflow_etl_spark.operators.curation import (
        pack_sequences,
    )
    plan = formatted_plan(pack_sequences(spark, sf_dir))
    assert "rangepartitioning" not in plan.lower(), plan
    keys = [m.group(1)
            for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan)]
    # every hash exchange carries the bucket key or is the bounded
    # per-source prefix over the partials table
    data_sized = [k for k in keys if "bkt" in k]
    assert len(data_sized) >= 1, keys
    for k in keys:
        assert "bkt" in k or "source" in k, k


def test_hash_split_is_map_side_until_report_agg(spark, sf_dir):
    """The split assignment itself is a stateless projection: exactly
    the one exchange the reporting aggregate requires, nothing else."""
    from de_project_airflow_etl_spark.operators.curation import (
        corpus_hash_split,
    )
    plan = formatted_plan(corpus_hash_split(spark, sf_dir))
    assert plan.count("Exchange (") == 1, plan


def test_repetition_stats_zero_shuffle(spark, sf_dir):
    """The Gopher-style per-doc statistics are pure array-lambda
    expressions — the plan must contain NO exchange at all (the naive
    explode+groupBy formulation would cost two)."""
    from de_project_airflow_etl_spark.operators.quality import (
        collapse_repeated_tokens, gopher_repetition_stats,
    )
    for fn in (gopher_repetition_stats, collapse_repeated_tokens):
        plan = formatted_plan(fn(spark, sf_dir))
        assert "Exchange (" not in plan, plan


def test_chunking_and_quantize_zero_shuffle(spark, sf_dir):
    """Chunk expansion and int8 quantization are per-row maps riding
    the scan stage — no exchange."""
    from de_project_airflow_etl_spark.operators.curation import (
        doc_chunk_windows,
    )
    from de_project_airflow_etl_spark.operators.similarity import (
        embedding_int8_quantize,
    )
    for fn in (doc_chunk_windows, embedding_int8_quantize):
        plan = formatted_plan(fn(spark, sf_dir))
        assert "Exchange (" not in plan, plan


def test_mixture_thresholds_broadcast_onto_corpus(spark, sf_dir):
    """The 5-row language-threshold table must broadcast-join onto the
    corpus scan: no sort-merge join, no corpus-side exchange for the
    join itself (the only exchanges feed the two tiny aggregates)."""
    from de_project_airflow_etl_spark.operators.curation import (
        mixture_weighted_sample,
    )
    df = mixture_weighted_sample(spark, sf_dir)
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in plan, plan


def test_bpe_pairs_partial_agg_and_topk(spark, sf_dir):
    """Pair counting must partial-aggregate before the exchange
    (absorbing the explode) and plan the top-20 as
    TakeOrderedAndProject, not a global sort."""
    from de_project_airflow_etl_spark.operators.quality import (
        bpe_pair_counts,
    )
    plan = formatted_plan(bpe_pair_counts(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_holdout_plans_take_ordered(spark, sf_dir):
    """Exact-N holdout must plan per-partition top-N heaps, not a
    global sort."""
    from de_project_airflow_etl_spark.operators.curation import (
        eval_holdout_sample,
    )
    plan = formatted_plan(eval_holdout_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_blocklist_and_masking_zero_shuffle(spark, sf_dir):
    """Blocklist counting and digit masking are stateless projections
    riding the scan — no exchange."""
    from de_project_airflow_etl_spark.operators.quality import (
        blocklist_filter, mask_numeric_props,
    )
    for fn in (blocklist_filter, mask_numeric_props):
        plan = formatted_plan(fn(spark, sf_dir))
        assert "Exchange (" not in plan, plan


def test_dq_gate_single_agg_pass(spark, sf_dir):
    """All five expectations must share ONE scan (not the oracle's
    five). The uniqueness rule's COUNT(DISTINCT) costs Spark's
    standard two-level distinct rewrite — two exchanges of
    partial-agg rows, still a single pass over the data."""
    from de_project_airflow_etl_spark.operators.quality import (
        dq_expectations,
    )
    import re
    plan = formatted_plan(dq_expectations(spark, sf_dir))
    # one "(n) Scan parquet" detail header per scan node
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert plan.count("Exchange (") <= 2, plan


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Runtime Bloom-filter join pruning: with a selective filter on
    the build side, Spark injects a bloom_filter_agg on the creation
    side and a might_contain predicate on the probe-side scan — at
    100 TB this drops most probe rows BEFORE the shuffle. Local data
    is below the default thresholds, so the test lowers them to prove
    the engine wiring; production relies on the defaults."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "10GB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        sel = orders.filter(F.col("o_totalprice") > 400000) \
                    .select("o_orderkey")
        j = lineitem.join(sel, lineitem.l_orderkey == sel.o_orderkey)
        plan = formatted_plan(j)
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_vocab_oov_broadcasts_vocabulary(spark, sf_dir):
    """The top-k vocabulary must plan as TakeOrderedAndProject (never a
    full sort of the token counts) and join onto the exploded tokens as
    a broadcast — the corpus side never shuffles for the join."""
    from de_project_airflow_etl_spark.operators.corpus_stats import (
        vocab_oov_stats,
    )
    df = vocab_oov_stats(spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert has_broadcast_join(df), plan


def test_curriculum_rank_has_no_global_sort(spark, sf_dir):
    """Global ranking must NOT funnel the corpus through a single
    partition: no range exchange / global Sort over the full data; the
    only single-partition object is the #buckets-row offset table
    (whose window input is an aggregate, not the corpus)."""
    from de_project_airflow_etl_spark.operators.corpus_stats import (
        curriculum_global_rank,
    )
    plan = formatted_plan(curriculum_global_rank(spark, sf_dir))
    assert "rangepartitioning" not in plan.lower(), plan
    # the corpus-side window partitions by the split-bucket keys — a
    # hash exchange (shared helper queries/util.py::global_row_number)
    assert "hashpartitioning(__bk" in plan, plan


def test_boilerplate_and_incremental_never_cartesian(spark, sf_dir):
    """Boilerplate gram flagging and incremental dedup are equi-joins
    end-to-end (gram / content-hash / doc_id keys) — a cartesian or
    broadcast nested loop anywhere means candidate generation
    degenerated to doc x doc. The only loop-join allowed is the 1-row
    broadcast of the cutoff/threshold scalar."""
    from de_project_airflow_etl_spark.operators.corpus_stats import (
        boilerplate_ngram_stats,
    )
    from de_project_airflow_etl_spark.operators.dedup import (
        incremental_dedup_new_docs,
    )
    plan = formatted_plan(boilerplate_ngram_stats(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    df = incremental_dedup_new_docs(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    # The 1-row cutoff broadcast plans as a nested-loop join and the
    # subtree is duplicated wherever docs/pairs branch, so several
    # BNLJ instances are expected — but each must be the SCALAR
    # pattern: structurally verified (every BNLJ has a global-
    # aggregate side; a data x data nested loop has none). The
    # data-bearing joins (content hash, doc_id, LSH bands) must all
    # be equi-joins.
    from de_project_airflow_etl_spark.plans.inspect import (
        bnlj_builds_are_scalar,
    )
    assert bnlj_builds_are_scalar(df) == [], plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") >= 3, plan


def test_tpch_q3_plans_take_ordered_with_broadcast_dim(spark, sf_dir):
    from de_project_airflow_etl_spark.queries.tpch import (
        tpch_q3_shipping_priority,
    )
    df = tpch_q3_shipping_priority(spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert has_broadcast_join(df), plan


def test_tpch_q19_extracts_equi_join_no_cartesian(spark, sf_dir):
    """The disjunctive predicate spans both sides; the optimizer must
    still use the p_partkey equi-join — a cartesian/BNLJ fallback here
    is the classic Q19 planner failure."""
    from de_project_airflow_etl_spark.queries.tpch import (
        tpch_q19_disjunctive_revenue,
    )
    plan = formatted_plan(tpch_q19_disjunctive_revenue(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_tpch_q5_broadcasts_all_dims(spark, sf_dir):
    """Q5's five joins: every dimension side broadcasts; the only
    exchange-feeding join is orders-lineitem."""
    from de_project_airflow_etl_spark.queries.tpch import (
        tpch_q5_local_supplier_volume,
    )
    plan = formatted_plan(tpch_q5_local_supplier_volume(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_tpch_q21_semi_anti_join_plan(spark, sf_dir):
    """EXISTS/NOT EXISTS must plan as semi/anti joins, not subquery
    re-execution."""
    from de_project_airflow_etl_spark.queries.tpch import (
        tpch_q21_waiting_suppliers,
    )
    plan = formatted_plan(tpch_q21_waiting_suppliers(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_semdedup_pairs_equi_join_never_cartesian(spark, sf_dir):
    """SemDedup's quadratic step must stay an equi-join on the cell id
    (bounded by the largest cluster) — a cartesian fallback would be
    the all-pairs plan the clustering exists to avoid. Assignment must
    be the broadcast-centroid map, not a shuffled join."""
    from de_project_airflow_etl_spark.operators.similarity import (
        semdedup_embedding_clusters,
    )
    df = semdedup_embedding_clusters(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert has_broadcast_join(df), plan


def test_key_skew_profile_single_agg_plus_broadcast_totals(spark, sf_dir):
    """The skew profiler pays ONE fact exchange (the per-key partial
    aggregate); the totals side is a one-row broadcast, never a second
    pass over events."""
    from de_project_airflow_etl_spark.operators.skew import (
        key_skew_profile,
    )
    df = key_skew_profile(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("Scan parquet") <= 2, plan  # events read <= twice
    assert has_broadcast_join(df), plan
    assert "CartesianProduct" not in plan, plan


def test_reservoir_sample_pushes_group_limit_below_sort(spark, sf_dir):
    """The exact-k sampler's rank filter must reach WindowGroupLimit so
    each task keeps k rows per group instead of sorting whole groups."""
    from de_project_airflow_etl_spark.operators.curation import (
        reservoir_sample_per_group,
    )
    plan = formatted_plan(reservoir_sample_per_group(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_rfm_has_no_unpartitioned_ntile_window(spark, sf_dir):
    """The distributed ntile must leave no window over the customer
    dimension without a partition spec: every windowspecdefinition in
    the plan either starts with a partition column list (the per-bucket
    row_number) or belongs to the <=32-row offset prefix-sum (input
    bounded by NTILE_BUCKETS, recognizable by its __bkt ordering)."""
    from de_project_airflow_etl_spark.queries.aggregates_ext import (
        rfm_customer_segments,
    )
    plan = formatted_plan(rfm_customer_segments(spark, sf_dir))
    assert "ntile" not in plan, plan  # engine NTILE window is gone
    import re
    for m in re.finditer(r"row_number\(\) windowspecdefinition\((\w+)#", plan):
        # per-bucket rank windows must partition by the bucket columns
        assert m.group(1) == "__bk", plan[m.start():m.start() + 200]


def test_tpch_q9_joins_all_broadcast_single_agg_exchange(spark, sf_dir):
    """Q9's five-way join must broadcast every dimension side: the
    only exchange in the plan is the final aggregate's — the fact
    table is never shuffled for a join (measured 0.0 MB join shuffle,
    docs/SCALING.md)."""
    from de_project_airflow_etl_spark.queries.tpch import (
        tpch_q9_product_profit,
    )
    df = tpch_q9_product_profit(spark, sf_dir)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert has_broadcast_join(df), plan


def test_tpch_q18_semi_filters_before_join(spark, sf_dir):
    """Q18's large-volume-order filter must reach the plan as a
    semi-join (or aggregate-filter join) on orderkey — never a
    cartesian — and the customer dimension must broadcast."""
    from de_project_airflow_etl_spark.queries.tpch import (
        tpch_q18_large_volume_customers,
    )
    df = tpch_q18_large_volume_customers(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert has_broadcast_join(df), plan


import pytest as _pytest


@_pytest.mark.parametrize("qname", [
    "tpch_q4_order_priority", "tpch_q5_local_supplier_volume",
    "tpch_q7_volume_shipping", "tpch_q8_market_share",
    "tpch_q10_returned_items", "tpch_q12_late_lines_by_status",
    "tpch_q13_customer_distribution", "tpch_q14_promo_effect",
    "tpch_q15_top_supplier", "tpch_q16_part_supplier_counts",
    "tpch_q17_small_quantity_revenue", "tpch_q20_promo_part_suppliers",
])
def test_tpch_suite_never_plans_nested_loop_joins(spark, sf_dir, qname):
    """Blanket join-strategy gate for the rest of the TPC-H suite:
    every join must be hash-based on an extracted equi-condition —
    a CartesianProduct or BroadcastNestedLoopJoin anywhere is the
    quadratic fallback that kills these shapes at scale. (Q3/Q9/Q18/
    Q19/Q21 have dedicated shape gates above.)"""
    from de_project_airflow_etl_spark.registry import all_queries
    plan = formatted_plan(all_queries()[qname].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_tpch_q22_scalar_threshold_is_one_row_broadcast(spark, sf_dir):
    """Q22's only nested-loop join must be the scalar-subquery
    pattern: a cross join whose BUILD side is the broadcast one-row
    avg-balance aggregate — constant-size at any SF. A nested-loop
    with a table on the build side would be the quadratic fallback."""
    from de_project_airflow_etl_spark.registry import all_queries
    plan = formatted_plan(
        all_queries()["tpch_q22_dormant_balances"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # formatted plans print each node in the tree AND the detail list;
    # gate on the tree section only
    tree = plan.split("(1) Scan")[0]
    assert tree.count("BroadcastNestedLoopJoin") <= 1, plan
    # the nested-loop's broadcast build subtree must be an aggregate
    # (one scalar row), never a table scan: in the tree the last
    # BroadcastExchange's child chain contains a HashAggregate
    build = tree.rsplit("BroadcastExchange", 1)[-1]
    assert "HashAggregate" in build, plan


def test_temperature_mix_bounds_rank_and_broadcasts_targets(spark,
                                                            sf_dir):
    """The per-language rank must run as a WindowGroupLimit (constant
    TEMP_BUDGET bound pushed below the sort) and the 5-row target
    table must broadcast — no corpus-sized shuffle beyond the rank."""
    from de_project_airflow_etl_spark.operators.curation import (
        temperature_sampled_language_mix,
    )
    df = temperature_sampled_language_mix(spark, sf_dir)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert has_broadcast_join(df), plan
    assert "CartesianProduct" not in plan, plan


def test_substring_spans_is_inverted_index_shaped(spark, sf_dir):
    """The span-dedup join-back must be an equi-join on the window
    hash (no cartesian), reading documents at most twice (index side
    + probe side, the recompute-over-materialize choice)."""
    from de_project_airflow_etl_spark.operators.dedup import (
        exact_substring_dup_spans,
    )
    plan = formatted_plan(exact_substring_dup_spans(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # formatted plans list each scan twice (tree line + detail block):
    # <= 4 occurrences == at most 2 physical scans of documents
    assert plan.count("Scan parquet") <= 4, plan


def test_pq_adc_search_has_zero_corpus_shuffle(spark, sf_dir):
    """PQ encode + ADC scoring must stay expression-only over one
    corpus scan: no hashpartitioning exchange anywhere (the only
    exchanges are the single-partition 16-row codebook collapse and
    the two one-row broadcasts), top-k as TakeOrderedAndProject."""
    from de_project_airflow_etl_spark.operators.similarity import (
        ann_pq_adc_search,
    )
    plan = formatted_plan(ann_pq_adc_search(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan
