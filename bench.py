#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`value` is the total wall time of the headline set (lower is better).
Each query is fully materialized via a count over its result (collect
would bottleneck on driver transfer for wide results; count forces the
same computation), and is timed as the best of $BENCH_RUNS (default 3)
cold-cache executions — steady-state engine cost with first-run JIT /
codegen compilation excluded (methodology note inside main()).

``--gate`` compares the run against BENCH_BASELINE.json (recorded
under the same best-of-N methodology — see its "note" field) AFTER
printing the JSON line, and exits non-zero if
the total exceeds 2x the baseline or any single query regresses >1.5x —
the in-repo perf-regression bar (VERDICT r1 next-round #6). Machine
load can double local numbers; gate failures on a loaded box should be
re-run before being believed.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from de_project_airflow_etl_spark.registry import all_queries
from de_project_airflow_etl_spark.session import get_spark

# The headline set: one representative per operator family, weighted
# toward the scale-critical paths (agg, fact-fact join, window, dedup
# join, knn). Keys are registry names.
HEADLINE = (
    "pricing_summary",            # multi-agg scan
    "daily_events",               # flagship count-distinct
    "join_multiway_region_revenue",  # 5-way join
    "join_segment_revenue",       # broadcast join + agg
    "window_top3_orders_per_customer",  # ranked window
    "window_running_revenue",     # running frame
    "rollup_quantity",            # multi-dim agg
    "cube_order_priority",        # CUBE grouping-sets agg
    "lateral_top_orders_per_nation",  # correlated top-n subquery
    "variant_json_events",        # semi-structured JSON path extraction
    "dedup_minhash_lsh",          # shingle/LSH dedup
    "dedup_embedding_cosine",     # vector near-dup (LSH-blocked)
    "text_token_stats",           # text map-heavy
    "knn_brute_force",            # vector top-k
    "ann_lsh_search",             # bucketed ANN
    "ann_ivf_search",             # IVF cell-probed ANN
    "asof_join_click_purchase",   # as-of join (union+window plan)
    "sessionize_events",          # session_window aggregation
    "event_value_quantiles",      # per-group sort + interpolation
    "streaming_windowed_counts",  # availableNow stream
    "streaming_stateful_sessions",  # applyInPandasWithState
    "llm_corpus_prep",            # composite: quality -> dedup -> budget
    "contamination_check",        # n-gram inverted-index join vs eval set
    "dedup_clusters",             # iterative connected components
    "merge_upsert_customers",     # MERGE-style full-outer upsert
    "text_tfidf_top_terms",       # two-pass TF-IDF + ranked window
    "gopher_repetition_stats",    # zero-shuffle repetition filter
    "mixture_weighted_sample",    # broadcast-threshold mixture sampling
    "boilerplate_ngram_stats",    # gram inverted-index doc frequency
    "curriculum_global_rank",     # bucketed global ordering
    "tokenize_to_ids",            # vocab broadcast + ordered regroup
    "corpus_release_manifest",    # composite 6-stage release funnel
    "incremental_dedup_new_docs",  # O(batch) incremental dedup screen
    "vocab_oov_stats",            # vocab coverage / OOV aggregation
    "source_quality_scorecard",   # per-source quality rollup
    "dq_expectations",            # data-quality gate over events
    "mad_outlier_events",         # exact-median MAD outlier gate
    "ann_ivf_multiprobe",         # nprobe=3 IVF (recall lever)
    "rolling_7d_distinct_users",  # exploded two-phase distinct WAU
    "semdedup_embedding_clusters",  # cluster-blocked semantic dedup
    "key_skew_profile",           # shuffle-skew reconnaissance
    "reservoir_sample_per_group",  # exact-k deterministic group sample
    "compaction_file_plan",       # small-files compaction planning
    "tpch_q3_shipping_priority",  # 3-way join + top-k
    "tpch_q6_forecast_revenue",   # pure scan-filter-agg
    "tpch_q9_product_profit",     # 5-way join, widest TPC-H shape here
    "tpch_q13_customer_distribution",  # filtered LEFT join histogram
    "tpch_q18_large_volume_customers",  # agg-subquery semi filter
    "tpch_q21_waiting_suppliers",  # EXISTS + NOT EXISTS anti/semi pair
    "exact_substring_dup_spans",   # hashed-window substring dedup
    "temperature_sampled_language_mix",  # alpha=0.5 language resample
    "ann_pq_adc_search",           # product-quantization ADC top-k
    # round-5 additions: promoted analytics + the UDAF surface
    "frequent_item_pairs",         # in-array basket pair generation
    "containment_dup_pairs",       # df-capped containment inverted index
    "corr_matrix_lineitem",        # single-pass sufficient statistics
    "bm25_term_scores",            # checkpoint + WindowGroupLimit top-k
    "winnowing_fingerprints",      # rolling-hash winnowing
    "word_cooccurrence_lift",      # skip-gram PMI/lift, explode-heavy
    "twap_user_values",            # per-user LEAD window + exact decimal
    "embedding_rank_normalize",    # 64 dim-partition exact ranks
    "udaf_weighted_median_brand",  # grouped pandas UDAF over pre-agg
    "udaf_rolling_median_window",  # bounded-frame ArrowWindowPython
    "session_path_counts",         # gap sessionize + in-array paths
    "revenue_pareto_curve",        # bucketed distributed rank + deciles
    "ann_recall_audit",            # single-pass batch recall@k
    "dedup_normalized_text",       # canonical-key hash-aggregate dedup
    # round-6 additions: promoted mining/features representatives +
    # the new surface bank (I/O-surface queries jsonl/statestore are
    # deliberately absent — their wall time is sink/stream setup, not
    # engine cost, and they'd add per-iteration tmp-dir churn)
    "market_basket_rules",         # basket explode + rule cross-ratios
    "survival_retention_curve",    # Kaplan-Meier sequential fold
    "customer_cohort_nrr",         # cohort month-arithmetic rollup
    "lof_bucket_outliers",         # bucket-local density outliers
    "vocab_growth_curve",          # Heaps-law bucketed vocab dynamics
    "dup_cluster_canonical_pick",  # join-back argmax keeper pick
    "event_type_user_jaccard",     # audience-overlap self-join
    "text_keyphrase_rake",         # phrase-island keyphrase extraction
    "cms_user_event_counts",       # count-min sketch build + probe
    "feature_hashing_bow",         # signed hashing-trick featurizer
    "target_encoding_smoothed",    # smoothed categorical encoder
    "rrf_fusion_search",           # dual-ranking reciprocal fusion
    "kcore_dup_graph",             # six simultaneous k-core peels
    "variant_props_explode",       # VARIANT shredding generator
    "xml_order_roundtrip",         # to_xml/from_xml/xpath round trip
    "embedding_dim_variance_rank",  # fixed-point dim variance + rank
    "token_budget_shard_plan",     # hierarchical prefix-sum sharding
    # round-7 additions: promoted surfaces_r7/evaluation representatives,
    # weighted toward the scale-critical paths (joins, windows, explode,
    # recursive iteration, binary mapInPandas); the pure SQL-surface
    # entries (pivot/unpivot/try_*/params) are deliberately absent —
    # sub-100ms literal-bound plans whose wall time is session overhead
    "weekly_cohort_triangle",      # user-keyed cohort rollup + broadcast
    "session_duration_log2_histogram",  # user-partitioned sessionize
    "contrastive_triplet_mining",  # broadcast anchor slice over corpus
    "dedup_method_agreement",      # three hash-keyed canonical-flag joins
    "recursive_dup_reachability",  # recursive CTE over dup chains
    "embedding_rank_normalize_bucketed",  # bucketed distributed rank
    "roc_auc_purchase_value",      # rank AUC over bounded score cells
    "map_retrieval_eval",          # WindowGroupLimit top-k retrieval
    "position_attribution_revenue",  # user-equi-join touch fan-out
    "source_unigram_tv_distance",  # explode-heavy unigram drift
    "theta_sketch_user_overlap",   # bottom-k theta sketch set algebra
    "multimodal_audio_chunk_windows",  # 1-to-N binary mapInPandas
    "markov_removal_effect_attribution",  # 12-iter fixed-point chains
    "siegel_repeated_medians_trend",  # day-pair repeated medians
    "pr_auc_purchase_value",       # descending-threshold AP cells
    # round-8 additions: promoted diagnostics/indicators/surfaces_r8/r9
    # representatives, weighted toward the scale-critical paths (global
    # value-cell ranks, explode-heavy text, retrieval windows, graph
    # joins, hash resampling); the daily-bar indicator family shares
    # one physical shape (window over the checkpointed OHLC rollup), so
    # one representative carries it, and the literal-bound SQL-surface
    # bridges (stack, named windows, FILTER clause) are absent —
    # sub-100ms plans whose wall time is session overhead
    "kruskal_wallis_value_by_type",   # global rank over value cells
    "hellinger_weekend_value_drift",  # bin-table drift distance
    "ndcg_retrieval_eval",            # graded WindowGroupLimit retrieval
    "term_burstiness_vmr",            # explode-heavy per-term moments
    "yules_k_by_source",              # frequency-of-frequencies rollup
    "money_flow_index_daily",         # daily-bar indicator family rep
    "wilcoxon_signed_rank_ampm",      # paired-diff global rank
    "jonckheere_terpstra_value_by_type",  # ordered k-sample pair cells
    "cramer_von_mises_weekend",       # pooled-EDF rank statistic
    "zipf_rank_frequency_table",      # vocab rank-frequency ladder
    "hash_bootstrap_mean_ci",         # 200-replicate hash resample
    "dim_truncation_recall_audit",    # embedding prefix-dim recall
    "readability_indices_by_source",  # syllable-regex text explode
    "resource_allocation_link_pred",  # dup-graph common-neighbor join
    "ild_retrieval_diversity",        # top-k pairwise list diversity
    # round-9 additions: promoted nonparam/assoc/surfaces_r10(b)/
    # robuststats/changepoint/dispersion representatives, weighted
    # toward the scale-critical paths (explode-heavy vocab panels,
    # global value-cell ranks, user-keyed funnels/sessionization,
    # embedding-cluster joins, the applyInArrow + Arrow-UDF python
    # surfaces); jsonl_stream_sink_roundtrip is deliberately absent
    # (sink/stream setup wall time, not engine cost — the recorded
    # I/O-surface rule), davies_bouldin shares its physical shape
    # with simplified_silhouette (one cluster-distance rep carries
    # both), and the literal-bound SQL-surface entries stay out
    "lexical_dominance_panel",        # explode-heavy dominance panel
    "cucconi_location_scale_weekend",  # cell-agg + midrank cumulation
    "funnel_conversion_steps",        # user-keyed ordered funnel
    "session_window_dynamic_gap",     # dynamic-gap sessionization
    "kendalls_w_dow_concordance",     # per-day global rank concordance
    "group_apply_arrow_label_stats",  # applyInArrow grouped python
    "err_retrieval_eval",             # graded cascade retrieval window
    "cross_correlation_revenue_count",  # lagged daily self-join
    "simplified_silhouette_labels",   # embedding-centroid distance join
    "weekly_users_bitmap_rollup",     # exact bitmap distinct rollup
    "edf_two_sample_panel_weekend",   # pooled-EDF two-sample panel
    "nelson_aalen_user_lifetimes",    # hazard cumulation survival
    "token_gini_by_source",           # token Lorenz/Gini cumulation
    "holt_winters_additive_weekly",   # sequential smoothing fold
    "arrow_udf_text_normalize",       # Arrow-optimized scalar UDF
    # round-10 additions: promoted streaming_ext/experimentation/
    # reranking/abdesign/operating_points/attribution/estimators/
    # clustering/population/seqalign representatives, weighted toward
    # the scale-critical paths (df-capped gram indexes, dup-graph BFS,
    # grid-density CC, iterative fixed points, chained stateful
    # streaming, user-keyed sessionization); jsonl/file-sink surfaces
    # stay out per the recorded I/O-surface rule, and the
    # literal-bound SQL surfaces (percentile_cont, JSON family,
    # approx_top_k, sql_udf) stay out as plan-gated light scans
    "streaming_chained_window_rollup",  # chained stateful windows
    "mmr_rerank_retrieval",           # greedy MMR panel fold
    "burrows_delta_sources",          # stylometry z-score panel
    "littles_law_sessions",           # sessionized sweep-line integral
    "cuped_adjusted_lift",            # covariate moment pass
    "decile_lift_table",              # global value-cell decile rank
    "cross_source_ngram_overlap",     # df-capped 5-gram pair index
    "embedding_isotropy_panel",       # quantized second-moment panel
    "shapley_channel_attribution",    # 16-subset touch lattice
    "isotonic_daily_revenue_fit",     # exact minimax interval means
    "harmonic_centrality_dup_graph",  # radius-4 BFS on dup graph
    "dtw_click_purchase_daily",       # nested-fold DP projection
    "dbscan_grid_embedding_clusters",  # dense-cell CC clustering
    "good_turing_chao1_by_source",    # frequency-spectrum panel
    "hits_event_type_authority",      # hub/authority fixed point
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    registry = all_queries()

    # Warm the JVM paths the headline queries exercise — codegen, the
    # vectorized parquet reader, hash-agg/exchange, and the Python
    # worker pool — so the first timed query doesn't absorb one-time
    # JIT/startup cost. Uses the tiny nation table (25 rows).
    warm = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    warm.groupBy("n_regionkey").count().count()
    warm.join(warm.selectExpr("n_nationkey AS k"),
              warm.n_nationkey == F.col("k")).count()
    (warm.select("n_nationkey")
         .groupBy("n_nationkey")
         .applyInPandas(lambda p: p, "n_nationkey bigint")
         .count())
    _warm_streaming(spark)

    # Each query runs BENCH_RUNS times (default 3) and reports the
    # MINIMUM: the first execution of a plan absorbs one-time JVM JIT +
    # whole-stage-codegen compilation, which at test scale can exceed
    # the actual data cost several-fold and varies with ambient load.
    # The min is the steady-state engine cost — the quantity that
    # extrapolates to a long-running cluster. No query caches a
    # relation or keeps one past its own build (its intermediates are
    # checkpoints of that build), so repetition never feeds a query its
    # own materialized state: each run is cold data-wise, warm JIT-wise.
    # Three runs (not two) because the hash-heavy codegen queries
    # (minhash md5 chains) only reach C2-compiled steady state on the
    # third execution — measured best-of-2 overstates them ~1.8x on a
    # loaded box.
    runs = int(os.environ.get("BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    for name in HEADLINE:
        q = registry[name]
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            df.count()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)

    total = round(sum(timings.values()), 4)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({
        "metric": "headline_queries_total_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }))
    # The driver records only the first ~2000 chars of stdout, which
    # truncates the per-query dict at ~55 of the headline entries
    # (VERDICT r9 nit): persist the FULL payload to a round-stamped
    # sidecar the artifact pipeline cannot truncate. Written before
    # gating so a failed gate still records its evidence.
    detail = {
        "metric": "headline_queries_total_wall_sec",
        "value": total, "unit": "sec", "queries": dict(timings),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "runs_per_query": runs,
    }
    # --merge-with <prior_bench.json>: gate on the per-query MIN of
    # this run and a PRIOR run's timings (round-9 adjudication rule:
    # the host has multi-minute degraded windows shorter than one
    # full bench pass, so any single pass can have a contiguous
    # inflated stretch; two separated passes rarely degrade the SAME
    # stretch — per-query best-of-two is the robust gate input).
    # The printed JSON line above is always THIS run, unmerged.
    if "--merge-with" in sys.argv:
        prior_path = sys.argv[sys.argv.index("--merge-with") + 1]
        prior = json.load(open(prior_path))["queries"]
        timings = {n: min(t, prior[n]) if n in prior else t
                   for n, t in timings.items()}
        total = round(sum(timings.values()), 4)
        print(f"gating on per-query min with {prior_path}: "
              f"merged total {total:.3f}s", file=sys.stderr)
        detail["merged_with"] = prior_path
        detail["merged_queries"] = dict(timings)
        detail["merged_value"] = total
    _write_detail(detail)
    if "--gate" in sys.argv:
        baseline_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_BASELINE.json")
        baseline = json.load(open(baseline_path))
        try:
            sf_num = float(sf)
        except ValueError:
            # sf_dir not named sf<number>: no comparable baseline —
            # skip the gate instead of crashing after the results line
            print(f"bench gate skipped: unknown sf {sf!r}",
                  file=sys.stderr)
            return
        if sf_num == baseline["sf"]:
            failures = gate_failures(total, timings,
                                     baseline["value"], baseline["queries"])
            if failures:
                print("BENCH GATE FAILED:\n  " + "\n  ".join(failures),
                      file=sys.stderr)
                sys.exit(1)
            print(f"bench gate OK: {total:.3f}s vs baseline "
                  f"{baseline['value']:.3f}s", file=sys.stderr)


def _write_detail(detail: dict) -> None:
    """Persist the full per-query payload to ``BENCH_DETAIL_r{N}.json``
    next to this script. N comes from ``$BENCH_ROUND`` when set, else
    1 + the highest round among the driver's recorded ``BENCH_r*.json``
    files (the round currently being built)."""
    import re

    root = os.path.dirname(os.path.abspath(__file__))
    rnd = os.environ.get("BENCH_ROUND")
    if rnd is None:
        recorded = [int(m.group(1)) for f in os.listdir(root)
                    if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))]
        rnd = f"{max(recorded, default=0) + 1:02d}"
    path = os.path.join(root, f"BENCH_DETAIL_r{rnd}.json")
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"full per-query timings -> {path}", file=sys.stderr)


#: Baseline entries at or above this many seconds form the
#: machine-factor weight class (55 of the 113 current entries).
HEAVY_BASE_SEC = 0.5
#: Minimum heavy-class size before falling back to the full set.
MIN_HEAVY_N = 9


def machine_factor(timings: dict[str, float],
                   base_queries: dict[str, float]) -> float:
    """How much slower (or faster) THIS box is running than the box
    that recorded the baseline: the MEDIAN per-query ratio over the
    common entries whose BASELINE is >= ``HEAVY_BASE_SEC``. The median
    is robust to real regressions — one or a few genuinely slow
    queries cannot move it on a ~50-query heavy class — while CPU
    throttling / shared tenancy shifts every ratio together and is
    exactly what this measures (observed in round 4: the same commit
    benched 32.5s in the morning and 38.4s in the evening, with
    untouched pure-scan queries at 1.5x their baseline).

    The weight-class restriction (round-9, VERDICT r8): host
    degradation is NOT uniform — shuffle/iteration-heavy queries
    inflate ~2x while sub-second scan-only queries inflate ~1.1x
    (measured round 8: kcore_dup_graph 2.44x and text_tfidf_top_terms
    2.0x vs pricing_summary 1.11x, warm best-of-3 in one session).
    A median over ALL entries is dominated by the many light scans and
    under-corrects exactly the heavy queries the 1.5x per-query bar
    then flags, producing disjoint false-failure sets across runs.
    Computing the median within the heavy class compares like with
    like. Falls back to the full common set when fewer than
    ``MIN_HEAVY_N`` heavy entries overlap (tiny ad-hoc runs).

    Clamped to [1.0, 3.0]: a faster box never loosens the gate, and a
    factor above 3 means the measurement is meaningless, not that a
    4.5x regression should pass."""
    common = [(n, t) for n, t in timings.items() if base_queries.get(n)]
    heavy = [(n, t) for n, t in common
             if base_queries[n] >= HEAVY_BASE_SEC]
    pool = heavy if len(heavy) >= MIN_HEAVY_N else common
    ratios = sorted(t / base_queries[n] for n, t in pool)
    if not ratios:
        return 1.0
    mid = len(ratios) // 2
    med = (ratios[mid] if len(ratios) % 2
           else (ratios[mid - 1] + ratios[mid]) / 2)
    return min(3.0, max(1.0, med))


def gate_failures(total: float, timings: dict[str, float],
                  base_total: float, base_queries: dict[str, float],
                  total_factor: float = 2.0,
                  query_factor: float = 1.5,
                  small_base_sec: float = 0.4,
                  small_query_factor: float = 3.0) -> list[str]:
    """Regression findings vs the recorded baseline (empty == pass).
    Only queries present in both runs are compared; new headline
    queries grow the set without tripping the gate. Thresholds are
    load-normalized by ``machine_factor`` so ambient slowdown of the
    whole box (which inflates every query together) does not read as
    a code regression, while a single slow query still trips.

    Sub-``small_base_sec`` baseline entries use the wider
    ``small_query_factor``: at that magnitude the best-of-N wall time
    is dominated by JVM jitter, not data cost (the same commit measured
    ann_lsh_search at 0.32s and 0.53s within one idle-box hour), so a
    1.5x band is inside noise — while a genuine plan pathology (an
    accidental cartesian, a lost broadcast) overshoots 3x immediately
    and still trips. Plan-shape gates in tests/test_plans.py remain
    the primary regression signal for these small queries."""
    factor = machine_factor(timings, base_queries)
    failures = []
    if factor >= 3.0:
        # the clamp ceiling means the MEDIAN query runs 3x+ slower
        # than baseline: either the box is unusable or a change slowed
        # the shared path (session conf, load()) uniformly — both are
        # states the gate must not silently normalize away.
        failures.append(
            "machine factor saturated at 3.0 — the measurement is "
            "meaningless (box unusable or a uniform shared-path "
            "regression); re-run on an idle box before trusting "
            "any comparison")
    if total > total_factor * factor * base_total:
        failures.append(
            f"total {total:.3f}s > {total_factor}x baseline "
            f"{base_total:.3f}s (machine factor {factor:.2f})")
    for name, t in timings.items():
        base = base_queries.get(name)
        if base is None:
            continue
        qf = query_factor if base >= small_base_sec else small_query_factor
        if t > qf * factor * base:
            failures.append(
                f"{name}: {t:.3f}s > {qf}x baseline {base:.3f}s"
                f" (machine factor {factor:.2f})")
    return failures


def _warm_streaming(spark) -> None:
    """One tiny end-to-end streaming query (file source -> stateful
    python op -> memory sink) so the streaming engine, state store
    provider, and arrow-with-state python runner are initialized before
    any streaming query is timed."""
    import tempfile

    from pyspark.sql.streaming.state import GroupStateTimeout

    def _identity(key, pdfs, state):
        for pdf in pdfs:
            yield pdf[["id"]]

    with tempfile.TemporaryDirectory() as d:
        spark.range(1).write.parquet(os.path.join(d, "warm"))
        stream = (spark.readStream.schema("id bigint")
                       .parquet(os.path.join(d, "warm")))
        q = (stream.groupBy("id")
                   .applyInPandasWithState(
                       _identity, "id bigint", "n bigint",
                       "update", GroupStateTimeout.NoTimeout)
                   .writeStream.format("memory").queryName("warm_stream")
                   .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination()


if __name__ == "__main__":
    main()
