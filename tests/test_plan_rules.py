"""Declared plan rules: one table of query name -> the properties its
physical plan must keep at 100 TB.

``PLAN_RULES`` covers registered and staged queries. Each (query, rule)
pair runs as its own test item; a query is built once for all its
rules, inside ``inspect.recorded_checkpoints``, and walked once
(``inspect.PlanWalk``). The walk steps from each checkpoint's RDD scan
into the plan that checkpoint materialized and from each in-memory
scan into its cached plan, so every rule but ``scans`` also reads the
interior plans a ``localCheckpoint`` runs before the final plan. The
``nested_loops``, ``window_keys`` and ``collects`` rules run for every
registered and staged query, streaming drains included, with or
without a row. The checks live in ``plans/inspect.py``. The rule
vocabulary:

* ``scans: N``: at most N ``Scan parquet`` in the final executed plan.
  A bounded intermediate that feeds two or more consumers is
  localCheckpoint-materialized, so the fact table is scanned once and
  a refactor cannot silently reintroduce per-reference re-scans (a
  registry-wide audit once found tables re-scanned 4-10x, and the PCA
  power iteration's lineage growing exponentially). Data-sized streams
  stay re-derived on purpose; the measured-loss notes live next to the
  code.
* ``windows: "strict"``: every ``WindowExec`` consumes a subtree that
  contains an Aggregate, so an unpartitioned or fixed-key window ranks
  a rollup, never raw rows (the global_row_number lesson).
* ``max_windows: N``: at most N ``WindowExec`` nodes; 0 means the query
  reduces with folds and plain aggregates only.
* ``has_window: True``: at least one ``WindowExec``, so a window rule
  above cannot pass by the window vanishing from the plan.
* ``nested_loops`` (every query; no row needed for the default): no
  ``CartesianProduct``, and every ``BroadcastNestedLoopJoin`` builds a
  one-row global aggregate or a limit-k side (``bnlj_builds_are_scalar``
  is empty), so no join degenerates to data x data.
  ``"justified"``: a build the check cannot size is bounded by design
  (the row's comment says how); the ``CartesianProduct`` check stays,
  and the item fails once the scalar check passes, so a stale
  exception cannot outlive its reason. ``"none"``: neither a
  ``CartesianProduct`` nor a ``BroadcastNestedLoopJoin`` at all.
* ``window_keys`` (every query; takes no value): no window keyed by
  nothing or only by fixed-cardinality columns over raw rows
  (``fixed_key_window_hazards`` is empty), since each such partition
  is data-sized at 100 TB.
* ``collects`` (every query): no collect_list / collect_set keyed by
  nothing or only by fixed-cardinality columns over an unbounded input
  (``unbounded_collects`` is empty), since one aggregation state would
  buffer a data-sized group. ``"justified"``: the collect is bounded by
  a constant the walk cannot see (the row's comment says which); the
  item fails once the check passes.

Checks outside this vocabulary (window partition keys, WindowGroupLimit
pushdown, exact counts, join strategies) stay in the per-subject plan
tests, built on the same ``plans/inspect.py`` helpers.
"""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.plans.inspect import (
    PlanWalk, bnlj_builds_are_scalar, fixed_key_window_hazards,
    recorded_checkpoints, scan_count, unbounded_collects, unbounded_windows,
    window_nodes,
)
from de_project_airflow_etl_spark.registry import all_queries
from de_project_airflow_etl_spark.staged import STAGED

PLAN_RULES: dict[str, dict] = {
    # ----------------------------------------------- operators/corpus_stats.py
    # gram-keyed equi-joins end to end
    "boilerplate_ngram_stats": {"nested_loops": "none"},
    # ------------------------------------------------ operators/dedup.py
    # was 6, then 2 (cutoff + verified pairs checkpointed). The cutoff
    # is now extracted as driver-side metadata so the batch boundary
    # is a LITERAL predicate: doc_id pushes to the parquet scans and
    # no BroadcastNestedLoopJoin remains. 4 = the 2 real doc scans
    # (both boundary-pruned now) + 2 doc_id-only bloom-builder scans
    # Spark's InjectRuntimeFilter adds to pre-filter the pairs side —
    # thin, pushed-down, and map-side profitable at scale.
    "incremental_dedup_new_docs": {"scans": 4},
    # keeps its data-sized stream re-derived on purpose (measured loss
    # to materialize); the budget pins the CURRENT shape so it can't
    # silently worsen
    "dedup_ngram_jaccard": {"scans": 4},  # was 8: per-doc counts checkpointed
    # documents read at most twice (index side + probe side, the
    # recompute-over-materialize choice); the join-back is an
    # equi-join on the window hash (the default nested_loops rule)
    "exact_substring_dup_spans": {"scans": 2},
    # LSH blocking makes the pair search an equi-join on the bucket
    # key; a cross join over the corpus would be O(n^2)
    "dedup_embedding_cosine": {"nested_loops": "none"},
    # blocking makes pair generation an equi-join on the block key; a
    # nested loop over names is the quadratic record-linkage pattern
    "fuzzy_name_match_pairs": {"nested_loops": "none"},
    # ------------------------------------------- operators/similarity.py
    # broadcasts the one-row probe embedding (vec_id = 0 filter); the
    # check cannot classify a filter as scalar, but the build is a
    # single row by key uniqueness
    "knn_brute_force": {"nested_loops": "justified"},
    # broadcasts the one-row vec_id = 0 probe embedding, as
    # knn_brute_force
    "knn_per_label": {"nested_loops": "justified"},
    # broadcasts the one-row vec_id = 0 query embedding (a key filter,
    # one row by key uniqueness); the codebook seeds are a global
    # aggregate the check already accepts. It collects the
    # vec_id < PQ_K codebook-seed slice, bounded by the PQ_K constant
    # in the filter, which the subtree walk cannot see.
    "ann_pq_adc_search": {"nested_loops": "justified",
                          "collects": "justified"},
    # the checkpointed centroid array is a global aggregate the walk
    # sees; the probe-list site broadcasts the vec_id = 0 query's
    # probe cells, one row by key uniqueness, built by a nested-loop
    # join the check cannot read as one row
    "ann_ivf_multiprobe": {"nested_loops": "justified"},
    # broadcasts the explicit vec_id % 100 evaluation query sample onto
    # the corpus — the knn_classifier_accuracy evaluation-sample class
    "ann_recall_audit": {"nested_loops": "justified"},
    # broadcasts the per-label centroid aggregate (one row per label,
    # a fixed-cardinality key) onto the corpus; grouped, so the check
    # does not read it as one row
    "centroid_assignment_margin": {"nested_loops": "justified"},
    "embedding_pca_power_iter": {"scans": 2},  # was 10: exponential v lineage
    # ------------------------------------------------- operators/skew.py
    # one events pass: the totals side is a one-row broadcast
    "key_skew_profile": {"scans": 1},
    # ------------------------------------------------- queries/abdesign.py
    # one map-side-combinable aggregate each (the no-join half of the
    # check lives in tests/test_plans_r12b.py)
    "difference_in_differences_arms": {"max_windows": 0},
    "fleiss_kappa_quality_rules": {"max_windows": 0},
    "power_mde_event_value": {"max_windows": 0},
    # ------------------------------------------------ queries/analytics.py
    # one md5 k-gram pass, no join-back
    "winnowing_fingerprints": {"nested_loops": "none"},
    # pairs are emitted in-array per order basket, and the brand
    # join-backs are equi-joins on the brand code
    "frequent_item_pairs": {"nested_loops": "none"},
    # keeps its data-sized stream re-derived on purpose (measured loss
    # to materialize); the budget pins the CURRENT shape so it can't
    # silently worsen. Pairs come from the gram -> doc index
    # equi-join.
    "containment_dup_pairs": {"scans": 5, "nested_loops": "none"},
    "funnel_conversion_latency": {"scans": 0},  # was 6: c_ts carried, histogram ckpt
    # inside the scored checkpoint the corpus crosses the literal
    # BM25_TERMS list (createDataFrame: an RDD scan the check cannot
    # size), a constant-size build
    "bm25_term_scores": {"nested_loops": "justified"},
    # ---------------------------------------------------- queries/assoc.py
    # the in-array idiom replaces windows (max_windows 0); bowker's
    # per-user lag and ERR's rank limit are checked in test_plans_r9c.py
    "benford_first_digit_value": {"scans": 1, "max_windows": 0},
    "bowker_symmetry_event_transitions": {"scans": 1},
    "cmh_weekend_purchase_weeks": {"scans": 1, "max_windows": 0},
    "cochran_armitage_dow_trend": {"scans": 1, "max_windows": 0},
    "cross_correlation_revenue_count": {"scans": 1, "max_windows": 0},
    # round-9c ERR reuses the identical fixed 20-vector panel
    # broadcast (same _spark_topk_rel helper as ndcg/mrr/ild)
    "err_retrieval_eval": {  # corpus + broadcast panel
        "scans": 2, "nested_loops": "justified"},
    "funnel_conversion_steps": {"scans": 1, "max_windows": 0},
    "lexical_dominance_panel": {"scans": 1, "max_windows": 0},
    "ljung_box_daily_revenue": {"scans": 1, "max_windows": 0},
    "ordinal_association_dow_band": {"scans": 1, "max_windows": 0},
    "pinball_loss_quantile_forecast": {"scans": 1, "max_windows": 0},
    "smape_daily_forecasts": {"scans": 1, "max_windows": 0},
    # ---------------------------------------------- queries/attribution.py
    "bh_step_up_drift_panel": {"scans": 0},  # 5-row panel checkpointed
    # the user-pair grid crosses the user set with the 5-row literal
    # event-type dim (createDataFrame: an RDD scan the check cannot
    # size), inside the 25-cell matrix checkpoint
    "bradley_terry_event_strengths": {  # 25-cell matrix checkpointed
        "scans": 0, "nested_loops": "justified"},
    "dtw_click_purchase_daily": {"scans": 0},  # 1-row array panel checkpointed
    "harmonic_centrality_dup_graph": {"scans": 0},  # edges + frontiers checkpointed
    # round-15 isotonic builds the (j,d,k) triple panel by range
    # joins over the <=31-row checkpointed daily/prefix panel — the
    # theil_sen day-pair machinery, calendar-bounded
    "isotonic_daily_revenue_fit": {  # daily prefix panel checkpointed
        "scans": 0, "nested_loops": "justified"},
    # round-15 Shapley runs bitwise-containment joins over the
    # CONSTANT 16-subset lattice x the <=16-row mask histogram (inside
    # the subset-value checkpoint) and the 4-row literal channel panel
    # x the checkpointed 16 subset values (the final plan) — every side
    # bounded by construction, never data-sized
    "shapley_channel_attribution": {  # mask histogram checkpointed
        "scans": 0, "nested_loops": "justified"},
    "split_conformal_value_interval": {"scans": 1},  # test half reads the corpus
    # ---------------------------------------------- queries/changepoint.py
    # windows run over daily / spectrum tables or their checkpoints
    "cox_stuart_trend_daily": {"scans": 1, "windows": "strict"},
    "dixon_q_daily_extremes": {"scans": 1, "windows": "strict"},
    "nelson_aalen_user_lifetimes": {  # risk table ckpt'd
        "scans": 0, "windows": "strict"},
    "pettitt_changepoint_daily": {"scans": 1, "windows": "strict"},
    "token_gini_by_source": {  # frequency spectrum ckpt'd
        "scans": 0, "windows": "strict"},
    "turning_points_daily": {"scans": 1, "windows": "strict"},
    # ----------------------------------------------- queries/clustering.py
    # the dense-cell checkpoint crosses the cells with the 8 constant
    # neighbour offsets (createDataFrame: an RDD scan the check cannot
    # size)
    "dbscan_grid_embedding_clusters": {  # dense cells checkpointed
        "scans": 0, "max_windows": 0, "nested_loops": "justified"},
    "hits_event_type_authority": {"scans": 0},  # (user, type) checkpointed
    # round-17 quantile normalization crosses the 20-row source panel
    # with the value-domain-bounded pooled-cell cumulation (~520
    # rows) — the closed-form rank mapping's panel product, both
    # sides checkpointed aggregates
    "quantile_normalize_source_chars": {  # char cells checkpointed
        "scans": 0, "nested_loops": "justified"},
    # ---------------------------------------------- queries/diagnostics.py
    # indicator windows run over the daily bars or distinct-value counts;
    # the fold statistics reduce with array folds (max_windows 0)
    "atr_daily_value_range": {
        "scans": 1, "windows": "strict", "has_window": True},
    "brier_calibration_purchase": {"scans": 1, "max_windows": 0},
    # the two wknd windows of the medians checkpoint rank an aggregate
    "brown_forsythe_weekend_value": {  # medians checkpointed
        "scans": 1, "max_windows": 2},
    "cochrans_q_quality_rules": {"scans": 1, "max_windows": 0},
    "durbin_watson_trend_residuals": {"scans": 1, "max_windows": 0},
    "hellinger_weekend_value_drift": {  # bin table checkpointed
        "scans": 0, "max_windows": 0},
    "jarque_bera_daily_revenue": {"scans": 1, "max_windows": 0},
    "kruskal_wallis_value_by_type": {  # (type, cents) checkpointed
        "scans": 0, "windows": "strict", "has_window": True},
    "mann_kendall_daily_trend": {  # daily table checkpointed
        "scans": 0, "max_windows": 0},
    # the round-8 graded-retrieval pair broadcasts the FIXED 20-vector
    # evaluation panel onto one corpus scan with a self-exclusion
    # inequality (offset panel, vec_id < 510) — the documented
    # 'broadcast the query set, never shuffle the corpus' shape (same
    # as map_retrieval_eval in the promoted round-7 bank)
    "mrr_retrieval_eval": {  # corpus + panel
        "scans": 2, "nested_loops": "justified"},
    "ndcg_retrieval_eval": {  # corpus + panel + label counts
        "scans": 3, "nested_loops": "justified"},
    "obv_daily_value_flow": {
        "scans": 1, "windows": "strict", "has_window": True},
    "stochastic_oscillator_daily": {
        "scans": 1, "windows": "strict", "has_window": True},
    "term_burstiness_vmr": {"scans": 2},  # td scan + 1-row corpus count
    "yules_k_by_source": {"scans": 1},
    # ----------------------------------------------- queries/dispersion.py
    # quantile windows rank the bounded (type, cents) cell tables
    "gini_mean_difference_value": {"windows": "strict"},
    "mode_value_by_type": {"windows": "strict"},
    "trimean_midhinge_by_type": {"windows": "strict"},
    # ----------------------------------------------- queries/estimators.py
    "group_sequential_ab_readout": {"scans": 0},  # 5-look cells checkpointed
    "huber_mean_event_value": {"scans": 0},  # cents cells checkpointed
    "james_stein_type_means": {"scans": 0},  # 5-row moments checkpointed
    "ordinal_pattern_census_daily": {"scans": 0},  # daily panel checkpointed
    "wasserstein_weekend_value": {"scans": 0},  # cents cells checkpointed
    # ----------------------------------------------- queries/evaluation.py
    # the purchase-touch fan-out rides the user_id equi-join
    "position_attribution_revenue": {"nested_loops": "none"},
    # broadcasts the FIXED 20-vector evaluation panel onto one corpus
    # scan with a self-exclusion inequality — same shape, and the
    # panel is constant-size by construction (vec_id < 500 gate)
    "map_retrieval_eval": {"nested_loops": "justified"},
    # relations feeding several consumers (the tv-distance source-word
    # aggregate, the inverse-prob vocab, the sketch heads) are
    # checkpointed
    "seasonal_naive_mase": {"scans": 0},
    "source_unigram_tv_distance": {"scans": 0},
    "theta_sketch_user_overlap": {"scans": 1},
    "unigram_inverse_prob_by_source": {"scans": 1},
    # sorted folds and single map-side-combinable aggregates, never an
    # ordered running-sum window (the no-join half of the single-pass
    # checks lives in tests/test_plans_r7b.py)
    "anova_event_type_value": {"max_windows": 0},
    "group_by_all_weekday_mix": {"max_windows": 0},
    "ols_two_feature_price": {"max_windows": 0},
    "welch_t_test_weekend_value": {"max_windows": 0},
    # unpartitioned cumulations / frames over bounded aggregates: the
    # integer-cents score distribution (roc_auc), the contingency table
    # (Cramér's V margins), the daily rollup (Bollinger)
    "bollinger_daily_revenue": {"windows": "strict", "has_window": True},
    "cramers_v_event_dow": {"windows": "strict", "has_window": True},
    "roc_auc_purchase_value": {"windows": "strict", "has_window": True},
    # -------------------------------------------- queries/experimentation.py
    "burrows_delta_sources": {"scans": 0},  # (source, term) counts ckpt'd
    "crostons_intermittent_demand": {  # lineitem + broadcast part dim
        "scans": 2, "windows": "strict"},
    "cuped_adjusted_lift": {"scans": 1},  # per-user table ckpt'd; d0 scan
    "littles_law_sessions": {"scans": 1},  # session table ckpt'd; horizon
    "sample_ratio_mismatch_check": {"scans": 1},
    # ------------------------------------------------- queries/features.py
    # all-pairs exact-Jaccard ground truth on the audit slice
    # doc_id < LSH_AUDIT_DOCS (1000): at most 499,500 pairs at any
    # scale; the production path in the same query stays the banded
    # equi-join
    "lsh_dedup_recall_audit": {"nested_loops": "justified"},
    # broadcasts the fixed ~4% anchor id-slice onto the corpus with a
    # label-inequality predicate — the documented 'broadcast the query
    # set, never shuffle the corpus' sampling shape
    "negative_sampling_pairs": {"nested_loops": "justified"},
    # power iteration runs over the checkpointed transition relation:
    # no events scan per iteration
    "markov_stationary_event_mix": {"scans": 0},
    # kendall_tau_rankings and rrf_fusion_search score the corpus
    # against the vec_id = 1 probe row inside their checkpoint: a
    # broadcast of one row by key uniqueness, as knn_brute_force
    "kendall_tau_rankings": {"nested_loops": "justified"},
    "rrf_fusion_search": {"nested_loops": "justified"},
    # day-pair self-join (b.x > a.x) over the daily rollup, inside the
    # pairs checkpoint: both sides calendar-bounded, quadratic in days
    # not data; the final plan broadcasts the median rows, one row each
    # by the rank = (n + 1) div 2 equi-join, onto the daily rollup
    "theil_sen_daily_trend": {  # was 10: daily + pairs both bounded
        "scans": 0, "nested_loops": "justified"},
    # ----------------------------------------------- queries/governance.py
    "dp_sensitivity_audit": {"scans": 1},
    "sql_udf_band_rollup": {"scans": 1},
    # ----------------------------------------------- queries/indicators.py
    # windows run over the daily bars or checkpointed reduced tables
    "accum_dist_daily_flow": {"scans": 1, "windows": "strict"},
    "aroon_daily_value": {"scans": 1, "windows": "strict"},
    "chande_momentum_daily": {"scans": 1, "windows": "strict"},
    "cramer_von_mises_weekend": {  # distinct-cents table ckpt'd
        "scans": 0, "windows": "strict"},
    "donchian_channel_daily": {"scans": 1, "windows": "strict"},
    "friedman_dow_value_ranks": {  # (week, dow) table ckpt'd
        "scans": 0, "windows": "strict"},
    "jonckheere_terpstra_value_by_type": {  # (type, cents) ckpt'd
        "scans": 0, "windows": "strict"},
    "money_flow_index_daily": {"scans": 1, "windows": "strict"},
    "mood_median_test_event_type": {  # median + group table ckpt'd
        "scans": 0, "windows": "strict"},
    "per_class_f1_length_rules": {  # 3x3 cell table ckpt'd
        "scans": 0, "windows": "strict"},
    "sign_test_daily_updown": {"scans": 1, "windows": "strict"},
    "wilcoxon_signed_rank_ampm": {"scans": 1, "windows": "strict"},
    "williams_r_daily": {"scans": 1, "windows": "strict"},
    # -------------------------------------------------------- queries/joins.py
    # region x region cross join: the 5-row region dim on both sides
    "join_cross_region_pairs": {"nested_loops": "justified"},
    # range join against the 3-row literal band table
    # (createDataFrame: an RDD scan the check cannot size)
    "join_range_price_bands": {"nested_loops": "justified"},
    # --------------------------------------------------- queries/mining.py
    # the keeper argmax joins back on the md5 key
    "dup_cluster_canonical_pick": {"nested_loops": "none"},
    # explicit vec_id % 50 evaluation sample, broadcast by design —
    # this is the documented brute-force eval baseline; the ann_*
    # family is the scale path (same split as knn_brute_force vs
    # ann_ivf_search in the registry)
    "knn_classifier_accuracy": {"nested_loops": "justified"},
    # month-end calendar spine: GROUP BY month => calendar-bounded
    "orders_backlog_monthend": {"nested_loops": "justified"},
    "label_separation_scores": {"scans": 2},  # was 7: moment + centroid tables
    "market_basket_rules": {"scans": 0},  # was 8: baskets + item supports
    # unpartitioned statistics windows over the calendar-bounded daily
    # rollup (the pruned orders scan is checked in tests/test_plans_r6.py)
    "autocorr_daily_revenue": {"windows": "strict", "has_window": True},
    "ks_statistic_daily_value": {"windows": "strict", "has_window": True},
    "mann_whitney_daily_value": {"windows": "strict", "has_window": True},
    "rsi_daily_revenue": {"windows": "strict", "has_window": True},
    "spearman_daily_price_volume": {"windows": "strict", "has_window": True},
    # bucket sizes are an aggregate + broadcast join-back, never a
    # window over the fixed 2^LOF_BITS bucket space; the one window is
    # the p_vec kNN rank inside the knn checkpoint
    "lof_bucket_outliers": {"max_windows": 1},
    # -------------------------------------------------- queries/nonparam.py
    # the per-weekday pair join consumes the checkpointed daily rollup
    "seasonal_mann_kendall_dow": {"scans": 0},
    # ------------------------------------------ queries/operating_points.py
    # max_windows 0: panels reduce in arrays and plain aggregates
    "actuarial_life_table": {"scans": 0},  # interval cells checkpointed
    "cronbachs_alpha_quality_rules": {"scans": 1, "max_windows": 0},
    "cross_source_ngram_overlap": {  # gram set checkpointed
        "scans": 0, "max_windows": 0},
    # round-14 lift table broadcasts the LITERAL 10-row decile spine
    # and a 1-row totals panel onto the value-cell spans — both builds
    # constant-bounded by construction
    "decile_lift_table": {  # (cents, p) cells checkpointed
        "scans": 0, "nested_loops": "justified"},
    # r11: the data-sized quantized-explode checkpoint was REMOVED
    # (measured-loss materialization class) — qq now rides the single
    # 64-group dim aggregate and n is a column-pruned count, so the
    # final plan legitimately holds exactly 2 parquet scans (the one
    # heavy explode pass + the count-only scan); 3+ would mean the
    # explode re-executes for a second consumer again
    "embedding_isotropy_panel": {"scans": 2, "max_windows": 0},
    "haberman_adjusted_residuals": {  # 35-cell table checkpointed
        "scans": 0, "max_windows": 0},
    "vocab_coverage_curve": {"scans": 0},  # vocab tf table checkpointed
    "youden_j_optimal_threshold": {"scans": 0},  # cents cells checkpointed
    # ------------------------------------------------ queries/population.py
    "capture_recapture_user_weeks": {"scans": 2},  # capture pass + min-date panel
    # tf aggregate feeds one panel aggregate — a single corpus scan
    "good_turing_chao1_by_source": {"scans": 1},
    "ipf_raking_purchase_mix": {"scans": 0},  # 35-cell panel checkpointed
    # ------------------------------------------------- queries/reranking.py
    # round-12c MMR broadcasts the same fixed 20-anchor panel onto
    # one corpus scan (self-exclusion inequality)
    "mmr_rerank_retrieval": {  # corpus + anchor slice
        "scans": 2, "nested_loops": "justified"},
    # ---------------------------------------------------- queries/robust.py
    # weekend x weekday day-pair join over the calendar-bounded daily
    # rollup (<= 366^2/4 pairs at any corpus size) plus the
    # median-row broadcast — the theil_sen day-pair precedent
    "hodges_lehmann_weekend_shift": {"nested_loops": "justified"},
    # day-pair self-join (b.x <> a.x) over the daily rollup, plus the
    # one-row median filters broadcast back over calendar-bounded
    # relations — same precedent
    "siegel_repeated_medians_trend": {"nested_loops": "justified"},
    # after 12 fixed-point iterations the Markov plan consumes
    # checkpoints only (scans 0). Nested loops: scenario panel x
    # transition matrix inside the fold checkpoint, and the final
    # plan's crosses of the per-scenario panels: all vocabulary-bounded
    # ((|types|+1) x (|types|+2)^2 rows) by construction, and the
    # one-row full-chain probability broadcast is a filter the
    # detector cannot classify as scalar
    "markov_removal_effect_attribution": {
        "scans": 0, "nested_loops": "justified"},
    # one map-side-combinable aggregate each (no joins: test_plans_robust)
    "cohens_d_weekend_value": {"max_windows": 0},
    "matthews_corr_quality_rules": {"max_windows": 0},
    # unpartitioned cumulation over the bounded score-cell table
    "pr_auc_purchase_value": {"windows": "strict", "has_window": True},
    # ----------------------------------------------- queries/robuststats.py
    # in-array statistics plan no window; the two cell-cumulation
    # queries keep their window count, each window over a cell table
    "edf_two_sample_panel_weekend": {  # cents cells checkpointed
        "scans": 0, "max_windows": 1},
    "grubbs_max_deviation_daily": {  # daily table checkpointed
        "scans": 0, "max_windows": 0},
    "partial_corr_revenue_count_dow": {"scans": 1, "max_windows": 0},
    "seasonal_strength_weekly": {"scans": 1, "max_windows": 0},
    "winsorized_mean_value": {  # cents cells checkpointed
        "scans": 0, "max_windows": 2},
    # -------------------------------------------------- queries/seqalign.py
    "negative_binomial_user_counts": {"scans": 1},
    # week pass + the un-checkpointed one-row min-date panel
    "nw_alignment_week_type_seqs": {"scans": 2},
    # ---------------------------------------------- queries/sql_surfaces.py
    "approx_top_k_event_types": {"scans": 1},
    "json_function_family_events": {"scans": 1},
    "percentile_cont_within_group_quartiles": {"scans": 1},
    # ---------------------------------------------- queries/surfaces_r10.py
    # jsonl_stream_sink_roundtrip deliberately has NO scan budget: its
    # plan is a read-back of the files the streaming sink just committed.
    # rank windows run over checkpointed distinct-cents / (week, dow)
    # tables; the panel queries window only above the centroid rebuild
    "ansari_bradley_weekend_value": {  # distinct-cents ckpt'd
        "scans": 0, "windows": "strict", "has_window": True},
    "cliffs_delta_weekend": {  # distinct-cents table ckpt'd
        "scans": 0, "windows": "strict", "has_window": True},
    # scatter table ckpt'd; the final pair math rebuilds the panel
    "davies_bouldin_labels": {"scans": 1, "windows": "strict"},
    "mattr_lexical_diversity_by_source": {"scans": 1, "windows": "strict"},
    "quade_test_dow": {  # (week, dow) table ckpt'd
        "scans": 0, "windows": "strict", "has_window": True},
    # corpus pass + the panel's scalar-aggregate build
    "simplified_silhouette_labels": {"scans": 2, "windows": "strict"},
    "smog_fog_readability_by_source": {"scans": 1, "windows": "strict"},
    # --------------------------------------------- queries/surfaces_r10b.py
    # the disc-band windows rank the (type, cents) cell aggregate
    "percentile_disc_bands_by_type": {"windows": "strict", "has_window": True},
    # ----------------------------------------------- queries/surfaces_r6.py
    # the unpartitioned rank runs over the 64-row per-dimension aggregate
    "embedding_dim_variance_rank": {"windows": "strict", "has_window": True},
    # ----------------------------------------------- queries/surfaces_r7.py
    # hardest-pos/neg picks are max_by/min_by aggregates, not a rank
    # broadcasts the fixed ~4% anchor id-slice onto the corpus with an
    # id-inequality predicate — the documented 'broadcast the query
    # set, never shuffle the corpus' shape (same as
    # negative_sampling_pairs in the round-6 bank)
    "contrastive_triplet_mining": {
        "max_windows": 0, "nested_loops": "justified"},
    # the recursive CTE folds into one aggregate
    "recursive_dup_reachability": {"max_windows": 0},
    # ----------------------------------------------- queries/surfaces_r8.py
    # round-8c truncation audit broadcasts the same fixed 20-vector
    # panel onto two corpus scans (full-dim and prefix-dim cosines)
    "dim_truncation_recall_audit": {"nested_loops": "justified"},
    # cumulation and lag windows over the (type, cents) cell table and
    # the (brand, band) demand aggregate
    "arc_price_elasticity_brand": {"windows": "strict", "has_window": True},
    "bowley_skewness_by_type": {"windows": "strict", "has_window": True},
    # ---------------------------------------------- queries/surfaces_r9.py
    # windows run over the daily / (week, dow) aggregates or checkpoints
    "ece_calibration_purchase": {"scans": 0},  # 10-row bin table ckpt'd
    "filter_clause_weekday_mix": {"scans": 1},
    # round-9 intra-list diversity reuses the identical fixed
    # 20-vector panel broadcast (same _spark_topk_rel helper)
    "ild_retrieval_diversity": {  # corpus + panel + join-back
        "scans": 3, "nested_loops": "justified"},
    "named_window_daily_stats": {
        "scans": 1, "windows": "strict", "has_window": True},
    "pages_trend_test_dow": {  # (week, dow) table ckpt'd
        "scans": 0, "windows": "strict", "has_window": True},
    "readability_indices_by_source": {"scans": 1},
    "rescaled_range_daily": {"scans": 1},
    "resource_allocation_link_pred": {"scans": 0},  # verified pairs + und ckpt'd
    "runs_test_daily_updown": {
        "scans": 1, "windows": "strict", "has_window": True},
    "theil_u_daily_forecasts": {
        "scans": 1, "windows": "strict", "has_window": True},
    # --------------------------------------------------- queries/timeseries.py
    # union + one hash exchange + window, never a range/theta join
    "asof_join_click_purchase": {"nested_loops": "none"},
    # equi-join on o_custkey with the date overlap as a post-join
    # residual; a range-only join would be quadratic in table size
    "interval_overlap_orders": {"nested_loops": "none"},
    # --------------------------------------------------------- queries/tpch.py
    # every join hash-based on an extracted equi-condition: a
    # CartesianProduct or BroadcastNestedLoopJoin is the quadratic
    # fallback that kills these shapes at scale (Q22 keeps its own
    # shape test in tests/test_plans.py). Q19's disjunctive predicate
    # spans both sides, and the p_partkey equi-join must still be
    # extracted from it.
    "tpch_q4_order_priority": {"nested_loops": "none"},
    "tpch_q5_local_supplier_volume": {"nested_loops": "none"},
    "tpch_q7_volume_shipping": {"nested_loops": "none"},
    "tpch_q8_market_share": {"nested_loops": "none"},
    "tpch_q10_returned_items": {"nested_loops": "none"},
    "tpch_q12_late_lines_by_status": {"nested_loops": "none"},
    "tpch_q13_customer_distribution": {"nested_loops": "none"},
    "tpch_q14_promo_effect": {"nested_loops": "none"},
    "tpch_q15_top_supplier": {"nested_loops": "none"},
    "tpch_q16_part_supplier_counts": {"nested_loops": "none"},
    "tpch_q17_small_quantity_revenue": {"nested_loops": "none"},
    "tpch_q18_large_volume_customers": {"nested_loops": "none"},
    "tpch_q19_disjunctive_revenue": {"nested_loops": "none"},
    "tpch_q20_promo_part_suppliers": {"nested_loops": "none"},
    # -------------------------------------------- staged/round21-24.py
    "wald_wolfowitz_runs_daily": {"scans": 0},  # daily checkpointed
    "mood_scale_test_weekend": {"scans": 0},  # cells checkpointed
    "energy_distance_weekend": {"scans": 1},  # single-consumer chain
    # round-21 Hoeffding D computes the bivariate rank Q_i by an
    # x_j < x_i inequality join of the CALENDAR-bounded daily rollup
    # with itself (<= days^2 pairs — the theil_sen day-pair
    # machinery); the build is the checkpointed daily aggregate,
    # grouped by day, so the check does not read it as one row
    "hoeffding_d_daily": {  # daily checkpointed
        "scans": 0, "nested_loops": "justified"},
    "page_l_trend_dow": {"scans": 0},  # daily checkpointed
    # round-22 sample entropy compares 2/3-day templates pairwise
    # over the same CALENDAR-bounded daily rollup (x < xi
    # inequality, <= days^2/2 pairs), build = the checkpointed
    # 3-column template panel
    "sample_entropy_matches_daily": {  # daily + templates ckpt
        "scans": 0, "nested_loops": "justified"},
    # the pairs checkpoint crosses the CALENDAR-bounded daily panel
    # with itself (<= days^2 pairs — the theil_sen day-pair machinery)
    "distance_correlation_daily": {  # daily/pairs/rowsums ckpt
        "scans": 0, "nested_loops": "justified"},
    "stratified_split_manifest": {"scans": 1},  # one pass by construction
    "chi2_divergence_source_unigrams": {"scans": 0},  # tf checkpointed
    "textrank_keyphrases": {"scans": 0},  # iteration state ckpt
    "lz78_event_sequence_complexity": {"scans": 1},  # one pass by construction
    "brunner_munzel_weekend": {"scans": 0},  # cells checkpointed
    "cochrans_q_weekly_purchase": {"scans": 0},  # daily + user-week ckpt
    "bartels_rank_von_neumann_daily": {"scans": 1},  # single-consumer chain
    # ------------------------------------------------- staged/round25.py
    # the pair path derives the shingle stream ONCE (in-array pair
    # emission; the per-doc counts are checkpointed): 2 parquet scans,
    # never the 8 of the self-join form
    "dedup_token_id_shingles": {"scans": 2},
    # round-25 RAG-chunk eval broadcasts the <=20-row anchor-chunk
    # panel (doc_id % 25 = 0 AND doc_id < 500 AND chunk_idx = 0) onto
    # one chunk-expanded corpus scan with a self-exclusion inequality
    # — the same map_retrieval_eval panel shape; the targeted gate in
    # tests/test_staged_r25.py pins scans <= 2 + WindowGroupLimit
    "rag_chunk_retrieval_eval": {"scans": 2, "nested_loops": "justified"},
    # -------------------------------------------- staged/round27-34.py
    # round 27
    "fligner_policello_weekend": {"scans": 1},  # single-consumer chain
    # round-27 Dunn post-hoc self-joins the VOCABULARY-bounded 5-row
    # per-type rank-sum panel on a type_a < type_b inequality — the
    # C(5,2) pair grid, both sides aggregates over checkpointed cells
    "dunn_posthoc_value_by_type": {  # gv cells checkpointed
        "scans": 0, "nested_loops": "justified"},
    "stuart_maxwell_event_transitions": {"scans": 1},  # single pass
    # round-27 weighted kappa crosses the two 4-row band-marginal
    # aggregates (the FIXED 4x4 expected-disagreement grid) — both
    # sides bounded by the band construction
    "weighted_kappa_ordinal_bands": {  # 16-cell panel checkpointed
        "scans": 0, "nested_loops": "justified"},
    # round 28 (daily seq panel checkpointed in all five)
    "breusch_pagan_daily_trend": {"scans": 0},
    "chow_break_test_daily": {"scans": 0},
    "ols_influence_diagnostics_daily": {"scans": 0},
    "kpss_level_stationarity_daily": {"scans": 0},
    "variance_ratio_daily_revenue": {"scans": 0},
    # round 29 (shared pairs relation is the materialized
    # localCheckpoint; modularity re-reads the 2-column documents
    # label projection once per join side)
    "dup_graph_source_modularity": {"scans": 3},
    "degree_assortativity_dup_graph": {"scans": 0},
    "label_propagation_dup_graph": {"scans": 0},  # per-round state checkpointed
    "dup_graph_transitivity": {"scans": 0},
    # round 30
    # the scored checkpoint broadcasts the vec_id = 1 probe row, one
    # row by key uniqueness, as knn_brute_force
    "rbo_ranking_overlap": {  # scored (vec,cos,l2) ckpt
        "scans": 0, "nested_loops": "justified"},
    # round-30 RBP broadcasts the same FIXED 20-anchor panel as
    # map_retrieval_eval / ndcg / mrr onto one corpus scan with the
    # self-exclusion inequality (vec_id % 25 = 0 AND vec_id < 500)
    "rbp_retrieval_eval": {  # corpus scan + anchor panel
        "scans": 2, "nested_loops": "justified"},
    # round 31
    "diebold_mariano_forecasts": {"scans": 0},
    "rmst_user_lifetimes": {"scans": 0},  # user rollup checkpointed
    "periodogram_weekly_power": {"scans": 0},
    # round 32
    "doubly_robust_offpolicy_value": {"scans": 0},  # user rollup checkpointed
    "epsilon_greedy_replay_regret": {"scans": 0},  # daily rollup checkpointed
    # round 33
    "gehan_wilcoxon_ab_arms": {"scans": 0},  # lifetime cells checkpointed
    "icc_quality_raters": {"scans": 1},  # single-consumer chain
    "poisson_dispersion_daily_counts": {"scans": 0},
    "mahalanobis_outlier_days": {"scans": 0},
    # round 34 (daily seq / value panel checkpointed)
    "pacf_daily_revenue": {"scans": 0},
    "anova_effect_sizes_event_type": {"scans": 0},
}

_QUERIES = {**all_queries(), **STAGED}

_VOCABULARY = {
    "scans": lambda v: type(v) is int and v >= 0,
    "windows": lambda v: v == "strict",
    "max_windows": lambda v: type(v) is int and v >= 0,
    "has_window": lambda v: v is True,
    "nested_loops": lambda v: v in ("justified", "none"),
    "window_keys": lambda v: False,
    "collects": lambda v: v == "justified",
}

# one item per (query, rule) pair; every query gets these three items
_EVERY_QUERY = dict.fromkeys(("nested_loops", "window_keys", "collects"))
_CASES = [(n, rule) for n in sorted(_QUERIES)
          for rule in {**PLAN_RULES.get(n, {}), **_EVERY_QUERY}]


def test_rules_use_the_vocabulary():
    """A misspelled rule or query name, or a bad value, would silently
    check nothing or check at the wrong strength."""
    assert set(PLAN_RULES) <= set(_QUERIES), set(PLAN_RULES) - set(_QUERIES)
    for name, rules in PLAN_RULES.items():
        bad = {r: v for r, v in rules.items()
               if r not in _VOCABULARY or not _VOCABULARY[r](v)}
        assert not bad, (name, bad)


def _checkpointed_walk(build):
    """``build()``'s DataFrame walked with its checkpoints recorded."""
    with recorded_checkpoints() as plans:
        df = build()
    return PlanWalk(df._jdf.queryExecution().sparkPlan(), plans)


def test_walk_reports_cross_join_inside_checkpoint(spark):
    """A data x data cross join that a checkpoint materializes is
    reported although the final plan only scans the checkpoint."""
    def build():
        left = spark.range(100).withColumnRenamed("id", "a")
        right = spark.range(100).withColumnRenamed("id", "b")
        pairs = left.crossJoin(F.broadcast(right)).localCheckpoint()
        return pairs.groupBy((F.col("a") % 3).alias("g")).count()

    walk = _checkpointed_walk(build)
    assert "BroadcastNestedLoopJoinExec" in walk.names
    assert bnlj_builds_are_scalar(walk)


def test_walk_passes_checkpointed_one_row_broadcast(spark):
    """A checkpointed one-row global aggregate broadcast into a cross
    join is seen to be one row, so the query needs no row."""
    def build():
        rows = spark.range(100)
        total = rows.agg(F.sum("id").alias("s")).localCheckpoint()
        return rows.crossJoin(F.broadcast(total))

    walk = _checkpointed_walk(build)
    assert "BroadcastNestedLoopJoinExec" in walk.names
    assert not bnlj_builds_are_scalar(walk)


def test_walk_enters_pairs_build_of_every_reader(spark, sf_dir):
    """Each reader of the verified near-dup pairs derives them in its
    own build, so the walk of a second reader in one session still
    enters the band self-join (its posexplode ``Generate``) rather
    than stopping at an earlier query's checkpoint."""
    from de_project_airflow_etl_spark.operators.dedup import (
        dedup_clusters, dedup_minhash_lsh,
    )
    dedup_minhash_lsh(spark, sf_dir)
    walk = _checkpointed_walk(lambda: dedup_clusters(spark, sf_dir))
    assert any(n == "GenerateExec" and "posexplode" in j.toString()
               for n, j in zip(walk.names, walk.jnodes)), walk.names


@functools.lru_cache(maxsize=1)
def _built(spark, sf_dir, name):
    """The query's DataFrame and its one walk, built with its
    checkpoints recorded and kept while the items of its rules (which
    sort together) run, so each query is built and walked once."""
    with recorded_checkpoints() as plans:
        df = _QUERIES[name].fn(spark, sf_dir)
    return df, PlanWalk(df._jdf.queryExecution().sparkPlan(), plans)


@pytest.mark.parametrize("name, rule", _CASES)
def test_plan_rule(spark, sf_dir, name, rule):
    bound = PLAN_RULES.get(name, {}).get(rule)
    df, walk = _built(spark, sf_dir, name)
    if rule == "scans":
        n_scans = scan_count(df)
        assert n_scans <= bound, (
            f"{name}: {n_scans} parquet scans in the final plan (budget "
            f"{bound}) — a bounded multi-consumer intermediate lost its "
            f"checkpoint")
    elif rule == "windows":
        offenders = unbounded_windows(walk)
        assert not offenders, (
            f"{name}: window consumes un-aggregated rows: {offenders}")
    elif rule == "max_windows":
        n_windows = len(window_nodes(walk))
        assert n_windows <= bound, (
            f"{name}: {n_windows} WindowExec nodes (at most {bound})")
    elif rule == "has_window":
        assert window_nodes(walk), f"{name}: expected a WindowExec"
    elif rule == "window_keys":
        offenders = fixed_key_window_hazards(walk)
        assert not offenders, (
            f"{name}: window over a subtree with no Aggregate/limit/"
            f"WindowGroupLimit, a data-sized partition at 100 TB: "
            f"{offenders}")
    elif rule == "collects":
        offenders = unbounded_collects(walk)
        if bound == "justified":
            assert offenders, (
                f"{name}: stale exception: no unbounded collect left, so "
                f"drop the row's collects")
        else:
            assert not offenders, (
                f"{name}: collect over a subtree with no Aggregate/"
                f"limit, one aggregation state buffers a data-sized "
                f"group: {offenders}")
    else:  # nested_loops
        assert not any(n.startswith("CartesianProduct") for n in walk.names), (
            f"{name}: a CartesianProduct")
        if bound == "none":
            assert not any("BroadcastNestedLoopJoin" in n
                           for n in walk.names), (
                f"{name}: a BroadcastNestedLoopJoin")
        elif bound == "justified":
            assert bnlj_builds_are_scalar(walk), (
                f"{name}: stale exception: every nested-loop build passes "
                f"the scalar check, so drop the row's nested_loops")
        else:
            offenders = bnlj_builds_are_scalar(walk)
            assert not offenders, (
                f"{name}: non-scalar BNLJ builds: {offenders}")
