"""Declared plan rules: one table of query name -> the properties its
final physical plan must keep at 100 TB.

``PLAN_RULES`` covers registered and staged queries. Each (query, rule)
pair runs as its own test item; a query is built once for all its
rules. The checks live in ``plans/inspect.py``. The rule vocabulary:

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
* ``windows: "lenient"``: as strict, but a window whose subtree reads
  no file also passes: it consumes a checkpoint, which hides the
  Aggregate that built it.
* ``max_windows: N``: at most N ``WindowExec`` nodes; 0 means the query
  reduces with folds and plain aggregates only.
* ``has_window: True``: at least one ``WindowExec``, so a window rule
  above cannot pass by the window vanishing from the plan.

Rules on plans that a checkpoint hides (interior plans) and checks
outside this vocabulary (window partition keys, WindowGroupLimit
pushdown, exact counts, joins) stay in the per-subject plan tests,
built on the same ``plans/inspect.py`` helpers.
"""

from __future__ import annotations

import functools

import pytest

from de_project_airflow_etl_spark.plans.inspect import (
    scan_count, unbounded_windows, window_nodes,
)
from de_project_airflow_etl_spark.registry import all_queries
from de_project_airflow_etl_spark.staged import STAGED

pytestmark = pytest.mark.usefixtures("release_caches")

PLAN_RULES: dict[str, dict] = {
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
    # recompute-over-materialize choice)
    "exact_substring_dup_spans": {"scans": 2},
    # ------------------------------------------- operators/similarity.py
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
    # keeps its data-sized stream re-derived on purpose (measured loss
    # to materialize); the budget pins the CURRENT shape so it can't
    # silently worsen
    "containment_dup_pairs": {"scans": 5},
    "funnel_conversion_latency": {"scans": 0},  # was 6: c_ts carried, histogram ckpt
    # ---------------------------------------------------- queries/assoc.py
    # the in-array idiom replaces windows (max_windows 0); bowker's
    # per-user lag and ERR's rank limit are checked in test_plans_r9c.py
    "benford_first_digit_value": {"scans": 1, "max_windows": 0},
    "bowker_symmetry_event_transitions": {"scans": 1},
    "cmh_weekend_purchase_weeks": {"scans": 1, "max_windows": 0},
    "cochran_armitage_dow_trend": {"scans": 1, "max_windows": 0},
    "cross_correlation_revenue_count": {"scans": 1, "max_windows": 0},
    "err_retrieval_eval": {"scans": 2},  # corpus + broadcast panel
    "funnel_conversion_steps": {"scans": 1, "max_windows": 0},
    "lexical_dominance_panel": {"scans": 1, "max_windows": 0},
    "ljung_box_daily_revenue": {"scans": 1, "max_windows": 0},
    "ordinal_association_dow_band": {"scans": 1, "max_windows": 0},
    "pinball_loss_quantile_forecast": {"scans": 1, "max_windows": 0},
    "smape_daily_forecasts": {"scans": 1, "max_windows": 0},
    # ---------------------------------------------- queries/attribution.py
    "bh_step_up_drift_panel": {"scans": 0},  # 5-row panel checkpointed
    "bradley_terry_event_strengths": {"scans": 0},  # 25-cell matrix checkpointed
    "dtw_click_purchase_daily": {"scans": 0},  # 1-row array panel checkpointed
    "harmonic_centrality_dup_graph": {"scans": 0},  # edges + frontiers checkpointed
    "isotonic_daily_revenue_fit": {"scans": 0},  # daily prefix panel checkpointed
    "shapley_channel_attribution": {"scans": 0},  # mask histogram checkpointed
    "split_conformal_value_interval": {"scans": 1},  # test half reads the corpus
    # ---------------------------------------------- queries/changepoint.py
    # windows run over daily / spectrum tables or their checkpoints
    "cox_stuart_trend_daily": {"scans": 1, "windows": "lenient"},
    "dixon_q_daily_extremes": {"scans": 1, "windows": "lenient"},
    "nelson_aalen_user_lifetimes": {  # risk table ckpt'd
        "scans": 0, "windows": "lenient"},
    "pettitt_changepoint_daily": {"scans": 1, "windows": "lenient"},
    "token_gini_by_source": {  # frequency spectrum ckpt'd
        "scans": 0, "windows": "lenient"},
    "turning_points_daily": {"scans": 1, "windows": "lenient"},
    # ----------------------------------------------- queries/clustering.py
    "dbscan_grid_embedding_clusters": {  # dense cells checkpointed
        "scans": 0, "max_windows": 0},
    "hits_event_type_authority": {"scans": 0},  # (user, type) checkpointed
    "quantile_normalize_source_chars": {"scans": 0},  # char cells checkpointed
    # ---------------------------------------------- queries/diagnostics.py
    # indicator windows run over the daily bars or distinct-value counts;
    # the fold statistics reduce with array folds (max_windows 0)
    "atr_daily_value_range": {
        "scans": 1, "windows": "lenient", "has_window": True},
    "brier_calibration_purchase": {"scans": 1, "max_windows": 0},
    "brown_forsythe_weekend_value": {  # medians checkpointed
        "scans": 1, "max_windows": 0},
    "cochrans_q_quality_rules": {"scans": 1, "max_windows": 0},
    "durbin_watson_trend_residuals": {"scans": 1, "max_windows": 0},
    "hellinger_weekend_value_drift": {  # bin table checkpointed
        "scans": 0, "max_windows": 0},
    "jarque_bera_daily_revenue": {"scans": 1, "max_windows": 0},
    "kruskal_wallis_value_by_type": {  # (type, cents) checkpointed
        "scans": 0, "windows": "lenient", "has_window": True},
    "mann_kendall_daily_trend": {  # daily table checkpointed
        "scans": 0, "max_windows": 0},
    "mrr_retrieval_eval": {"scans": 2},  # corpus + panel
    "ndcg_retrieval_eval": {"scans": 3},  # corpus + panel + label counts
    "obv_daily_value_flow": {
        "scans": 1, "windows": "lenient", "has_window": True},
    "stochastic_oscillator_daily": {
        "scans": 1, "windows": "lenient", "has_window": True},
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
        "scans": 2, "windows": "lenient"},
    "cuped_adjusted_lift": {"scans": 1},  # per-user table ckpt'd; d0 scan
    "littles_law_sessions": {"scans": 1},  # session table ckpt'd; horizon
    "sample_ratio_mismatch_check": {"scans": 1},
    # ------------------------------------------------- queries/features.py
    # power iteration runs over the checkpointed transition relation:
    # no events scan per iteration
    "markov_stationary_event_mix": {"scans": 0},
    "theil_sen_daily_trend": {"scans": 0},  # was 10: daily + pairs both bounded
    # ----------------------------------------------- queries/governance.py
    "dp_sensitivity_audit": {"scans": 1},
    "sql_udf_band_rollup": {"scans": 1},
    # ----------------------------------------------- queries/indicators.py
    # windows run over the daily bars or checkpointed reduced tables
    "accum_dist_daily_flow": {"scans": 1, "windows": "lenient"},
    "aroon_daily_value": {"scans": 1, "windows": "lenient"},
    "chande_momentum_daily": {"scans": 1, "windows": "lenient"},
    "cramer_von_mises_weekend": {  # distinct-cents table ckpt'd
        "scans": 0, "windows": "lenient"},
    "donchian_channel_daily": {"scans": 1, "windows": "lenient"},
    "friedman_dow_value_ranks": {  # (week, dow) table ckpt'd
        "scans": 0, "windows": "lenient"},
    "jonckheere_terpstra_value_by_type": {  # (type, cents) ckpt'd
        "scans": 0, "windows": "lenient"},
    "money_flow_index_daily": {"scans": 1, "windows": "lenient"},
    "mood_median_test_event_type": {  # median + group table ckpt'd
        "scans": 0, "windows": "lenient"},
    "per_class_f1_length_rules": {  # 3x3 cell table ckpt'd
        "scans": 0, "windows": "lenient"},
    "sign_test_daily_updown": {"scans": 1, "windows": "lenient"},
    "wilcoxon_signed_rank_ampm": {"scans": 1, "windows": "lenient"},
    "williams_r_daily": {"scans": 1, "windows": "lenient"},
    # --------------------------------------------------- queries/mining.py
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
    # window over the fixed 2^LOF_BITS bucket space
    "lof_bucket_outliers": {"max_windows": 0},
    # -------------------------------------------------- queries/nonparam.py
    # the per-weekday pair join consumes the checkpointed daily rollup
    "seasonal_mann_kendall_dow": {"scans": 0},
    # ------------------------------------------ queries/operating_points.py
    # max_windows 0: panels reduce in arrays and plain aggregates
    "actuarial_life_table": {"scans": 0},  # interval cells checkpointed
    "cronbachs_alpha_quality_rules": {"scans": 1, "max_windows": 0},
    "cross_source_ngram_overlap": {  # gram set checkpointed
        "scans": 0, "max_windows": 0},
    "decile_lift_table": {"scans": 0},  # (cents, p) cells checkpointed
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
    "mmr_rerank_retrieval": {"scans": 2},  # corpus + anchor slice
    # ---------------------------------------------------- queries/robust.py
    # after 12 fixed-point iterations the Markov plan consumes
    # checkpoints only
    "markov_removal_effect_attribution": {"scans": 0},
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
    # week pass + un-checkpointed min-date panel (one-row-panel rule)
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
        "scans": 0, "windows": "lenient", "has_window": True},
    "cliffs_delta_weekend": {  # distinct-cents table ckpt'd
        "scans": 0, "windows": "lenient", "has_window": True},
    # scatter table ckpt'd; the final pair math rebuilds the panel
    "davies_bouldin_labels": {"scans": 1, "windows": "lenient"},
    "mattr_lexical_diversity_by_source": {"scans": 1, "windows": "lenient"},
    "quade_test_dow": {  # (week, dow) table ckpt'd
        "scans": 0, "windows": "lenient", "has_window": True},
    # corpus pass + the panel's scalar-aggregate build (the panel is
    # deliberately NOT checkpointed so the BNLJ gate can see its
    # scalar root)
    "simplified_silhouette_labels": {"scans": 2, "windows": "lenient"},
    "smog_fog_readability_by_source": {"scans": 1, "windows": "lenient"},
    # --------------------------------------------- queries/surfaces_r10b.py
    # the disc-band windows rank the (type, cents) cell aggregate
    "percentile_disc_bands_by_type": {"windows": "strict", "has_window": True},
    # ----------------------------------------------- queries/surfaces_r6.py
    # the unpartitioned rank runs over the 64-row per-dimension aggregate
    "embedding_dim_variance_rank": {"windows": "strict", "has_window": True},
    # ----------------------------------------------- queries/surfaces_r7.py
    # hardest-pos/neg picks are max_by/min_by aggregates, not a rank
    "contrastive_triplet_mining": {"max_windows": 0},
    # the recursive CTE folds into one aggregate
    "recursive_dup_reachability": {"max_windows": 0},
    # ----------------------------------------------- queries/surfaces_r8.py
    # cumulation and lag windows over the (type, cents) cell table and
    # the (brand, band) demand aggregate
    "arc_price_elasticity_brand": {"windows": "strict", "has_window": True},
    "bowley_skewness_by_type": {"windows": "strict", "has_window": True},
    # ---------------------------------------------- queries/surfaces_r9.py
    # windows run over the daily / (week, dow) aggregates or checkpoints
    "ece_calibration_purchase": {"scans": 0},  # 10-row bin table ckpt'd
    "filter_clause_weekday_mix": {"scans": 1},
    "ild_retrieval_diversity": {"scans": 3},  # corpus + panel + join-back
    "named_window_daily_stats": {
        "scans": 1, "windows": "lenient", "has_window": True},
    "pages_trend_test_dow": {  # (week, dow) table ckpt'd
        "scans": 0, "windows": "lenient", "has_window": True},
    "readability_indices_by_source": {"scans": 1},
    "rescaled_range_daily": {"scans": 1},
    "resource_allocation_link_pred": {"scans": 0},  # verified pairs + und ckpt'd
    "runs_test_daily_updown": {
        "scans": 1, "windows": "lenient", "has_window": True},
    "theil_u_daily_forecasts": {
        "scans": 1, "windows": "lenient", "has_window": True},
    # -------------------------------------------- staged/round21-24.py
    "wald_wolfowitz_runs_daily": {"scans": 0},  # daily checkpointed
    "mood_scale_test_weekend": {"scans": 0},  # cells checkpointed
    "energy_distance_weekend": {"scans": 1},  # single-consumer chain
    "hoeffding_d_daily": {"scans": 0},  # daily checkpointed
    "page_l_trend_dow": {"scans": 0},  # daily checkpointed
    "sample_entropy_matches_daily": {"scans": 0},  # daily + templates ckpt
    "distance_correlation_daily": {"scans": 0},  # daily/pairs/rowsums ckpt
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
    "rag_chunk_retrieval_eval": {"scans": 2},
    # -------------------------------------------- staged/round27-34.py
    # round 27
    "fligner_policello_weekend": {"scans": 1},  # single-consumer chain
    "dunn_posthoc_value_by_type": {"scans": 0},  # gv cells checkpointed
    "stuart_maxwell_event_transitions": {"scans": 1},  # single pass
    "weighted_kappa_ordinal_bands": {"scans": 0},  # 16-cell panel checkpointed
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
    "rbo_ranking_overlap": {"scans": 0},  # scored (vec,cos,l2) ckpt
    "rbp_retrieval_eval": {"scans": 2},  # corpus scan + anchor panel
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
    "windows": lambda v: v in ("strict", "lenient"),
    "max_windows": lambda v: type(v) is int and v >= 0,
    "has_window": lambda v: v is True,
}

# one item per (query, rule) pair
_CASES = [(n, rule) for n in sorted(PLAN_RULES) for rule in PLAN_RULES[n]]


def test_rules_use_the_vocabulary():
    """A misspelled rule or query name, or a bad value, would silently
    check nothing or check at the wrong strength."""
    assert set(PLAN_RULES) <= set(_QUERIES), set(PLAN_RULES) - set(_QUERIES)
    for name, rules in PLAN_RULES.items():
        bad = {r: v for r, v in rules.items()
               if r not in _VOCABULARY or not _VOCABULARY[r](v)}
        assert not bad, (name, bad)


@functools.lru_cache(maxsize=1)
def _built(spark, sf_dir, name):
    """The query's DataFrame, kept while the items of its rules (which
    sort together) run, so each query is built once."""
    return _QUERIES[name].fn(spark, sf_dir)


@pytest.mark.parametrize("name, rule", _CASES)
def test_plan_rule(spark, sf_dir, name, rule):
    bound = PLAN_RULES[name][rule]
    df = _built(spark, sf_dir, name)
    if rule == "scans":
        n_scans = scan_count(df)
        assert n_scans <= bound, (
            f"{name}: {n_scans} parquet scans in the final plan (budget "
            f"{bound}) — a bounded multi-consumer intermediate lost its "
            f"checkpoint")
    elif rule == "windows":
        offenders = unbounded_windows(df, scanless_ok=bound == "lenient")
        assert not offenders, (
            f"{name}: window consumes un-aggregated rows: {offenders}")
    elif rule == "max_windows":
        n_windows = len(window_nodes(df))
        assert n_windows <= bound, (
            f"{name}: {n_windows} WindowExec nodes (at most {bound})")
    else:
        assert window_nodes(df), f"{name}: expected a WindowExec"
