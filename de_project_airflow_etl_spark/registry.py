"""Query registry: one named entry per implemented operator.

Every operator from SURVEY.md §2 (and the §7 generalized surface) is
registered here as a ``Query``: a Spark callable ``(spark, sf_dir) ->
DataFrame`` plus, where SQL-expressible, the ANSI-SQL oracle string the
driver runs through DuckDB on the same parquet tables.

Determinism contract (the driver hashes values order-insensitively but
exactly):

* Alias every computed column identically in the Spark plan and the
  oracle SQL.
* Monetary sums accumulate exact int64 cents (``util.cents`` /
  ``sql_cents``), so partial-aggregation order cannot perturb them;
  sums of integer products go through DECIMAL(38,0), wide integers
  reach DOUBLE through their decimal string (``util.wide``), and
  bounded sums of double terms fold sorted from a 0.0 seed
  (``util.fold_sorted_spark`` / ``fold_sorted_sql``). The rationale
  lives in ``queries/util.py``.
* Timestamps are cast to DATE explicitly on both sides when grouping by
  day (testdata ships timestamps, FIXTURES.md §3).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None, doc: str = "",
          tags: tuple[str, ...] = ()) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a query implementation."""
    if isinstance(tags, str):
        # ("statistics") is a str, not a 1-tuple: `in q.tags` would
        # silently become a substring test
        raise TypeError(f"{name}: tags must be a tuple, got {tags!r}")

    def wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle,
                                doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return wrap


# The driver's per-round correctness run truncates (~50 rows/round,
# walking ``queries()`` order), so each round hand-plans which 50
# unverified queries fill the window; verified names in this tuple are
# filtered out automatically, so it records the CURRENT round's plan
# (historical rounds' plans live in git history + CORRECTNESS_r*.json).
#
# Round-10 window (47 promoted, <= ~50): all 431 round-9 registry
# entries are driver-verified (CORRECTNESS_r09 landed 50/50 green,
# cumulative 431/431), so the whole window is free for the 47
# promoted staged queries (VERDICT r9 #1: round11c ->
# queries/streaming_ext.py, round12 -> queries/experimentation.py,
# round12b -> queries/abdesign.py, round12c -> queries/reranking.py,
# round13 -> queries/governance.py, round13b ->
# queries/schema_ops.py, round14 -> queries/operating_points.py,
# round15 -> queries/attribution.py, round16 ->
# queries/estimators.py, round17 -> queries/clustering.py, round18
# -> queries/population.py, round19 -> queries/sql_surfaces.py,
# round20 -> queries/seqalign.py; recorded promotion precondition:
# the full 61-query staged pen swept green at sf0.01 (61/61) AND
# sf0.1 (61/61), 2026-08-16), leaving ~3 slots for rotation
# re-verifies.
#
# Truncation is never the only correctness signal: the full registry is
# exercised locally by ``tests/test_correctness.py`` (exact values, all
# queries) and ``scripts/profile_correctness.py`` (hash replica of the
# driver's check) — see those for the complete picture.
_DRIVER_PRIORITY: tuple[str, ...] = (
    # six of the seven r11 rewrites (the seventh,
    # embedding_isotropy_panel, is pinned below): their rows predate
    # the rewrite (``_REWRITTEN_SINCE``), so the driver re-stamps them
    "corpus_release_manifest", "survival_retention_curve",
    "dedup_method_agreement", "market_basket_rules",
    "word_cooccurrence_lift", "llm_corpus_prep",
    # the 2 promoted queries from queries/streaming_ext.py, in their
    # staged registration order
    "streaming_chained_window_rollup", "streaming_stream_stream_semi_join",
    # the 5 promoted queries from queries/experimentation.py
    "sample_ratio_mismatch_check", "cuped_adjusted_lift",
    "littles_law_sessions", "crostons_intermittent_demand",
    "burrows_delta_sources",
    # the 1 promoted query from queries/reranking.py
    "mmr_rerank_retrieval",
    # the 4 promoted queries from queries/abdesign.py
    "difference_in_differences_arms", "power_mde_event_value",
    "fleiss_kappa_quality_rules", "jackknife_ratio_variance_daily",
    # the 2 promoted queries from queries/governance.py
    "dp_sensitivity_audit", "sql_udf_band_rollup",
    # the 2 promoted queries from queries/schema_ops.py
    "union_by_name_daily_mix", "calendar_spine_gap_fill",
    # the 8 promoted queries from queries/operating_points.py
    "youden_j_optimal_threshold", "decile_lift_table",
    "actuarial_life_table", "haberman_adjusted_residuals",
    "cronbachs_alpha_quality_rules", "vocab_coverage_curve",
    "cross_source_ngram_overlap", "embedding_isotropy_panel",
    # the 7 promoted queries from queries/attribution.py
    "shapley_channel_attribution", "isotonic_daily_revenue_fit",
    "split_conformal_value_interval", "bh_step_up_drift_panel",
    "bradley_terry_event_strengths", "harmonic_centrality_dup_graph",
    "dtw_click_purchase_daily",
    # the 5 promoted queries from queries/estimators.py
    "wasserstein_weekend_value", "huber_mean_event_value",
    "ordinal_pattern_census_daily", "group_sequential_ab_readout",
    "james_stein_type_means",
    # the 3 promoted queries from queries/clustering.py
    "quantile_normalize_source_chars", "dbscan_grid_embedding_clusters",
    "hits_event_type_authority",
    # the 3 promoted queries from queries/population.py
    "good_turing_chao1_by_source", "ipf_raking_purchase_mix",
    "capture_recapture_user_weeks",
    # the 3 promoted queries from queries/sql_surfaces.py
    "percentile_cont_within_group_quartiles", "json_function_family_events",
    "approx_top_k_event_types",
    # the 2 promoted queries from queries/seqalign.py
    "negative_binomial_user_counts", "nw_alignment_week_type_seqs",
)


def all_queries() -> dict[str, Query]:
    """Import every query module and return the registry.

    Returned order == the order the driver walks ``queries()``.  The
    driver truncates at ~50 rows/round, so ``_DRIVER_PRIORITY`` (the
    queries still missing a driver CORRECTNESS row) comes first; the
    remainder follows in registration order as re-confirmation of
    already-green queries.
    """
    # Imports deferred so `import registry` never costs a Spark session.
    from de_project_airflow_etl_spark.operators import (  # noqa: F401
        corpus_stats, curation, dedup, quality, similarity, text,
        multimodal, corpus, skew, udtf_ops,
    )
    from de_project_airflow_etl_spark.streaming import (  # noqa: F401
        ingest, stateful, upsert,
    )
    from de_project_airflow_etl_spark.operators import udaf  # noqa: F401
    from de_project_airflow_etl_spark.queries import (  # noqa: F401
        timeseries, scalar, subqueries, grouping,
        flagship, etl, aggregates_ext, relational, joins, windows, setops,
        tpch, analytics, mining, features, surfaces_r6, surfaces_r7,
        evaluation, robust, diagnostics, indicators, surfaces_r8,
        surfaces_r9, nonparam, assoc, surfaces_r10, surfaces_r10b,
        robuststats, changepoint, dispersion, streaming_ext,
        experimentation, abdesign, reranking, governance, schema_ops,
        operating_points, attribution, estimators, clustering,
        population, sql_surfaces, seqalign,
    )
    ordered: dict[str, Query] = {}
    verified = _driver_verified()
    # 1. Statically-pinned priority entries that still lack a verified
    #    driver row (the hand-curated plan for the current round).
    for name in _DRIVER_PRIORITY:
        if name in _REGISTRY and name not in verified:
            ordered[name] = _REGISTRY[name]
    # 2. Every other query without a verified row, in registration
    #    order — freshly-added operators self-promote into the window.
    for name, q in _REGISTRY.items():
        if name not in ordered and name not in verified:
            ordered[name] = q
    # 3. Already-verified queries as re-confirmation, registration
    #    order.
    for name, q in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = q
    return ordered


# The recorded driver rounds consulted by ``_driver_verified``,
# PINNED (oldest -> newest, latest wins) rather than globbed: a stale
# or hand-edited CORRECTNESS file in the repo root must not be able to
# silently reorder the verification window. Append each new round's
# file here once its results are adjudicated.
_CORRECTNESS_ROUNDS: tuple[str, ...] = (
    "CORRECTNESS_r01.json",
    "CORRECTNESS_r02.json",
    "CORRECTNESS_r03.json",
    "CORRECTNESS_r04.json",
    "CORRECTNESS_r05.json",
    "CORRECTNESS_r06.json",
    "CORRECTNESS_r07.json",
    "CORRECTNESS_r08.json",
    "CORRECTNESS_r09.json",
    # r10/r11 are listed ahead of adjudication: the files do not exist
    # yet (missing files degrade gracefully), but the moment the driver
    # writes one the rotation self-maintains — latest-round rows win,
    # so any recorded failure demotes its query back into the priority
    # window even if the next session forgets to touch this list.
    "CORRECTNESS_r10.json",
    "CORRECTNESS_r11.json",
)

# Queries rewritten after their last driver row, mapped to the first
# round whose row checks the rewritten code: an older row does not
# count as verified, so the query floats back into the window.
_REWRITTEN_SINCE: dict[str, str] = dict.fromkeys((
    "corpus_release_manifest", "survival_retention_curve",
    "dedup_method_agreement", "market_basket_rules",
    "word_cooccurrence_lift", "llm_corpus_prep",
    "embedding_isotropy_panel",
), "CORRECTNESS_r11.json")

_DRIVER_VERIFIED_CACHE: set[str] | None = None


def _driver_verified() -> set[str]:
    """Query names that already carry a SATISFIED driver CORRECTNESS
    row in a pinned past round (``_CORRECTNESS_ROUNDS``; for a
    rewritten query, a round from ``_REWRITTEN_SINCE`` on):
    hash-verified, or rows-only-checked for a query that (still) has
    no oracle.

    The driver truncates its per-round pass at ~50 rows walking
    ``queries()`` order, so ``all_queries`` floats unverified entries
    to the front. Reading the recorded rounds makes that rotation
    self-maintaining: a query whose verification bar rose (e.g. it
    gained an oracle after a rows-only round) automatically counts as
    unverified again. Missing/corrupt files degrade to the static
    ordering. Cached per process — registry contents and the pinned
    round files are fixed for a process lifetime."""
    global _DRIVER_VERIFIED_CACHE
    if _DRIVER_VERIFIED_CACHE is not None:
        return _DRIVER_VERIFIED_CACHE
    import json
    import os
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # Latest round wins per query: a name verified in r1 but recorded
    # FAILING in a later round must demote back into the unverified
    # window, or a regression could hide in the verified tail forever.
    latest: dict[str, dict] = {}

    for i, round_file in enumerate(_CORRECTNESS_ROUNDS):
        try:
            with open(os.path.join(root, round_file)) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            since = _REWRITTEN_SINCE.get(name)
            if since and i < _CORRECTNESS_ROUNDS.index(since):
                continue  # checked the code before its rewrite
            if isinstance(row, dict) and name in _REGISTRY:
                latest[name] = row
    verified: set[str] = set()
    for name, row in latest.items():
        if row.get("hash_match") is True:
            verified.add(name)
        elif (row.get("err") == "no_oracle"
              and _REGISTRY[name].oracle is None
              and row.get("spark_rows") is not None):
            verified.add(name)
    _DRIVER_VERIFIED_CACHE = verified
    return verified
