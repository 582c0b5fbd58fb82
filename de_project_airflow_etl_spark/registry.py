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
# walking ``queries()`` order), so ``all_queries`` floats every query
# without a satisfied driver row (``_driver_verified``) to the front.
#
# Truncation is never the only correctness signal: the full registry is
# exercised locally by ``tests/test_correctness.py`` (exact values, all
# queries) and ``scripts/profile_correctness.py`` (hash replica of the
# driver's check) — see those for the complete picture.


def all_queries() -> dict[str, Query]:
    """Import every query module and return the registry.

    Returned order == the order the driver walks ``queries()``.  The
    driver truncates at ~50 rows/round, so the queries still missing a
    driver CORRECTNESS row come first; the remainder follows in
    registration order as re-confirmation of already-green queries.
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
    # 1. Every query without a verified row, in registration order —
    #    freshly-added or rewritten operators self-promote into the
    #    window.
    for name, q in _REGISTRY.items():
        if name not in verified:
            ordered[name] = q
    # 2. Already-verified queries as re-confirmation, registration
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
    # r12 is listed ahead of adjudication: the file does not exist
    # yet (missing files degrade gracefully), but the moment the driver
    # writes one the rotation self-maintains — latest-round rows win,
    # so any recorded failure demotes its query back into the priority
    # window even if the next session forgets to touch this list.
    "CORRECTNESS_r10.json",
    "CORRECTNESS_r11.json",
    "CORRECTNESS_r12.json",
)

# Queries rewritten after their last driver row, mapped to the first
# round whose row checks the rewritten code: an older row does not
# count as verified, so the query floats back into the window.
_REWRITTEN_SINCE: dict[str, str] = {
    **dict.fromkeys((
        "corpus_release_manifest", "survival_retention_curve",
        "dedup_method_agreement", "market_basket_rules",
        "word_cooccurrence_lift", "llm_corpus_prep",
        "embedding_isotropy_panel",
    ), "CORRECTNESS_r11.json"),
    "lsh_dedup_recall_audit": "CORRECTNESS_r12.json",
}

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
    unverified again. Missing/corrupt files degrade to registration
    order. Cached per process — registry contents and the pinned
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
