"""Sketch-rollup accuracy: the HLL store-and-merge path must agree
with the exact distinct count within HLL++'s error envelope."""

from __future__ import annotations

from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.flagship import (
    weekly_users_hll_rollup,
)
from de_project_airflow_etl_spark.tables import load


def test_hll_rollup_within_tolerance(spark, sf_dir):
    approx = {r["week"]: r["approx_users"]
              for r in weekly_users_hll_rollup(spark, sf_dir).collect()}
    ev = load(spark, sf_dir, "events")
    exact = {r["week"]: r["exact_users"]
             for r in (ev.select(F.weekofyear(F.to_date("ts")).alias("week"),
                                 "user_id")
                         .distinct()
                         .groupBy("week")
                         .agg(F.count(F.lit(1)).alias("exact_users"))
                         .collect())}
    assert set(approx) == set(exact)
    for week, est in approx.items():
        assert abs(est - exact[week]) <= max(1, 0.05 * exact[week]), (
            week, est, exact[week])


def test_approx_quantiles_within_tolerance_of_exact(spark, sf_dir):
    """The approx_percentile sketch variant must track its exact
    sibling: at accuracy=10000 the rank error is <= n/10000, which for
    these group sizes is well inside 5% of the group's value spread."""
    from de_project_airflow_etl_spark.queries.timeseries import (
        event_value_quantiles, event_value_quantiles_approx,
    )
    exact = {r["event_type"]: r
             for r in event_value_quantiles(spark, sf_dir).collect()}
    approx = {r["event_type"]: r
              for r in event_value_quantiles_approx(spark, sf_dir).collect()}
    assert set(exact) == set(approx)
    spreads = {t: max(1e-9, exact[t]["p75"] - exact[t]["p25"])
               for t in exact}
    for t, a in approx.items():
        for p in ("p25", "p50", "p75"):
            assert abs(a[p] - exact[t][p]) <= 0.05 * spreads[t], (
                t, p, a[p], exact[t][p])


import os

import pytest

from de_project_airflow_etl_spark.queries.flagship import (
    daily_events_approx,
)
from de_project_airflow_etl_spark.queries.timeseries import (
    event_value_quantiles, event_value_quantiles_approx,
)

# (seed, user cardinality) -> the synthetic corpora are
# hash-deterministic, so every sketch estimate below is a FIXED number;
# the ceilings are pinned above the measured maxima (HLL 3.01%,
# t-digest 0.045% of IQR, approx_count_distinct 1.68%) and inside each
# sketch's published envelope (HLL++ rsd 5% default / 1% configured).
SKETCH_SEEDS = [(1, 10_000), (2, 50_000), (3, 3_000)]
HLL_REL_CEIL = 0.04
QUANT_IQR_CEIL = 0.005
DAILY_REL_CEIL = 0.025


@pytest.mark.parametrize("seed,n_users", SKETCH_SEEDS)
def test_sketch_error_bounds_pinned_across_seeds(spark, seed, n_users,
                                                 tmp_path):
    """The 3 no-oracle sketch queries carry hard relative-error
    ceilings across 3 independently-seeded 200k-event corpora with
    user cardinalities spanning 3k-50k."""
    d = str(tmp_path)
    ev = spark.range(200_000).selectExpr(
        "id AS event_id",
        f"timestamp'2024-01-01' + make_interval(0, 0, 0, "
        f"CAST(pmod(hash(id*{seed}+5), 56) AS INT), 0, 0, "
        f"CAST(pmod(hash(id), 86400) AS INT)) AS ts",
        f"pmod(hash(id * {seed} * 31 + 7), {n_users}) AS user_id",
        "concat('t', pmod(hash(id+3), 5)) AS event_type",
        f"CAST(pmod(hash(id*{seed}+11), 100000) / 100.0 AS DOUBLE)"
        " AS value",
        "'{}' AS props")
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))

    approx = {r["week"]: r["approx_users"]
              for r in weekly_users_hll_rollup(spark, d).collect()}
    exact = {r["week"]: r["n"]
             for r in (load(spark, d, "events")
                       .select(F.weekofyear(F.to_date("ts")).alias("week"),
                               "user_id")
                       .distinct().groupBy("week")
                       .agg(F.count(F.lit(1)).alias("n")).collect())}
    assert set(approx) == set(exact)
    for w in exact:
        assert abs(approx[w] - exact[w]) <= HLL_REL_CEIL * exact[w], (
            seed, w, approx[w], exact[w])

    eq = {r["event_type"]: r
          for r in event_value_quantiles(spark, d).collect()}
    aq = {r["event_type"]: r
          for r in event_value_quantiles_approx(spark, d).collect()}
    assert set(eq) == set(aq)
    for t in eq:
        iqr = max(1e-9, eq[t]["p75"] - eq[t]["p25"])
        for p in ("p25", "p50", "p75"):
            assert abs(aq[t][p] - eq[t][p]) <= QUANT_IQR_CEIL * iqr, (
                seed, t, p, aq[t][p], eq[t][p])

    da = {str(r["event_date"]): r["user_count_approx"]
          for r in daily_events_approx(spark, d).collect()}
    de = {str(r["event_date"]): r["n"]
          for r in (load(spark, d, "events")
                    .select(F.to_date("ts").alias("event_date"), "user_id")
                    .distinct().groupBy("event_date")
                    .agg(F.count(F.lit(1)).alias("n")).collect())}
    assert set(da) == set(de)
    for k in de:
        assert abs(da[k] - de[k]) <= DAILY_REL_CEIL * de[k], (
            seed, k, da[k], de[k])
