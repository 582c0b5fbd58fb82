"""Targeted gates for the round-11b staged bank (blanket oracle
gates ride tests/test_staged_pen.py)."""

from __future__ import annotations

from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


def test_gini_pair_is_consistent_with_gmd(spark, sf_dir):
    """gini == gmd / (2 * mean) by definition — the two reported
    numbers must satisfy the identity exactly (same exact operands)."""
    r = (REG["gini_mean_difference_value"]
         .fn(spark, sf_dir).collect()[0])
    assert 0 <= r["gini"] <= 1
    assert r["gini"] == (
        __import__("pytest").approx(r["gmd"] / (2 * r["mean_value"]),
                                    rel=1e-12))


def test_hoover_index_in_unit_interval(spark, sf_dir):
    r = (REG["hoover_index_daily_revenue"]
         .fn(spark, sf_dir).collect()[0])
    assert 0 <= r["hoover_index"] < 1


def test_mode_tiebreak_is_smallest_most_frequent(spark, sf_dir):
    """Cross-check against a direct pandas group count with the same
    pinned tie rule."""
    from de_project_airflow_etl_spark.tables import load
    import collections
    raw = (load(spark, sf_dir, "events")
           .selectExpr("event_type",
                       "CAST(ROUND(value * 100) AS BIGINT) AS c")
           .collect())
    counts = collections.Counter((r["event_type"], r["c"]) for r in raw)
    expect = {}
    for (t, c), n in counts.items():
        best = expect.get(t)
        if best is None or n > best[1] or (n == best[1] and c < best[0]):
            expect[t] = (c, n)
    rows = REG["mode_value_by_type"].fn(spark, sf_dir).collect()
    assert {r["event_type"]: (r["mode_c"], r["mode_count"])
            for r in rows} == expect


def test_trimean_sits_between_midhinge_and_median_hull(spark, sf_dir):
    """trimean = (midhinge + median) / 2, so it lies between them."""
    rows = (REG["trimean_midhinge_by_type"]
            .fn(spark, sf_dir).collect())
    assert rows
    for r in rows:
        lo = min(r["midhinge"], r["trimean"])
        hi = max(r["midhinge"], r["trimean"])
        assert lo <= r["trimean"] <= hi
