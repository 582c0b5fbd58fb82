"""Targeted gates for the round-10b staged bank (blanket oracle
gates ride tests/test_staged_pen.py)."""

from __future__ import annotations

from de_project_airflow_etl_spark.plans.inspect import scan_count
from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


def test_bitmap_rollup_merges_partials_not_raw_rows(spark, sf_dir):
    """The weekly count must re-aggregate bitmap partials: exactly
    one scan, and the plan carries bitmap_or_agg above
    bitmap_construct_agg (never a second COUNT DISTINCT pass)."""
    df = REG["weekly_users_bitmap_rollup"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert scan_count(df) == 1, plan[:1500]
    assert "bitmap_or_agg" in plan and "bitmap_construct_agg" in plan


def test_bitmap_rollup_matches_daily_sum_upper_bound(spark, sf_dir):
    """Weekly uniques <= sum of the week's daily uniques (re-visiting
    users collapse) — ties the rollup to the registered daily query."""
    from de_project_airflow_etl_spark.registry import all_queries
    weekly = {r["week_start"]: r["user_count"]
              for r in REG["weekly_users_bitmap_rollup"]
              .fn(spark, sf_dir).collect()}
    daily = all_queries()["daily_users_bitmap_exact"].fn(
        spark, sf_dir).collect()
    import collections
    by_week = collections.defaultdict(int)
    for r in daily:
        d = r["event_date"]
        monday = d.toordinal() - ((d.weekday()) % 7)
        by_week[monday] += r["user_count"]
    assert weekly
    for wk, n in weekly.items():
        assert n <= by_week[wk.toordinal() - (wk.weekday() % 7)]


def test_disc_bands_are_members_and_ordered(spark, sf_dir):
    """Discrete quantiles must be actual data values with p25 <= p50
    <= p75 (membership is the defining property vs _cont)."""
    rows = (REG["percentile_disc_bands_by_type"]
            .fn(spark, sf_dir).collect())
    assert rows
    for r in rows:
        assert r["p25_c"] <= r["p50_c"] <= r["p75_c"]


def test_page_hinkley_gap_is_nonnegative_and_anchored(spark, sf_dir):
    rows = sorted(REG["page_hinkley_drift_daily"]
                  .fn(spark, sf_dir).collect(), key=lambda r: r["day"])
    assert rows[0]["ph_e6"] == 0 and rows[0]["gap_e6"] == 0
    for r in rows:
        assert r["gap_e6"] >= 0
        assert r["alarm"] in (0, 1)


def test_holt_winters_fold_is_single_generator_projection(spark,
                                                          sf_dir):
    """The 7-slot seasonal fold must stay ONE inline() generator
    (CollapseProject lesson): exactly one inline( in the executed
    plan, and wall time at sf0.1 stays linear (verified in the sweep
    — this pins the plan shape)."""
    df = REG["holt_winters_additive_weekly"].fn(spark, sf_dir)
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("inline(") == 1, executed[:2000]


def test_holt_winters_forecast_identity(spark, sf_dir):
    """forecast_c of each emitted day equals the PREVIOUS state's
    l + b + s[dow] — check the first emitted day against the pinned
    initialization (level = first-week mean DIV 7, trend 0,
    seasonal = last-write deviation)."""
    daily = sorted(
        REG["holt_winters_additive_weekly"].fn(spark, sf_dir)
        .collect(), key=lambda r: r["day"])
    assert daily, "needs >= 8 observed days"
    # identity check across consecutive emitted rows: the NEXT row's
    # forecast for a dow seen once already inside the emitted window
    # must equal that row's level + trend + that dow's last seasonal
    by_day = {r["day"]: r for r in daily}
    import datetime
    for r in daily:
        d = datetime.date.fromisoformat(r["day"])
        nxt = by_day.get(str(d + datetime.timedelta(days=7)))
        prev_day = str(d + datetime.timedelta(days=6))
        if nxt is None or prev_day not in by_day:
            continue
        p = by_day[prev_day]
        assert nxt["forecast_c"] == (p["level_c"] + p["trend_c"]
                                     + r["seasonal_c"])
        break  # one witnessed identity suffices; values are exact
