"""Driver-contract smoke tests for __spark_entry__."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"event_date", "user_count", "event_count"}


def test_queries_and_oracles_align():
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 30
    # every oracle is non-empty SQL
    assert all(isinstance(sql, str) and "SELECT" in sql.upper()
               for sql in os_.values())


@pytest.mark.slow  # ~5.5 min: all 478 queries end-to-end; slow tier
def test_all_queries_run_at_smoke_sf(spark):
    """Every registered query must at least execute at sf0.001."""
    for name, fn in sorted(entrymod.queries().items()):
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.columns, name
        df.limit(5).collect()


def test_driver_order_floats_unverified_first():
    """The driver truncates at ~50 rows walking queries() order; every
    query without a satisfied CORRECTNESS row from a past round must
    sort before every already-verified one."""
    from de_project_airflow_etl_spark.registry import (
        _driver_verified, all_queries,
    )
    names = list(all_queries())
    verified = _driver_verified()
    first_verified = next(
        (i for i, n in enumerate(names) if n in verified), len(names))
    late_unverified = [n for n in names[first_verified:]
                       if n not in verified]
    assert not late_unverified, (
        f"unverified queries sorted after verified ones: {late_unverified}")
