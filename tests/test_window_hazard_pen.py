"""Window-hazard + unbounded-collect audit over the STAGED pen — the
same ``plans/inspect.py`` checks tests/test_window_hazard_audit.py
runs over the registry, applied BEFORE promotion so a fixed-key
window over raw rows or a data-sized collect_list never reaches the
registry.
"""

from __future__ import annotations

import pytest

from de_project_airflow_etl_spark.plans.inspect import (
    fixed_key_window_hazards, unbounded_collects,
)
from de_project_airflow_etl_spark.staged import STAGED

_AUDITED_PEN = {
    n: q for n, q in STAGED.items()
    if "streaming" not in q.tags and not n.startswith("streaming_")
}


pytestmark = pytest.mark.usefixtures("release_caches")


@pytest.mark.parametrize("name", sorted(_AUDITED_PEN))
def test_pen_no_fixed_key_window_over_raw_rows(spark, sf_dir, name):
    offenders = fixed_key_window_hazards(_AUDITED_PEN[name].fn(spark, sf_dir))
    assert not offenders, (
        f"{name}: window over a subtree with no Aggregate/checkpoint/"
        f"WindowGroupLimit — a data-sized partition at 100 TB: {offenders}")


@pytest.mark.parametrize("name", sorted(_AUDITED_PEN))
def test_pen_no_unbounded_collect_aggregates(spark, sf_dir, name):
    offenders = unbounded_collects(_AUDITED_PEN[name].fn(spark, sf_dir))
    assert not offenders, (
        f"{name}: collect_list/set over an unbounded subtree — one "
        f"aggregation state holds a data-sized group at 100 TB: "
        f"{offenders}")
