"""Registry-wide window-hazard audit (VERDICT r6 #7, generalized):
windows and running aggregates partitioned ONLY by fixed-cardinality
keys over raw rows are a 100 TB hazard — the partition is data-sized
(CLAUDE.md). Every registered query's physical plan goes through
``plans/inspect.py::fixed_key_window_hazards`` (unpartitioned or
fixed-key windows must consume an Aggregate, a checkpoint scan or a
WindowGroupLimit) and ``unbounded_collects`` (collect_list/set over
empty or fixed keys must consume a bounded input). Streaming queries
are excluded: building their DataFrame executes the stream,
and their state sizing is covered by the streaming test files.
"""

from __future__ import annotations

import pytest

from de_project_airflow_etl_spark.plans.inspect import (
    fixed_key_window_hazards, unbounded_collects,
)
from de_project_airflow_etl_spark.registry import all_queries

_AUDITED = {
    n: q for n, q in all_queries().items()
    if "streaming" not in q.tags and not n.startswith("streaming_")
}


@pytest.mark.parametrize("name", sorted(_AUDITED))
def test_no_fixed_key_window_over_raw_rows(spark, sf_dir, name):
    offenders = fixed_key_window_hazards(_AUDITED[name].fn(spark, sf_dir))
    assert not offenders, (
        f"{name}: window over a subtree with no Aggregate/checkpoint/"
        f"WindowGroupLimit — a data-sized partition at 100 TB: {offenders}")


# Queries whose collect carries a documented constant bound the
# subtree walk cannot see:
_JUSTIFIED_COLLECTS = {
    # collects the vec_id < PQ_K codebook-seed slice — bounded by the
    # PQ_K constant in the filter, invisible to the subtree walk
    "ann_pq_adc_search",
}


@pytest.mark.parametrize("name", sorted(_AUDITED))
def test_no_unbounded_collect_aggregates(spark, sf_dir, name):
    if name in _JUSTIFIED_COLLECTS:
        return
    offenders = unbounded_collects(_AUDITED[name].fn(spark, sf_dir))
    assert not offenders, (
        f"{name}: collect over a subtree with no Aggregate/checkpoint/"
        f"limit — one aggregation state buffers a data-sized group: "
        f"{offenders}")


# r11 test tiering: multi-minute sweep/scale/property module —
# excluded from the default (driver-budget) run; run with
# -m "slow or not slow" for the full signal (see pytest.ini).
pytestmark = pytest.mark.slow
