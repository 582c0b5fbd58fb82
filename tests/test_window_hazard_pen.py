"""Window-hazard + unbounded-collect audit over the STAGED pen —
the same physical-plan walk tests/test_window_hazard_audit.py runs
over the registry, applied BEFORE promotion so a fixed-key window
over raw rows or a data-sized collect_list never reaches a driver
window. Reuses the registry audit's helpers verbatim.
"""

from __future__ import annotations

import re

import pytest

from de_project_airflow_etl_spark.plans.inspect import _walk_jplan, window_nodes
from de_project_airflow_etl_spark.staged import STAGED
from tests.test_window_hazard_audit import (
    COLLECT_BOUNDED_EXTRAS, FIXED_CARDINALITY, GROWS_WITH_DATA,
    _bounded_subtree)

_AUDITED_PEN = {
    n: q for n, q in STAGED.items()
    if "streaming" not in q.tags and not n.startswith("streaming_")
    and "io" not in q.tags and n != "jsonl_stream_sink_roundtrip"
}


pytestmark = pytest.mark.usefixtures("release_caches")


@pytest.mark.parametrize("name", sorted(_AUDITED_PEN))
def test_pen_no_fixed_key_window_over_raw_rows(spark, sf_dir, name):
    df = _AUDITED_PEN[name].fn(spark, sf_dir)
    for n in window_nodes(df):
        pspec = n.partitionSpec()
        pcols: set[str] = set()
        for i in range(pspec.size()):
            pcols |= set(re.findall(r"([a-zA-Z_][a-zA-Z0-9_]*)#\d+",
                                    pspec.apply(i).toString()))
        hazardous_key = (pspec.size() == 0) or (
            bool(pcols) and pcols <= FIXED_CARDINALITY)
        if hazardous_key:
            assert _bounded_subtree(n), (
                f"{name}: WindowExec partitioned by "
                f"{sorted(pcols) or 'NOTHING'} consumes a subtree with "
                "no Aggregate/checkpoint/WindowGroupLimit — a "
                "data-sized partition at 100 TB")


@pytest.mark.parametrize("name", sorted(_AUDITED_PEN))
def test_pen_no_unbounded_collect_aggregates(spark, sf_dir, name):
    df = _AUDITED_PEN[name].fn(spark, sf_dir)
    jplan = df._jdf.queryExecution().sparkPlan()
    for n in _walk_jplan(jplan):
        cls = n.getClass().getSimpleName()
        if "Aggregate" not in cls:
            continue
        head = n.toString().split("\n")[0]
        if "collect_list" not in head and "collect_set" not in head:
            continue
        m = re.match(r".*?keys=\[([^\]]*)\]", head)
        kcols = set(re.findall(r"([a-zA-Z_][a-zA-Z0-9_]*)#\d+",
                               m.group(1) if m else ""))
        if kcols and not (kcols <= FIXED_CARDINALITY):
            continue  # grows-with-data key: groups shrink vs corpus
        # same predicate + extras as the registry audit — shared so
        # the two audits cannot diverge (ADVICE r8)
        assert _bounded_subtree(n, COLLECT_BOUNDED_EXTRAS), (
            f"{name}: collect_list/set over "
            f"{sorted(kcols) or 'NO'} keys consumes an unbounded "
            "subtree — one aggregation state object holds a "
            "data-sized group at 100 TB")
