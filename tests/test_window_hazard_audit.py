"""Registry-wide window-hazard audit (VERDICT r6 #7, generalized):
windows and running aggregates partitioned ONLY by fixed-cardinality
keys over raw rows are a 100 TB hazard — the partition is data-sized
(CLAUDE.md). This walks EVERY registered query's physical plan and
flags any WindowExec that is unpartitioned, or partitioned solely by
known fixed-cardinality columns, unless its child subtree proves the
input bounded:

* an Aggregate (the input is a rollup/cell table), or
* an ExistingRDD scan (a localCheckpoint of a bounded relation — the
  round-6-late gate-visibility rule), or
* a WindowGroupLimit (rank<=k rides Spark's partial pushdown, so no
  partition ever holds a corpus-sized slice — the round-6b lesson).

Windows partitioned by grows-with-data keys (user_id, doc_id buckets,
day keys, ...) pass unconditionally — per-key groups shrink relative
to the corpus. Streaming/io queries are excluded: building their
DataFrame executes the stream, and their state sizing is covered by
the streaming test files.
"""

from __future__ import annotations

import re

import pytest

from de_project_airflow_etl_spark.plans.inspect import _walk_jplan, window_nodes
from de_project_airflow_etl_spark.registry import all_queries

# Columns whose cardinality does NOT grow with data in this schema:
# the per-key partition would be a constant fraction of the corpus.
FIXED_CARDINALITY = {"event_type", "lang", "source", "label", "wknd",
                     "brand", "p_brand", "metric", "g", "kind"}

# Grouping keys whose cardinality grows linearly with the data: an
# Aggregate grouped by one of these is itself DATA-SIZED, so it is
# NOT proof that a downstream fixed-key window's input is bounded
# (ADVICE r7: a per-user rollup under a fixed-cardinality window
# would otherwise pass the audit undetected). Calendar keys (day,
# week, dow), value-range buckets and vocabulary keys stay OFF this
# list deliberately — those rollups are calendar-/range-/vocab-
# bounded, the shapes this repo's re-plans produce on purpose.
GROWS_WITH_DATA = {
    "user_id", "event_id", "doc_id", "content_hash", "vec_id",
    "session_id", "o_orderkey", "l_orderkey", "o_custkey", "c_custkey",
    "l_partkey", "p_partkey", "l_suppkey", "s_suppkey",
}


def _is_bounding_aggregate(node) -> bool:
    """True unless the Aggregate's grouping keys include a known
    grows-with-data column (per-user/per-doc rollups are data-sized,
    not bounded)."""
    head = node.toString().split("\n")[0]
    m = re.match(r".*?keys=\[([^\]]*)\]", head)
    kcols = set(re.findall(r"([a-zA-Z_][a-zA-Z0-9_]*)#\d+",
                           m.group(1) if m else ""))
    return not (kcols & GROWS_WITH_DATA)

_AUDITED = {
    n: q for n, q in all_queries().items()
    if "streaming" not in q.tags and not n.startswith("streaming_")
    and "io" not in q.tags
}


#: Node-class substrings the COLLECT audits additionally accept as
#: boundedness proof: a TakeOrdered / Limit upstream caps the group at
#: the limit constant. Shared with tests/test_window_hazard_pen.py so
#: the registry and pen audits cannot drift (ADVICE r8: the pen copy
#: re-implemented the predicate without TakeOrdered and would have
#: spuriously failed a staged query that passes after promotion).
COLLECT_BOUNDED_EXTRAS = ("TakeOrdered", "Limit")


def _bounded_subtree(wnode, extras: tuple[str, ...] = ()) -> bool:
    """True if the node's input subtree is provably bounded: an
    Aggregate not keyed by grows-with-data columns, a checkpoint scan
    (ExistingRDD), a WindowGroupLimit, or any of ``extras``."""
    for c in _walk_jplan(wnode.children().apply(0)):
        cls = c.getClass().getSimpleName()
        if "Aggregate" in cls and _is_bounding_aggregate(c):
            return True
        if ("ExistingRDD" in cls or "RDDScanExec" in cls
                or cls.startswith("WindowGroupLimit")):
            return True
        if any(t in cls for t in extras):
            return True
    return False


@pytest.mark.parametrize("name", sorted(_AUDITED))
def test_no_fixed_key_window_over_raw_rows(spark, sf_dir, name):
    df = _AUDITED[name].fn(spark, sf_dir)
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


# ------------------------- data-sized collect_list/set audit

# collect_list/collect_set buffer an entire group in ONE aggregation
# state object — over an unbounded group that is an executor OOM at
# scale. Flag any collect over empty or fixed-cardinality grouping
# keys unless the input subtree is provably bounded (an Aggregate, a
# checkpoint scan, a rank/TakeOrdered limit) or the query carries a
# documented constant bound:
_JUSTIFIED_COLLECTS = {
    # collects the vec_id < PQ_K codebook-seed slice — bounded by the
    # PQ_K constant in the filter, invisible to the subtree walk
    "ann_pq_adc_search",
}


@pytest.mark.parametrize("name", sorted(_AUDITED))
def test_no_unbounded_collect_aggregates(spark, sf_dir, name):
    if name in _JUSTIFIED_COLLECTS:
        return
    df = _AUDITED[name].fn(spark, sf_dir)
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
        if kcols and not kcols <= FIXED_CARDINALITY:
            continue  # grows-with-data grouping: groups stay bounded
        bounded = _bounded_subtree(n, COLLECT_BOUNDED_EXTRAS)
        assert bounded, (
            f"{name}: collect over keys={sorted(kcols) or 'NONE'} "
            "consumes a subtree with no Aggregate/checkpoint/limit — "
            "one aggregation state buffers a data-sized group")


# r11 test tiering: multi-minute sweep/scale/property module —
# excluded from the default (driver-budget) run; run with
# -m "slow or not slow" for the full signal (see pytest.ini).
pytestmark = pytest.mark.slow
