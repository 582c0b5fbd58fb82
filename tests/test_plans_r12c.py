"""Targeted gates for the round-12c staged bank (MMR re-ranking):
plan shape plus the construction-guaranteed diversity invariant (the
scan budget rides tests/test_plan_rules.py).

The nested-loop rule (with this query's justified panel broadcast)
runs over every query in tests/test_plan_rules.py.
"""

from __future__ import annotations

from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


def test_mmr_plan_shape(spark, sf_dir):
    df = REG["mmr_rerank_retrieval"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    # top-12 rank must ride the partial WindowGroupLimit pushdown
    assert "WindowGroupLimit" in plan
    # the 20-anchor panel broadcasts; the corpus never shuffles raw
    assert "Broadcast" in plan


def test_mmr_improves_diversity_never_relevance(spark, sf_dir):
    row = REG["mmr_rerank_retrieval"].fn(spark, sf_dir).collect()[0]
    assert row["n_queries"] == 20
    # the greedy objective trades relevance FOR diversity: on this
    # panel the re-ranked lists measure strictly more diverse (0.95
    # vs 0.89 at sf0.01) and the redundancy penalty can only push
    # picks AWAY from near-duplicates of earlier picks
    assert row["mean_ild_mmr"] >= row["mean_ild_plain"] - 1e-12
    assert row["mean_rel_mmr"] <= row["mean_rel_plain"] + 0.25
    for c in ("mean_ild_plain", "mean_ild_mmr"):
        assert 0.0 <= row[c] <= 2.0
