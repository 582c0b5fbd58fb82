"""Star-forest fixpoint of the connected-components loop: exact labels
on small graphs, zero rounds for star-forest input, the empty graph,
and the non-convergence error. Fast-tier companion of
tests/test_graph.py (whose chain/ring stress tests are slow)."""

from __future__ import annotations

import pytest

from de_project_airflow_etl_spark.operators.dedup import (
    _connected_components,
)


def _labels(spark, edges, **kw) -> dict[int, int]:
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "doc_a long, doc_b long")
    return {r["doc_id"]: r["component_id"]
            for r in _connected_components(pairs, **kw).collect()}


def _union_find(edges) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_star_forest_input_needs_zero_rounds(spark):
    """Disjoint pairs and a star rooted at its minimum are already the
    fixpoint: labelling them must not need a single contraction round."""
    edges = [(1, 2), (3, 4), (10, 11), (10, 12), (10, 13)]
    assert _labels(spark, edges, max_iters=0) == {
        1: 1, 2: 1, 3: 3, 4: 3, 10: 10, 11: 10, 12: 10, 13: 10}


def test_child_with_two_parents_is_not_a_fixpoint(spark):
    """Canonical edges (3 -> 1) and (3 -> 2): node 3 has two parents,
    so the loop must contract before labelling."""
    assert _labels(spark, [(1, 3), (2, 3)]) == {1: 1, 2: 1, 3: 1}


def test_mixed_shapes_match_union_find(spark):
    star = [(100, 100 + k) for k in range(1, 6)]           # rooted at min
    reversed_star = [(200 + k, 210) for k in range(5)]     # root is max
    chain = [(300 + i, 301 + i) for i in range(12)]
    triangle = [(400, 401), (401, 402), (400, 402)]
    edges = star + reversed_star + chain + triangle
    assert _labels(spark, edges) == _union_find(edges)


def test_empty_pairs_give_empty_labels(spark):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    out = _connected_components(pairs)
    assert out.columns == ["doc_id", "component_id"]
    assert out.collect() == []


def test_chain_with_one_round_budget_raises(spark):
    chain = [(i, i + 1) for i in range(300)]
    with pytest.raises(RuntimeError, match="did not converge"):
        _labels(spark, chain, max_iters=1)
