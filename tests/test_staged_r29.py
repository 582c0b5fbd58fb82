"""Planted-graph tests for the round-29 staged bank (source
modularity, degree assortativity, label propagation, transitivity)
via the exposed pair-level helpers — closed-form expectations on
graphs whose structure is known analytically. Blanket oracle /
non-empty gates ride tests/test_staged_pen.py.
"""

from __future__ import annotations

import pytest

from de_project_airflow_etl_spark.staged.round29 import (
    _assortativity,
    _label_prop,
    _modularity,
    _transitivity,
)


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def _labels(spark, lab):
    return spark.createDataFrame(list(lab.items()),
                                 "doc_id long, source string")


# --------------------------------------------------------- modularity


def test_modularity_two_triangles_one_bridge(spark):
    """Two 3-cliques labeled A/B joined by one cross edge: m=7,
    e_within=6, d_A=d_B=7 -> Q = 6/7 - 2*(7/14)^2 = 70/196."""
    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    lab = {i: ("A" if i <= 3 else "B") for i in range(1, 7)}
    r = _modularity(_pairs(spark, edges),
                    _labels(spark, lab)).collect()[0]
    assert r["n_edges"] == 7 and r["e_within"] == 6
    assert r["modularity_q"] == pytest.approx(70 / 196, rel=1e-12)


def test_modularity_all_cross_edges_negative(spark):
    """A bipartite 2x2 between labels -> e_within=0, Q strictly < 0."""
    edges = [(1, 3), (1, 4), (2, 3), (2, 4)]
    lab = {1: "A", 2: "A", 3: "B", 4: "B"}
    r = _modularity(_pairs(spark, edges),
                    _labels(spark, lab)).collect()[0]
    assert r["e_within"] == 0
    # Q = 0 - 2*(4/8)^2 = -0.5
    assert r["modularity_q"] == pytest.approx(-0.5, rel=1e-12)


# ----------------------------------------------------- assortativity


def test_assortativity_star_is_minus_one(spark):
    """A star graph is maximally disassortative: r = -1 exactly."""
    edges = [(0, i) for i in range(1, 6)]
    r = _assortativity(_pairs(spark, edges)).collect()[0]
    assert r["n_directed_edges"] == 10
    assert r["assortativity_r"] == pytest.approx(-1.0, rel=1e-12)


def test_assortativity_regular_graph_null(spark):
    """A cycle is degree-regular -> zero degree variance -> NULL."""
    edges = [(1, 2), (2, 3), (3, 4), (4, 1)]
    r = _assortativity(_pairs(spark, edges)).collect()[0]
    assert r["assortativity_r"] is None


def test_assortativity_matches_pure_python(spark):
    """Irregular graph: compare against the direct Newman formula."""
    edges = [(1, 2), (2, 3), (3, 4), (2, 4), (4, 5)]
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    dirs = [(deg[a], deg[b]) for a, b in edges] \
        + [(deg[b], deg[a]) for a, b in edges]
    m = len(dirs)
    se = sum(j * k for j, k in dirs)
    s1 = sum(j for j, _ in dirs)
    s2 = sum(j * j for j, _ in dirs)
    ref = (m * se - s1 * s1) / (m * s2 - s1 * s1)
    r = _assortativity(_pairs(spark, edges)).collect()[0]
    assert r["assortativity_r"] == pytest.approx(ref, rel=1e-12)


# -------------------------------------------------- label propagation


def test_label_prop_clique_majority_converges(spark):
    """4-clique seeded 3x'a' / 1x'b': every node's neighbor majority
    is 'a' from round 1 on -> final all 'a', exactly one flip."""
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    lab = {1: "a", 2: "a", 3: "a", 4: "b"}
    rows = {r["label"]: r for r in _label_prop(
        _pairs(spark, edges), _labels(spark, lab)).collect()}
    assert set(rows) == {"a"}
    assert rows["a"]["n_nodes"] == 4
    assert rows["a"]["n_flipped"] == 1


def test_label_prop_star_oscillates_deterministically(spark):
    """Star with hub 'h' and 4 leaves 'l': synchronized updates swap
    the two labels each round; after 3 rounds hub='l', leaves='h' —
    the documented deterministic oscillation."""
    edges = [(0, i) for i in range(1, 5)]
    lab = {0: "h", 1: "l", 2: "l", 3: "l", 4: "l"}
    rows = {r["label"]: r for r in _label_prop(
        _pairs(spark, edges), _labels(spark, lab)).collect()}
    assert rows["h"]["n_nodes"] == 4 and rows["h"]["n_flipped"] == 4
    assert rows["l"]["n_nodes"] == 1 and rows["l"]["n_flipped"] == 1


def test_label_prop_tie_breaks_to_min_label(spark):
    """A node with one neighbor of each label must take the
    lexicographically smaller one."""
    edges = [(1, 2), (2, 3)]
    lab = {1: "z", 2: "m", 3: "a"}
    # round1: n1<-'m', n2<-min('z','a')='a', n3<-'m'
    # round2: n1<-'a', n2<-'m', n3<-'a'
    # round3: n1<-'m', n2<-'a', n3<-'m'
    rows = {r["label"]: r for r in _label_prop(
        _pairs(spark, edges), _labels(spark, lab)).collect()}
    assert rows["m"]["n_nodes"] == 2 and rows["m"]["n_flipped"] == 2
    assert rows["a"]["n_nodes"] == 1 and rows["a"]["n_flipped"] == 1


# ------------------------------------------------------ transitivity


def test_transitivity_triangle_with_tail(spark):
    """Triangle 1-2-3 plus tail 3-4: T=1, degrees (2,2,3,1),
    sum d(d-1) = 2+2+6+0 = 10 -> W=5, transitivity = 3/5."""
    edges = [(1, 2), (1, 3), (2, 3), (3, 4)]
    r = _transitivity(_pairs(spark, edges)).collect()[0]
    assert r["n_triangles"] == 1
    assert r["n_wedges"] == 5.0
    assert r["transitivity"] == pytest.approx(0.6, rel=1e-12)


def test_transitivity_clique_is_one(spark):
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    r = _transitivity(_pairs(spark, edges)).collect()[0]
    assert r["n_triangles"] == 4
    assert r["transitivity"] == pytest.approx(1.0, rel=1e-12)


def test_transitivity_no_wedges_null(spark):
    """A perfect matching has no wedge at all -> NULL."""
    edges = [(1, 2), (3, 4)]
    r = _transitivity(_pairs(spark, edges)).collect()[0]
    assert r["n_triangles"] == 0
    assert r["transitivity"] is None
