"""Algorithmic property tests for the mining / features query banks
(promoted from staged/round6*.py in round 6): guarantees the DuckDB
oracle equality in tests/test_correctness.py cannot express — BPE
greedy-merge equivalence on adversarial inputs, the sketch family's
one-sided error bounds. Oracle equality for these queries now rides
the registry-wide sweep.
"""

from __future__ import annotations

import pytest

from de_project_airflow_etl_spark.staged import STAGED


def test_staged_pen_names_do_not_collide_with_registry():
    from de_project_airflow_etl_spark.registry import all_queries
    clash = set(STAGED) & set(all_queries())
    assert not clash, f"staged names already registered: {sorted(clash)}"


# ------------------------------ BPE merge overlap-resolution property

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_prop = settings(max_examples=10, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])


def _py_bpe_one_merge(toks):
    """Reference single BPE merge: most frequent adjacent pair
    (LEAD-style overlapping counts; ties lexicographic), applied
    greedily left-to-right non-overlapping."""
    from collections import Counter
    pairs = Counter(zip(toks, toks[1:]))
    if not pairs:
        return toks, 0
    (t1, t2), _ = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
    out, i, merges = [], 0, 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == t1 and toks[i + 1] == t2:
            out.append(f"{t1}_{t2}")
            merges += 1
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out, merges


@given(toks=st.lists(st.sampled_from(["a", "b", "c"]),
                     min_size=2, max_size=20))
@_prop
def test_bpe_merge_matches_greedy_reference(spark, tmp_path_factory, toks):
    """For ANY sequence over a tiny alphabet — including the 'a a a a'
    overlap chains the islands logic exists for — the merged output
    must equal the greedy left-to-right reference."""
    import hashlib
    tmp = tmp_path_factory.mktemp("bpe")
    text = " ".join(toks)
    (spark.createDataFrame(
        [(0, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")
     .write.mode("overwrite").parquet(f"{tmp}/documents.parquet"))
    from de_project_airflow_etl_spark.queries.mining import bpe_merge_apply
    row = bpe_merge_apply(spark, str(tmp)).collect()[0]
    expect, merges = _py_bpe_one_merge(toks)
    assert row["n_before"] == len(toks)
    assert row["n_merges"] == merges
    assert row["n_after"] == len(expect)
    assert row["merged_md5"] == hashlib.md5(
        " ".join(expect).encode()).hexdigest()


# --------------------------- sketch-family guarantees (round6b bank)


def test_cms_estimates_never_undercount(spark, sf_dir):
    """Count-min's one-sided error guarantee: estimate >= true count
    for every probed key (collisions only ever ADD mass)."""
    from de_project_airflow_etl_spark.queries.features import (
        cms_user_event_counts)
    rows = cms_user_event_counts(spark, sf_dir).collect()
    assert rows, "empty CMS probe set"
    for r in rows:
        assert r["cms_estimate"] >= r["true_count"], r
        assert r["overcount"] == r["cms_estimate"] - r["true_count"]


def test_bloom_has_no_false_negatives(spark, sf_dir):
    """Every true member must probe bloom-positive; false positives
    are only ever counted among non-members."""
    from de_project_airflow_etl_spark.queries.features import (
        bloom_buyer_membership)
    rows = bloom_buyer_membership(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # members ⊆ bloom-positives, and FP = positives outside members
        assert r["n_bloom_positive"] >= r["n_members"] - (
            r["n_probes"] - r["n_members"]), r
        assert r["n_false_positive"] <= r["n_probes"] - r["n_members"], r
        if r["probe_kind"] == "absent":
            assert r["n_members"] == 0
            assert r["n_false_positive"] == r["n_bloom_positive"]
        else:
            # no false negatives: positives cover every member
            assert r["n_bloom_positive"] - r["n_false_positive"] == \
                r["n_members"], r


def test_kmv_estimate_is_close_at_small_cardinality(spark, sf_dir):
    """When distinct users <= K the sketch degenerates to near-exact:
    kth hash is the max and the estimate lands within 25% of truth
    (looser than CMS/Bloom because the (k-1)/kth estimator is only
    unbiased in expectation)."""
    from de_project_airflow_etl_spark.queries.features import (
        KMV_K, kmv_distinct_users)
    row = kmv_distinct_users(spark, sf_dir).collect()[0]
    assert row["k_used"] <= KMV_K
    assert row["kth_hash"] > 0
    assert 0.5 < row["est_over_true"] < 2.0, row


# r11 test tiering: multi-minute sweep/scale/property module —
# excluded from the default (driver-budget) run; run with
# -m "slow or not slow" for the full signal (see pytest.ini).
pytestmark = pytest.mark.slow
