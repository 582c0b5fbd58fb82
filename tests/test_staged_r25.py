"""Planted-ground-truth tests for the round-25 staged bank
(tokenizer-aware shingle dedup, URL/domain dedup profile, RAG-chunk
retrieval eval). The blanket oracle-match / non-empty gates in
tests/test_staged_pen.py parametrize over ALL staged queries.
"""

from __future__ import annotations

import hashlib

import pytest

from de_project_airflow_etl_spark.staged import STAGED


def _write_docs(spark, path, rows):
    """rows: (doc_id, text, source)"""
    data = [(i, t, "en", s, len(t)) for i, t, s in rows]
    (spark.createDataFrame(
        data, "doc_id long, text string, lang string, source string,"
              " n_chars long")
     .write.mode("overwrite").parquet(f"{path}/documents.parquet"))


# ------------------------------------------- token-id shingle dedup


def test_token_shingles_exact_jaccard(spark, tmp_path_factory):
    """Two 8-token docs differing in the last token share 4 of their
    5 4-gram shingles: J = 4/6 exactly. An unrelated doc pairs with
    neither."""
    tmp = str(tmp_path_factory.mktemp("tsh"))
    docs = [(1, "a b c d e f g h", "s0"),
            (2, "a b c d e f g z", "s0"),
            (3, "p q r s t u v w", "s0")]
    _write_docs(spark, tmp, docs)
    rows = STAGED["dedup_token_id_shingles"].fn(spark, tmp).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"], r["n_inter"]) == (1, 2, 4)
    assert r["jaccard"] == 4 / 6


def test_token_shingles_oov_collapse(spark, tmp_path_factory):
    """The tokenizer-aware property: two docs identical except for
    RARE tokens that fall outside the top-500 vocabulary collapse to
    the same id sequence (OOV -> 0) and read as EXACT duplicates
    (J = 1.0) — the char/word-shingle dedups cannot see this."""
    tmp = str(tmp_path_factory.mktemp("tshoov"))
    common = " ".join(f"aa{i}" for i in range(8))  # count-2 tokens
    docs = [(1, common + " rare1zz", "s0"),
            (2, common + " rare2zz", "s0")]
    # 125 filler docs x 4 distinct tokens, each token twice -> 500
    # count-2 tokens; with aa0..aa7 that is 508 count-2 candidates, so
    # the two count-1 rare tokens are guaranteed OOV.
    for d in range(125):
        toks = [f"zf{d}_{j}" for j in range(4)]
        docs.append((10 + d, " ".join(toks + toks), "s0"))
    _write_docs(spark, tmp, docs)
    rows = {(r["doc_a"], r["doc_b"]): r
            for r in STAGED["dedup_token_id_shingles"].fn(
                spark, tmp).collect()}
    assert (1, 2) in rows
    r = rows[(1, 2)]
    # 9 tokens -> 6 shingles each; identical after OOV collapse
    assert r["n_inter"] == 6 and r["jaccard"] == 1.0


def test_token_shingles_short_docs_no_abort(spark, tmp_path_factory):
    """size(ids) >= 4 guard: empty / 1-3 token docs produce no
    shingles and must not abort the sequence-driven lambda."""
    tmp = str(tmp_path_factory.mktemp("tshshort"))
    docs = [(1, "", "s0"), (2, "one", "s0"), (3, "x y z", "s0"),
            (4, "a b c d e f g h", "s0"),
            (5, "a b c d e f g h", "s0")]
    _write_docs(spark, tmp, docs)
    rows = STAGED["dedup_token_id_shingles"].fn(spark, tmp).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == {(4, 5)}
    assert rows[0]["jaccard"] == 1.0


# --------------------------------------------- URL/domain profile


def _domain(source: str, doc_id: int) -> str:
    nib = hashlib.md5(f"host|{doc_id}".encode()).hexdigest()[0]
    return f"{source}-{nib}"


def test_url_domain_profile_cross_vs_within(spark, tmp_path_factory):
    """Plant one content duplicated across two DIFFERENT domains and
    one duplicated within a SINGLE domain; the profile must separate
    them."""
    tmp = str(tmp_path_factory.mktemp("urldom"))
    # find doc_ids landing in distinct / identical domains for src0
    ids = list(range(200))
    d0 = _domain("s0", 0)
    same = [i for i in ids if _domain("s0", i) == d0]
    diff = [i for i in ids if _domain("s0", i) != d0]
    a, b = same[0], same[1]          # same domain
    c = diff[0]                      # different domain
    docs = [(a, "dup text", "s0"), (b, "dup text", "s0"),
            (c, "cross text", "s0"), (300, "cross text", "s1"),
            (301, "unique text", "s1")]
    _write_docs(spark, tmp, docs)
    rows = {r["domain"]: r for r in STAGED[
        "url_domain_dedup_profile"].fn(spark, tmp).collect()}
    within = rows[d0]
    assert within["n_docs"] == 2 and within["n_unique"] == 1
    assert within["n_dup_docs"] == 1
    assert within["n_cross_domain_docs"] == 0  # same-domain dup only
    cross = rows[_domain("s0", c)]
    assert cross["n_cross_domain_docs"] == 1
    cross2 = rows[_domain("s1", 300)]
    assert cross2["n_cross_domain_docs"] == 1
    # totals reconcile with the corpus
    assert sum(r["n_docs"] for r in rows.values()) == len(docs)


# ------------------------------------------------ RAG chunk eval


def test_rag_chunk_adjacent_sibling_ranks_first(spark, tmp_path_factory):
    """An 80-token anchor doc (3 chunks) with corpus-unique tokens:
    chunk 1 shares exactly the 8-token stride overlap with the query
    chunk (4 shared 5-grams) and must rank FIRST; chunk 2 shares no
    grams with chunk 0 and stays lexically unreachable."""
    tmp = str(tmp_path_factory.mktemp("rag"))
    anchor = " ".join(f"anch{i}" for i in range(80))  # doc_id 0
    docs = [(0, anchor, "s0")]
    for d in range(1, 8):
        docs.append((d, " ".join(f"oth{d}_{i}" for i in range(40)),
                     "s0"))
    _write_docs(spark, tmp, docs)
    rows = {r["a_doc"]: r for r in STAGED[
        "rag_chunk_retrieval_eval"].fn(spark, tmp).collect()}
    assert set(rows) == {0}
    r = rows[0]
    assert r["n_sib"] == 2
    assert r["first_rel_rank"] == 1
    assert r["hits_at_k"] >= 1
    assert r["recall_at_k"] == pytest.approx(r["hits_at_k"] / 2)


def test_rag_chunk_single_chunk_anchor_excluded(spark, tmp_path_factory):
    """Anchors with one chunk (<= 32 tokens) have no siblings and are
    excluded rather than dividing by zero."""
    tmp = str(tmp_path_factory.mktemp("rag1"))
    docs = [(0, " ".join(f"a{i}" for i in range(20)), "s0"),
            (25, " ".join(f"b{i}" for i in range(80)), "s0"),
            (1, " ".join(f"c{i}" for i in range(80)), "s0")]
    _write_docs(spark, tmp, docs)
    rows = {r["a_doc"] for r in STAGED[
        "rag_chunk_retrieval_eval"].fn(spark, tmp).collect()}
    assert rows == {25}  # doc 0 single-chunk, doc 1 not an anchor


def test_rag_chunk_final_plan_shape(spark, sf_dir):
    """Top-k rides WindowGroupLimit pushdown and the anchor panel is
    a bounded broadcast build — the two plan facts that make the
    20-key rank window 100 TB-safe (its scan budget lives in
    tests/test_plan_rules.py)."""
    df = STAGED["rag_chunk_retrieval_eval"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
