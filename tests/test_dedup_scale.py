"""Scale-shaped stress for the MinHash-LSH dedup path: 100k synthetic
documents generated DISTRIBUTED (spark.range + hash-derived tokens, no
driver-side data), with planted exact near-duplicates. The banded-LSH
pipeline must recover exactly the planted pairs — no false positives
survive the Jaccard verify, no planted pair is missed — at 20x the
sf0.1 corpus size, on the same code path the registry query uses.
"""

from __future__ import annotations

import pytest

from de_project_airflow_etl_spark.operators import dedup

N_DOCS = 100_000
PLANT_EVERY = 1_000
VOCAB = " ".join(f"tok{k}" for k in range(50))


@pytest.fixture()
def planted_corpus(spark, tmp_path):
    """doc i gets 20 tokens derived from murmur hashes of a seed; every
    1000th doc reuses the previous doc's seed -> an exact duplicate."""
    docs = spark.range(N_DOCS).selectExpr(
        "id AS doc_id",
        f"CASE WHEN id % {PLANT_EVERY} = 0 AND id > 0 "
        f"THEN id - 1 ELSE id END AS seed",
    ).selectExpr(
        "doc_id",
        f"concat_ws(' ', transform(sequence(0, 19), j -> "
        f"element_at(split('{VOCAB}', ' '), "
        f"1 + pmod(hash(seed * 31 + j), 50)))) AS text",
        "'en' AS lang", "'synth' AS source",
    ).selectExpr("doc_id", "text", "lang", "source",
                 "length(text) AS n_chars")
    out = str(tmp_path / "documents.parquet")
    docs.write.mode("overwrite").parquet(out)
    return str(tmp_path)


def test_lsh_recovers_exactly_the_planted_pairs(spark, planted_corpus):
    rows = dedup.dedup_minhash_lsh(spark, planted_corpus).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in rows}
    planted = {(i - 1, i)
               for i in range(PLANT_EVERY, N_DOCS, PLANT_EVERY)}
    assert found == planted
    # planted docs are exact copies -> Jaccard exactly 1.0
    assert all(r["jaccard"] == 1.0 for r in rows)
    # and cluster resolution labels each pair with its min doc_id
    labels = {r["doc_id"]: r["component_id"]
              for r in dedup.dedup_clusters(spark, planted_corpus).collect()}
    assert len(labels) == 2 * len(planted)
    for a, b in planted:
        assert labels[a] == labels[b] == a


N_INC = 50_000
INC_CUTOFF = N_INC * 4 // 5          # the operator's 80% boundary
COPY_EVERY = 100                     # every 100th new doc copies corpus


def test_incremental_dedup_classifies_planted_copies(spark, tmp_path):
    """50k docs; the newest 20% contains exact copies of corpus docs
    every 100th id. The incremental screen must classify exactly those
    as dup_exact_corpus and admit everything else (hash-derived texts
    collide with ~zero probability at this vocab)."""
    docs = spark.range(N_INC).selectExpr(
        "id AS doc_id",
        f"CASE WHEN id >= {INC_CUTOFF} AND id % {COPY_EVERY} = 0 "
        f"THEN id - {INC_CUTOFF} ELSE id END AS seed",
    ).selectExpr(
        "doc_id",
        "concat_ws(' ', transform(sequence(0, 19), j -> "
        "concat('tok', pmod(hash(seed * 131 + j), 500)))) AS text",
        "'en' AS lang", "'synth' AS source",
    ).selectExpr("doc_id", "text", "lang", "source",
                 "length(text) AS n_chars")
    out = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{out}/documents.parquet")

    counts = {r["status"]: r["n_docs"]
              for r in dedup.incremental_dedup_new_docs(spark, out).collect()}
    n_new = N_INC - INC_CUTOFF
    n_copies = len(range(INC_CUTOFF, N_INC, COPY_EVERY))
    assert counts.get("dup_exact_corpus", 0) == n_copies
    assert counts.get("admitted", 0) == n_new - n_copies
    assert counts.get("dup_near_corpus", 0) == 0
    assert counts.get("dup_near_batch", 0) == 0


N_BOILER = 20_000
BOILER_PLANT_EVERY = 1_000


def test_jaccard_df_cap_keeps_candidates_linear(spark, tmp_path):
    """20k docs ALL sharing one boilerplate shingle (df = 20k, way past
    NGRAM_DF_CAP), planted exact dups every 1000th doc. Without the
    cap the shared shingle alone contributes C(20k,2) = 2e8 candidate
    rows; with it the candidate count must stay linear and the result
    must be exactly the planted pairs at Jaccard 1.0."""
    from pyspark.sql import functions as F

    docs = spark.range(N_BOILER).selectExpr(
        "id AS doc_id",
        f"CASE WHEN id % {BOILER_PLANT_EVERY} = 0 AND id > 0 "
        f"THEN id - 1 ELSE id END AS seed",
    ).selectExpr(
        "doc_id",
        # every doc opens with the same 3-token boilerplate phrase,
        # then 12 seed-derived tokens from a wide vocab (no ambient
        # shingle collisions)
        "concat_ws(' ', 'common boiler plate', concat_ws(' ', "
        "transform(sequence(0, 11), j -> "
        "concat('u', pmod(hash(seed * 977 + j), 1000000))))) AS text",
        "'en' AS lang", "'synth' AS source",
    ).selectExpr("doc_id", "text", "lang", "source",
                 "length(text) AS n_chars")
    out = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{out}/documents.parquet")

    rows = dedup.dedup_ngram_jaccard(spark, out).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in rows}
    planted = {(i - 1, i)
               for i in range(BOILER_PLANT_EVERY, N_BOILER, BOILER_PLANT_EVERY)}
    assert found == planted
    assert all(r["jaccard"] == 1.0 for r in rows)

    # direct linearity check: total self-join candidate rows over the
    # capped inverted index = sum_g C(df_g, 2), must be O(n) not n^2
    sh = dedup._shingled(spark, out).select(
        "doc_id", F.explode("shingles").alias("shingle"))
    cands = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
               .filter(F.col("df") <= dedup.NGRAM_DF_CAP)
               .agg(F.sum(F.expr("df * (df - 1) / 2")).alias("c"))
               .collect()[0]["c"])
    assert cands < 10 * N_BOILER, cands


# r11 test tiering: multi-minute sweep/scale/property module —
# excluded from the default (driver-budget) run; run with
# -m "slow or not slow" for the full signal (see pytest.ini).
pytestmark = pytest.mark.slow
