"""Capstone composition: an end-to-end LLM training-corpus prep
pipeline built ENTIRELY from this engine's registered operators —
quality gate -> exact dedup -> per-language token budget.

This is the shape a 100 TB data pipeline actually runs: each stage is
one of the already-verified operators (text_quality_score's gates,
dedup_exact's keep-lowest-id policy, text_token_stats' counting), and
the whole composition stays declarative — Catalyst fuses the quality
filter into the scan, the dedup is one hash shuffle, the budget
aggregate is map-side partial. The oracle recomputes the identical
cascade in SQL, so the *composition* (not just each piece) is
hash-verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load

MIN_QUALITY = 60  # same scoring as text_quality_score


@query(
    "llm_corpus_prep",
    oracle="""
        WITH scored AS (
          SELECT doc_id, lang, text,
                 len(string_split(text, ' ')) AS n_tokens,
                 (CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000
                       THEN 40 ELSE 0 END
                  + CASE WHEN LENGTH(text) >= 100 THEN 30 ELSE 0 END
                  + CAST(ROUND(30.0 * len(list_distinct(string_split(text, ' ')))
                               / len(string_split(text, ' '))) AS INT))
                   AS quality_score
          FROM documents
        ),
        quality AS (
          SELECT * FROM scored WHERE quality_score >= 60
        ),
        deduped AS (
          SELECT md5(text) AS content_hash,
                 MIN(doc_id) AS keep_doc_id,
                 MAX(lang) AS lang,            -- identical text => identical lang
                 MAX(n_tokens) AS n_tokens,
                 COUNT(*) AS n_copies
          FROM quality
          GROUP BY md5(text)
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(n_copies - 1) AS BIGINT) AS n_dups_removed
        FROM deduped
        GROUP BY lang
    """,
    doc="Composite corpus-prep pipeline: quality gate (score >= 60) -> "
        "exact dedup (content hash, keep lowest doc_id) -> per-language "
        "token budget. Verifies that the engine's operators COMPOSE "
        "correctly under one optimizer pass, not just in isolation.",
    tags=("corpus", "dedup", "text", "composite"),
)
def llm_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    score = (
        F.when(n_tokens.between(20, 1000), 40).otherwise(0)
        + F.when(F.length("text") >= 100, 30).otherwise(0)
        + F.round(F.lit(30.0) * n_distinct / n_tokens).cast("int")
    )
    quality = (
        d.select("doc_id", "lang", "text", n_tokens.alias("n_tokens"),
                 score.alias("quality_score"))
         .filter(F.col("quality_score") >= MIN_QUALITY)
    )
    deduped = (
        quality.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
               .agg(F.min("doc_id").alias("keep_doc_id"),
                    F.max("lang").alias("lang"),
                    F.max("n_tokens").alias("n_tokens"),
                    F.count(F.lit(1)).alias("n_copies"))
    )
    return (
        deduped.groupBy("lang")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("n_tokens").alias("total_tokens"),
                    F.sum(F.col("n_copies") - 1).alias("n_dups_removed"))
    )


# ------------------------------------------ release funnel manifest

# Stage keys sort in pipeline order
_STAGES = ("0_raw", "1_repetition", "2_boilerplate",
           "3_decontaminated", "4_exact_dedup", "5_near_dedup")


def _release_oracle() -> str:
    from de_project_airflow_etl_spark.operators.corpus_stats import (
        _SQL_GRAMS, BOILER_FRAC_DEN, BOILER_FRAC_NUM, BOILER_MIN_DF,
    )
    from de_project_airflow_etl_spark.operators.curation import (
        _SQL_NGRAMS, EVAL_MOD, NGRAM_N,
    )
    from de_project_airflow_etl_spark.operators.dedup import _sql_lsh_pairs
    from de_project_airflow_etl_spark.operators.quality import (
        MAX_TOP_FRAC, MIN_DISTINCT_RATIO,
    )
    stage_select = " UNION ALL ".join(
        f"SELECT '{key}' AS stage, lang, COUNT(*) AS n_docs, "
        f"CAST(SUM(n_tokens) AS BIGINT) AS total_tokens "
        f"FROM s{i} GROUP BY lang"
        for i, key in enumerate(_STAGES))
    return f"""
        WITH {_sql_lsh_pairs()},
        {_SQL_GRAMS},
        uniq_docs AS (
          -- boilerplate df over DEDUPLICATED text: byte-identical
          -- copies must not make each other "boilerplate", or the
          -- gate annihilates BOTH copies of every duplicated doc
          -- before exact dedup can keep its canonical one
          SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
        ),
        boiler_u AS (
          SELECT e.gram FROM exploded e
          JOIN uniq_docs u USING (doc_id)
          GROUP BY e.gram HAVING COUNT(*) >= {BOILER_MIN_DF}
        ),
        per_doc_boiler AS (
          SELECT e.doc_id, COUNT(*) AS n_grams,
                 SUM(CASE WHEN b.gram IS NULL THEN 0 ELSE 1 END) AS n_boiler
          FROM exploded e LEFT JOIN boiler_u b ON b.gram = e.gram
          GROUP BY 1
        ),
        ngrams AS (
          SELECT doc_id, UNNEST({_SQL_NGRAMS}) AS gh
          FROM documents
          WHERE len(string_split(text, ' ')) >= {NGRAM_N}
        ),
        contaminated AS (
          SELECT DISTINCT c.doc_id
          FROM (SELECT doc_id, gh FROM ngrams
                WHERE doc_id % {EVAL_MOD} <> 0) c
          JOIN (SELECT gh FROM ngrams
                WHERE doc_id % {EVAL_MOD} = 0) e USING (gh)
        ),
        s0 AS (
          SELECT doc_id, lang, text,
                 len(string_split(text, ' ')) AS n_tokens,
                 len(list_distinct(string_split(text, ' '))) AS n_distinct,
                 list_max(list_transform(
                   list_distinct(string_split(text, ' ')),
                   w -> len(list_filter(string_split(text, ' '),
                                        x -> x = w)))) AS top_cnt
          FROM documents
        ),
        s1 AS (
          SELECT * FROM s0
          WHERE n_distinct / n_tokens >= {MIN_DISTINCT_RATIO}
            AND top_cnt / n_tokens <= {MAX_TOP_FRAC}
        ),
        s2 AS (
          SELECT s1.* FROM s1 LEFT JOIN per_doc_boiler pb USING (doc_id)
          WHERE pb.doc_id IS NULL
             OR pb.n_boiler * {BOILER_FRAC_DEN}
                < pb.n_grams * {BOILER_FRAC_NUM}
        ),
        s3 AS (
          SELECT * FROM s2
          WHERE doc_id % {EVAL_MOD} <> 0
            AND doc_id NOT IN (SELECT doc_id FROM contaminated)
        ),
        s4 AS (
          SELECT * FROM s3
          WHERE doc_id IN (SELECT MIN(doc_id) FROM s3 GROUP BY md5(text))
        ),
        s5 AS (
          -- keep-earliest-SURVIVOR: doc_b is removed only when its
          -- canonical doc_a itself survived stage 4; a pair whose
          -- canonical was gated earlier keeps its doc_b copy
          SELECT * FROM s4
          WHERE doc_id NOT IN (
            SELECT doc_b FROM pairs
            WHERE doc_a IN (SELECT doc_id FROM s4))
        )
        {stage_select}
    """


@query(
    "corpus_release_manifest",
    oracle=_release_oracle(),
    doc="The round-3 capstone composition — a full training-data "
        "release funnel built from this engine's verified operators, "
        "reported per (stage, lang) so every gate's effect is "
        "visible: repetition gate (gopher thresholds) -> cross-doc "
        "boilerplate gate (5-gram doc frequency) -> benchmark "
        "decontamination (word-3-gram inverted index vs the held-out "
        "slice, eval docs excluded) -> exact dedup (keep lowest "
        "doc_id per content hash) -> near-dup removal (verified "
        "MinHash-LSH pairs, keep-earliest). Each stage reuses the "
        "standalone operator's exact expressions (imported "
        "constants/plan builders, not copies), so the oracle verifies "
        "the COMPOSITION under one optimizer pass. Scale shape: "
        "gates are scans + one inverted-index join each; dedup is "
        "one hash shuffle; the near-dup screen is an anti-join "
        "against the verified-pairs relation, checkpointed inside "
        "this query's own build.",
    tags=("corpus", "composite", "curation", "dedup"),
)
def corpus_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stage_rollup(_release_flags(spark, sf_dir))


def _release_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel's per-doc gate-flag relation: one row per document
    with its five boolean gate outcomes (f_rep/f_boil/f_dec/f_exact/
    f_near), lang, and token count — localCheckpointed, text dropped."""
    from de_project_airflow_etl_spark.operators.corpus_stats import (
        _GRAMS_EXPR, BOILER_FRAC_DEN, BOILER_FRAC_NUM, BOILER_MIN_DF,
        GRAM_N,
    )
    from de_project_airflow_etl_spark.operators.curation import (
        EVAL_MOD, NGRAM_N, _ngram_hashes,
    )
    from de_project_airflow_etl_spark.operators.dedup import _lsh_verified
    from de_project_airflow_etl_spark.operators.quality import (
        MAX_TOP_FRAC, MIN_DISTINCT_RATIO,
    )

    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")

    # ONE narrow base pass over the documents (r11 fusion): the five
    # downstream gates used to re-derive text-derived columns in their
    # own scans — split(text) four times, md5(text) twice, plus a
    # corpus-sized equi-join just to attach the repetition verdict.
    # This projection computes every per-doc scalar gate input ONCE
    # (guide §2.4 "remove shuffles outright" for the f_rep join, §1.2
    # "don't compute things twice" for the parses) and checkpoints the
    # NARROW result (ids/hashes/flags only, never text or token
    # arrays — data-sized array materialization is the measured-loss
    # pattern this repo documents). The repetition expressions are the
    # exact ones in quality.repetition_stats_plan: INT vs BIGINT width
    # before the DOUBLE casts cannot change the ratio values.
    ratio = (F.size(F.array_distinct(toks)).cast("double")
             / F.size(toks).cast("double"))
    top_frac = (F.expr("CAST(array_max(transform(array_distinct("
                       "split(text, ' ')), w -> size(filter("
                       "split(text, ' '), x -> x = w)))) AS DOUBLE)")
                / F.size(toks).cast("double"))
    base = (docs.select(
                "doc_id", "lang",
                F.md5(F.col("text").cast("binary")).alias("h"),
                F.size(toks).alias("n_tokens"),
                ((ratio >= F.lit(MIN_DISTINCT_RATIO))
                 & (top_frac <= F.lit(MAX_TOP_FRAC))).alias("f_rep"))
                .localCheckpoint(eager=False))

    # the gram table feeds BOTH the df aggregate and the per-doc probe;
    # materialize it once (this is the "persisted gram table" the 100 TB
    # mitigation in corpus_stats.py describes, applied in-plan). Grams
    # are xxhash64-coded at the explode: the gate only needs gram
    # EQUALITY (df counting + join-back), so exchanges move 8-byte
    # longs, not ~30-byte 5-gram strings — the C4-style hashed-n-gram
    # trick. A 64-bit collision would merge two grams' doc counts;
    # at testdata scale none exist (oracle stays exact), and at 10^11
    # distinct grams the expected handful of collisions perturbs a
    # boilerplate FRACTION threshold, not an exact id set.
    exploded = docs.select("doc_id",
                           F.explode(F.expr(
                               f"transform({_GRAMS_EXPR},"
                               f" g -> xxhash64(g))")).alias("gram")
                           ).localCheckpoint(eager=False)
    # boilerplate df over DEDUPLICATED text (min doc_id per content
    # hash): byte-identical copies must not make each other
    # "boilerplate", or this gate annihilates BOTH copies of every
    # duplicated doc and the exact-dedup stage (which keeps a
    # canonical copy) becomes unreachable for them — surfaced by the
    # 50k planted funnel stress. The md5 now comes from the shared
    # base pass (r11 fusion: no second md5-of-text scan); grouping
    # shuffles the 32-char hash, never the document text.
    uniq_ids = (base.groupBy("h")
                    .agg(F.min("doc_id").alias("doc_id"))
                    .select("doc_id"))
    boiler = (exploded.join(uniq_ids, "doc_id", "left_semi")
                      .groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
                      .filter(F.col("df") >= BOILER_MIN_DF).select("gram"))
    # docs that produced >= 1 gram and stayed under the boilerplate
    # fraction; docs with <5 tokens have no grams and pass the gate —
    # folded into the f_boil expression below (n_tokens < GRAM_N) so
    # the old union's extra documents scan is gone (r11 fusion).
    boiler_keep = (exploded.join(boiler.withColumn("b", F.lit(1)),
                                 "gram", "left")
                   .groupBy("doc_id")
                   .agg(F.count(F.lit(1)).alias("n_grams"),
                        F.sum(F.coalesce("b", F.lit(0))).alias("n_boiler"))
                   .filter(F.col("n_boiler") * BOILER_FRAC_DEN
                           < F.col("n_grams") * BOILER_FRAC_NUM)
                   .select("doc_id").withColumn("f_boil", F.lit(1)))

    grams = (docs.select("doc_id", toks.alias("toks"))
                 .filter(F.size("toks") >= NGRAM_N)
                 .select("doc_id", F.explode(_ngram_hashes()).alias("gh"))
                 .localCheckpoint(eager=False))  # eval index + probe side
    eval_g = (grams.filter(F.col("doc_id") % EVAL_MOD == 0)
                   .select("gh").distinct())
    contaminated = (grams.filter(F.col("doc_id") % EVAL_MOD != 0)
                         .join(F.broadcast(eval_g), "gh")
                         .select("doc_id").distinct()
                         .withColumn("contam", F.lit(1)))

    # hash, token count and the repetition flag all ride the shared
    # base pass, so the document text never enters a join or aggregate
    # shuffle and the old rep_keep corpus-sized equi-join is gone —
    # every downstream exchange moves (doc_id, lang, h, n_tokens) only
    flagged = (base.join(boiler_keep, "doc_id", "left")
                   .join(contaminated, "doc_id", "left")
                   .select(
                       "doc_id", "lang", "h", "n_tokens", "f_rep",
                       (F.col("f_boil").isNotNull()
                        | (F.col("n_tokens") < GRAM_N)).alias("f_boil"),
                       ((F.col("doc_id") % EVAL_MOD != 0)
                        & F.col("contam").isNull()).alias("f_dec")))

    # exact-dedup keep set is defined over the decontaminated survivors
    s3_docs = flagged.filter("f_rep AND f_boil AND f_dec")
    keep_ids = (s3_docs.groupBy("h")
                       .agg(F.min("doc_id").alias("doc_id"))
                       .select("doc_id").withColumn("k", F.lit(1)))
    flagged = (flagged.join(keep_ids, "doc_id", "left")
                      .select("doc_id", "lang", "n_tokens", "f_rep",
                              "f_boil", "f_dec",
                              F.col("k").isNotNull().alias("f_exact"))
                      # materialize the four-gate flags HERE: the
                      # near-dup screen below consumes this relation
                      # twice (s4_ids derivation + the final join),
                      # and without the cut the whole gate pipeline
                      # would be evaluated in two branches of one
                      # action (review finding)
                      .localCheckpoint(eager=False))

    # near-dup screen, keep-earliest-SURVIVOR: a verified pair's doc_b
    # is removed only when its canonical doc_a itself survived stage 4
    # — a pair whose canonical was gated earlier keeps its doc_b copy
    # (one extra semi-join against the stage-4 id set; previously both
    # copies could be lost; review finding)
    s4_ids = (flagged.filter("f_rep AND f_boil AND f_dec AND f_exact")
                     .select("doc_id"))
    dup_b = (_lsh_verified(spark, sf_dir)
             .join(s4_ids.withColumnRenamed("doc_id", "doc_a"),
                   "doc_a", "left_semi")
             .select(F.col("doc_b").alias("doc_id")).distinct()
             .withColumn("is_dup_b", F.lit(1)))
    flagged = (flagged.join(dup_b, "doc_id", "left")
                      .select("doc_id", "lang", "n_tokens", "f_rep",
                              "f_boil", "f_dec", "f_exact",
                              F.col("is_dup_b").isNull().alias("f_near"))
                      # flags-only relation (text dropped): one corpus
                      # pass materializes it for the stage rollup
                      .localCheckpoint(eager=False))
    return flagged


def _stage_conds() -> dict[str, F.Column]:
    """Stage membership predicates over the gate-flag relation; the
    funnel is conjunctive, so each stage ANDs one more flag."""
    return {
        "0_raw": F.lit(True),
        "1_repetition": F.col("f_rep"),
        "2_boilerplate": F.col("f_rep") & F.col("f_boil"),
        "3_decontaminated": F.col("f_rep") & F.col("f_boil")
                            & F.col("f_dec"),
        "4_exact_dedup": F.col("f_rep") & F.col("f_boil")
                         & F.col("f_dec") & F.col("f_exact"),
        "5_near_dedup": F.col("f_rep") & F.col("f_boil")
                        & F.col("f_dec") & F.col("f_exact")
                        & F.col("f_near"),
    }


def _stage_rollup(flagged: DataFrame) -> DataFrame:
    """Per-(stage, lang) doc/token totals in ONE aggregate: a
    conditional SUM per stage inside a single groupBy(lang), then an
    explode-stack of the per-lang row into the six stage rows. The
    naive shape (one filter+groupBy branch per stage, unioned) scans
    the flags relation six times and shuffles six times; conditional
    aggregation is the standard one-pass replacement. SUM(CASE) with
    no ELSE leaves a stage's pair NULL when no doc reaches it, which
    the filter drops — matching the per-stage groupBy that simply has
    no row for an empty (stage, lang) group."""
    conds = _stage_conds()
    per_lang = flagged.groupBy("lang").agg(
        *[F.sum(F.when(conds[k], F.lit(1))).alias(f"__n_{i}")
          for i, k in enumerate(_STAGES)],
        *[F.sum(F.when(conds[k], F.col("n_tokens"))).alias(f"__t_{i}")
          for i, k in enumerate(_STAGES)])
    stacked = per_lang.select(
        "lang",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("stage"),
                     F.col(f"__n_{i}").alias("n_docs"),
                     F.col(f"__t_{i}").alias("total_tokens"))
            for i, k in enumerate(_STAGES)])).alias("s"))
    return (stacked.filter(F.col("s.n_docs").isNotNull())
                   .select("s.stage", "lang", "s.n_docs",
                           "s.total_tokens"))
