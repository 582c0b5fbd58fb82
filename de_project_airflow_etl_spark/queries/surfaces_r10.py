"""Round-9 promoted bank (staged as staged/round10.py): embedding cluster-validity indices
(simplified silhouette, Davies-Bouldin), two more nonparametric
statistics (Cliff's delta effect size, Quade weighted block test),
and two corpus-text metrics (SMOG/Fog complex-word readability,
MATTR moving-average lexical diversity).

Same contract and determinism rules as staged/round8.py. Two idioms
this bank leans on:

* **Floor/round-quantized per-point doubles** (the
  label_separation_scores precedent): a per-row double that is
  bit-deterministic cross-engine (folds in dimension order,
  identical operand sequence) is quantized to a 1e12 fixed-point
  BIGINT, so its DATA-SIZED sum is an exact integer — order-free —
  where a raw double sum would depend on partial-aggregation order.
* **Single-row centroid panels**: the |labels|-row centroid table is
  collected into ONE row's array of structs and crossJoined as a
  broadcast scalar (the gate-allowed BNLJ shape); per-point work
  against every centroid happens inside array lambdas, never via an
  aggregate x data join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.queries.util import (
    dlit, fold_sorted_spark, fold_sorted_sql, sql_cents, wide,
)
from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load

SIL_SCALE = 1_000_000_000_000  # 1e12 per-point quantization grid

# Shared fixed-point centroid construction (the
# embedding_label_centroids discipline): floor-quantize coordinates
# to a 1e-6 grid, sum exactly per (label, dim), divide once.
_SQL_CENT_PANEL = """
        d AS (
          SELECT label, i AS dim,
                 CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                            * 1000000.0) AS BIGINT) AS v
          FROM embeddings,
               UNNEST(generate_series(1, len(embedding))) AS s(i)
        ),
        nl AS (
          SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs
          FROM embeddings GROUP BY label
        ),
        g AS (SELECT label, dim, SUM(v) AS s FROM d GROUP BY label, dim),
        cent AS (
          SELECT g.label AS clabel,
                 list_transform(
                   list_sort(list({'dim': g.dim, 'cv':
                     CAST(g.s AS DOUBLE)
                       / (1000000.0 * CAST(nl.n_vecs AS DOUBLE))})),
                   p -> p.cv) AS centroid
          FROM g JOIN nl USING (label)
          GROUP BY g.label
        ),
        panel AS (
          SELECT list_sort(list({'clabel': clabel,
                                 'centroid': centroid})) AS cents
          FROM cent
        )"""

# d2(point, centroid): fold in dimension order from a 0.0 seed.
_SQL_D2 = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
           " list_transform(generate_series(1, len(embedding)),"
           " k -> (CAST(embedding[k] AS DOUBLE) - {c}[k])"
           " * (CAST(embedding[k] AS DOUBLE) - {c}[k]))),"
           " (acc, v) -> acc + v)")
_SPK_D2 = ("aggregate(zip_with(embedding, {c},"
           " (x, cc) -> (CAST(x AS DOUBLE) - cc)"
           " * (CAST(x AS DOUBLE) - cc)),"
           " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def _spark_cent_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row broadcastable panel: array of (clabel, centroid)."""
    e = load(spark, sf_dir, "embeddings")
    d = (e.select("label", F.expr(
             "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)"
             " * 1000000.0) AS BIGINT))").alias("qv"))
          .select("label", F.posexplode("qv").alias("dim", "v")))
    # the |labels x dims| moment table is bounded (640 rows) —
    # checkpoint it so the panel build scans the corpus once for the
    # moments (the label_separation_scores precedent); the scalar
    # aggregate ABOVE it stays visible to the BNLJ gate.
    g = (d.groupBy("label", "dim").agg(F.sum("v").alias("s"))
          .localCheckpoint())
    nl = e.groupBy("label").agg(F.count(F.lit(1)).cast("long")
                                 .alias("n_vecs"))
    cent = (g.join(nl, "label")
             .groupBy(F.col("label").alias("clabel"))
             .agg(F.expr(
                 "transform(array_sort(collect_list(struct(dim,"
                 " CAST(s AS DOUBLE) / (1000000.0"
                 " * CAST(n_vecs AS DOUBLE)) AS cv))), p -> p.cv)")
                 .alias("centroid")))
    # NOT checkpointed: the scalar-aggregate root is what lets the
    # BNLJ gate prove the broadcast build bounded (a checkpoint would
    # hide it behind an opaque RDD scan); each consumer references
    # the panel once, so nothing re-executes.
    return cent.agg(F.expr("array_sort(collect_list("
                           "struct(clabel, centroid)))").alias("cents"))


# -------------------------- simplified silhouette per embedding label


@query(
    "simplified_silhouette_labels",
    oracle=f"""
        WITH {_SQL_CENT_PANEL},
        pt AS (
          SELECT e.label,
                 SQRT({_SQL_D2.format(
                     c="list_filter(p.cents, c -> c.clabel = e.label)"
                       "[1].centroid")}) AS a_dist,
                 SQRT(list_min(list_transform(
                   list_filter(p.cents, c -> c.clabel <> e.label),
                   c -> {_SQL_D2.format(c="c.centroid")}))) AS b_dist
          FROM embeddings e, panel p
        ),
        q AS (
          SELECT label,
                 CAST(ROUND(CASE WHEN GREATEST(a_dist, b_dist) = 0
                        THEN 0.0
                        ELSE (b_dist - a_dist)
                             / GREATEST(a_dist, b_dist) END
                      * {SIL_SCALE}) AS BIGINT) AS s_fp
          FROM pt
        )
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(CASE WHEN s_fp > 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_positive,
               CAST(SUM(s_fp) AS BIGINT) AS sil_sum_fp,
               CAST(SUM(s_fp) AS DOUBLE)
                 / (COUNT(*) * {dlit(float(SIL_SCALE))})
                 AS mean_silhouette
        FROM q GROUP BY label
    """,
    doc="Simplified silhouette per embedding label: each point's "
        "(b - a)/max(a, b) against the deterministic fixed-point "
        "class centroids (a = distance to own centroid, b = nearest "
        "other centroid) — the O(n k) cluster-quality score used at "
        "corpus scale where the O(n^2) full silhouette is "
        "impossible. Per-point distances fold in dimension order "
        "(bit-deterministic), the silhouette double is quantized to "
        "a 1e12 grid so the DATA-SIZED sum is an exact, order-free "
        "integer; one division at emit. Plan: one posexplode "
        "centroid aggregate collected into a ONE-ROW panel broadcast "
        "onto a single corpus pass; all per-centroid work rides "
        "array lambdas — never an aggregate x data join.",
    tags=("similarity", "evaluation"),
)
def simplified_silhouette_labels(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    panel = _spark_cent_panel(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings")
    a_d2 = _SPK_D2.format(
        c="filter(cents, c -> c.clabel = label)[0].centroid")
    b_d2 = ("array_min(transform(filter(cents, c -> c.clabel != label),"
            f" c -> {_SPK_D2.format(c='c.centroid')}))")
    pt = (e.crossJoin(F.broadcast(panel))
           .selectExpr("label",
                       f"SQRT({a_d2}) AS a_dist",
                       f"SQRT({b_d2}) AS b_dist"))
    q = pt.selectExpr(
        "label",
        f"CAST(ROUND(CASE WHEN GREATEST(a_dist, b_dist) = 0 THEN 0.0"
        f" ELSE (b_dist - a_dist) / GREATEST(a_dist, b_dist) END"
        f" * {SIL_SCALE}) AS BIGINT) AS s_fp")
    return (q.groupBy("label")
             .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
                  F.sum(F.when(F.col("s_fp") > 0, 1).otherwise(0))
                   .cast("long").alias("n_positive"),
                  F.sum("s_fp").cast("long").alias("sil_sum_fp"))
             .selectExpr("label", "n_vecs", "n_positive", "sil_sum_fp",
                         f"CAST(sil_sum_fp AS DOUBLE) / (n_vecs"
                         f" * {dlit(float(SIL_SCALE))})"
                         " AS mean_silhouette"))


# ----------------------------- Davies-Bouldin index per label pair


@query(
    "davies_bouldin_labels",
    oracle=f"""
        WITH {_SQL_CENT_PANEL},
        pt AS (
          SELECT e.label,
                 CAST(ROUND(SQRT({_SQL_D2.format(
                     c="list_filter(p.cents, c -> c.clabel = e.label)"
                       "[1].centroid")}) * {SIL_SCALE}) AS BIGINT)
                   AS d_fp
          FROM embeddings e, panel p
        ),
        scat AS (
          SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                 CAST(SUM(d_fp) AS DOUBLE)
                   / (COUNT(*) * {dlit(float(SIL_SCALE))}) AS s_l
          FROM pt GROUP BY label
        ),
        spanel AS (
          SELECT list_sort(list({{'slabel': label, 's_l': s_l}}))
            AS scats
          FROM scat
        ),
        rmax AS (
          SELECT a.label, a.n_vecs, a.s_l,
                 list_max(list_transform(
                   list_filter(sp.scats, x -> x.slabel <> a.label),
                   x -> (a.s_l + x.s_l) / SQRT(
                     list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(generate_series(1, len(
                         list_filter(p.cents,
                           c -> c.clabel = a.label)[1].centroid)),
                         k -> (list_filter(p.cents,
                                 c -> c.clabel = a.label)[1].centroid[k]
                               - list_filter(p.cents,
                                 c -> c.clabel = x.slabel)[1].centroid[k])
                              * (list_filter(p.cents,
                                 c -> c.clabel = a.label)[1].centroid[k]
                               - list_filter(p.cents,
                                 c -> c.clabel = x.slabel)[1].centroid[k]))),
                       (acc, v) -> acc + v)))) AS r_max
          FROM scat a, spanel sp, panel p
        )
        SELECT label, n_vecs, s_l AS scatter_mean, r_max
        FROM rmax
    """,
    doc="Davies-Bouldin components per embedding label: the mean "
        "point-to-own-centroid distance S_l (scatter) and R_l = "
        "max over other labels of (S_l + S_j) / M_lj with M the "
        "centroid separation — lower R means tighter, better-"
        "separated classes; the DB index is the mean of r_max and "
        "the per-label rows show WHICH class drags it. Per-point "
        "distances quantize to the 1e12 grid before the data-sized "
        "sum (order-free exact integers); centroid separations and "
        "R ratios are bounded |labels|^2 double math on identical "
        "operands. Plan: one posexplode centroid aggregate, one "
        "corpus pass against the broadcast one-row panel, then "
        "k x k math.",
    tags=("similarity", "evaluation"),
)
def davies_bouldin_labels(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    panel = _spark_cent_panel(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings")
    a_d2 = _SPK_D2.format(
        c="filter(cents, c -> c.clabel = label)[0].centroid")
    pt = (e.crossJoin(F.broadcast(panel))
           .selectExpr("label",
                       f"CAST(ROUND(SQRT({a_d2}) * {SIL_SCALE})"
                       " AS BIGINT) AS d_fp"))
    scat = (pt.groupBy("label")
              .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
                   F.sum("d_fp").cast("long").alias("d_sum"))
              .selectExpr("label", "n_vecs",
                          f"CAST(d_sum AS DOUBLE) / (n_vecs"
                          f" * {dlit(float(SIL_SCALE))}) AS s_l")
              .localCheckpoint())
    spanel = scat.agg(F.expr(
        "array_sort(collect_list(struct(label AS slabel, s_l)))")
        .alias("scats"))
    own_cent = "filter(cents, c -> c.clabel = label)[0].centroid"
    oth_cent = "filter(cents, c -> c.clabel = x.slabel)[0].centroid"
    cent_d2 = (f"aggregate(zip_with({own_cent}, {oth_cent},"
               " (u, w) -> (u - w) * (u - w)),"
               " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    return (scat.crossJoin(F.broadcast(spanel))
             .crossJoin(F.broadcast(panel))
             .selectExpr(
                 "label", "n_vecs", "s_l AS scatter_mean",
                 "array_max(transform(filter(scats,"
                 " x -> x.slabel != label),"
                 f" x -> (s_l + x.s_l) / SQRT({cent_d2}))) AS r_max"))


# ------------------------- Cliff's delta: weekend vs weekday values


@query(
    "cliffs_delta_weekend",
    oracle=f"""
        WITH b AS (
          SELECT CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END
                   AS wknd,
                 {sql_cents("value")} AS c
          FROM events
        ),
        gv AS (
          SELECT c AS v,
                 CAST(SUM(CASE WHEN wknd = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS cnt_we,
                 CAST(SUM(CASE WHEN wknd = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS cnt_wd
          FROM b GROUP BY 1
        ),
        cum AS (
          SELECT v, cnt_we,
                 COALESCE(CAST(SUM(cnt_wd) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) AS wd_below,
                 cnt_wd
          FROM gv
        ),
        tot AS (
          SELECT CAST(SUM(cnt_we) AS BIGINT) AS n,
                 CAST(SUM(cnt_wd) AS BIGINT) AS m
          FROM gv
        ),
        s AS (
          SELECT CAST(SUM(CAST(cnt_we AS DECIMAL(38,0))
                   * (2 * wd_below + cnt_wd
                      - (SELECT m FROM tot))) AS BIGINT) AS num2
          FROM cum
        )
        SELECT t.n AS n_weekend, t.m AS n_weekday,
               {wide('s.num2')}
                 / (2.0 * CAST(t.n AS DOUBLE) * t.m) AS cliffs_delta
        FROM s, tot t
    """,
    doc="Cliff's delta ordinal effect size, weekend vs weekend "
        "values: P(weekend > weekday) - P(weekend < weekday) — the "
        "assumption-free magnitude companion to the registered "
        "Mann-Whitney test (which only says WHETHER they differ). "
        "Computed without row pairs: per distinct cents value, "
        "weekend count x (weekday-below minus weekday-above) "
        "cumulates in DECIMAL(38,0) using the identity above - below "
        "= 2*below + ties - m; ONE double division. Plan: one "
        "map-side-combinable per-cents aggregate; the cumulation "
        "window runs over the value-domain-bounded distinct table "
        "(the roc_auc shape); 1-row math.",
    tags=("statistics",),
)
def cliffs_delta_weekend(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    b = load(spark, sf_dir, "events").selectExpr(
        "CASE WHEN (dayofweek(ts) - 1) IN (0, 6) THEN 1 ELSE 0 END"
        " AS wknd",
        f"{sql_cents('value')} AS c")
    gv = (b.groupBy(F.col("c").alias("v"))
           .agg(F.sum(F.when(F.col("wknd") == 1, 1).otherwise(0))
                 .cast("long").alias("cnt_we"),
                F.sum(F.when(F.col("wknd") == 0, 1).otherwise(0))
                 .cast("long").alias("cnt_wd"))
           .localCheckpoint())
    cumw = (Window.orderBy("v")
                  .rowsBetween(Window.unboundedPreceding, -1))
    cum = gv.select(
        "v", "cnt_we", "cnt_wd",
        F.coalesce(F.sum("cnt_wd").over(cumw).cast("long"), F.lit(0))
         .alias("wd_below"))
    tot = gv.agg(F.sum("cnt_we").cast("long").alias("n"),
                 F.sum("cnt_wd").cast("long").alias("m"))
    s = (cum.crossJoin(F.broadcast(tot))
            .agg(F.expr("CAST(SUM(CAST(cnt_we AS DECIMAL(38,0))"
                        " * (2 * wd_below + cnt_wd - m)) AS BIGINT)")
                  .alias("num2"),
                 F.max("n").alias("n"), F.max("m").alias("m")))
    return s.selectExpr(
        "n AS n_weekend", "m AS n_weekday",
        f"{wide('num2')} / (2.0 * CAST(n AS DOUBLE) * m)"
        " AS cliffs_delta")


# --------------------- Quade test: weighted day-of-week block ranks

QD_K = 7


@query(
    "quade_test_dow",
    oracle=f"""
        WITH d AS (
          SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   // 7 AS blk,
                 date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   % 7 AS dow,
                 CAST(SUM({sql_cents("value")}) AS BIGINT) AS cents
          FROM events GROUP BY 1, 2
        ),
        full_blocks AS (
          SELECT blk FROM d GROUP BY blk HAVING COUNT(*) = {QD_K}
        ),
        r AS (
          SELECT blk, dow,
                 2 * rank() OVER (PARTITION BY blk ORDER BY cents)
                   + CAST(COUNT(*) OVER (PARTITION BY blk, cents)
                     AS BIGINT) - 1 AS r2
          FROM d JOIN full_blocks USING (blk)
        ),
        rng AS (
          SELECT blk, CAST(MAX(cents) - MIN(cents) AS BIGINT) AS range_c
          FROM d JOIN full_blocks USING (blk) GROUP BY blk
        ),
        q AS (
          SELECT blk,
                 2 * rank() OVER (ORDER BY range_c)
                   + CAST(COUNT(*) OVER (PARTITION BY range_c)
                     AS BIGINT) - 1 AS q2
          FROM rng
        ),
        s AS (
          SELECT r.dow, CAST(q.q2 * (r.r2 - {QD_K + 1}) AS BIGINT)
                   AS s4
          FROM r JOIN q USING (blk)
        ),
        agg AS (
          SELECT CAST(SUM(CAST(s4 AS DECIMAL(38,0)) * s4) AS BIGINT)
                   AS a16,
                 CAST((SELECT COUNT(*) FROM full_blocks) AS BIGINT)
                   AS b
          FROM s
        ),
        bsum AS (
          SELECT CAST(SUM(CAST(sj AS DECIMAL(38,0)) * sj) AS BIGINT)
                   AS bnum16
          FROM (SELECT dow, CAST(SUM(s4) AS BIGINT) AS sj
                FROM s GROUP BY dow)
        )
        SELECT agg.b AS n_blocks,
               {wide('agg.a16')} / 16.0 AS a_term,
               {wide('bsum.bnum16')} / (16.0 * agg.b) AS b_term,
               CASE WHEN {wide('agg.a16')}
                      = {wide('bsum.bnum16')} / agg.b
                    THEN CAST(NULL AS DOUBLE)
                    ELSE (agg.b - 1.0)
                         * ({wide('bsum.bnum16')} / (16.0 * agg.b))
                         / ({wide('agg.a16')} / 16.0
                            - {wide('bsum.bnum16')} / (16.0 * agg.b))
                    END AS f_stat
        FROM agg, bsum
    """,
    doc="Quade test for a day-of-week effect: Friedman's blocked "
        "ranks, but each complete week is WEIGHTED by the rank of "
        "its revenue range, so high-spread weeks (where the weekday "
        "signal is most visible) count more — the more powerful "
        "choice at small k when block scales differ. Both rank "
        "layers use the 2x-midrank construction (within-block value "
        "ranks and across-block range ranks), so S_ij = Q_b*(r_ij - "
        "(k+1)) is integral at 4x scale, A = sum S^2 and B = sum_j "
        "S_j^2 / b accumulate in DECIMAL(38,0) at 16x, and F = "
        "(b-1)B/(A-B) is a handful of identical IEEE ops; the "
        "degenerate A = B case (all blocks rank identically) "
        "emits NULL per convention. The across-block rank window "
        "runs over the CALENDAR-BOUNDED block table. Plan: one "
        "(week, dow) rollup feeds ranks, ranges and totals; "
        "everything after is 7-row math.",
    tags=("statistics",),
)
def quade_test_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (load(spark, sf_dir, "events")
         .selectExpr(
             "datediff(CAST(ts AS DATE), DATE'1970-01-01') DIV 7"
             " AS blk",
             "datediff(CAST(ts AS DATE), DATE'1970-01-01') % 7"
             " AS dow",
             f"{sql_cents('value')} AS c")
         .groupBy("blk", "dow")
         .agg(F.sum("c").cast("long").alias("cents"))
         .localCheckpoint())
    full_blocks = (d.groupBy("blk").agg(F.count(F.lit(1)).alias("nb"))
                    .filter(F.col("nb") == QD_K).select("blk"))
    rankw = Window.partitionBy("blk").orderBy("cents")
    tiew = Window.partitionBy("blk", "cents")
    r = (d.join(full_blocks, "blk")
          .select("blk", "dow",
                  (2 * F.rank().over(rankw)
                   + F.count(F.lit(1)).over(tiew).cast("long") - 1)
                  .alias("r2")))
    rng = (d.join(full_blocks, "blk")
            .groupBy("blk")
            .agg((F.max("cents") - F.min("cents")).cast("long")
                 .alias("range_c")))
    qrankw = Window.orderBy("range_c")
    qtiew = Window.partitionBy("range_c")
    q = rng.select(
        "blk",
        (2 * F.rank().over(qrankw)
         + F.count(F.lit(1)).over(qtiew).cast("long") - 1).alias("q2"))
    s = (r.join(q, "blk")
          .selectExpr("dow",
                      f"CAST(q2 * (r2 - {QD_K + 1}) AS BIGINT) AS s4"))
    # the s relation feeds A and the per-dow totals; it is 7*b rows
    # derived from the checkpointed d — cheap to re-derive, no scan
    agg = s.agg(
        F.expr("CAST(SUM(CAST(s4 AS DECIMAL(38,0)) * s4) AS BIGINT)")
         .alias("a16"))
    b_cnt = full_blocks.agg(F.count(F.lit(1)).cast("long").alias("b"))
    bsum = (s.groupBy("dow").agg(F.sum("s4").cast("long").alias("sj"))
             .agg(F.expr("CAST(SUM(CAST(sj AS DECIMAL(38,0)) * sj)"
                         " AS BIGINT)").alias("bnum16")))
    a_term = f"{wide('a16')} / 16.0"
    b_term = f"{wide('bnum16')} / (16.0 * b)"
    return (agg.crossJoin(F.broadcast(b_cnt))
               .crossJoin(F.broadcast(bsum))
               .selectExpr(
                   "b AS n_blocks",
                   f"{a_term} AS a_term",
                   f"{b_term} AS b_term",
                   f"CASE WHEN {wide('a16')} = {wide('bnum16')} / b"
                   " THEN CAST(NULL AS DOUBLE)"
                   f" ELSE (b - 1.0) * ({b_term})"
                   f" / ({a_term} - {b_term}) END AS f_stat"))


# ----------------- SMOG and Gunning Fog readability (complex words)


@query(
    "smog_fog_readability_by_source",
    oracle=f"""
        WITH m AS (
          SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(len(list_filter(string_split(text, ' '),
                   w -> w <> ''))) AS BIGINT) AS n_words,
                 CAST(SUM(len(list_filter(string_split(text, ' '),
                   w -> w <> '' AND len(regexp_extract_all(lower(w),
                     '[aeiouy]+')) >= 3))) AS BIGINT) AS n_complex
          FROM documents GROUP BY source
        )
        SELECT source, n_docs, n_words, n_complex,
               {dlit(0.4)} * (CAST(n_words AS DOUBLE) / n_docs
                 + {dlit(100.0)} * n_complex / n_words) AS fog_index,
               {dlit(1.0430)} * SQRT({dlit(30.0)} * n_complex
                 / n_docs) + {dlit(3.1291)} AS smog_index
        FROM m
    """,
    doc="Gunning Fog and SMOG readability per source — the two "
        "complex-word grade-level indices, completing the round-9 "
        "linear trio with the polysyllable dimension: a word is "
        "complex with >= 3 vowel-group syllable estimates, counted "
        "inside the word-split array lambda, so both indices derive "
        "from three exact BIGINT sums (SMOG's sqrt is IEEE-exact; "
        "Fog is linear; constants inline through the string route). "
        "Documents are the sentence unit (unpunctuated corpus, "
        "round-9 note). Plan: one map-side-combinable per-source "
        "aggregate over one scan.",
    tags=("text", "quality"),
)
def smog_fog_readability_by_source(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    m = (load(spark, sf_dir, "documents")
         .groupBy("source")
         .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
              F.expr("CAST(SUM(size(filter(split(text, ' '),"
                     " w -> w <> ''))) AS BIGINT)").alias("n_words"),
              F.expr("CAST(SUM(size(filter(split(text, ' '),"
                     " w -> w <> '' AND regexp_count(lower(w),"
                     " '[aeiouy]+') >= 3))) AS BIGINT)")
               .alias("n_complex")))
    return m.selectExpr(
        "source", "n_docs", "n_words", "n_complex",
        f"{dlit(0.4)} * (CAST(n_words AS DOUBLE) / n_docs"
        f" + {dlit(100.0)} * n_complex / n_words) AS fog_index",
        f"{dlit(1.0430)} * SQRT({dlit(30.0)} * n_complex / n_docs)"
        f" + {dlit(3.1291)} AS smog_index")


# ------------------ MATTR moving-average type-token ratio per source

MATTR_W = 25


@query(
    "mattr_lexical_diversity_by_source",
    oracle=f"""
        WITH t AS (
          SELECT source,
                 list_filter(string_split(text, ' '), w -> w <> '')
                   AS toks
          FROM documents
        ),
        docs AS (
          SELECT source, len(toks) AS n_toks,
                 CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1,
                     len(toks) - {MATTR_W - 1}),
                     i -> CAST(len(list_distinct(list_slice(toks, i,
                       i + {MATTR_W - 1}))) AS BIGINT))),
                   (acc, v) -> acc + v) AS BIGINT) AS distinct_sum
          FROM t WHERE len(toks) >= {MATTR_W}
        ),
        q AS (
          SELECT source, n_toks,
                 CAST(ROUND(CAST(distinct_sum AS DOUBLE)
                   / (CAST(n_toks - {MATTR_W - 1} AS DOUBLE)
                      * {MATTR_W}) * {SIL_SCALE}) AS BIGINT)
                   AS mattr_fp
          FROM docs
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_scored,
               CAST(SUM(mattr_fp) AS BIGINT) AS mattr_sum_fp,
               CAST(SUM(mattr_fp) AS DOUBLE)
                 / (COUNT(*) * {dlit(float(SIL_SCALE))})
                 AS mean_mattr
        FROM q GROUP BY source
    """,
    doc="MATTR (moving-average type-token ratio, window 25) per "
        "source: the lexical-diversity measure that, unlike raw TTR "
        "or Yule's K, is independent of document LENGTH — every "
        "25-token window contributes its distinct-type count, so "
        "boilerplate repetition inside long documents is visible "
        "where whole-doc ratios wash it out. Per-doc window sums "
        "are exact integers built inside one row's array lambdas "
        "(O(len x 25) ops on the bounded token array); the per-doc "
        "ratio is one deterministic double, quantized to the 1e12 "
        "grid so the per-source mean is an order-free exact sum. "
        "Docs shorter than the window are excluded (stated in "
        "n_docs_scored). Plan: one map-side-combinable per-source "
        "aggregate; tokens never shuffle.",
    tags=("text", "quality"),
)
def mattr_lexical_diversity_by_source(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "documents").selectExpr(
        "source",
        "filter(split(text, ' '), w -> w <> '') AS toks")
    docs = (t.filter(F.expr(f"size(toks) >= {MATTR_W}"))
             .selectExpr(
                 "source", "size(toks) AS n_toks",
                 f"CAST(aggregate(transform(sequence(1,"
                 f" size(toks) - {MATTR_W - 1}),"
                 f" i -> CAST(size(array_distinct(slice(toks, i,"
                 f" {MATTR_W}))) AS BIGINT)),"
                 f" CAST(0 AS BIGINT), (acc, v) -> acc + v)"
                 f" AS BIGINT) AS distinct_sum"))
    q = docs.selectExpr(
        "source",
        f"CAST(ROUND(CAST(distinct_sum AS DOUBLE)"
        f" / (CAST(n_toks - {MATTR_W - 1} AS DOUBLE) * {MATTR_W})"
        f" * {SIL_SCALE}) AS BIGINT) AS mattr_fp")
    return (q.groupBy("source")
             .agg(F.count(F.lit(1)).cast("long").alias("n_docs_scored"),
                  F.sum("mattr_fp").cast("long").alias("mattr_sum_fp"))
             .selectExpr("source", "n_docs_scored", "mattr_sum_fp",
                         f"CAST(mattr_sum_fp AS DOUBLE)"
                         f" / (n_docs_scored"
                         f" * {dlit(float(SIL_SCALE))}) AS mean_mattr"))


# ------------- Ansari-Bradley dispersion test: weekend vs weekday

# Ansari-Bradley scores rank from BOTH ends of the pooled sample:
# score(p) = min(p, N+1-p). For a tied run occupying positions
# [lo+1, lo+cnt] the midscore convention assigns each element the
# run's average score, so the run's 2x-score TOTAL is what matters:
#   g2(x) = sum_{p=1..x} 2*min(p, N1-p)      (N1 = N+1, H = N1 DIV 2)
#         = x(x+1)                            for x <= H
#         = 2H(H+1) + 2(x-H)N1 - x(x+1)       for x >  H
# — exact integers at any N via DECIMAL(38,0) (x^2 passes 2^63 once
# N does 3e9). runtotal2_v = g2(lo+cnt) - g2(lo).


def _g2(x: str, div: str) -> str:
    h = f"((nn + 1) {div} 2)"
    xd = f"CAST({x} AS DECIMAL(38,0))"
    return (f"(CASE WHEN {x} <= {h} THEN {xd} * ({x} + 1)"
            f" ELSE 2 * CAST({h} AS DECIMAL(38,0)) * ({h} + 1)"
            f" + 2 * CAST({x} - {h} AS DECIMAL(38,0)) * (nn + 1)"
            f" - {xd} * ({x} + 1) END)")


_AB_TERM = ("cnt_we * (CAST(CAST(rt2 AS STRING) AS DOUBLE) / cnt_v)")
_AB_SS = ("(CAST(CAST(rt2 AS STRING) AS DOUBLE)"
          " * CAST(CAST(rt2 AS STRING) AS DOUBLE)) / cnt_v")


@query(
    "ansari_bradley_weekend_value",
    oracle=f"""
        WITH b AS (
          SELECT CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END
                   AS wknd,
                 {sql_cents("value")} AS c
          FROM events
        ),
        gv AS (
          SELECT c AS v,
                 CAST(SUM(CASE WHEN wknd = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS cnt_we,
                 CAST(SUM(CASE WHEN wknd = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS cnt_wd
          FROM b GROUP BY 1
        ),
        tot AS (
          SELECT CAST(SUM(cnt_we) AS BIGINT) AS n1,
                 CAST(SUM(cnt_wd) AS BIGINT) AS n2,
                 CAST(SUM(cnt_we + cnt_wd) AS BIGINT) AS nn
          FROM gv
        ),
        runs AS (
          SELECT v, cnt_we, cnt_we + cnt_wd AS cnt_v,
                 COALESCE(CAST(SUM(cnt_we + cnt_wd) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) AS lo,
                 t.nn
          FROM gv, tot t
        ),
        scored AS (
          SELECT cnt_we, cnt_v,
                 {_g2("(lo + cnt_v)", "//")} - {_g2("lo", "//")} AS rt2
          FROM runs
        ),
        folded AS (
          SELECT {fold_sorted_sql(f"list({_AB_TERM})")} AS ab2,
                 {fold_sorted_sql(f"list({_AB_SS})")} AS ss2
          FROM scored
        ),
        tot2 AS (
          SELECT CAST(CAST((CASE WHEN nn <= ((nn + 1) // 2) THEN CAST(nn AS DECIMAL(38,0)) * (nn + 1) ELSE 2 * CAST(((nn + 1) // 2) AS DECIMAL(38,0)) * (((nn + 1) // 2) + 1) + 2 * CAST(nn - ((nn + 1) // 2) AS DECIMAL(38,0)) * (nn + 1) - CAST(nn AS DECIMAL(38,0)) * (nn + 1) END) AS STRING) AS DOUBLE) AS total2
          FROM tot
        ),
        fin AS (
          SELECT t.n1, t.n2, t.nn, f.ab2, f.ss2, t2.total2
          FROM folded f, tot t, tot2 t2
        )
        SELECT n1 AS n_weekend, n2 AS n_weekday, ab2 AS ab2_stat,
               n1 * total2 / nn AS e_ab2,
               CAST(n1 AS DOUBLE) * n2 / (CAST(nn AS DOUBLE) * (nn - 1))
                 * (ss2 - total2 * total2 / nn) AS var_ab2,
               (ab2 - n1 * total2 / nn)
                 / SQRT(CAST(n1 AS DOUBLE) * n2
                   / (CAST(nn AS DOUBLE) * (nn - 1))
                   * (ss2 - total2 * total2 / nn)) AS z_stat
        FROM fin
    """,
    doc="Ansari-Bradley test: do weekend and weekday values differ "
        "in DISPERSION — the rank-based scale test that needs no "
        "moments at all (the nonparametric companion to the staged "
        "Brown-Forsythe, which is median-but-moment-based). Scores "
        "rank from both ends of the pooled sample; tied runs get the "
        "midscore convention via a CLOSED-FORM triangular sum "
        "g2(x) over the run's position span — exact DECIMAL(38,0) "
        "integers per distinct value, no per-row ranking anywhere. "
        "The per-value midscore terms (rational: run total / run "
        "size) reduce via the sorted fold; the finite-population "
        "mean/variance and one sqrt finish it. Plan: one map-side-"
        "combinable per-cents aggregate; the position cumulation "
        "window runs over the value-domain-bounded distinct table "
        "(the roc_auc shape); 1-row math.",
    tags=("statistics",),
)
def ansari_bradley_weekend_value(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    b = load(spark, sf_dir, "events").selectExpr(
        "CASE WHEN (dayofweek(ts) - 1) IN (0, 6) THEN 1 ELSE 0 END"
        " AS wknd",
        f"{sql_cents('value')} AS c")
    gv = (b.groupBy(F.col("c").alias("v"))
           .agg(F.sum(F.when(F.col("wknd") == 1, 1).otherwise(0))
                 .cast("long").alias("cnt_we"),
                F.sum(F.when(F.col("wknd") == 0, 1).otherwise(0))
                 .cast("long").alias("cnt_wd"))
           .localCheckpoint())
    tot = gv.agg(F.sum("cnt_we").cast("long").alias("n1"),
                 F.sum("cnt_wd").cast("long").alias("n2"),
                 F.expr("CAST(SUM(cnt_we + cnt_wd) AS BIGINT)")
                  .alias("nn"))
    cumw = (Window.orderBy("v")
                  .rowsBetween(Window.unboundedPreceding, -1))
    runs = (gv.select(
                "v", "cnt_we",
                (F.col("cnt_we") + F.col("cnt_wd")).alias("cnt_v"),
                F.coalesce(F.sum(F.col("cnt_we") + F.col("cnt_wd"))
                            .over(cumw).cast("long"), F.lit(0))
                 .alias("lo"))
              .crossJoin(F.broadcast(tot)))
    scored = runs.selectExpr(
        "cnt_we", "cnt_v",
        f"{_g2('(lo + cnt_v)', 'DIV')} - {_g2('lo', 'DIV')} AS rt2")
    folded = scored.agg(
        F.expr(fold_sorted_spark(f"collect_list({_AB_TERM})")).alias("ab2"),
        F.expr(fold_sorted_spark(f"collect_list({_AB_SS})")).alias("ss2"))
    fin = (folded.crossJoin(F.broadcast(tot))
                 .selectExpr(
                     "n1", "n2", "nn", "ab2", "ss2",
                     f"CAST(CAST({_g2('nn', 'DIV')} AS STRING)"
                     " AS DOUBLE) AS total2"))
    e_ab2 = "n1 * total2 / nn"
    var = ("CAST(n1 AS DOUBLE) * n2 / (CAST(nn AS DOUBLE) * (nn - 1))"
           " * (ss2 - total2 * total2 / nn)")
    return fin.selectExpr(
        "n1 AS n_weekend", "n2 AS n_weekday", "ab2 AS ab2_stat",
        f"{e_ab2} AS e_ab2",
        f"{var} AS var_ab2",
        f"(ab2 - {e_ab2}) / SQRT({var}) AS z_stat")


# ---------------- Python Data Source STREAMING writer: JSONL sink


@query(
    "jsonl_stream_sink_roundtrip",
    oracle=f"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM({sql_cents("value")}) AS BIGINT) AS sum_cents
        FROM events
        WHERE event_id % 19 = 0
        GROUP BY event_type
    """,
    doc="Write-path attestation for the Python Data Source STREAMING "
        "JSONL sink (sources/launch_library.py JsonlStreamSinkWriter "
        "— completing the DS matrix: batch read/write + stream "
        "read/write): a deterministic events slice streams out "
        "through the sink's per-microbatch two-phase commit "
        "(task-staged files, driver rename under batch-scoped names, "
        "a _STREAM_MANIFEST with an applied-batch idempotency gate "
        "so replayed batchIds never double-append), is read back "
        "from the committed batch files with an explicit schema, and "
        "is aggregated — the driver hash covers the full streaming "
        "write->commit->read round trip. Exactly-once is the "
        "MANIFEST's property, not the trigger's: a retried batch "
        "discards its staging files. Scale: commits are O(tasks) "
        "driver renames per batch; row data never moves through the "
        "driver.",
    tags=("streaming", "sink", "datasource"),
)
def jsonl_stream_sink_roundtrip(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    import os
    import shutil

    from de_project_airflow_etl_spark.queries.surfaces_r6 import _tmp_dir
    from de_project_airflow_etl_spark.sources.launch_library import (
        register_launch_source,
    )
    from de_project_airflow_etl_spark.streaming.ingest import (
        read_event_stream,
    )
    register_launch_source(spark)
    out = _tmp_dir("jsonl_stream", sf_dir)
    cp = _tmp_dir("jsonl_stream_cp", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(cp, ignore_errors=True)
    src = (read_event_stream(spark, sf_dir, with_watermark=None)
           .filter(F.col("event_id") % 19 == 0)
           .selectExpr("event_id", "event_type",
                       f"{sql_cents('value')} AS cents"))
    q = (src.writeStream.format("launch_library")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True).start())
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("jsonl_stream_sink_roundtrip: timed out")
    back = spark.read.schema(
        "event_id long, event_type string, cents long"
    ).json(os.path.join(out, "batch-*.jsonl"))
    return (back.groupBy("event_type")
                .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                     F.sum("cents").cast("long").alias("sum_cents")))


# ---------------- Arrow-optimized scalar Python UDF (useArrow=True)


@query(
    "arrow_udf_text_normalize",
    oracle="""
        WITH n AS (
          SELECT source,
                 trim(regexp_replace(lower(text), ' +', ' ', 'g'))
                   AS norm
          FROM documents
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(length(norm)) AS BIGINT) AS sum_norm_len,
               CAST(COUNT(DISTINCT md5(norm)) AS BIGINT)
                 AS n_distinct_norm
        FROM n GROUP BY source
    """,
    doc="Arrow-optimized scalar Python UDF (Spark 4 useArrow=True — "
        "completing the Python-execution matrix next to pandas_udf, "
        "mapInPandas, mapInArrow, UDTF and GROUPED_AGG): a text "
        "canonicalizer (casefold, collapse runs of spaces, strip) "
        "runs as a per-row Python function transported in Arrow "
        "batches instead of pickled rows, and its output feeds an "
        "exact aggregate pinned against the equivalent relational "
        "regexp oracle — so the driver hash certifies the Arrow "
        "serialization path end to end, not just the function. The "
        "plan gate asserts ArrowEvalPython (not BatchEvalPython: "
        "that would be the 10-100x-slower pickled path). Scale: the "
        "UDF streams map-side in the scan's project; the aggregate "
        "above is map-side combinable. Deliberately SQL-expressible "
        "— production swaps in a real normalizer (unicode NFC, "
        "confusables) that SQL cannot express; the plumbing is "
        "what's being attested.",
    tags=("udf", "text"),
)
def arrow_udf_text_normalize(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    import re

    from pyspark.sql.functions import udf

    @udf(returnType="string", useArrow=True)
    def normalize(text: str) -> str:
        if text is None:
            return None
        return re.sub(" +", " ", text.lower()).strip()

    n = (load(spark, sf_dir, "documents")
         .select("source", normalize("text").alias("norm")))
    return (n.groupBy("source")
             .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                  F.sum(F.length("norm")).cast("long")
                   .alias("sum_norm_len"),
                  F.countDistinct(F.md5("norm")).cast("long")
                   .alias("n_distinct_norm")))
