"""Analytics query suite — the 30 round-5 queries staged in
``staged/round5.py`` during round 4 (window-bounded registry growth,
CLAUDE.md) and promoted into the registry in round 5 once
CORRECTNESS_r04 adjudicated green.

Same contract as every registered query: ``(spark, sf_dir) ->
DataFrame`` plus an exact DuckDB oracle, identical column aliases on
both sides, exact-integer / fixed-point arithmetic for anything
accumulated, and a 100 TB plan story in each doc string. No
``rand()``, no ``.collect()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.tables import load
from de_project_airflow_etl_spark.operators.curation import (
    NGRAM_N, _ngram_hashes, _SQL_NGRAMS,
)


# ------------------------------------------------ market-basket pairs

PAIR_MIN_SUPPORT = 5


def ordered_pair_structs(arr_col: str, a_name: str, b_name: str) -> str:
    """SQL lambda emitting every ordered pair (x earlier, y later) of a
    SORTED array column as structs — the in-array replacement for a
    distinct + self-join pair generation. Index arithmetic: transform's
    element index i is 0-BASED while slice() positions are 1-BASED, so
    the elements after position i start at slice position i + 2 and
    number size - i - 1."""
    return (f"flatten(transform({arr_col}, (x, i) -> "
            f"transform(slice({arr_col}, i + 2, size({arr_col}) - i - 1), "
            f"y -> struct(x AS {a_name}, y AS {b_name}))))")


@query(
    "frequent_item_pairs",
    oracle=f"""
        WITH baskets AS (
          SELECT DISTINCT l_orderkey, p_brand
          FROM lineitem JOIN part ON l_partkey = p_partkey
        )
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               COUNT(*) AS support
        FROM baskets a
        JOIN baskets b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2
        HAVING COUNT(*) >= {PAIR_MIN_SUPPORT}
    """,
    doc="Market-basket co-occurrence: brand pairs bought together in "
        "one order with support >= threshold (the candidate-pair step "
        "of Apriori / FP-growth style mining). One groupBy on "
        "l_orderkey collects each order's deduped, sorted brand set "
        "and the ordered pairs are emitted IN-ARRAY by nested "
        "lambdas, so the blow-up per order is bounded by basket size "
        "squared and stays inside codegen — measured, this halves the "
        "shuffle of the distinct + self-join form (one exchange on "
        "orderkey, map-side-combinable pair aggregate). A basket-size "
        "cap (drop degenerate mega-orders before pairing) is the "
        "standard guard if order sizes were unbounded.",
    tags=("analytics",),
)
def frequent_item_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One shuffle, not three: instead of distinct + self-join (which
    # exchanges the basket index twice and the candidate pairs once
    # more), collect each order's brand SET in a single groupBy —
    # collect_set dedups, sort_array makes the in-array pair
    # generation deterministic — and emit the ordered pairs with
    # nested array lambdas inside codegen. The pair aggregate then
    # combines map-side into at most |brands|^2 cells per partition.
    # Brands ride as DENSE INT CODES through the corpus-scale stages
    # (r11, guide §2.3 narrower shuffle types + join-back, the
    # market_basket_rules transform): codes are row_number over the
    # sorted bounded brand vocabulary, so code order == string order
    # and the in-array `<` pairing is exact by construction; the
    # bounded join-back recovers strings for the surviving pairs.
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    dim = (pt.select("p_brand").distinct()
             .select("p_brand",
                     F.row_number().over(Window.orderBy("p_brand"))
                      .cast("int").alias("bc"))
             .localCheckpoint(eager=False))  # bounded dim, 3 consumers
    # Only the bounded dim is force-broadcast: part grows with the data,
    # so lineitem meets it by size (a broadcast at small scale, a
    # shuffle join at 100 TB). Joined on part first, a code relation
    # would carry the product estimate of a join and leave lineitem as
    # the "smaller" side to broadcast.
    baskets = (li.join(pt, li.l_partkey == pt.p_partkey)
                 .join(F.broadcast(dim), "p_brand")
                 .groupBy("l_orderkey")
                 .agg(F.expr("sort_array(collect_set(bc))").alias("bs")))
    pairs = baskets.select(F.explode(F.expr(
        ordered_pair_structs("bs", "a_bc", "b_bc"))).alias("p"))
    sup = (pairs.select("p.a_bc", "p.b_bc")
           .groupBy("a_bc", "b_bc")
           .agg(F.count("*").alias("support"))
           .filter(F.col("support") >= PAIR_MIN_SUPPORT))
    da = dim.selectExpr("bc AS a_bc", "p_brand AS brand_a")
    db = dim.selectExpr("bc AS b_bc", "p_brand AS brand_b")
    return (sup.join(F.broadcast(da), "a_bc")
               .join(F.broadcast(db), "b_bc")
               .select("brand_a", "brand_b", "support"))


# ------------------------------------------------- CDC changelog apply

@query(
    "changelog_apply_cdc",
    oracle="""
        WITH ch AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                 CAST(ROUND(value * 100) AS BIGINT) AS val_cents
          FROM events
        ), r AS (
          SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn,
                 COUNT(*) OVER (PARTITION BY user_id) AS n_changes
          FROM ch
        )
        SELECT user_id, event_id AS last_event_id,
               val_cents AS last_value_cents, n_changes
        FROM r WHERE rn = 1 AND op = 'U'
    """,
    doc="CDC changelog application with last-writer-wins semantics and "
        "tombstones: the events stream is read as an ordered changelog "
        "(op derived deterministically from event_type, 'error' = "
        "delete), and the final snapshot keeps each key's latest "
        "upsert unless the latest entry is a delete. One shuffle on "
        "the merge key, per-key window only (no global ordering), "
        "total order inside a key guaranteed by the (ts, event_id) "
        "tie-break — the standard distributed MERGE shape that scales "
        "linearly with changelog volume.",
    tags=("analytics", "etl",),
)
def changelog_apply_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    ch = ev.select(
        "user_id", "event_id", "ts",
        F.expr("CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END")
         .alias("op"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("val_cents"))
    w = (Window.partitionBy("user_id")
               .orderBy(F.col("ts").desc(), F.col("event_id").desc()))
    ranked = (ch.withColumn("rn", F.row_number().over(w))
                .withColumn("n_changes",
                            F.count("*").over(Window.partitionBy("user_id"))))
    return (ranked.filter("rn = 1 AND op = 'U'")
                  .select("user_id",
                          F.col("event_id").alias("last_event_id"),
                          F.col("val_cents").alias("last_value_cents"),
                          "n_changes"))


# ------------------------------------- weighted sampling w/o replacement

WS_K = 100
# 13 hex chars = 52 bits — exactly representable in an IEEE double, so
# CAST(h AS DOUBLE) is lossless on both engines.
_WS_SPARK_H = ("CAST(conv(substring(md5(concat('wsamp|', "
               "CAST(doc_id AS STRING))), 1, 13), 16, 10) AS BIGINT)")
_WS_SQL_H = ("CAST(('0x' || substring(md5('wsamp|' || "
             "CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)")


@query(
    "weighted_sample_wor",
    oracle=f"""
        SELECT doc_id, source, lang, n_chars, priority
        FROM (
          SELECT doc_id, source, lang, n_chars,
                 CAST({_WS_SQL_H} AS DOUBLE) / CAST(n_chars AS DOUBLE)
                   AS priority
          FROM documents WHERE n_chars > 0
        )
        ORDER BY priority, doc_id
        LIMIT {WS_K}
    """,
    doc="Deterministic weighted sampling WITHOUT replacement "
        "(Efraimidis-Spiliopoulos style priority sampling): each doc "
        "draws a uniform 52-bit integer from md5(doc_id) — no rand(), "
        "so retries and engines agree — and its priority is u/weight "
        "with weight = n_chars; the k smallest priorities are the "
        "sample, so selection probability scales with length. "
        "Priority is one IEEE division of exactly-representable "
        "operands. The plan is a stateless row map feeding a "
        "TakeOrderedAndProject (per-partition top-k heaps, then a "
        "k-row merge on the driver) — no global sort, scales to any "
        "corpus size.",
    tags=("analytics", "curation",),
)
def weighted_sample_wor(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter("n_chars > 0")
    pri = docs.select(
        "doc_id", "source", "lang", "n_chars",
        F.expr(f"CAST({_WS_SPARK_H} AS DOUBLE) / CAST(n_chars AS DOUBLE)")
         .alias("priority"))
    return pri.orderBy("priority", "doc_id").limit(WS_K)


# ------------------------------------------------- time-weighted average

@query(
    "twap_user_values",
    oracle="""
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS t_us,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events
        ), d AS (
          SELECT user_id, cents, t_us,
                 LEAD(t_us) OVER (PARTITION BY user_id
                                  ORDER BY t_us, event_id) - t_us AS dt_us
          FROM ev
        )
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(t_us) - MIN(t_us) AS span_us,
               CASE WHEN MAX(t_us) - MIN(t_us) > 0
                    THEN CAST(CAST(SUM(CAST(cents AS HUGEINT)
                                       * COALESCE(dt_us, 0)) AS VARCHAR)
                              AS DOUBLE)
                         / CAST(MAX(t_us) - MIN(t_us) AS DOUBLE) / 100.0
                    ELSE NULL END AS twap
        FROM d GROUP BY user_id
    """,
    doc="Time-weighted average value per user (the TWAP shape used for "
        "duration-weighted metrics: each observation holds until the "
        "next one). LEAD over a per-user window gives the holding "
        "interval in integer microseconds; the weighted sum "
        "accumulates cents x micros in exact wide-integer arithmetic "
        "(DECIMAL(38,0) / HUGEINT) so partial-aggregation order cannot "
        "perturb the result, and only the final ratio is IEEE double. "
        "Window and aggregate are both partitioned by user_id — one "
        "shuffle, no global ordering, linear at 100 TB.",
    tags=("analytics", "timeseries",),
)
def twap_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.expr("unix_micros(ts)").alias("t_us"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"))
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    d = ev.withColumn("dt_us", F.lead("t_us").over(w) - F.col("t_us"))
    agg = d.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        (F.max("t_us") - F.min("t_us")).alias("span_us"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * COALESCE(dt_us, 0)"))
         .alias("wsum"))
    # wide-int -> double goes via STRING on both engines: the direct
    # HUGEINT/DECIMAL(38,0) -> DOUBLE cast is not correctly rounded
    # (measured; see corr_matrix_lineitem note), while string->double
    # parsing is — |wsum| can exceed 2^53 at sf0.1 already.
    return agg.select(
        "user_id", "n_events", "span_us",
        F.expr("CASE WHEN span_us > 0 THEN "
               "CAST(CAST(wsum AS STRING) AS DOUBLE)"
               " / CAST(span_us AS DOUBLE) / 100.0 "
               "ELSE NULL END").alias("twap"))


# ------------------------------------------------ exact Pearson matrix

# Integer units: quantity (integral), price cents, discount basis
# points. Sums of squares reach ~6e19 at sf0.1 — past BIGINT — so every
# product is accumulated in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB),
# both exact. The Pearson terms n*Sxy - Sx*Sy cancel ~1e24 down to
# ~1e19, so they MUST be computed in the exact wide-integer domain
# (computing them in double loses every digit past the cancellation,
# and the loss depends on how each engine rounds its wide-int->double
# cast — measured: DuckDB's HUGEINT->DOUBLE is not correctly rounded).
# Only the three exact term values are then converted, via STRING,
# because string->double parsing is correctly rounded on both engines
# while the direct wide-int->double cast is not; after that every IEEE
# step sees bit-identical operands.
_CORR_TERM_XY = "(CAST(n AS {wide}) * s{x}{y} - s{x} * s{y})"


def _corr_expr(x: str, y: str, wide: str, to_str: str) -> str:
    def d(term: str) -> str:
        return f"CAST(CAST({term} AS {to_str}) AS DOUBLE)"
    num = _CORR_TERM_XY.format(x=x, y=y, wide=wide)
    d1 = _CORR_TERM_XY.format(x=x, y=x, wide=wide)
    d2 = _CORR_TERM_XY.format(x=y, y=y, wide=wide)
    return f"{d(num)} / sqrt({d(d1)} * {d(d2)})"


def corr_sum_aggs(cols: tuple[str, ...]) -> list:
    """Sufficient-statistics aggregate columns for exact Pearson over
    integer-unit columns: count n, per-column sums s{x}, and product
    sums s{x}{y} for every ordered-unique pair (x before or equal y in
    the given order) — all accumulated in DECIMAL(38,0) so partial-
    aggregation order cannot perturb them. Shared by the global
    (corr_matrix_lineitem) and grouped (grouped_discount_quantity_corr)
    correlation passes so the exactness discipline lives in one place.
    """
    aggs = [F.count("*").cast("long").alias("n")]
    for x in cols:
        aggs.append(F.sum(F.expr(f"CAST({x} AS DECIMAL(38,0))"))
                     .alias(f"s{x}"))
    for i, x in enumerate(cols):
        for y in cols[i:]:
            aggs.append(F.sum(F.expr(f"CAST({x} AS DECIMAL(38,0)) * {y}"))
                         .alias(f"s{x}{y}"))
    return aggs


@query(
    "corr_matrix_lineitem",
    oracle=f"""
        WITH u AS (
          SELECT CAST(l_quantity AS BIGINT) AS q,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p,
                 CAST(ROUND(l_discount * 100) AS BIGINT) AS d
          FROM lineitem
        ), s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(q AS HUGEINT)) AS sq,
                 SUM(CAST(p AS HUGEINT)) AS sp,
                 SUM(CAST(d AS HUGEINT)) AS sd,
                 SUM(CAST(q AS HUGEINT) * q) AS sqq,
                 SUM(CAST(p AS HUGEINT) * p) AS spp,
                 SUM(CAST(d AS HUGEINT) * d) AS sdd,
                 SUM(CAST(q AS HUGEINT) * p) AS sqp,
                 SUM(CAST(q AS HUGEINT) * d) AS sqd,
                 SUM(CAST(p AS HUGEINT) * d) AS spd
          FROM u
        )
        SELECT n AS n_rows,
               {_corr_expr('q', 'p', 'HUGEINT', 'VARCHAR')}
                 AS corr_qty_price,
               {_corr_expr('q', 'd', 'HUGEINT', 'VARCHAR')}
                 AS corr_qty_disc,
               {_corr_expr('p', 'd', 'HUGEINT', 'VARCHAR')}
                 AS corr_price_disc
        FROM s
    """,
    doc="Exact single-pass Pearson correlation matrix over lineitem's "
        "numeric columns, from exact integer-unit sums (the textbook "
        "sufficient-statistics decomposition: one map-side-combinable "
        "aggregate computes n and nine sums, the matrix falls out in "
        "O(1) driver-free arithmetic). Zero joins, one exchange of a "
        "ten-number partial per partition — the cheapest possible "
        "statistics pass at 100 TB, unlike corr() built-ins whose "
        "float accumulation is partial-order dependent.",
    tags=("analytics", "statistics",),
)
def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "CAST(l_quantity AS BIGINT) AS q",
        "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p",
        "CAST(ROUND(l_discount * 100) AS BIGINT) AS d")
    s = li.agg(*corr_sum_aggs(("q", "p", "d")))
    return s.selectExpr(
        "n AS n_rows",
        f"{_corr_expr('q', 'p', 'DECIMAL(38,0)', 'STRING')}"
        " AS corr_qty_price",
        f"{_corr_expr('q', 'd', 'DECIMAL(38,0)', 'STRING')}"
        " AS corr_qty_disc",
        f"{_corr_expr('p', 'd', 'DECIMAL(38,0)', 'STRING')}"
        " AS corr_price_disc")


# ------------------------------------------- asymmetric containment dup

CONT_DF_CAP = 200   # drop grams appearing in more docs (boilerplate)
CONT_MIN_PCT = 60   # containment >= 0.60 reported


@query(
    "containment_dup_pairs",
    oracle=f"""
        WITH grams AS (
          SELECT doc_id, UNNEST({_SQL_NGRAMS}) AS gh
          FROM documents
          WHERE len(string_split(text, ' ')) >= {NGRAM_N}
        ),
        sizes AS (
          SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id
        ),
        kept AS (
          SELECT doc_id, gh FROM grams
          WHERE gh IN (SELECT gh FROM grams
                       GROUP BY gh HAVING COUNT(*) <= {CONT_DF_CAP})
        ),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 COUNT(*) AS inter_grams
          FROM kept a JOIN kept b
            ON a.gh = b.gh AND a.doc_id <> b.doc_id
          GROUP BY 1, 2
        )
        SELECT i.doc_a, i.doc_b, i.inter_grams, s.n_grams AS n_grams_a,
               CAST(i.inter_grams AS DOUBLE) / CAST(s.n_grams AS DOUBLE)
                 AS containment
        FROM inter i JOIN sizes s ON s.doc_id = i.doc_a
        WHERE i.inter_grams * 100 >= s.n_grams * {CONT_MIN_PCT}
    """,
    doc="Asymmetric containment dedup C(A,B) = |A n B| / |A| over "
        "distinct word-3-gram hashes: catches a short document wholly "
        "contained in a longer one, which symmetric Jaccard misses "
        "(low union similarity). Candidates come from an inverted "
        "gram->doc index equi-join, with a document-frequency cap that "
        "drops boilerplate grams before the join so a hot shingle in k "
        "docs cannot produce k^2 candidate rows — the same guard the "
        "registry's exact-Jaccard op uses. The >= threshold compares "
        "exact integers (inter * 100 >= n_grams * pct), so the cut "
        "itself never depends on float rounding. At 100 TB: shuffle "
        "on the 16-byte gram hash, never doc x doc.",
    tags=("analytics", "dedup",),
)
def containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", F.split("text", " ").alias("toks"))
            .filter(F.expr(f"size(toks) >= {NGRAM_N}")))
    grams = docs.select("doc_id", F.explode(_ngram_hashes()).alias("gh"))
    # n_grams == size of the per-doc DISTINCT gram array, computed in
    # the row projection — the former explode + doc_id exchange pass
    # counted the same array one element at a time (r10 optimization).
    sizes = docs.select(
        "doc_id", F.size(_ngram_hashes()).cast("long").alias("n_grams"))
    low_df = (grams.groupBy("gh").count()
                   .filter(F.col("count") <= CONT_DF_CAP).select("gh"))
    # NOTE (round 6): the kept stream feeds both self-join sides, but
    # checkpointing it is a measured LOSS (interleaved warm A/B at
    # sf0.1: 3.27s vs 2.56s) — materializing the data-sized exploded
    # gram stream costs more than re-deriving it per side. Only
    # aggregate-sized multi-consumer intermediates earn a checkpoint.
    # (r10: an in-array pair-generation variant — collect_list per
    # gram + nested transform — was also a measured loss, 4.9s vs
    # 3.6s: interpreted array lambdas lose to the codegen SMJ.)
    kept = grams.join(low_df, "gh")
    a, b = kept.alias("a"), kept.alias("b")
    inter = (a.join(b, (F.col("a.gh") == F.col("b.gh"))
                    & (F.col("a.doc_id") != F.col("b.doc_id")))
              .groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"))
              .agg(F.count("*").alias("inter_grams")))
    return (inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                            .withColumnRenamed("n_grams", "n_grams_a"),
                       "doc_a")
                 .filter(F.expr(f"inter_grams * 100 >= "
                                f"n_grams_a * {CONT_MIN_PCT}"))
                 .select("doc_a", "doc_b", "inter_grams", "n_grams_a",
                         F.expr("CAST(inter_grams AS DOUBLE) / "
                                "CAST(n_grams_a AS DOUBLE)")
                          .alias("containment")))


# --------------------------------------------- trigram language model

LM_TOP_K = 200


@query(
    "trigram_lm_counts",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t
          FROM documents WHERE lang = 'en'
        ),
        tri AS (
          SELECT array_to_string(t[i:i+1], ' ') AS w12, t[i+2] AS w3
          FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS s(i)
        ),
        tc AS (
          SELECT w12, w3, COUNT(*) AS tri_count
          FROM tri GROUP BY w12, w3
        ),
        bc AS (
          SELECT w12, CAST(SUM(tri_count) AS BIGINT) AS big_count
          FROM tc GROUP BY w12
        ),
        v AS (
          SELECT COUNT(DISTINCT w) AS vocab FROM (
            SELECT UNNEST(string_split(text, ' ')) AS w
            FROM documents WHERE lang = 'en')
        )
        SELECT tc.w12, tc.w3, tc.tri_count,
               tc.tri_count + 1 AS p_num,
               bc.big_count + v.vocab AS p_den
        FROM tc JOIN bc USING (w12) CROSS JOIN v
        ORDER BY tc.tri_count DESC, tc.w12, tc.w3
        LIMIT {LM_TOP_K}
    """,
    doc="Word-trigram language-model statistics with add-one "
        "smoothing, kept as an exact rational (p_num / p_den integer "
        "pair) instead of a float probability so the accumulation "
        "order can never perturb the result. Three map-side-combinable "
        "aggregates (trigram counts, bigram-context totals, vocabulary "
        "size) and a broadcast of the single-row vocabulary scalar; "
        "top-k selection is TakeOrderedAndProject with a full "
        "(count, w12, w3) tie-break so the boundary is deterministic. "
        "This is the counting core of KenLM-style corpus LM scoring "
        "at 100 TB: everything shuffles on the gram key only.",
    tags=("analytics", "text",),
)
def trigram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # size(t) >= 3 guard: same descending-sequence trap as
    # word_cooccurrence_lift (sequence(1, -1) = [1, 0, -1]).
    docs = (load(spark, sf_dir, "documents")
            .filter("lang = 'en'")
            .select(F.split("text", " ").alias("t"))
            .filter(F.expr("size(t) >= 3")))
    tri = docs.select(F.explode(F.expr(
        "transform(sequence(1, size(t) - 2), i -> struct("
        "concat_ws(' ', slice(t, i, 2)) AS w12, "
        "element_at(t, i + 2) AS w3))")).alias("g")
    ).select("g.w12", "g.w3")
    tc = tri.groupBy("w12", "w3").agg(F.count("*").alias("tri_count"))
    bc = tc.groupBy("w12").agg(F.sum("tri_count").alias("big_count"))
    vocab = (load(spark, sf_dir, "documents").filter("lang = 'en'")
             .select(F.explode(F.split("text", " ")).alias("w"))
             .agg(F.countDistinct("w").alias("vocab")))
    return (tc.join(bc, "w12")
              .crossJoin(F.broadcast(vocab))
              .select("w12", "w3", "tri_count",
                      (F.col("tri_count") + 1).alias("p_num"),
                      (F.col("big_count") + F.col("vocab")).alias("p_den"))
              .orderBy(F.col("tri_count").desc(), "w12", "w3")
              .limit(LM_TOP_K))



def exact_group_quantiles(counts: DataFrame, keys: list[str],
                          probs: dict[str, float]) -> DataFrame:
    """EXACT per-group quantiles from a pre-aggregated value histogram,
    scale-safely: ``counts`` has columns ``keys + [val, cnt]`` (one row
    per distinct value per group — bounded by the value DOMAIN, not the
    row count), and the result carries ``keys + [n_rows] + one double
    column per probs label`` using the (n-1)*p linear-interpolation
    definition (quantile_cont / percentile). Every ``p`` must be dyadic
    (k/2^m: 0.25, 0.5, 0.75, ...) so index fraction and interpolation
    are exact in binary and bit-match DuckDB. The cumulative window
    runs over the histogram (distinct values), never the raw rows, and
    the per-group target table is broadcast — nothing data-sized is
    sorted globally.
    """
    wcum = (Window.partitionBy(*keys).orderBy("val")
                  .rowsBetween(Window.unboundedPreceding, 0))
    cum = counts.withColumn("cum", F.sum("cnt").over(wcum))
    tot = counts.groupBy(*keys).agg(F.sum("cnt").alias("n_rows"))
    texprs = [*keys, "CAST(n_rows AS BIGINT) AS n_rows"]
    for lab, pr in probs.items():
        texprs.append(f"CAST(FLOOR(CAST(n_rows - 1 AS DOUBLE) * {pr!r}) "
                      f"AS BIGINT) AS {lab}_lo")
        texprs.append(f"CAST(n_rows - 1 AS DOUBLE) * {pr!r} "
                      f"- FLOOR(CAST(n_rows - 1 AS DOUBLE) * {pr!r}) "
                      f"AS {lab}_frac")
    t = tot.selectExpr(*texprs)
    j = cum.join(F.broadcast(t), keys)
    aggs = []
    for lab in probs:
        aggs.append(F.min(F.when(F.col("cum") >= F.col(f"{lab}_lo") + 1,
                                 F.col("val"))).alias(f"{lab}_vl"))
        aggs.append(F.min(F.when(F.col("cum") >= F.col(f"{lab}_lo") + 2,
                                 F.col("val"))).alias(f"{lab}_vh"))
    gb = j.groupBy(*keys, "n_rows",
                   *[f"{lab}_frac" for lab in probs]).agg(*aggs)
    out = [*keys, "n_rows"]
    for lab in probs:
        out.append(
            f"CAST({lab}_vl AS DOUBLE) + {lab}_frac * "
            f"(CAST(COALESCE({lab}_vh, {lab}_vl) AS DOUBLE) "
            f"- CAST({lab}_vl AS DOUBLE)) AS {lab}")
    return gb.selectExpr(*out)


# -------------------------------------- per-language IQR length fences

@query(
    "doc_length_iqr_flags",
    oracle="""
        WITH q AS (
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 quantile_cont(n_chars, 0.25) AS q1,
                 quantile_cont(n_chars, 0.75) AS q3
          FROM documents GROUP BY lang
        ), f AS (
          SELECT lang, n_docs, q1, q3,
                 q1 - 1.5 * (q3 - q1) AS lo_fence,
                 q3 + 1.5 * (q3 - q1) AS hi_fence
          FROM q
        )
        SELECT f.lang, f.n_docs, f.q1, f.q3, f.lo_fence, f.hi_fence,
               CAST(SUM(CASE WHEN d.n_chars < f.lo_fence
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
               CAST(SUM(CASE WHEN d.n_chars > f.hi_fence
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        FROM f JOIN documents d ON d.lang = f.lang
        GROUP BY 1, 2, 3, 4, 5, 6
    """,
    doc="Per-language Tukey length fences (Q1/Q3 +- 1.5 IQR) with "
        "outlier counts — the standard corpus-curation length gate. "
        "Quartiles are EXACT but computed scale-safely: instead of "
        "sorting raw documents per group (what percentile() does, "
        "collecting every value of a group into one task), the plan "
        "aggregates a (lang, n_chars) -> count histogram — bounded by "
        "the number of DISTINCT lengths, not documents — takes a "
        "cumulative sum over that small table, and picks the two "
        "neighbor values around index (n-1)*q by cumulative-count "
        "lookup. Quartile fractions are dyadic (0/.25/.5/.75) so the "
        "linear interpolation is exact in binary and bit-matches "
        "DuckDB's quantile_cont. The doc-level outlier count reuses "
        "the same histogram against broadcast fences — the raw table "
        "is scanned exactly once at any scale.",
    tags=("analytics", "quality",),
)
def doc_length_iqr_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("lang", "n_chars")
    counts = (docs.groupBy("lang", F.col("n_chars").alias("val"))
                  .agg(F.count("*").alias("cnt")))
    q = exact_group_quantiles(counts, ["lang"],
                              {"q1": 0.25, "q3": 0.75})
    fences = (q.withColumnRenamed("n_rows", "n_docs")
               .selectExpr(
        "lang", "n_docs", "q1", "q3",
        "q1 - 1.5 * (q3 - q1) AS lo_fence",
        "q3 + 1.5 * (q3 - q1) AS hi_fence"))
    counts = counts.withColumnRenamed("val", "n_chars")
    flagged = (counts.join(F.broadcast(fences), "lang")
               .groupBy("lang", "n_docs", "q1", "q3",
                        "lo_fence", "hi_fence")
               .agg(F.sum(F.when(F.col("n_chars") < F.col("lo_fence"),
                                 F.col("cnt")).otherwise(F.lit(0)))
                     .cast("long").alias("n_low"),
                    F.sum(F.when(F.col("n_chars") > F.col("hi_fence"),
                                 F.col("cnt")).otherwise(F.lit(0)))
                     .cast("long").alias("n_high")))
    return flagged.select("lang", "n_docs", "q1", "q3",
                          "lo_fence", "hi_fence", "n_low", "n_high")


# --------------------------------------- per-label embedding centroids

CENT_SCALE = 1000000  # fixed-point quantization: floor(x * 1e6)


def _label_centroid_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (label, n_vecs, dim, s, cv) centroid cells shared by the
    array API and the driver-facing serialized variant: s is the exact
    fixed-point integer coordinate sum, cv the final one-shot IEEE
    division back to double."""
    e = load(spark, sf_dir, "embeddings")
    q = e.select("label", F.expr(
        f"transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) "
        f"* {CENT_SCALE}.0) AS BIGINT))").alias("qv"))
    d = q.select("label", F.posexplode("qv").alias("dim", "v"))
    g = d.groupBy("label", "dim").agg(F.sum("v").alias("s"))
    n = e.groupBy("label").agg(F.count("*").cast("long").alias("n_vecs"))
    return g.join(n, "label").select(
        "label", "n_vecs", "dim", "s",
        F.expr(f"CAST(s AS DOUBLE) / ({CENT_SCALE}.0 "
               f"* CAST(n_vecs AS DOUBLE))").alias("cv"))


def embedding_label_centroids_arrays(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Array-returning centroid API: per-label ``centroid``
    (array<double>, dim order) plus n_vecs and sq_norm. The registered
    driver-facing variant (``embedding_label_centroids``) serializes
    the centroid because the verification harness canonicalizes rows
    through pandas, which cannot hash list cells (CORRECTNESS_r05);
    this function is the shape pipelines compose with
    (``centroid_assignment_margin`` consumes the array directly)."""
    c = _label_centroid_cells(spark, sf_dir)
    arr = c.groupBy("label", "n_vecs").agg(
        F.expr("transform(array_sort(collect_list(struct(dim, cv))), "
               "p -> p.cv)").alias("centroid"))
    return arr.select(
        "label", "n_vecs", "centroid",
        F.expr("aggregate(centroid, CAST(0 AS DOUBLE), "
               "(acc, x) -> acc + x * x)").alias("sq_norm"))


@query(
    "embedding_label_centroids",
    oracle=f"""
        WITH d AS (
          SELECT label, i AS dim,
                 CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                            * {CENT_SCALE}.0) AS BIGINT) AS v
          FROM embeddings,
               UNNEST(generate_series(1, len(embedding))) AS s(i)
        ),
        n AS (
          SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs
          FROM embeddings GROUP BY label
        ),
        g AS (
          SELECT label, dim, SUM(v) AS s FROM d GROUP BY label, dim
        ),
        c AS (
          SELECT g.label, n.n_vecs, g.dim, g.s,
                 CAST(g.s AS DOUBLE)
                   / ({CENT_SCALE}.0 * CAST(n.n_vecs AS DOUBLE)) AS cv
          FROM g JOIN n USING (label)
        )
        SELECT label, n_vecs,
               array_to_string(list(CAST(s AS VARCHAR) ORDER BY dim),
                               ' ') AS centroid_sums,
               list_reduce(
                 list_prepend(CAST(0 AS DOUBLE),
                              list_transform(list(cv ORDER BY dim),
                                             x -> x * x)),
                 (acc, x) -> acc + x) AS sq_norm
        FROM c GROUP BY label, n_vecs
    """,
    doc="Per-label embedding centroids in deterministic fixed point: "
        "each float32 coordinate is floor-quantized to a 1e-6 integer "
        "grid (exact widening cast + one IEEE multiply + exact FLOOR), "
        "summed as exact integers — so unlike a float mean, the result "
        "is independent of partial-aggregation order — and divided "
        "back once at the end. The squared norm is a left fold in dim "
        "order, identical operand sequence on both engines. Plan: "
        "posexplode -> one (label, dim) aggregate -> rebuild the array "
        "with an in-group sort over 64 dims. Shuffle volume is "
        "|labels| x dims partials — the centroid step of distributed "
        "k-means / class-prototype analysis, linear at 100 TB. Driver "
        "contract: the centroid ships as the space-joined PRE-DIVISION "
        "fixed-point integer sums (lossless — centroid[i] = sums[i] / "
        "(1e6 * n_vecs) reconstructs every double bit-exactly) because "
        "the harness canonicalizer cannot hash list cells; "
        "``embedding_label_centroids_arrays`` is the array-typed API.",
    tags=("analytics", "similarity",),
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _label_centroid_cells(spark, sf_dir)
    cells = c.groupBy("label", "n_vecs").agg(
        F.expr("array_sort(collect_list(struct(dim, s, cv)))")
         .alias("cells"))
    return cells.select(
        "label", "n_vecs",
        F.expr("array_join(transform(cells, p -> CAST(p.s AS STRING)), "
               "' ')").alias("centroid_sums"),
        F.expr("aggregate(transform(cells, p -> p.cv), "
               "CAST(0 AS DOUBLE), (acc, x) -> acc + x * x)")
         .alias("sq_norm"))


# ----------------------------------------------- 2D Pareto skyline

SKYLINE_SINCE = "2001-01-01"  # bounds the oracle's quadratic NOT EXISTS

@query(
    "skyline_pareto_orders",
    oracle="""
        SELECT o.o_orderkey,
               CAST(CAST(o.o_orderdate AS DATE) AS TIMESTAMP) AS odate,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '{SKYLINE_SINCE}'
          AND NOT EXISTS (
          SELECT 1 FROM orders d
          WHERE d.o_orderdate >= TIMESTAMP '{SKYLINE_SINCE}'
            AND ((CAST(d.o_orderdate AS DATE) > CAST(o.o_orderdate AS DATE)
                 AND CAST(ROUND(d.o_totalprice * 100) AS BIGINT)
                     >= CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
             OR (CAST(d.o_orderdate AS DATE) = CAST(o.o_orderdate AS DATE)
                 AND CAST(ROUND(d.o_totalprice * 100) AS BIGINT)
                     > CAST(ROUND(o.o_totalprice * 100) AS BIGINT)))
        )
    """.format(SKYLINE_SINCE=SKYLINE_SINCE),
    doc="2D Pareto skyline of orders (maximize order date AND total "
        "price): the non-dominated set, where a dominates b iff it is "
        ">= on both axes and strictly better on one (restricted to the "
        "recent-date window so the definitional oracle's quadratic NOT "
        "EXISTS stays tractable at every test sf). The oracle is the "
        "quadratic NOT EXISTS definition; the Spark plan exploits the "
        "2D structure instead: per-date maxima (one aggregate over a "
        "small date domain), a suffix-running-max over that tiny "
        "dimension table (window over #distinct-dates rows, not data), "
        "broadcast back, and a survivor filter — an order survives iff "
        "it carries its date's max price and strictly beats every "
        "later date's max. O(data) + O(|dates| log |dates|) instead of "
        "O(n^2); ties on both axes all survive, matching the strict "
        "domination rule. At 100 TB the only data-sized ops are one "
        "map-side-combinable aggregate and one broadcast-join filter.",
    tags=("analytics",),
)
def skyline_pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (load(spark, sf_dir, "orders")
         .filter(f"o_orderdate >= TIMESTAMP '{SKYLINE_SINCE}'")
         .selectExpr(
             "o_orderkey",
             "CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS odate",
             "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents"))
    per_date = o.groupBy("odate").agg(F.max("price_cents").alias("m"))
    w = (Window.orderBy(F.col("odate").desc())
               .rowsBetween(Window.unboundedPreceding, -1))
    # suffix_max(d) = max price over STRICTLY LATER dates
    suffix = per_date.withColumn("later_max", F.max("m").over(w))
    surv = o.join(F.broadcast(suffix), "odate")
    return (surv.filter((F.col("price_cents") == F.col("m"))
                        & (F.col("later_max").isNull()
                           | (F.col("price_cents") > F.col("later_max"))))
                .select("o_orderkey", "odate", "price_cents"))


# ------------------------------------------- ABC revenue classification

ABC_A_PCT = 70
ABC_B_PCT = 90


@query(
    "orders_abc_classification",
    oracle=f"""
        WITH rev AS (
          SELECT c.c_nationkey AS nationkey, o.o_orderkey,
                 CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
          FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        ), ranked AS (
          SELECT nationkey, cents,
                 SUM(cents) OVER (PARTITION BY nationkey
                                  ORDER BY cents DESC, o_orderkey
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(cents) OVER (PARTITION BY nationkey) AS tot
          FROM rev
        ), classed AS (
          SELECT nationkey, cents,
                 CASE WHEN cum * 100 <= tot * {ABC_A_PCT} THEN 'A'
                      WHEN cum * 100 <= tot * {ABC_B_PCT} THEN 'B'
                      ELSE 'C' END AS abc_class
          FROM ranked
        )
        SELECT nationkey, abc_class,
               COUNT(*) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS revenue_cents
        FROM classed GROUP BY nationkey, abc_class
    """,
    doc="ABC / Pareto revenue classification per customer nation: "
        "orders sorted by revenue descending, class A covers the first "
        "70% of cumulative revenue, B to 90%, C the tail — the "
        "inventory-analysis shape. Class boundaries compare exact "
        "integers (cum*100 <= tot*PCT over cents), so no float "
        "rounding can flip a boundary row, and the (cents DESC, "
        "orderkey) tie-break makes the cumulative order total. The "
        "window is partitioned by nation; at 100 TB a heavy group "
        "sorts within its own partition (spillable sort, no global "
        "ordering), and the alternative range-bucket + broadcast "
        "prefix-sums rewrite (used by curriculum_global_rank) applies "
        "if a single group outgrew a task.",
    tags=("analytics",),
)
def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").selectExpr(
        "o_custkey", "o_orderkey",
        "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents")
    c = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "c_nationkey AS nationkey")
    rev = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    wcum = (Window.partitionBy("nationkey")
                  .orderBy(F.col("cents").desc(), "o_orderkey")
                  .rowsBetween(Window.unboundedPreceding, 0))
    wtot = Window.partitionBy("nationkey")
    classed = (rev.withColumn("cum", F.sum("cents").over(wcum))
                  .withColumn("tot", F.sum("cents").over(wtot))
                  .withColumn("abc_class", F.expr(
                      f"CASE WHEN cum * 100 <= tot * {ABC_A_PCT} THEN 'A' "
                      f"WHEN cum * 100 <= tot * {ABC_B_PCT} THEN 'B' "
                      f"ELSE 'C' END")))
    return (classed.groupBy("nationkey", "abc_class")
                   .agg(F.count("*").alias("n_orders"),
                        F.sum("cents").cast("long").alias("revenue_cents")))


# --------------------------------------- BM25 TF-saturation term scores

BM25_TERMS = ("data", "spark", "query")
BM25_TOP_K = 50
# BM25 with k1=1.2, b=0.75 and the idf factor left as the exact df
# integer: score = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with
# avgdl = T/N reduces over a common denominator to the exact integer
# ratio 44*T*tf / (20*T*tf + 6*T + 18*dl*N). The log-idf factor is
# deliberately NOT folded in: ln() is not guaranteed correctly rounded
# across engines, while this saturation core is exact rational
# arithmetic; consumers multiply by their idf of choice using the
# shipped df column.


@query(
    "bm25_term_scores",
    oracle=f"""
        WITH docs AS (
          SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents
        ),
        corpus AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(len(toks)) AS BIGINT) AS t
          FROM docs
        ),
        tf AS (
          SELECT d.doc_id, term.term,
                 CAST(len(list_filter(d.toks, x -> x = term.term))
                      AS BIGINT) AS tf,
                 CAST(len(d.toks) AS BIGINT) AS dl
          FROM docs d
          CROSS JOIN (SELECT UNNEST(['data', 'spark', 'query']) AS term)
            AS term
        ),
        scored AS (
          SELECT tf.term, tf.doc_id, tf.tf, tf.dl,
                 44 * c.t * tf.tf AS score_num,
                 20 * c.t * tf.tf + 6 * c.t + 18 * tf.dl * c.n
                   AS score_den
          FROM tf CROSS JOIN corpus c
          WHERE tf.tf > 0
        ),
        df AS (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS df
          FROM scored GROUP BY term
        ),
        ranked AS (
          SELECT s.term, s.doc_id, s.tf, s.dl, d.df,
                 s.score_num, s.score_den,
                 CAST(s.score_num AS DOUBLE) / CAST(s.score_den AS DOUBLE)
                   AS score,
                 ROW_NUMBER() OVER (
                   PARTITION BY s.term
                   ORDER BY CAST(s.score_num AS DOUBLE)
                            / CAST(s.score_den AS DOUBLE) DESC,
                            s.doc_id) AS rk
          FROM scored s JOIN df d USING (term)
        )
        SELECT term, doc_id, tf, dl, df, score_num, score_den, score
        FROM ranked WHERE rk <= {BM25_TOP_K}
    """,
    doc="BM25 relevance scoring (k1=1.2, b=0.75) for a fixed query-"
        "term list over the corpus, top-50 docs per term. The TF-"
        "saturation/length-normalization core reduces to one exact "
        "integer ratio (see module constant), so the score is a single "
        "IEEE division of exact integers; df ships as an integer "
        "column for the consumer's idf. Corpus totals (N docs, T "
        "tokens) ride a one-row broadcast; per-term top-k is a "
        "rank<=k window that Spark executes as WindowGroupLimit "
        "(per-partition pre-filtering before the per-term exchange), "
        "so three hot term-partitions never see the full corpus. The "
        "term scan itself is an array filter inside codegen — no "
        "Python, no explode.",
    tags=("analytics", "text",),
)
def bm25_term_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", F.split("text", " ").alias("toks")))
    corpus = docs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.expr("size(toks)")).cast("long").alias("t"))
    terms = spark.createDataFrame(
        [(t,) for t in BM25_TERMS], "term string")
    tf = (docs.crossJoin(F.broadcast(terms))
              .select("doc_id", "term",
                      F.expr("CAST(size(filter(toks, x -> x = term)) "
                             "AS BIGINT)").alias("tf"),
                      F.expr("CAST(size(toks) AS BIGINT)").alias("dl"))
              .filter("tf > 0"))
    scored = (tf.crossJoin(F.broadcast(corpus))
                .select("term", "doc_id", "tf", "dl",
                        F.expr("44 * t * tf").alias("score_num"),
                        F.expr("20 * t * tf + 6 * t + 18 * dl * n")
                         .alias("score_den"))
                # consumed twice (df aggregate + ranking join) with no
                # exchange in its subtree for reuse, so checkpointed.
                # df CANNOT fold into the ranking window: count-per-term
                # must see every row, which would defeat the
                # WindowGroupLimit pre-filter.
                .localCheckpoint(eager=True))
    dfc = scored.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    ranked = (scored.join(F.broadcast(dfc), "term")
              .withColumn("score",
                          F.expr("CAST(score_num AS DOUBLE) "
                                 "/ CAST(score_den AS DOUBLE)"))
              .withColumn("rk", F.row_number().over(
                  Window.partitionBy("term")
                        .orderBy(F.col("score").desc(), "doc_id"))))
    return (ranked.filter(F.col("rk") <= BM25_TOP_K)
                  .select("term", "doc_id", "tf", "dl", "df",
                          "score_num", "score_den", "score"))


# ------------------------------------------- chi-square drift detection

DRIFT_CUTOFF = "2024-01-16"  # mid-corpus: both periods populated


@query(
    "chi_square_event_drift",
    oracle=f"""
        WITH cells AS (
          SELECT event_type,
                 CASE WHEN ts < TIMESTAMP '{DRIFT_CUTOFF}'
                      THEN 'before' ELSE 'after' END AS period,
                 CAST(COUNT(*) AS BIGINT) AS observed
          FROM events GROUP BY 1, 2
        ), totals AS (
          SELECT c.*,
                 SUM(observed) OVER (PARTITION BY event_type) AS row_tot,
                 SUM(observed) OVER (PARTITION BY period) AS col_tot,
                 SUM(observed) OVER () AS grand_tot
          FROM cells c
        )
        SELECT event_type, period, observed,
               CAST(row_tot * col_tot AS DOUBLE)
                 / CAST(grand_tot AS DOUBLE) AS expected,
               (CAST(observed AS DOUBLE)
                - CAST(row_tot * col_tot AS DOUBLE)
                  / CAST(grand_tot AS DOUBLE))
               * (CAST(observed AS DOUBLE)
                  - CAST(row_tot * col_tot AS DOUBLE)
                    / CAST(grand_tot AS DOUBLE))
               / (CAST(row_tot * col_tot AS DOUBLE)
                  / CAST(grand_tot AS DOUBLE)) AS chi2_contrib
        FROM totals
    """,
    doc="Chi-square homogeneity test cells for event-type drift across "
        "a time cutoff (the distribution-shift monitor a training-data "
        "pipeline runs between ingest batches). Chi-square is chosen "
        "over PSI/KL precisely because it needs no logarithm: observed "
        "and marginal products are exact integers below 2^53, so "
        "expected = row_tot*col_tot/grand_tot and the squared-residual "
        "contribution are deterministic IEEE arithmetic on identical "
        "operands across engines. One aggregate over the fact table, "
        "then windows over the tiny |event_types| x 2 cell table — "
        "nothing data-sized past the first map-side-combinable count.",
    tags=("analytics", "quality",),
)
def chi_square_event_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cells = (ev.select(
        "event_type",
        F.expr(f"CASE WHEN ts < TIMESTAMP '{DRIFT_CUTOFF}' "
               f"THEN 'before' ELSE 'after' END").alias("period"))
        .groupBy("event_type", "period")
        .agg(F.count("*").cast("long").alias("observed")))
    totals = (cells
              .withColumn("row_tot", F.sum("observed").over(
                  Window.partitionBy("event_type")))
              .withColumn("col_tot", F.sum("observed").over(
                  Window.partitionBy("period")))
              .withColumn("grand_tot", F.sum("observed").over(
                  Window.partitionBy())))
    e = ("(CAST(row_tot * col_tot AS DOUBLE) / CAST(grand_tot AS DOUBLE))")
    return totals.select(
        "event_type", "period", "observed",
        F.expr(e).alias("expected"),
        F.expr(f"(CAST(observed AS DOUBLE) - {e}) "
               f"* (CAST(observed AS DOUBLE) - {e}) / {e}")
         .alias("chi2_contrib"))


# ---------------------------------------------- winnowing fingerprints

WINNOW_K = 4   # k-gram length (tokens)
WINNOW_W = 5   # window of consecutive k-gram hashes per fingerprint


@query(
    "winnowing_fingerprints",
    oracle=f"""
        WITH docs AS (
          SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents
          WHERE len(string_split(text, ' ')) >= {WINNOW_K + WINNOW_W - 1}
        ),
        hashed AS (
          SELECT doc_id,
                 list_transform(
                   generate_series(1, len(toks) - {WINNOW_K - 1}),
                   i -> CAST(('0x' || substring(md5(array_to_string(
                          toks[i:i + {WINNOW_K - 1}], ' ')), 1, 13))
                        AS BIGINT)) AS hs
          FROM docs
        ),
        fp AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, len(hs) - {WINNOW_W - 1}),
                   j -> list_aggregate(hs[j:j + {WINNOW_W - 1}], 'min')))
                   AS fps
          FROM hashed
        ),
        exploded AS (
          SELECT doc_id, UNNEST(fps) AS fp FROM fp
        ),
        dfreq AS (
          SELECT fp, CAST(COUNT(*) AS BIGINT) AS docs_with
          FROM exploded GROUP BY fp
        )
        SELECT e.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
               CAST(SUM(CASE WHEN d.docs_with >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_shared,
               CAST(SUM(CASE WHEN d.docs_with >= 2 THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS shared_frac
        FROM exploded e JOIN dfreq d USING (fp)
        GROUP BY e.doc_id
    """,
    doc="Winnowing document fingerprints (Schleimer, Wilkerson, Aiken "
        "SIGMOD 2003, the MOSS algorithm): hash every token 4-gram, "
        "slide a 5-hash window, keep each window's minimum — a "
        "guaranteed-coverage sparse fingerprint set — then score each "
        "document by the fraction of its fingerprints shared with any "
        "other document. Hashing and window-min selection are pure "
        "array lambdas inside codegen (zero shuffle, no explode until "
        "the fingerprint set is already ~1/w the gram count); the "
        "cross-doc step is one aggregate + one equi-join on the "
        "52-bit fingerprint key. The same inverted-index discipline "
        "as the LSH dedup family: never doc x doc.",
    tags=("analytics", "dedup",),
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.tables import fan_out
    docs = fan_out(
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.expr(f"size(toks) >= {WINNOW_K + WINNOW_W - 1}")),
        spark)
    hashed = docs.select("doc_id", F.expr(f"""
        transform(sequence(1, size(toks) - {WINNOW_K - 1}),
          i -> CAST(conv(substring(md5(concat_ws(' ',
                 slice(toks, i, {WINNOW_K}))), 1, 13), 16, 10)
               AS BIGINT))""").alias("hs"))
    # ONE projection from hs to the exploded fingerprints. Splitting
    # this into select(fps)->explode(column) let CollapseProject
    # substitute the md5 k-gram transform into every reference of hs —
    # including INSIDE the per-window lambda, re-hashing the whole
    # document once per window position (measured 234s vs 4s at
    # sf0.1). The single-projection form keeps the hash transform
    # evaluated once per row (plan-gated: one md5 in the plan).
    exploded = hashed.select("doc_id", F.explode(F.expr(f"""
        array_distinct(transform(sequence(1, size(hs) - {WINNOW_W - 1}),
          j -> array_min(slice(hs, j, {WINNOW_W}))))""")).alias("fp"))
    # doc frequency via a count window over the fp exchange instead of
    # groupBy+join-back: the fingerprint subtree feeds ONE exchange and
    # is computed once, where the join formulation rebuilt it on both
    # the aggregate and probe sides.
    counted = exploded.withColumn(
        "docs_with",
        F.count(F.lit(1)).over(Window.partitionBy("fp")).cast("long"))
    return (counted
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
                 F.sum(F.when(F.col("docs_with") >= 2, 1).otherwise(0))
                  .cast("long").alias("n_shared"))
            .withColumn("shared_frac",
                        F.expr("CAST(n_shared AS DOUBLE) "
                               "/ CAST(n_fingerprints AS DOUBLE)")))


# ------------------------------------------------ n-gram novelty curve

@query(
    "ngram_novelty_score",
    oracle=f"""
        WITH grams AS (
          SELECT doc_id, UNNEST({_SQL_NGRAMS}) AS gh
          FROM documents
          WHERE len(string_split(text, ' ')) >= {NGRAM_N}
        ),
        first_seen AS (
          SELECT gh, MIN(doc_id) AS first_doc FROM grams GROUP BY gh
        )
        SELECT g.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN f.first_doc = g.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               CAST(SUM(CASE WHEN f.first_doc = g.doc_id
                             THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS BIGINT) AS novelty_frac
        FROM grams g JOIN first_seen f USING (gh)
        GROUP BY g.doc_id
    """,
    doc="Per-document n-gram novelty in corpus order (doc_id order): "
        "the fraction of a document's distinct word-3-grams never seen "
        "in any earlier document — the novelty signal curriculum "
        "schedulers and crawl-frontier dedup use to measure marginal "
        "information. One gram-keyed MIN aggregate finds each gram's "
        "first occurrence; joining back and counting first_doc = "
        "doc_id needs no ordering, windows, or state — the 'seen so "
        "far' semantics falls out of the MIN, so the plan is two "
        "map-side-combinable aggregates and one equi-join on the "
        "16-byte gram hash, linear at 100 TB.",
    tags=("analytics", "text",),
)
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", F.split("text", " ").alias("toks"))
            .filter(F.expr(f"size(toks) >= {NGRAM_N}")))
    grams = docs.select("doc_id", F.explode(_ngram_hashes()).alias("gh"))
    first_seen = grams.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    j = grams.join(first_seen, "gh")
    return (j.groupBy("doc_id")
             .agg(F.count("*").cast("long").alias("n_grams"),
                  F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                         .otherwise(0)).cast("long").alias("n_novel"))
             .withColumn("novelty_frac",
                         F.expr("CAST(n_novel AS DOUBLE) / n_grams")))


# ------------------------------------------ trailing-window anomalies

ANOM_WIN = 6     # previous events considered
ANOM_MIN_N = 4   # minimum history before flagging
# |x - mean| > 2*sigma over the trailing window, compared entirely in
# exact integers: (x*n - s)^2 > 4*(n*ssq - s^2), where s/ssq are the
# window's sum and sum-of-squares in cents.


@query(
    "trailing_anomaly_events",
    oracle=f"""
        WITH c AS (
          SELECT user_id, event_id, ts,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events
        ), w AS (
          SELECT user_id, event_id, cents,
                 COUNT(*) OVER win AS n_prev,
                 SUM(cents) OVER win AS s_prev,
                 SUM(cents * cents) OVER win AS ss_prev
          FROM c
          WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN {ANOM_WIN} PRECEDING
                                  AND 1 PRECEDING)
        )
        SELECT user_id, event_id, cents,
               CAST(n_prev AS BIGINT) AS n_prev,
               CAST(s_prev AS BIGINT) AS s_prev,
               CAST(ss_prev AS BIGINT) AS ss_prev
        FROM w
        WHERE n_prev >= {ANOM_MIN_N}
          AND (cents * n_prev - s_prev) * (cents * n_prev - s_prev)
              > 4 * (n_prev * ss_prev - s_prev * s_prev)
    """,
    doc="Sequential anomaly detection: an event is flagged when its "
        "value sits more than two standard deviations from the mean of "
        "the user's previous {win} events — the trailing-window twin "
        "of the global z-score / MAD gates already in the registry. "
        "The two-sigma cut is evaluated without ever materializing "
        "mean or sigma: (x*n - s)^2 > 4*(n*ssq - s^2) over exact "
        "integer cents, so no float rounding can flip a boundary "
        "event. Per-user window frames only — one shuffle on user_id, "
        "bounded frame state, linear at 100 TB.".format(win=ANOM_WIN),
    tags=("analytics", "quality",),
)
def trailing_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"))
    win = (Window.partitionBy("user_id").orderBy("ts", "event_id")
                 .rowsBetween(-ANOM_WIN, -1))
    w = (ev.withColumn("n_prev", F.count("*").over(win).cast("long"))
           .withColumn("s_prev", F.sum("cents").over(win).cast("long"))
           .withColumn("ss_prev",
                       F.sum(F.expr("cents * cents")).over(win)
                        .cast("long")))
    return (w.filter(
        (F.col("n_prev") >= ANOM_MIN_N)
        & (F.expr("(cents * n_prev - s_prev) * (cents * n_prev - s_prev)"
                  " > 4 * (n_prev * ss_prev - s_prev * s_prev)")))
        .select("user_id", "event_id", "cents",
                "n_prev", "s_prev", "ss_prev"))


# ------------------------------------------- cross-source overlap map

@query(
    "source_overlap_matrix",
    oracle=f"""
        WITH h AS (
          SELECT DISTINCT gh, source FROM (
            SELECT source, UNNEST({_SQL_NGRAMS}) AS gh
            FROM documents
            WHERE len(string_split(text, ' ')) >= {NGRAM_N}
          )
        ),
        per_source AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
          FROM h GROUP BY source
        ),
        shared AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM h a JOIN h b
            ON a.gh = b.gh AND a.source < b.source
          GROUP BY 1, 2
        )
        SELECT s.source_a, s.source_b, s.n_shared,
               pa.n_grams AS n_a, pb.n_grams AS n_b,
               CAST(s.n_shared AS DOUBLE)
                 / CAST(pa.n_grams + pb.n_grams - s.n_shared AS BIGINT)
                 AS jaccard
        FROM shared s
        JOIN per_source pa ON pa.source = s.source_a
        JOIN per_source pb ON pb.source = s.source_b
    """,
    doc="Cross-source content-overlap matrix: for every source pair, "
        "the Jaccard overlap of their distinct word-3-gram sets — the "
        "provenance screen run before mixing crawl dumps, to catch "
        "mirrored or re-hosted corpora whose documents are near- but "
        "not byte-identical. The (gram, source) inverted index is "
        "grouped by gram ONCE (collect_set dedups), and each gram's "
        "k(k-1)/2 ordered source pairs are emitted in-array — bounded "
        "by |sources|^2 per gram regardless of corpus size, never "
        "doc x doc, and ~3x less shuffle than the distinct + "
        "self-join form (measured in docs/SCALING.md). Per-source "
        "totals ride broadcast joins. Same discipline as the dedup "
        "family, one level up (source granularity).",
    tags=("analytics", "dedup",),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same one-shuffle discipline as frequent_item_pairs: group the
    # inverted index by gram ONCE (collect_set dedups the per-doc
    # repeats), generate the bounded |sources-per-gram|^2 ordered
    # pairs in-array, and let the pair aggregate combine map-side.
    # The distinct + self-join alternative exchanges the (gram,
    # source) index twice more for the same answer (measured 8/16 MB
    # for the join form vs 3/6 MB for this one at sf0.1).
    docs = (load(spark, sf_dir, "documents")
            .select("source", F.split("text", " ").alias("toks"))
            .filter(F.expr(f"size(toks) >= {NGRAM_N}")))
    h = docs.select("source", F.explode(_ngram_hashes()).alias("gh"))
    by_gram = (h.groupBy("gh")
                .agg(F.expr("sort_array(collect_set(source))")
                      .alias("ss")))
    per_source = (by_gram.select(F.explode("ss").alias("source"))
                  .groupBy("source")
                  .agg(F.count("*").cast("long").alias("n_grams")))
    shared = (by_gram.select(F.explode(F.expr(
        ordered_pair_structs("ss", "source_a", "source_b"))).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_shared")))
    pa = per_source.selectExpr("source AS source_a", "n_grams AS n_a")
    pb = per_source.selectExpr("source AS source_b", "n_grams AS n_b")
    return (shared.join(F.broadcast(pa), "source_a")
                  .join(F.broadcast(pb), "source_b")
                  .select("source_a", "source_b", "n_shared", "n_a", "n_b",
                          F.expr("CAST(n_shared AS DOUBLE) "
                                 "/ (n_a + n_b - n_shared)")
                           .alias("jaccard")))


# ------------------------------------- funnel conversion latency bands

@query(
    "funnel_conversion_latency",
    oracle="""
        WITH fc AS (
          SELECT user_id, MIN(ts) AS c_ts FROM events
          WHERE event_type = 'click' GROUP BY user_id
        ),
        fp AS (
          SELECT e.user_id, MIN(e.ts) AS p_ts
          FROM events e JOIN fc ON fc.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= fc.c_ts
          GROUP BY e.user_id
        ),
        d AS (
          SELECT CAST(CAST(fc.c_ts AS DATE) AS TIMESTAMP) AS cohort_day,
                 (epoch_us(fp.p_ts) - epoch_us(fc.c_ts)) // 1000000
                   AS delta_s
          FROM fc JOIN fp USING (user_id)
        )
        SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_conversions,
               quantile_cont(delta_s, 0.25) AS q25,
               quantile_cont(delta_s, 0.5) AS q50,
               quantile_cont(delta_s, 0.75) AS q75
        FROM d GROUP BY cohort_day
    """,
    doc="Funnel conversion-latency bands: per first-click cohort day, "
        "exact quartiles of the first-click -> first-purchase delay in "
        "whole seconds. Extends the registry's funnel_click_purchase "
        "(which counts conversions) with the latency distribution "
        "product teams actually monitor. Quartiles reuse the "
        "exact_group_quantiles histogram machinery: flooring the delay "
        "to seconds bounds the value domain, so the cumulative window "
        "runs over distinct delays per cohort — not over users — and "
        "interpolation fractions are dyadic, bit-matching "
        "quantile_cont. Two per-user MIN aggregates + one broadcast "
        "threshold pass; nothing data-sized is globally sorted.",
    tags=("analytics", "timeseries",),
)
def funnel_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    fc = (ev.filter("event_type = 'click'")
            .groupBy("user_id").agg(F.min("ts").alias("c_ts")))
    # c_ts is constant within the per-user group, so min(c_ts) carries
    # it through the purchase aggregate — joining fc a second time
    # for it re-derived the per-user click rollup (two extra scans).
    fp = (ev.filter("event_type = 'purchase'")
            .join(fc, "user_id")
            .filter(F.col("ts") >= F.col("c_ts"))
            .groupBy("user_id").agg(F.min("ts").alias("p_ts"),
                                    F.min("c_ts").alias("c_ts")))
    d = fp.selectExpr(
        "CAST(CAST(c_ts AS DATE) AS TIMESTAMP) AS cohort_day",
        "(unix_micros(p_ts) - unix_micros(c_ts)) DIV 1000000 "
        "AS delta_s")
    # the distribution histogram feeds each quantile's rank probe;
    # checkpoint it so the funnel join-tree runs once.
    counts = (d.groupBy("cohort_day", F.col("delta_s").alias("val"))
                .agg(F.count("*").alias("cnt"))
                .localCheckpoint())
    q = exact_group_quantiles(counts, ["cohort_day"],
                              {"q25": 0.25, "q50": 0.5, "q75": 0.75})
    return q.withColumnRenamed("n_rows", "n_conversions")


# --------------------------------------------- character-class purity

@query(
    "char_class_gini",
    oracle="""
        WITH c AS (
          SELECT doc_id,
                 CAST(len(text) AS BIGINT) AS n,
                 CAST(len(regexp_replace(text, '[^a-z]', '', 'g'))
                      AS BIGINT) AS n_alpha,
                 CAST(len(regexp_replace(text, '[^0-9]', '', 'g'))
                      AS BIGINT) AS n_digit,
                 CAST(len(regexp_replace(text, '[^ ]', '', 'g'))
                      AS BIGINT) AS n_space
          FROM documents WHERE len(text) > 0
        )
        SELECT doc_id, n, n_alpha, n_digit, n_space,
               n - n_alpha - n_digit - n_space AS n_other,
               n * n - (n_alpha * n_alpha + n_digit * n_digit
                        + n_space * n_space
                        + (n - n_alpha - n_digit - n_space)
                          * (n - n_alpha - n_digit - n_space))
                 AS gini_num,
               n * n AS gini_den,
               CAST(n * n - (n_alpha * n_alpha + n_digit * n_digit
                             + n_space * n_space
                             + (n - n_alpha - n_digit - n_space)
                               * (n - n_alpha - n_digit - n_space))
                    AS DOUBLE) / CAST(n * n AS DOUBLE) AS gini
        FROM c
    """,
    doc="Character-class Gini impurity per document (alpha / digit / "
        "space / other): 1 - sum(p_i^2), the log-free cousin of "
        "character entropy used as a cheap gibberish/markup signal in "
        "quality pipelines — near 0 for single-class runs (digit "
        "dumps, base64 blobs), higher for natural text. Class counts "
        "come from regexp_replace length arithmetic inside codegen; "
        "the impurity ships as an exact integer ratio (gini_num / "
        "gini_den) plus its one-division double. A stateless row map "
        "— zero shuffle at any scale.",
    tags=("analytics", "quality",),
)
def char_class_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    return char_class_gini_plan(load(spark, sf_dir, "documents"))


def char_class_gini_plan(docs: DataFrame) -> DataFrame:
    """Plan-builder form (works on any batch OR streaming documents
    relation — the map is stateless, so `readStream` + this builder +
    an availableNow drain reproduces the batch rows exactly; see
    tests/test_staged_scale.py)."""
    c = docs.filter("length(text) > 0").selectExpr(
        "doc_id",
        "CAST(length(text) AS BIGINT) AS n",
        "CAST(length(regexp_replace(text, '[^a-z]', '')) AS BIGINT) "
        "AS n_alpha",
        "CAST(length(regexp_replace(text, '[^0-9]', '')) AS BIGINT) "
        "AS n_digit",
        "CAST(length(regexp_replace(text, '[^ ]', '')) AS BIGINT) "
        "AS n_space")
    sq = ("(n_alpha * n_alpha + n_digit * n_digit + n_space * n_space "
          "+ (n - n_alpha - n_digit - n_space) "
          "* (n - n_alpha - n_digit - n_space))")
    return c.selectExpr(
        "doc_id", "n", "n_alpha", "n_digit", "n_space",
        "n - n_alpha - n_digit - n_space AS n_other",
        f"n * n - {sq} AS gini_num",
        "n * n AS gini_den",
        f"CAST(n * n - {sq} AS DOUBLE) / CAST(n * n AS DOUBLE) AS gini")


# ------------------------------------------------- LTV cohort curves

@query(
    "user_ltv_cohort_curves",
    oracle="""
        WITH fu AS (
          SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
          FROM events GROUP BY user_id
        ),
        rev AS (
          SELECT e.user_id,
                 date_diff('day', fu.cohort_day, CAST(e.ts AS DATE))
                   AS age_day,
                 CAST(ROUND(e.value * 100) AS BIGINT) AS cents
          FROM events e JOIN fu ON fu.user_id = e.user_id
        ),
        g AS (
          SELECT f.cohort_day, r.age_day,
                 CAST(COUNT(DISTINCT r.user_id) AS BIGINT)
                   AS n_users_active,
                 CAST(SUM(r.cents) AS BIGINT) AS rev_cents
          FROM rev r JOIN fu f ON f.user_id = r.user_id
          GROUP BY 1, 2
        )
        SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day, age_day,
               n_users_active, rev_cents,
               CAST(SUM(rev_cents) OVER (
                 PARTITION BY cohort_day ORDER BY age_day
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
        FROM g
    """,
    doc="Customer-lifetime-value cohort curves: users are cohorted by "
        "first-seen day, revenue is rolled up per (cohort, age-in-"
        "days), and the running total per cohort gives the LTV curve "
        "whose plateau product analytics reads. All money stays in "
        "exact integer cents; the only window runs over the tiny "
        "(cohort x age) rollup — bounded by days^2 regardless of "
        "event volume — after two user-keyed aggregates. One shuffle "
        "on user_id, one on the rollup key: linear at 100 TB.",
    tags=("analytics", "timeseries",),
)
def user_ltv_cohort_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    fu = ev.groupBy("user_id").agg(
        F.expr("CAST(MIN(ts) AS DATE)").alias("cohort_day"))
    rev = (ev.join(fu, "user_id")
             .selectExpr("user_id", "cohort_day",
                         "datediff(CAST(ts AS DATE), cohort_day) "
                         "AS age_day",
                         "CAST(ROUND(value * 100) AS BIGINT) AS cents"))
    g = (rev.groupBy("cohort_day", "age_day")
            .agg(F.countDistinct("user_id").cast("long")
                  .alias("n_users_active"),
                 F.sum("cents").cast("long").alias("rev_cents")))
    wc = (Window.partitionBy("cohort_day").orderBy("age_day")
                .rowsBetween(Window.unboundedPreceding, 0))
    return (g.withColumn("cum_rev_cents",
                         F.sum("rev_cents").over(wc).cast("long"))
             .select(F.col("cohort_day").cast("timestamp")
                      .alias("cohort_day"),
                     "age_day", "n_users_active", "rev_cents",
                     "cum_rev_cents"))


# -------------------------------------------- weekday seasonality index

# weekday from the epoch-day count: 1970-01-01 was a Thursday, so
# (days_since_epoch + 4) % 7 yields 0=Sunday .. 6=Saturday as pure
# integer arithmetic — engine-neutral, unlike dayofweek()/isodow()
# whose numbering conventions differ between engines.

@query(
    "seasonal_weekday_index",
    oracle="""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS d,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS day_cents
          FROM orders GROUP BY 1
        ),
        wd AS (
          SELECT (date_diff('day', DATE '1970-01-01', d) + 4) % 7
                   AS weekday,
                 CAST(COUNT(*) AS BIGINT) AS n_days,
                 CAST(SUM(day_cents) AS BIGINT) AS wd_cents
          FROM daily GROUP BY 1
        ),
        tot AS (
          SELECT CAST(SUM(n_days) AS BIGINT) AS total_days,
                 CAST(SUM(wd_cents) AS BIGINT) AS total_cents
          FROM wd
        )
        SELECT w.weekday, w.n_days, w.wd_cents,
               w.wd_cents * t.total_days AS idx_num,
               w.n_days * t.total_cents AS idx_den,
               CAST(w.wd_cents * t.total_days AS DOUBLE)
                 / CAST(w.n_days * t.total_cents AS DOUBLE)
                 AS seasonal_index
        FROM wd w CROSS JOIN tot t
    """,
    doc="Weekday seasonality index of order revenue: each weekday's "
        "average daily revenue relative to the overall daily average "
        "(index > 1 = above-trend day — the multiplicative seasonal "
        "factor of classical decomposition, on the weekly cycle). "
        "Weekday numbering is derived from epoch-day arithmetic so "
        "both engines agree by construction, and the index ships as "
        "an exact integer ratio (both terms < 2^53) beside its one-"
        "division double. Two tiny aggregates over a per-day rollup "
        "and a one-row broadcast of the totals — the per-day rollup "
        "is the only data-sized exchange.",
    tags=("analytics", "timeseries",),
)
def seasonal_weekday_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    daily = (o.selectExpr(
        "CAST(o_orderdate AS DATE) AS d",
        "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents")
        .groupBy("d").agg(F.sum("cents").cast("long").alias("day_cents")))
    wd = (daily.selectExpr(
        "(datediff(d, DATE '1970-01-01') + 4) % 7 AS weekday",
        "day_cents")
        .groupBy("weekday")
        .agg(F.count("*").cast("long").alias("n_days"),
             F.sum("day_cents").cast("long").alias("wd_cents")))
    tot = wd.agg(F.sum("n_days").cast("long").alias("total_days"),
                 F.sum("wd_cents").cast("long").alias("total_cents"))
    return (wd.crossJoin(F.broadcast(tot))
              .selectExpr(
                  "weekday", "n_days", "wd_cents",
                  "wd_cents * total_days AS idx_num",
                  "n_days * total_cents AS idx_den",
                  "CAST(wd_cents * total_days AS DOUBLE) "
                  "/ CAST(n_days * total_cents AS DOUBLE) "
                  "AS seasonal_index"))


# ---------------------------------------------- shipping-lag quantiles

@query(
    "shipping_lag_quantiles",
    oracle="""
        WITH lag AS (
          SELECT l.l_returnflag,
                 date_diff('day', CAST(o.o_orderdate AS DATE),
                           CAST(l.l_shipdate AS DATE)) AS lag_days
          FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        )
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
               quantile_cont(lag_days, 0.25) AS q25,
               quantile_cont(lag_days, 0.5) AS q50,
               quantile_cont(lag_days, 0.75) AS q75
        FROM lag GROUP BY l_returnflag
    """,
    doc="Order-to-ship lag quantiles per return flag — the supply-"
        "chain latency distribution (order date to line ship date in "
        "whole days). Third consumer of the exact_group_quantiles "
        "histogram machinery: lag_days has a bounded integer domain "
        "(shipping windows), so the exact quartiles come from a "
        "domain-sized cumulative histogram, never a per-group sort of "
        "the fact table, and bit-match quantile_cont. The only data-"
        "sized work is the fact-fact equi-join on orderkey and one "
        "histogram aggregate.",
    tags=("analytics",),
)
def shipping_lag_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lag = (li.join(o, li.l_orderkey == o.o_orderkey)
             .selectExpr("l_returnflag",
                         "datediff(CAST(l_shipdate AS DATE), "
                         "CAST(o_orderdate AS DATE)) AS lag_days"))
    counts = (lag.groupBy("l_returnflag", F.col("lag_days").alias("val"))
                 .agg(F.count("*").alias("cnt")))
    return exact_group_quantiles(counts, ["l_returnflag"],
                                 {"q25": 0.25, "q50": 0.5, "q75": 0.75})


# ------------------------------------------ revenue concentration (HHI)

@query(
    "revenue_concentration_hhi",
    oracle="""
        WITH cust AS (
          SELECT c.c_nationkey AS nationkey, o.o_custkey,
                 CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
          GROUP BY 1, 2
        ),
        agg AS (
          SELECT nationkey,
                 CAST(COUNT(*) AS BIGINT) AS n_customers,
                 CAST(SUM(cents) AS BIGINT) AS tot_cents,
                 SUM(CAST(cents AS HUGEINT) * cents) AS sumsq,
                 CAST(MAX(cents) AS BIGINT) AS top1_cents
          FROM cust GROUP BY nationkey
        )
        SELECT nationkey, n_customers, tot_cents, top1_cents,
               CAST(CAST(sumsq AS VARCHAR) AS DOUBLE)
                 / (CAST(tot_cents AS DOUBLE) * CAST(tot_cents AS DOUBLE))
                 AS hhi,
               CAST(top1_cents AS DOUBLE) / CAST(tot_cents AS DOUBLE)
                 AS top1_share
        FROM agg
    """,
    doc="Revenue-concentration screen per nation: the Herfindahl-"
        "Hirschman index (sum of squared customer revenue shares) plus "
        "the top-customer share — the standard dependency-risk metric. "
        "HHI = sum(c_i^2) / (sum c_i)^2 is computed from exact "
        "integer sums; the squared-cents accumulator exceeds BIGINT so "
        "it rides DECIMAL(38)/HUGEINT and converts via STRING (the "
        "correctly-rounded route, same rationale as the Pearson "
        "matrix), while the linear sums stay below 2^53 and cast "
        "exactly. Two keyed aggregates, both map-side combinable — "
        "no window, no join after the dim broadcast.",
    tags=("analytics", "statistics",),
)
def revenue_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").selectExpr(
        "o_custkey", "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents")
    c = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "c_nationkey AS nationkey")
    cust = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
              .groupBy("nationkey", "o_custkey")
              .agg(F.sum("cents").cast("long").alias("cents")))
    agg = (cust.groupBy("nationkey")
               .agg(F.count("*").cast("long").alias("n_customers"),
                    F.sum("cents").cast("long").alias("tot_cents"),
                    F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * cents"))
                     .alias("sumsq"),
                    F.max("cents").cast("long").alias("top1_cents")))
    return agg.selectExpr(
        "nationkey", "n_customers", "tot_cents", "top1_cents",
        "CAST(CAST(sumsq AS STRING) AS DOUBLE) "
        "/ (CAST(tot_cents AS DOUBLE) * CAST(tot_cents AS DOUBLE)) AS hhi",
        "CAST(top1_cents AS DOUBLE) / CAST(tot_cents AS DOUBLE) "
        "AS top1_share")


# --------------------------------------------- sessionized bounce rate

BOUNCE_GAP_US = 1800 * 1000000  # 30-minute idle gap starts a session


@query(
    "sessionized_bounce_rate",
    oracle=f"""
        WITH e AS (
          SELECT user_id, event_id, ts, epoch_us(ts) AS t_us
          FROM events
        ),
        marks AS (
          SELECT user_id, event_id, ts, t_us,
                 CASE WHEN t_us - LAG(t_us) OVER
                        (PARTITION BY user_id ORDER BY t_us, event_id)
                        > {BOUNCE_GAP_US}
                      OR LAG(t_us) OVER
                        (PARTITION BY user_id ORDER BY t_us, event_id)
                        IS NULL
                      THEN 1 ELSE 0 END AS new_s
          FROM e
        ),
        sess AS (
          SELECT user_id, ts,
                 CAST(SUM(new_s) OVER
                   (PARTITION BY user_id ORDER BY t_us, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          FROM marks
        ),
        per_sess AS (
          SELECT user_id, session_id,
                 CAST(CAST(MIN(ts) AS DATE) AS TIMESTAMP) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n_events
          FROM sess GROUP BY user_id, session_id
        )
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_bounce,
               CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(COUNT(*) AS BIGINT) AS bounce_rate
        FROM per_sess GROUP BY day
    """,
    doc="Daily bounce rate over 30-minute-gap sessions: the fraction "
        "of sessions containing exactly one event, keyed to the day "
        "the session started — the engagement KPI dashboards pair "
        "with session counts. Session assignment is the standard "
        "gap-mark + running-sum pair of per-user windows (same shape "
        "as the registry's sessionize_events, which this rolls up); "
        "everything after the per-user windows aggregates on the "
        "session key. Exact integer session ids and counts; the rate "
        "is one division of exact integers. One shuffle on user_id, "
        "one on the rollup — linear at 100 TB.",
    tags=("analytics", "timeseries",),
)
def sessionized_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        F.expr("unix_micros(ts)").alias("t_us"))
    wo = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    marks = ev.withColumn(
        "new_s",
        F.expr(f"CASE WHEN t_us - lag(t_us) OVER "
               f"(PARTITION BY user_id ORDER BY t_us, event_id) "
               f"> {BOUNCE_GAP_US} "
               f"OR lag(t_us) OVER "
               f"(PARTITION BY user_id ORDER BY t_us, event_id) IS NULL "
               f"THEN 1 ELSE 0 END"))
    sess = marks.withColumn(
        "session_id",
        F.sum("new_s").over(
            wo.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
    per_sess = (sess.groupBy("user_id", "session_id")
                .agg(F.expr("CAST(CAST(MIN(ts) AS DATE) AS TIMESTAMP)")
                      .alias("day"),
                     F.count("*").cast("long").alias("n_events")))
    return (per_sess.groupBy("day")
            .agg(F.count("*").cast("long").alias("n_sessions"),
                 F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
                  .cast("long").alias("n_bounce"))
            .withColumn("bounce_rate",
                        F.expr("CAST(n_bounce AS DOUBLE) / n_sessions")))


# ------------------------------------------------- winsorized statistics

# Winsorization fractions chosen DYADIC (1/16, 15/16) so the quantile
# interpolation stays bit-exact cross-engine (same rule as the rest of
# the exact_group_quantiles family).
WINSOR_LO = 0.0625
WINSOR_HI = 0.9375


@query(
    "winsorized_value_stats",
    oracle=f"""
        WITH c AS (
          SELECT event_type,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        q AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
                 quantile_cont(cents, {WINSOR_LO}) AS q_lo,
                 quantile_cont(cents, {WINSOR_HI}) AS q_hi
          FROM c GROUP BY event_type
        )
        SELECT q.event_type, q.n_rows, q.q_lo, q.q_hi,
               CAST(SUM(CASE WHEN c.cents < q.q_lo THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clip_lo,
               CAST(SUM(CASE WHEN c.cents > q.q_hi THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clip_hi,
               (CAST(SUM(CASE WHEN c.cents >= q.q_lo AND c.cents <= q.q_hi
                              THEN c.cents ELSE 0 END) AS DOUBLE)
                + CAST(SUM(CASE WHEN c.cents < q.q_lo
                                THEN 1 ELSE 0 END) AS BIGINT) * q.q_lo
                + CAST(SUM(CASE WHEN c.cents > q.q_hi
                                THEN 1 ELSE 0 END) AS BIGINT) * q.q_hi)
               / CAST(q.n_rows AS BIGINT) / 100.0 AS winsorized_mean
        FROM q JOIN c ON c.event_type = q.event_type
        GROUP BY q.event_type, q.n_rows, q.q_lo, q.q_hi
    """,
    doc="Winsorized value statistics per event type: values below the "
        "1/16 quantile or above the 15/16 quantile are clipped to the "
        "fence before averaging — the robust mean that survives fat "
        "tails without discarding rows (trimming's less lossy "
        "sibling). Fourth consumer of exact_group_quantiles; the "
        "fractions are deliberately dyadic so the fences bit-match "
        "quantile_cont. The winsorized sum decomposes into an exact "
        "integer interior sum plus count x fence products in a fixed "
        "expression order, so the double result is deterministic on "
        "both engines. Both passes aggregate the (type, cents) "
        "HISTOGRAM — the raw table is scanned once, nothing "
        "data-sized is sorted.",
    tags=("analytics", "statistics",),
)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").selectExpr(
        "event_type", "CAST(ROUND(value * 100) AS BIGINT) AS cents")
    counts = (ev.groupBy("event_type", F.col("cents").alias("val"))
                .agg(F.count("*").alias("cnt")))
    q = exact_group_quantiles(counts, ["event_type"],
                              {"q_lo": WINSOR_LO, "q_hi": WINSOR_HI})
    j = counts.join(F.broadcast(q), "event_type")
    return (j.groupBy("event_type", "n_rows", "q_lo", "q_hi")
            .agg(F.sum(F.when(F.col("val") < F.col("q_lo"), F.col("cnt"))
                        .otherwise(F.lit(0))).cast("long")
                  .alias("n_clip_lo"),
                 F.sum(F.when(F.col("val") > F.col("q_hi"), F.col("cnt"))
                        .otherwise(F.lit(0))).cast("long")
                  .alias("n_clip_hi"),
                 F.sum(F.when((F.col("val") >= F.col("q_lo"))
                              & (F.col("val") <= F.col("q_hi")),
                              F.expr("val * cnt"))
                        .otherwise(F.lit(0))).cast("long")
                  .alias("interior_cents"))
            .selectExpr(
                "event_type", "n_rows", "q_lo", "q_hi",
                "n_clip_lo", "n_clip_hi",
                "(CAST(interior_cents AS DOUBLE) + n_clip_lo * q_lo "
                "+ n_clip_hi * q_hi) / n_rows / 100.0 "
                "AS winsorized_mean"))


# -------------------------------------------- repeat-purchase intervals

@query(
    "repeat_purchase_intervals",
    oracle="""
        WITH o AS (
          SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey
          FROM orders
        ),
        gaps AS (
          SELECT o_custkey,
                 date_diff('day', d,
                   LEAD(d) OVER (PARTITION BY o_custkey
                                 ORDER BY d, o_orderkey)) AS gap_days
          FROM o
        ),
        seg AS (
          SELECT g.o_custkey, c.c_mktsegment AS segment, g.gap_days
          FROM gaps g JOIN customer c ON c.c_custkey = g.o_custkey
          WHERE g.gap_days IS NOT NULL
        )
        SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_rows,
               quantile_cont(gap_days, 0.25) AS q25,
               quantile_cont(gap_days, 0.5) AS q50,
               quantile_cont(gap_days, 0.75) AS q75
        FROM seg GROUP BY segment
    """,
    doc="Repeat-purchase cadence per market segment: exact quartiles "
        "of the days between a customer's consecutive orders — the "
        "retention metric behind replenishment and churn models. "
        "Fifth consumer of exact_group_quantiles (gap_days has a "
        "bounded integer domain, so the quartiles come from a "
        "domain-sized cumulative histogram, never a per-segment sort "
        "of order history). One per-customer LEAD window (single "
        "shuffle on custkey), one broadcast dim join for the segment, "
        "one histogram aggregate.",
    tags=("analytics", "timeseries",),
)
def repeat_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").selectExpr(
        "o_custkey", "CAST(o_orderdate AS DATE) AS d", "o_orderkey")
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    gaps = (o.withColumn("gap_days",
                         F.datediff(F.lead("d").over(w), F.col("d")))
             .filter("gap_days IS NOT NULL"))
    c = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "c_mktsegment AS segment")
    seg = gaps.join(F.broadcast(c), gaps.o_custkey == c.c_custkey)
    counts = (seg.groupBy("segment", F.col("gap_days").alias("val"))
                 .agg(F.count("*").alias("cnt")))
    return exact_group_quantiles(counts, ["segment"],
                                 {"q25": 0.25, "q50": 0.5, "q75": 0.75})


# ---------------------------------------- grouped exact correlation

CORR_MIN_N = 10


@query(
    "grouped_discount_quantity_corr",
    oracle=f"""
        WITH u AS (
          SELECT p.p_brand AS brand,
                 CAST(l.l_quantity AS BIGINT) AS q,
                 CAST(ROUND(l.l_discount * 100) AS BIGINT) AS d
          FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        ),
        s AS (
          SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(q AS HUGEINT)) AS sq,
                 SUM(CAST(d AS HUGEINT)) AS sd,
                 SUM(CAST(q AS HUGEINT) * q) AS sqq,
                 SUM(CAST(d AS HUGEINT) * d) AS sdd,
                 SUM(CAST(q AS HUGEINT) * d) AS sqd
          FROM u GROUP BY brand
        )
        SELECT brand, n,
               CASE WHEN (CAST(n AS HUGEINT) * sqq - sq * sq) = 0
                      OR (CAST(n AS HUGEINT) * sdd - sd * sd) = 0
                    THEN NULL
                    ELSE {_corr_expr('q', 'd', 'HUGEINT', 'VARCHAR')}
               END AS corr_qty_disc
        FROM s WHERE n >= {CORR_MIN_N}
    """,
    doc="Per-brand Pearson correlation between discount and quantity "
        "— the grouped form of the exact sufficient-statistics "
        "correlation pass (price-elasticity screening shape). Same "
        "exactness discipline as corr_matrix_lineitem: products "
        "accumulate in DECIMAL(38)/HUGEINT, the cancellation-prone "
        "Pearson terms are computed in the wide-integer domain, and "
        "only the three exact term values convert via the correctly-"
        "rounded STRING route. Zero-variance groups return NULL by an "
        "exact integer test (never an IEEE inf/NaN comparison). One "
        "dim join + one map-side-combinable aggregate keyed by brand.",
    tags=("analytics", "statistics",),
)
def grouped_discount_quantity_corr(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey",
        "CAST(l_quantity AS BIGINT) AS q",
        "CAST(ROUND(l_discount * 100) AS BIGINT) AS d")
    pt = load(spark, sf_dir, "part").selectExpr(
        "p_partkey", "p_brand AS brand")
    u = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    s = u.groupBy("brand").agg(*corr_sum_aggs(("q", "d")))
    return (s.filter(F.col("n") >= CORR_MIN_N)
             .selectExpr(
                 "brand", "n",
                 f"CASE WHEN (CAST(n AS DECIMAL(38,0)) * sqq - sq * sq) = 0 "
                 f"OR (CAST(n AS DECIMAL(38,0)) * sdd - sd * sd) = 0 "
                 f"THEN NULL "
                 f"ELSE {_corr_expr('q', 'd', 'DECIMAL(38,0)', 'STRING')} "
                 f"END AS corr_qty_disc"))


# ------------------------------------------ class-distinctive terms

CTFIDF_TOP_K = 10


@query(
    "class_distinctive_terms",
    oracle=f"""
        WITH tf AS (
          SELECT source, w AS word, CAST(COUNT(*) AS BIGINT) AS tf
          FROM (SELECT source, UNNEST(string_split(text, ' ')) AS w
                FROM documents)
          GROUP BY source, w
        ),
        df AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS df_sources
          FROM tf GROUP BY word
        ),
        tot AS (
          SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
          FROM documents
        ),
        scored AS (
          SELECT tf.source, tf.word, tf.tf, df.df_sources,
                 tf.tf * tot.n_sources AS score_num,
                 df.df_sources AS score_den,
                 CAST(tf.tf * tot.n_sources AS DOUBLE)
                   / CAST(df.df_sources AS BIGINT) AS score
          FROM tf JOIN df USING (word) CROSS JOIN tot
        )
        SELECT source, word, tf, df_sources, score_num, score_den, score
        FROM (
          SELECT s.*,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY score DESC, word) AS rk
          FROM scored s
        ) WHERE rk <= {CTFIDF_TOP_K}
    """,
    doc="Class-distinctive terms per source (the class-based TF-IDF "
        "shape topic-labeling pipelines use): a term's score is its "
        "in-class frequency scaled by how few classes contain it — "
        "kept as the exact integer ratio tf * n_sources / df_sources "
        "(no log, so no cross-engine rounding surface) beside its "
        "one-division double. Aggregates key on (source, word) and "
        "word; the per-class top-k is a rank<=k window executed as "
        "WindowGroupLimit, so |sources| hot partitions never see the "
        "full vocabulary. The class-count scalar rides a one-row "
        "broadcast.",
    tags=("analytics", "text",),
)
def class_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # tf feeds dfs, tot, and the scored join — checkpointed so the
    # tokenize + aggregate subtree runs once, and derive the class
    # count from tf instead of a third documents scan.
    tf = (docs.select("source", F.explode(F.split("text", " ")).alias("word"))
              .groupBy("source", "word")
              .agg(F.count("*").cast("long").alias("tf"))
              .localCheckpoint(eager=True))
    dfs = tf.groupBy("word").agg(
        F.count("*").cast("long").alias("df_sources"))
    tot = tf.agg(F.countDistinct("source").cast("long").alias("n_sources"))
    scored = (tf.join(dfs, "word").crossJoin(F.broadcast(tot))
              .selectExpr("source", "word", "tf", "df_sources",
                          "tf * n_sources AS score_num",
                          "df_sources AS score_den",
                          "CAST(tf * n_sources AS DOUBLE) / df_sources "
                          "AS score"))
    ranked = scored.withColumn("rk", F.row_number().over(
        Window.partitionBy("source")
              .orderBy(F.col("score").desc(), "word")))
    return (ranked.filter(F.col("rk") <= CTFIDF_TOP_K)
                  .select("source", "word", "tf", "df_sources",
                          "score_num", "score_den", "score"))


# ------------------------------------------- revenue Gini coefficient

@query(
    "revenue_gini_by_nation",
    oracle="""
        WITH cust AS (
          SELECT c.c_nationkey AS nationkey, o.o_custkey,
                 CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
          GROUP BY 1, 2
        ),
        ranked AS (
          SELECT nationkey, cents,
                 ROW_NUMBER() OVER (PARTITION BY nationkey
                                    ORDER BY cents, o_custkey) AS i
          FROM cust
        )
        SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(2 * SUM(i * cents) - (COUNT(*) + 1) * SUM(cents)
                    AS BIGINT) AS gini_num,
               CAST(COUNT(*) * SUM(cents) AS BIGINT) AS gini_den,
               CAST(2 * SUM(i * cents) - (COUNT(*) + 1) * SUM(cents)
                    AS DOUBLE)
                 / CAST(COUNT(*) * SUM(cents) AS BIGINT) AS gini
        FROM ranked GROUP BY nationkey
    """,
    doc="Revenue Gini coefficient per nation (the Lorenz-curve "
        "inequality measure, companion to the HHI screen): G = "
        "(2*sum(i*x_i) - (n+1)*sum(x_i)) / (n*sum(x_i)) over customer "
        "revenues sorted ascending. The rank-weighted sum is tie-"
        "order-invariant (equal values across consecutive ranks "
        "contribute the same total), every term stays an exact "
        "integer below 2^53, and the coefficient ships as the exact "
        "ratio beside its one-division double. The rank window is "
        "partitioned by nation; a group outgrowing one task would "
        "take the range-bucket + broadcast-offsets rewrite "
        "curriculum_global_rank demonstrates.",
    tags=("analytics", "statistics",),
)
def revenue_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").selectExpr(
        "o_custkey", "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents")
    c = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "c_nationkey AS nationkey")
    cust = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
              .groupBy("nationkey", "o_custkey")
              .agg(F.sum("cents").cast("long").alias("cents")))
    ranked = cust.withColumn("i", F.row_number().over(
        Window.partitionBy("nationkey").orderBy("cents", "o_custkey")))
    return (ranked.groupBy("nationkey")
            .agg(F.count("*").cast("long").alias("n_customers"),
                 F.sum(F.expr("i * cents")).alias("swi"),
                 F.sum("cents").alias("sc"))
            .selectExpr(
                "nationkey", "n_customers",
                "CAST(2 * swi - (n_customers + 1) * sc AS BIGINT) "
                "AS gini_num",
                "CAST(n_customers * sc AS BIGINT) AS gini_den",
                "CAST(2 * swi - (n_customers + 1) * sc AS DOUBLE) "
                "/ CAST(n_customers * sc AS BIGINT) AS gini"))


# -------------------------------------------- word co-occurrence lift

COOC_WINDOW = 4   # pair each token with the next 4 (skip-gram window)
COOC_TOP_K = 100


@query(
    "word_cooccurrence_lift",
    oracle=f"""
        WITH toks AS (
          SELECT string_split(text, ' ') AS t FROM documents
        ),
        pairs AS (
          SELECT CASE WHEN t[i] <= t[j] THEN t[i] ELSE t[j] END AS w1,
                 CASE WHEN t[i] <= t[j] THEN t[j] ELSE t[i] END AS w2
          FROM toks,
               UNNEST(generate_series(1, len(t) - 1)) AS s(i),
               UNNEST(generate_series(1, {COOC_WINDOW})) AS o(k),
               LATERAL (SELECT i + k AS j)
          WHERE i + k <= len(t)
        ),
        pc AS (
          SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_count
          FROM pairs GROUP BY w1, w2
        ),
        uc AS (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
          ) GROUP BY w
        ),
        tot AS (
          SELECT CAST(SUM(pair_count) AS BIGINT) AS n_pairs FROM pc
        )
        SELECT p.w1, p.w2, p.pair_count,
               u1.c AS c1, u2.c AS c2,
               p.pair_count * t.n_pairs AS lift_num,
               u1.c * u2.c AS lift_den,
               CAST(p.pair_count * t.n_pairs AS DOUBLE)
                 / CAST(u1.c * u2.c AS BIGINT) AS lift
        FROM pc p
        JOIN uc u1 ON u1.w = p.w1
        JOIN uc u2 ON u2.w = p.w2
        CROSS JOIN tot t
        ORDER BY p.pair_count DESC, p.w1, p.w2
        LIMIT {COOC_TOP_K}
    """,
    doc="Word co-occurrence lift over a 4-token skip-gram window — "
        "the collocation-mining statistic (PMI's exponent-free "
        "cousin: lift = P(a,b) / (P(a)P(b)) under the pair "
        "distribution, kept as the exact integer ratio pair_count * "
        "N_pairs / (c1 * c2) precisely because log-PMI would ride "
        "ln() whose rounding is engine-specific). Pair generation is "
        "an in-array lambda over each document's token array (no "
        "explode until pairs exist, unordered pairs canonicalized "
        "lexicographically), followed by map-side-combinable counts "
        "keyed on the pair; unigram counts ride broadcast joins and "
        "the pair total is a one-row broadcast. Top-k by support is "
        "TakeOrderedAndProject with a full tie-break.",
    tags=("analytics", "text",),
)
def word_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # size(t) >= 2 guard: Spark's sequence(1, 0) DESCENDS ([1, 0]),
    # so a single-token doc would evaluate element_at(t, 0) and abort
    # the job, while the oracle's generate_series(1, 0) is just empty.
    docs = (load(spark, sf_dir, "documents")
            .select(F.split("text", " ").alias("t"))
            .filter(F.expr("size(t) >= 2")))
    # single IF per pair instead of two CASE WHENs — one string
    # comparison per emitted pair, not two (r11, guide §1.2 per-task
    # work; interleaved warm A/B at sf0.1 on the pc stage: 1.35s vs
    # 1.46s best-of-4, identical grouped counts asserted). The
    # index-sequence variant (no slice() allocation) measured equal
    # within noise; slice kept for readability.
    pairs = docs.select(F.explode(F.expr(f"""
        flatten(transform(sequence(1, size(t) - 1), i ->
          transform(slice(t, i + 1, {COOC_WINDOW}), y ->
            IF(element_at(t, i) <= y,
               struct(element_at(t, i) AS w1, y AS w2),
               struct(y AS w1, element_at(t, i) AS w2)))))
        """)).alias("p")).select("p.w1", "p.w2")
    # pc feeds both the total and the final join, uc both join sides —
    # checkpointed so the explode-heavy subtrees run once.
    pc = (pairs.groupBy("w1", "w2")
               .agg(F.count("*").cast("long").alias("pair_count"))
               .localCheckpoint(eager=True))
    uc = (load(spark, sf_dir, "documents")
          .select(F.explode(F.split("text", " ")).alias("w"))
          .groupBy("w").agg(F.count("*").cast("long").alias("c"))
          .localCheckpoint(eager=True))
    tot = pc.agg(F.sum("pair_count").cast("long").alias("n_pairs"))
    u1 = uc.selectExpr("w AS w1", "c AS c1")
    u2 = uc.selectExpr("w AS w2", "c AS c2")
    return (pc.join(F.broadcast(u1), "w1")
              .join(F.broadcast(u2), "w2")
              .crossJoin(F.broadcast(tot))
              .selectExpr("w1", "w2", "pair_count", "c1", "c2",
                          "pair_count * n_pairs AS lift_num",
                          "c1 * c2 AS lift_den",
                          "CAST(pair_count * n_pairs AS DOUBLE) "
                          "/ (c1 * c2) AS lift")
              .orderBy(F.col("pair_count").desc(), "w1", "w2")
              .limit(COOC_TOP_K))


# =====================================================================
# Round-5 additions: reporting / sequence-mining / concentration
# analytics registered directly (unverified queries lead the driver
# window; see registry.all_queries).
# =====================================================================

_O_CENTS = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"


@query(
    "monthly_revenue_mom_yoy",
    oracle=f"""
        WITH m AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                 CAST(SUM({_O_CENTS}) AS BIGINT) AS revenue_cents,
                 CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY 1
        )
        SELECT CAST(c.month AS TIMESTAMP) AS month,
               c.revenue_cents, c.n_orders,
               p.revenue_cents AS prev_month_cents,
               y.revenue_cents AS prev_year_cents,
               c.revenue_cents - p.revenue_cents AS mom_delta_cents,
               c.revenue_cents - y.revenue_cents AS yoy_delta_cents,
               CAST(c.revenue_cents AS DOUBLE)
                 / CAST(p.revenue_cents AS DOUBLE) AS mom_ratio,
               CAST(c.revenue_cents AS DOUBLE)
                 / CAST(y.revenue_cents AS DOUBLE) AS yoy_ratio
        FROM m c
        LEFT JOIN m p ON p.month = c.month - INTERVAL 1 MONTH
        LEFT JOIN m y ON y.month = c.month - INTERVAL 12 MONTH
    """,
    doc="Month-over-month and year-over-year revenue growth — the "
        "canonical finance reporting query. Calendar-aware self-joins "
        "on shifted months (add_months), NOT LAG over row offsets: a "
        "missing month must yield NULL comparisons, not silently "
        "compare against the wrong month. The monthly rollup is one "
        "map-side-combinable aggregate; the self-joins run on the "
        "calendar-bounded month relation (~10^2 rows at ANY corpus "
        "size), broadcast both times. Deltas are exact cents; ratios "
        "divide identical exact longs on both engines.",
    tags=("analytics", "timeseries",),
)
def monthly_revenue_mom_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (load(spark, sf_dir, "orders")
         .groupBy(F.trunc(F.to_date("o_orderdate"), "month").alias("month"))
         .agg(F.sum(F.expr(_O_CENTS)).alias("revenue_cents"),
              F.count(F.lit(1)).alias("n_orders")))
    c, p, y = m.alias("c"), m.alias("p"), m.alias("y")
    return (c
            .join(F.broadcast(p),
                  F.col("p.month") == F.add_months(F.col("c.month"), -1),
                  "left")
            .join(F.broadcast(y),
                  F.col("y.month") == F.add_months(F.col("c.month"), -12),
                  "left")
            .select(
                # date -> timestamp: both engines then materialize the
                # same pandas dtype (daily_events precedent)
                F.col("c.month").cast("timestamp").alias("month"),
                F.col("c.revenue_cents").alias("revenue_cents"),
                F.col("c.n_orders").alias("n_orders"),
                F.col("p.revenue_cents").alias("prev_month_cents"),
                F.col("y.revenue_cents").alias("prev_year_cents"),
                (F.col("c.revenue_cents") - F.col("p.revenue_cents"))
                    .alias("mom_delta_cents"),
                (F.col("c.revenue_cents") - F.col("y.revenue_cents"))
                    .alias("yoy_delta_cents"),
                (F.col("c.revenue_cents").cast("double")
                 / F.col("p.revenue_cents").cast("double"))
                    .alias("mom_ratio"),
                (F.col("c.revenue_cents").cast("double")
                 / F.col("y.revenue_cents").cast("double"))
                    .alias("yoy_ratio")))


# ----------------------------------------------- session path mining

PATH_GAP_US = 30 * 60 * 1_000_000
PATH_LEN = 3


@query(
    "session_path_counts",
    oracle=f"""
        WITH e AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us
          FROM events
        ),
        flagged AS (
          SELECT user_id, event_id, event_type, t_us,
                 CASE WHEN t_us - LAG(t_us) OVER (
                        PARTITION BY user_id ORDER BY t_us, event_id)
                        > {PATH_GAP_US}
                      OR LAG(t_us) OVER (
                        PARTITION BY user_id ORDER BY t_us, event_id)
                        IS NULL
                      THEN 1 ELSE 0 END AS new_sess
          FROM e
        ),
        sess AS (
          SELECT user_id, event_id, event_type, t_us,
                 SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY t_us, event_id) AS sid
          FROM flagged
        ),
        paths AS (
          SELECT user_id, sid,
                 array_to_string(
                   (list(event_type ORDER BY t_us, event_id))
                     [1:{PATH_LEN}], '>') AS path,
                 CAST(COUNT(*) AS BIGINT) AS n_events
          FROM sess GROUP BY user_id, sid
        )
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(n_events) AS BIGINT) AS n_events_total
        FROM paths GROUP BY path
    """,
    doc="Session path mining: 30-minute-gap sessionization (LAG + "
        "running flag-sum, the standard window formulation), then the "
        "first-3-event-type path per session and corpus-wide path "
        "frequencies — the sequence-mining rollup behind funnel "
        "dashboards. Everything partitions by user for the "
        "sessionizing window and regroups once per (user, session); "
        "path cardinality is bounded by |event types|^3, so the final "
        "aggregate is tiny. Paths are position-sorted in-array "
        "(array_sort over (ts, event_id) structs), never a second "
        "window.",
    tags=("analytics", "sessionization", "sequence"),
)
def session_path_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.expr("unix_micros(ts)").alias("t_us"))
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    flagged = e.withColumn(
        "new_sess",
        F.when(F.lag("t_us").over(w).isNull()
               | ((F.col("t_us") - F.lag("t_us").over(w)) > PATH_GAP_US),
               1).otherwise(0))
    sess = flagged.withColumn("sid", F.sum("new_sess").over(w))
    paths = (sess.groupBy("user_id", "sid")
                 .agg(F.array_join(
                          F.slice(F.transform(
                              F.array_sort(F.collect_list(
                                  F.struct("t_us", "event_id",
                                           "event_type"))),
                              lambda s: s["event_type"]),
                              1, PATH_LEN), ">").alias("path"),
                      F.count(F.lit(1)).alias("n_events")))
    return (paths.groupBy("path")
                 .agg(F.count(F.lit(1)).alias("n_sessions"),
                      F.sum("n_events").alias("n_events_total")))


# ------------------------------------------------ Lorenz/Pareto curve


@query(
    "revenue_pareto_curve",
    oracle=f"""
        WITH cust AS (
          SELECT o_custkey,
                 CAST(SUM({_O_CENTS}) AS BIGINT) AS cents
          FROM orders GROUP BY o_custkey
        ),
        ranked AS (
          SELECT o_custkey, cents,
                 ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS rk,
                 COUNT(*) OVER () AS n
          FROM cust
        ),
        dec AS (
          SELECT ((rk - 1) * 10) // n + 1 AS decile,
                 CAST(COUNT(*) AS BIGINT) AS n_customers,
                 CAST(SUM(cents) AS BIGINT) AS revenue_cents
          FROM ranked GROUP BY 1
        )
        SELECT decile, n_customers, revenue_cents,
               CAST(SUM(revenue_cents) OVER (ORDER BY decile)
                    AS BIGINT) AS cum_revenue_cents,
               CAST(SUM(revenue_cents) OVER (ORDER BY decile) AS DOUBLE)
                 / CAST(SUM(revenue_cents) OVER () AS DOUBLE)
                 AS cum_revenue_share
        FROM dec
    """,
    doc="Lorenz/Pareto concentration curve: customers ranked by spend "
        "(descending), cut into population deciles, cumulative "
        "revenue share per decile — the 'top 10% of customers drive "
        "X% of revenue' curve that complements the promoted Gini and "
        "HHI scalars. The global ordering uses the bucketed "
        "distributed-rank machinery (queries/util.global_row_number, "
        "adaptive: spend is long-tailed), never a single-partition "
        "window over customers; the only unpartitioned windows run "
        "over the 10-row decile relation.",
    tags=("analytics", "concentration", "ordering"),
)
def revenue_pareto_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.queries.util import global_row_number
    # Lazy checkpoint (r11, guide §1.2): the adaptive rank machinery's
    # stats probe, its bucket-stats probe, AND the decile divisor `n`
    # each consumed this rollup through its own lineage — four orders
    # scans + groupBys per run (the anti-scaling VERDICT r10 flagged).
    # The first probe now materializes the rollup once; every later
    # consumer reads the checkpointed blocks. Aggregate-sized relation
    # (one row per customer), the class the repo's checkpoint policy
    # allows.
    cust = (load(spark, sf_dir, "orders")
            .groupBy("o_custkey")
            .agg(F.sum(F.expr(_O_CENTS)).alias("cents"))
            .localCheckpoint(eager=False))
    ranked = global_row_number(cust, "cents", "o_custkey", "rk",
                               descending=True, adaptive=True)
    n = cust.agg(F.count(F.lit(1)).alias("n"))
    dec = (ranked.crossJoin(F.broadcast(n))
                 .withColumn("decile",
                             F.expr("((rk - 1) * 10) div n + 1"))
                 .groupBy("decile")
                 .agg(F.count(F.lit(1)).alias("n_customers"),
                      F.sum("cents").alias("revenue_cents")))
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing)
    return dec.select(
        "decile", "n_customers", "revenue_cents",
        F.sum("revenue_cents").over(wc).alias("cum_revenue_cents"),
        (F.sum("revenue_cents").over(wc).cast("double")
         / F.sum("revenue_cents").over(wt).cast("double"))
            .alias("cum_revenue_share"))


# -------------------------------------------- decile conversion lift


@query(
    "decile_conversion_lift",
    oracle="""
        WITH c AS (
          SELECT c_custkey,
                 CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
          FROM customer
        ),
        ranked AS (
          SELECT c_custkey, bal_cents,
                 ROW_NUMBER() OVER (ORDER BY bal_cents DESC,
                                    c_custkey) AS rk,
                 COUNT(*) OVER () AS n
          FROM c
        ),
        buyers AS (
          SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY o_custkey
        ),
        dec AS (
          SELECT ((rk - 1) * 10) // n + 1 AS decile,
                 CAST(COUNT(*) AS BIGINT) AS n_customers,
                 CAST(SUM(CASE WHEN b.n_orders IS NOT NULL
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_buyers,
                 CAST(SUM(COALESCE(b.n_orders, 0)) AS BIGINT) AS n_orders
          FROM ranked r LEFT JOIN buyers b ON r.c_custkey = b.o_custkey
          GROUP BY 1
        ),
        tot AS (
          SELECT CAST(SUM(n_customers) AS BIGINT) AS tot_customers,
                 CAST(SUM(n_buyers) AS BIGINT) AS tot_buyers
          FROM dec
        )
        SELECT decile, n_customers, n_buyers, n_orders,
               CAST(n_buyers AS DOUBLE) / CAST(n_customers AS DOUBLE)
                 AS conversion,
               CAST(n_buyers * tot_customers AS DOUBLE)
                 / CAST(n_customers * tot_buyers AS DOUBLE) AS lift
        FROM dec, tot
    """,
    doc="Decile lift table: customers ranked by account balance into "
        "population deciles (the marketing 'scored audience' cut), "
        "joined to order activity, with per-decile conversion and "
        "lift vs the overall conversion rate. Lift is the exact "
        "integer cross-ratio (n_buyers * tot_customers) / "
        "(n_customers * tot_buyers) evaluated in double from exact "
        "long operands — no intermediate rate rounds. Ranking rides "
        "the bucketed distributed-rank machinery (adaptive: balances "
        "are long-tailed); the buyers rollup is map-side combinable "
        "and the totals ride one broadcast row.",
    tags=("analytics", "ordering", "reporting"),
)
def decile_conversion_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.queries.util import global_row_number
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").alias("bal_cents"))
    ranked = global_row_number(c, "bal_cents", "c_custkey", "rk",
                               descending=True, adaptive=True)
    n = c.agg(F.count(F.lit(1)).alias("n"))
    buyers = (load(spark, sf_dir, "orders")
              .groupBy("o_custkey")
              .agg(F.count(F.lit(1)).alias("n_orders_c")))
    dec = (ranked.crossJoin(F.broadcast(n))
                 .withColumn("decile", F.expr("((rk - 1) * 10) div n + 1"))
                 .join(buyers,
                       F.col("c_custkey") == F.col("o_custkey"), "left")
                 .groupBy("decile")
                 .agg(F.count(F.lit(1)).alias("n_customers"),
                      F.sum(F.when(F.col("n_orders_c").isNotNull(), 1)
                             .otherwise(0)).alias("n_buyers"),
                      F.sum(F.coalesce("n_orders_c", F.lit(0)))
                       .alias("n_orders")))
    tot = dec.agg(F.sum("n_customers").alias("tot_customers"),
                  F.sum("n_buyers").alias("tot_buyers"))
    return (dec.crossJoin(F.broadcast(tot))
               .select("decile", "n_customers", "n_buyers", "n_orders",
                       (F.col("n_buyers").cast("double")
                        / F.col("n_customers").cast("double"))
                           .alias("conversion"),
                       ((F.col("n_buyers") * F.col("tot_customers"))
                        .cast("double")
                        / (F.col("n_customers") * F.col("tot_buyers"))
                        .cast("double")).alias("lift")))


# ------------------------------------------- order fulfillment aging

AGING_BUCKETS = "CASE WHEN age_days <= 30 THEN '0-30' " \
                "WHEN age_days <= 60 THEN '31-60' " \
                "WHEN age_days <= 90 THEN '61-90' ELSE '90+' END"


@query(
    "order_fulfillment_aging",
    oracle=f"""
        WITH ship AS (
          SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS last_ship
          FROM lineitem GROUP BY l_orderkey
        ),
        aged AS (
          SELECT o_orderpriority,
                 date_diff('day', CAST(o_orderdate AS DATE), last_ship)
                   AS age_days
          FROM orders JOIN ship ON o_orderkey = l_orderkey
        )
        SELECT o_orderpriority, {AGING_BUCKETS} AS age_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(age_days) AS BIGINT) AS sum_age_days,
               CAST(SUM(age_days) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 AS avg_age_days
        FROM aged GROUP BY o_orderpriority, {AGING_BUCKETS}
    """,
    doc="Order fulfillment aging report: days from order date to the "
        "LAST line shipment, bucketed into 30-day aging bands per "
        "order priority — the operations SLA view. The per-order max "
        "ship date is a map-side-combinable aggregate; the join to "
        "orders shuffles both sides on orderkey once (the fact-fact "
        "co-partitioning pattern); the final rollup is bounded "
        "(priorities x 4 bands). Ages are exact integer days; only "
        "the final mean divides, with identical long operands.",
    tags=("analytics", "reporting",),
)
def order_fulfillment_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    ship = (load(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.max(F.to_date("l_shipdate")).alias("last_ship")))
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.to_date("o_orderdate").alias("od"))
    aged = (o.join(ship, o.o_orderkey == ship.l_orderkey)
             .withColumn("age_days",
                         F.datediff("last_ship", "od").cast("long")))
    return (aged.withColumn("age_bucket", F.expr(AGING_BUCKETS))
                .groupBy("o_orderpriority", "age_bucket")
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.sum("age_days").alias("sum_age_days"),
                     (F.sum("age_days").cast("double")
                      / F.count(F.lit(1)).cast("double"))
                         .alias("avg_age_days")))
