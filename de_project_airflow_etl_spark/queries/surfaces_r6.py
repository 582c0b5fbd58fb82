"""Round-6 new surface: driver-attested coverage for engine surfaces
that were implemented and pytest-covered but had no registry entry —
the Python Data Source JSONL writer (two-phase commit), the Structured
Streaming state-store reader, VARIANT shredding via the
``variant_explode`` generator, and the XML function family — plus two
training-pipeline planning operators (embedding-dimension variance
pruning, token-budget shard planning with a hierarchical prefix sum).

Same contract as every registered query: ``(spark, sf_dir) ->
DataFrame`` plus an exact DuckDB oracle, identical column aliases on
both sides, exact-integer / fixed-point arithmetic for anything
accumulated, a 100 TB plan story per doc string, no ``rand()``, no
``.collect()``.

The three I/O-surface queries (jsonl sink, state store, and nothing
else) necessarily EXECUTE work when the DataFrame is built (a write
commit / a streaming run); their inputs are slice-filtered so that
execution stays trivially small at every test scale factor.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.streaming.ingest import run_stream
from de_project_airflow_etl_spark.tables import load


def _tmp_dir(prefix: str, sf_dir: str) -> str:
    """Deterministic per-sf scratch path: retries and the driver's
    re-runs land on the same directory, and overwrite semantics make
    every run self-contained."""
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    return f"/tmp/spark_graft_{prefix}_{key}"


# ----------------------- Python Data Source writer: JSONL round-trip

JSONL_KEY_MOD = 97  # slice filter: keeps the written file tiny at any sf


@query(
    "jsonl_sink_roundtrip",
    oracle=f"""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_cents
        FROM orders
        WHERE o_orderkey % {JSONL_KEY_MOD} = 0
        GROUP BY o_orderpriority
    """,
    doc="Write-path attestation for the Python Data Source JSONL sink "
        "(sources/launch_library.py JsonlSinkWriter): a deterministic "
        "orders slice goes out through the sink's two-phase commit "
        "(per-task staging files, driver-side atomic rename + _SUCCESS "
        "manifest), is read back from the committed part files with an "
        "explicit schema, and is aggregated — so the driver hash "
        "covers the full write->commit->read round trip, not just the "
        "transform. Money rides as exact cents (serialized as JSON "
        "integers, lossless). Scale: the sink commits O(tasks) renames "
        "on the driver and never moves row data through it; at 100 TB "
        "the same two-phase contract holds with the staging dir on "
        "shared storage (this is the pattern Spark's own file "
        "committers use).",
    tags=("surface", "sink", "datasource"),
)
def jsonl_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_project_airflow_etl_spark.sources.launch_library import (
        register_launch_source,
    )
    register_launch_source(spark)
    out = _tmp_dir("jsonl", sf_dir)
    src = (load(spark, sf_dir, "orders")
           .filter(F.col("o_orderkey") % JSONL_KEY_MOD == 0)
           .select("o_orderkey", "o_orderpriority",
                   F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
                    .alias("cents")))
    (src.repartition(4).write.format("launch_library")
        .mode("overwrite").option("path", out).save())
    back = spark.read.schema(
        "o_orderkey long, o_orderpriority string, cents long"
    ).json(os.path.join(out, "part-*.jsonl"))
    return (back.groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.sum("cents").alias("sum_cents")))


# --------------------- Structured Streaming state-store reader

@query(
    "statestore_counts_events",
    oracle="""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type
    """,
    doc="The streaming checkpoint's operator state surfaced as a "
        "relational table (Spark 4 `statestore` format): an "
        "availableNow streaming aggregation runs over the events "
        "parquet into a noop sink, then the state store itself is read "
        "back and must equal the batch GROUP BY — the ops surface for "
        "debugging stateful pipelines without replaying them "
        "(tests/test_statestore_reader.py drives the incremental "
        "multi-batch + state-metadata variants). The checkpoint is "
        "recreated per run (deterministic tmp path) so re-runs are "
        "idempotent. Scale: state is hash-partitioned by group key "
        "across spark.sql.shuffle.partitions stores; the reader "
        "exposes exactly those partitions — reading state is O(|keys|) "
        "regardless of how many batches built it.",
    tags=("surface", "streaming", "statestore"),
)
def statestore_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    cp = _tmp_dir("sscp", sf_dir)
    shutil.rmtree(cp, ignore_errors=True)
    counts = (spark.readStream.schema("event_type string")
                   .option("pathGlobFilter", "events.parquet")
                   .parquet(sf_dir)
                   .groupBy("event_type")
                   .agg(F.count(F.lit(1)).alias("n")))
    run_stream(spark, counts.writeStream.outputMode("complete").format("noop"),
               checkpoint=cp, timeout_s=300)
    state = spark.read.format("statestore").load(cp)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("long").alias("n_events"))


# ------------------------------- VARIANT shredding: variant_explode

@query(
    "variant_props_explode",
    oracle="""
        WITH kv AS (
          SELECT event_type, unnest(json_keys(props)) AS key, props
          FROM events
        )
        SELECT event_type, key,
               CAST(COUNT(*) AS BIGINT) AS n_entries,
               CAST(SUM(CAST(json_extract(props, '$."' || key || '"')
                             AS BIGINT)) AS BIGINT) AS sum_v,
               CAST(MIN(CAST(json_extract(props, '$."' || key || '"')
                             AS BIGINT)) AS BIGINT) AS min_v,
               CAST(MAX(CAST(json_extract(props, '$."' || key || '"')
                             AS BIGINT)) AS BIGINT) AS max_v
        FROM kv GROUP BY event_type, key
    """,
    doc="VARIANT shredding with the variant_explode generator (Spark "
        "4): parse_json once into a variant, LATERAL-explode its "
        "top-level fields into (key, value) rows, cast values to "
        "typed longs, and aggregate per (event_type, key) — the "
        "schema-DISCOVERY path for semi-structured columns, "
        "complementing variant_json_events' fixed-path extraction "
        "(scalar.py). The explode multiplies rows by the per-object "
        "field count (bounded by payload size), the aggregate is "
        "map-side combinable on a |types| x |keys| cell domain, and "
        "parse_json runs exactly once per row inside codegen — at "
        "100 TB this is one scan + one bounded-cell exchange.",
    tags=("surface", "variant", "json"),
)
def variant_props_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_type", "props")
    ev.createOrReplaceTempView("variant_props_events")
    return spark.sql("""
        SELECT event_type, ve.key,
               CAST(COUNT(*) AS BIGINT) AS n_entries,
               SUM(CAST(ve.value AS LONG)) AS sum_v,
               MIN(CAST(ve.value AS LONG)) AS min_v,
               MAX(CAST(ve.value AS LONG)) AS max_v
        FROM variant_props_events,
             LATERAL variant_explode(parse_json(props)) AS ve
        GROUP BY event_type, ve.key
    """)


# ------------------------------------------- XML function family

XML_KEY_MOD = 41  # slice: xpath re-parses per call, keep it bounded


@query(
    "xml_order_roundtrip",
    oracle=f"""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        FROM orders
        WHERE o_orderkey % {XML_KEY_MOD} = 0
        GROUP BY o_orderpriority
    """,
    doc="The XML function family end-to-end: each order row is "
        "serialized with to_xml(struct(...)), parsed back BOTH ways — "
        "schema-full with from_xml AND field-at-a-time with "
        "xpath_string/xpath_long — and the query aggregates only "
        "round-tripped values, so the driver hash proves "
        "serialize/parse fidelity (money as exact cents; the oracle "
        "computes the same aggregate straight from the table). This "
        "is the ingestion pattern for XML feeds (the reference's REST "
        "source is JSON; XML is its sibling wire format). All three "
        "XML calls are per-row codegen expressions — no shuffle "
        "beyond the final bounded aggregate; the slice filter bounds "
        "the double-parse cost at test scale.",
    tags=("surface", "xml",),
)
def xml_order_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (load(spark, sf_dir, "orders")
         .filter(F.col("o_orderkey") % XML_KEY_MOD == 0)
         .select("o_orderkey", "o_orderpriority",
                 F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
                  .alias("cents")))
    x = o.select(F.to_xml(F.struct("o_orderkey", "o_orderpriority",
                                   "cents")).alias("x"))
    parsed = x.select(
        F.from_xml("x", "o_orderkey BIGINT, o_orderpriority STRING, "
                        "cents BIGINT").alias("r"),
        F.expr("xpath_string(x, '/ROW/o_orderpriority')").alias("xp_prio"),
        F.expr("xpath_long(x, '/ROW/cents')").alias("xp_cents"))
    # aggregate the from_xml struct fields, but only where the xpath
    # re-extraction AGREES — any round-trip infidelity would drop rows
    # and break the count/sum against the oracle.
    ok = parsed.filter((F.col("r.o_orderpriority") == F.col("xp_prio"))
                       & (F.col("r.cents") == F.col("xp_cents")))
    return (ok.groupBy(F.col("r.o_orderpriority").alias("o_orderpriority"))
              .agg(F.count(F.lit(1)).alias("n_orders"),
                   F.sum("r.cents").alias("sum_cents"),
                   F.max("r.o_orderkey").alias("max_key")))


# ------------------------ embedding dimension variance pruning

DIMVAR_SCALE = 1000000  # fixed-point grid, matches CENT_SCALE discipline
DIMVAR_KEEP = 16        # top-k dims retained by the pruning plan


@query(
    "embedding_dim_variance_rank",
    oracle=f"""
        WITH d AS (
          SELECT i AS dim,
                 CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                            * {DIMVAR_SCALE}.0) AS BIGINT) AS v
          FROM embeddings,
               UNNEST(generate_series(1, len(embedding))) AS s(i)
        ),
        g AS (
          SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                 SUM(CAST(v AS HUGEINT)) AS sv,
                 SUM(CAST(v AS HUGEINT) * v) AS svv
          FROM d GROUP BY dim
        ),
        vr AS (
          SELECT dim, n_vecs,
                 CAST(CAST(n_vecs * svv - sv * sv AS VARCHAR) AS DOUBLE)
                   / ({DIMVAR_SCALE}.0 * {DIMVAR_SCALE}.0
                      * CAST(n_vecs AS DOUBLE) * CAST(n_vecs AS DOUBLE))
                   AS variance
          FROM g
        )
        SELECT dim, n_vecs, variance,
               CAST(ROW_NUMBER() OVER (ORDER BY variance DESC, dim)
                    AS BIGINT) AS var_rank,
               ROW_NUMBER() OVER (ORDER BY variance DESC, dim)
                 <= {DIMVAR_KEEP} AS retained
        FROM vr
    """,
    doc="Per-dimension embedding variance in exact fixed point, ranked "
        "for feature pruning (keep the top-k most informative dims — "
        "the cheap static cousin of embedding_pca_power_iter's "
        "projection): coordinates floor-quantize to the 1e-6 grid, "
        "n*sum(v^2) - sum(v)^2 accumulates in DECIMAL(38,0) (fits to "
        "~1e12 vectors), and the single division to double goes "
        "through the CAST(CAST(x AS STRING) AS DOUBLE) route so both "
        "engines parse the same exact integer. Plan: posexplode -> "
        "one 64-cell aggregate; the rank window orders 64 rows, never "
        "data. Shuffle volume is dims x partials — linear scan at "
        "100 TB.",
    tags=("surface", "similarity", "feature-selection"),
)
def embedding_dim_variance_rank(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    e = load(spark, sf_dir, "embeddings")
    d = e.select(F.posexplode(F.expr(
        f"transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) "
        f"* {DIMVAR_SCALE}.0) AS BIGINT))")).alias("dim0", "v"))
    d = d.select((F.col("dim0") + 1).alias("dim"), "v")
    g = d.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("svv"))
    vr = g.select(
        "dim", "n_vecs",
        F.expr(f"CAST(CAST(CAST(n_vecs AS DECIMAL(38,0)) * svv "
               f"- sv * sv AS STRING) AS DOUBLE)"
               f" / ({DIMVAR_SCALE}.0 * {DIMVAR_SCALE}.0"
               f" * CAST(n_vecs AS DOUBLE) * CAST(n_vecs AS DOUBLE))")
         .alias("variance"))
    w = Window.orderBy(F.desc("variance"), "dim")  # 64 rows, bounded
    ranked = vr.withColumn("var_rank",
                           F.row_number().over(w).cast("long"))
    return ranked.select("dim", "n_vecs", "variance", "var_rank",
                         (F.col("var_rank") <= DIMVAR_KEEP)
                         .alias("retained"))


# ------------------------------- token-budget training shard plan

SHARD_BUDGET = 2000   # tokens per training shard
SHARD_BLOCK = 64      # hierarchical prefix-sum block (doc_id DIV block)


@query(
    "token_budget_shard_plan",
    oracle=f"""
        WITH t AS (
          SELECT source, doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents
        ),
        c AS (
          SELECT source, doc_id, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM t
        )
        SELECT source,
               CAST((cum - n_tokens) // {SHARD_BUDGET} AS BIGINT)
                 AS shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc,
               CAST(MAX(doc_id) AS BIGINT) AS last_doc
        FROM c GROUP BY source, shard_id
    """,
    doc="Token-budget shard planning (the step that splits a curated "
        "corpus into fixed-token training shards): per source, docs "
        "in doc_id order accumulate token counts and a doc lands in "
        "the shard its START offset falls in — the greedy packing "
        "every sequential shard writer implements. The oracle is the "
        "definitional single window cumsum; the Spark plan is the "
        "DISTRIBUTED form — a two-level hierarchical prefix sum: "
        "block subtotals (doc_id DIV block-size) first, a running "
        "sum over the block relation (64x smaller than "
        "the data; add a third level if blocks themselves outgrow a "
        "partition), then an intra-block cumsum whose window "
        "partitions are bounded by the block size — no window ever "
        "sees an unbounded partition of raw docs. Aggregates are "
        "exact longs throughout.",
    tags=("surface", "curation", "sharding"),
)
def token_budget_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    t = (load(spark, sf_dir, "documents")
         .select("source", "doc_id",
                 F.expr("CAST(size(split(text, ' ')) AS BIGINT)")
                  .alias("n_tokens"),
                 F.expr(f"doc_id DIV {SHARD_BLOCK}").alias("blk")))
    blocks = (t.groupBy("source", "blk")
               .agg(F.sum("n_tokens").alias("blk_tokens")))
    wb = Window.partitionBy("source").orderBy("blk")  # block-level rows
    offsets = blocks.withColumn(
        "blk_before",
        F.coalesce(F.sum("blk_tokens").over(
            wb.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)))
    wi = (Window.partitionBy("source", "blk").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, 0))  # <= BLOCK rows
    c = (t.join(offsets.select("source", "blk", "blk_before"),
                ["source", "blk"])
          .withColumn("cum", F.col("blk_before")
                      + F.sum("n_tokens").over(wi)))
    shard = c.withColumn(
        "shard_id",
        F.expr(f"(cum - n_tokens) DIV {SHARD_BUDGET}"))
    return (shard.groupBy("source", "shard_id")
                 .agg(F.count(F.lit(1)).alias("n_docs"),
                      F.sum("n_tokens").alias("shard_tokens"),
                      F.min("doc_id").alias("first_doc"),
                      F.max("doc_id").alias("last_doc")))


# ------------------------------ recursive CTE: month spine gap-fill

@query(
    "recursive_month_spine_revenue",
    oracle="""
        WITH RECURSIVE spine(m) AS (
          SELECT (SELECT CAST(date_trunc('month', MIN(o_orderdate))
                         AS TIMESTAMP) FROM orders)
          UNION ALL
          SELECT m + INTERVAL 1 MONTH FROM spine
          WHERE m < (SELECT CAST(date_trunc('month', MAX(o_orderdate))
                            AS TIMESTAMP) FROM orders)
        ),
        rev AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
                   AS m,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS revenue_cents,
                 CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY 1
        )
        SELECT s.m AS month_start,
               COALESCE(r.revenue_cents, 0) AS revenue_cents,
               COALESCE(r.n_orders, 0) AS n_orders,
               r.m IS NULL AS is_gap
        FROM spine s LEFT JOIN rev r ON s.m = r.m
    """,
    doc="Recursive CTE surface (Spark 4.1 WITH RECURSIVE): generate "
        "the complete month spine from MIN to MAX order date by "
        "recursion, then LEFT-join the monthly revenue rollup so "
        "calendar months with no orders surface as explicit zero/gap "
        "rows — the gap-filling step every reporting pipeline needs "
        "and plain GROUP BY cannot produce (it has no row to group). "
        "Recursion depth = number of months in the data's fixed date "
        "span (~80 for the TPC-H calendar), far under the engine's "
        "recursion limit and INDEPENDENT of data volume — the "
        "data-sized work is one map-side-combinable monthly aggregate "
        "and a broadcast join of the tiny spine onto it. Money rides "
        "as exact cents.",
    tags=("surface", "recursive-cte", "timeseries"),
)
def recursive_month_spine_revenue(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    o.createOrReplaceTempView("rcte_orders")
    return spark.sql("""
        WITH RECURSIVE spine(m) AS (
          SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS TIMESTAMP)
          FROM rcte_orders
          UNION ALL
          SELECT m + INTERVAL '1' MONTH FROM spine
          WHERE m < (SELECT CAST(date_trunc('month', MAX(o_orderdate))
                            AS TIMESTAMP) FROM rcte_orders)
        ),
        rev AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
                 SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                   AS revenue_cents,
                 COUNT(*) AS n_orders
          FROM rcte_orders GROUP BY 1
        )
        SELECT s.m AS month_start,
               COALESCE(r.revenue_cents, 0L) AS revenue_cents,
               COALESCE(r.n_orders, 0L) AS n_orders,
               r.m IS NULL AS is_gap
        FROM spine s LEFT JOIN rev r ON s.m = r.m
    """)
