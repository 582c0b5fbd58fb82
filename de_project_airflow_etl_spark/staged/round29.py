"""Round-29 staged bank: four structural-analytics completions over
the LSH-verified near-dup graph (the exact pairs relation the
registered dedup_minhash_lsh / dedup_clusters / pagerank / triangle
queries consume) — SOURCE-partition modularity (is near-duplication
concentrated within crawl sources, the partition-quality readout),
degree assortativity (do high-degree dup hubs attach to other hubs —
Newman's r, distinguishing boilerplate cores from star-shaped
template fans), semi-supervised label propagation (3 synchronized
majority-vote rounds from source seeds: how far do source labels
bleed across the dup graph), and global transitivity (3*triangles /
wedges: tight clique-like duplication vs chain-shaped candidate
paths, normalizing the registered raw triangle count).

All four are exact: modularity / assortativity / transitivity are
integer rationals (DECIMAL(38,0)/HUGEINT products, one string-route
division), and label propagation is a deterministic integer
majority vote (count DESC, label ASC tie-break) that unrolls to
identical SQL rounds. Definitions follow the classical publications
(Newman 2002/2004 for assortativity and modularity; Raghavan et al.
2007 for synchronized label propagation; Watts & Strogatz / Newman
for transitivity) — no external code.

Same contract as every staged query (see staged/__init__.py):
``(spark, sf_dir) -> DataFrame`` plus an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.operators.dedup import (
    _lsh_verified,
    _sql_lsh_pairs,
)
from de_project_airflow_etl_spark.queries.util import wide
from de_project_airflow_etl_spark.staged import staged_query
from de_project_airflow_etl_spark.tables import load


# ---------------------------------------------------------------------
# Source-partition modularity.
#
# Communities = document sources. With m undirected dup edges,
# e_c = edges with both endpoints in source c, d_c = total degree of
# source c's docs:  Q = sum_c e_c/m - sum_c (d_c/(2m))^2
#                     = (4m * sum e_c - sum d_c^2) / (4 m^2).


@staged_query(
    "dup_graph_source_modularity",
    oracle=f"""
        WITH {_sql_lsh_pairs()},
        lab AS (SELECT doc_id, source FROM documents),
        e_in AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS e_within
          FROM pairs p
          JOIN lab a ON a.doc_id = p.doc_a
          JOIN lab b ON b.doc_id = p.doc_b
          WHERE a.source = b.source
        ),
        edges AS (
          SELECT doc_a AS s FROM pairs
          UNION ALL SELECT doc_b FROM pairs
        ),
        dsum AS (
          SELECT SUM(CAST(dc AS HUGEINT) * dc) AS d2
          FROM (
            SELECT l.source, CAST(COUNT(*) AS BIGINT) AS dc
            FROM edges e JOIN lab l ON l.doc_id = e.s
            GROUP BY l.source
          )
        ),
        mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs)
        SELECT mm.m AS n_edges, e_in.e_within,
               CASE WHEN mm.m = 0 THEN NULL
                 ELSE {wide("4 * CAST(mm.m AS HUGEINT)"
                            " * e_in.e_within - dsum.d2")}
                   / {wide("4 * CAST(mm.m AS HUGEINT) * mm.m")}
               END AS modularity_q
        FROM mm, e_in, dsum
    """,
    doc="Newman modularity of the SOURCE partition over the "
        "LSH-verified near-dup graph: Q > 0 when duplication "
        "concentrates WITHIN crawl sources (mirror sites, per-source "
        "boilerplate), Q near 0 when dup edges ignore source "
        "boundaries (syndicated content) — the partition-quality "
        "readout that tells a curation pipeline whether source-local "
        "dedup would suffice. Q = (4m*sum(e_c) - sum(d_c^2))/(4m^2) "
        "is an exact integer rational (HUGEINT/DECIMAL(38,0) "
        "products, ONE string-route division); NULL on an empty "
        "graph. Plan: the shared materialized pairs relation (banded "
        "LSH, never corpus x corpus), two doc-keyed joins to the "
        "source labels, a source-bounded degree aggregate, 1-row "
        "panel out.",
    tags=("staged", "dedup", "graph"),
)
def dup_graph_source_modularity(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    return _modularity(
        _lsh_verified(spark, sf_dir).select("doc_a", "doc_b"),
        load(spark, sf_dir, "documents").select("doc_id", "source"))


def _modularity(pairs: DataFrame, lab: DataFrame) -> DataFrame:
    """Partition modularity of the (doc_id, source) labeling over the
    undirected pairs graph — exposed for planted-graph tests."""
    a = lab.select(F.col("doc_id").alias("doc_a"),
                   F.col("source").alias("src_a"))
    b = lab.select(F.col("doc_id").alias("doc_b"),
                   F.col("source").alias("src_b"))
    e_in = (pairs.join(a, "doc_a").join(b, "doc_b")
            .where("src_a = src_b")
            .agg(F.count(F.lit(1)).cast("long").alias("e_within")))
    ends = (pairs.select(F.col("doc_a").alias("s"))
            .union(pairs.select(F.col("doc_b").alias("s"))))
    dsum = (ends.join(lab.withColumnRenamed("doc_id", "s"), "s")
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("dc"))
            .agg(F.expr("SUM(CAST(dc AS DECIMAL(38,0)) * dc)")
                  .alias("d2")))
    mm = pairs.agg(F.count(F.lit(1)).cast("long").alias("m"))
    num = wide("4 * CAST(m AS DECIMAL(38,0)) * e_within - d2")
    den = wide("4 * CAST(m AS DECIMAL(38,0)) * m")
    return (mm.crossJoin(F.broadcast(e_in)).crossJoin(F.broadcast(dsum))
            .selectExpr("m AS n_edges", "e_within",
                        f"CASE WHEN m = 0 THEN NULL ELSE {num} / {den}"
                        " END AS modularity_q"))


# ---------------------------------------------------------------------
# Degree assortativity (Newman's r) over the dup graph.
#
# Over the both-orientations edge list (M = 2m rows) with j = deg(s),
# k = deg(d):  Se = sum j*k, S1 = sum j (= sum k), S2 = sum j^2
# (= sum k^2);  r = (M*Se - S1^2) / (M*S2 - S1^2).


@staged_query(
    "degree_assortativity_dup_graph",
    oracle=f"""
        WITH {_sql_lsh_pairs()},
        edges AS (
          SELECT doc_a AS s, doc_b AS d FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs
        ),
        deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS dg
                FROM edges GROUP BY s),
        joined AS (
          SELECT ds.dg AS j, dd.dg AS k
          FROM edges e
          JOIN deg ds ON ds.s = e.s
          JOIN deg dd ON dd.s = e.d
        ),
        s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS mm,
                 SUM(CAST(j AS HUGEINT) * k) AS se,
                 SUM(CAST(j AS HUGEINT)) AS s1,
                 SUM(CAST(j AS HUGEINT) * j) AS s2
          FROM joined
        )
        SELECT mm AS n_directed_edges,
               CASE WHEN mm = 0 OR mm * s2 - s1 * s1 = 0 THEN NULL
                 ELSE {wide('mm * se - s1 * s1')}
                   / {wide('mm * s2 - s1 * s1')}
               END AS assortativity_r
        FROM s
    """,
    doc="Degree assortativity (Newman's r) of the LSH-verified "
        "near-dup graph: the Pearson correlation of endpoint degrees "
        "over edges — r > 0 when dup hubs link to other hubs (a "
        "boilerplate CORE that one canonical pick collapses), r < 0 "
        "for star-shaped template fans (one hub, many leaves — the "
        "shape where canonical-pick keeps the hub and drops the "
        "fan). Both-orientation edge sums make sum(j) = sum(k), so "
        "r = (M*Se - S1^2)/(M*S2 - S1^2) — exact HUGEINT/"
        "DECIMAL(38,0) integers, ONE string-route division; NULL on "
        "a degree-regular graph (zero variance). Plan: the shared "
        "pairs relation, one degree aggregate joined back along "
        "edges (message-passing shape), 1-row panel out.",
    tags=("staged", "dedup", "graph"),
)
def degree_assortativity_dup_graph(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    return _assortativity(
        _lsh_verified(spark, sf_dir).select("doc_a", "doc_b"))


def _assortativity(pairs: DataFrame) -> DataFrame:
    """Newman degree assortativity over the undirected pairs graph —
    exposed for planted-graph tests."""
    # edges is referenced twice (deg + the edge-side of the join) but
    # NOT persisted: pairs below it is the shared localCheckpoint-ed
    # relation, so the recompute is one cheap union over materialized
    # rows — and an eager checkpoint here would blind the plan gates.
    edges = (pairs.select(F.col("doc_a").alias("s"),
                          F.col("doc_b").alias("d"))
             .union(pairs.select(F.col("doc_b").alias("s"),
                                 F.col("doc_a").alias("d"))))
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).cast("long")
                                  .alias("dg"))
    joined = (edges
              .join(deg.withColumnRenamed("s", "s_")
                       .withColumnRenamed("dg", "j"),
                    F.col("s") == F.col("s_"))
              .join(deg.withColumnRenamed("s", "d_")
                       .withColumnRenamed("dg", "k"),
                    F.col("d") == F.col("d_"))
              .select("j", "k"))
    s = joined.agg(
        F.count(F.lit(1)).cast("long").alias("mm"),
        F.expr("SUM(CAST(j AS DECIMAL(38,0)) * k)").alias("se"),
        F.expr("SUM(CAST(j AS DECIMAL(38,0)))").alias("s1"),
        F.expr("SUM(CAST(j AS DECIMAL(38,0)) * j)").alias("s2"))
    return s.selectExpr(
        "mm AS n_directed_edges",
        "CASE WHEN mm = 0 OR mm * s2 - s1 * s1 = 0 THEN NULL"
        f" ELSE {wide('mm * se - s1 * s1')}"
        f" / {wide('mm * s2 - s1 * s1')} END AS assortativity_r")


# ---------------------------------------------------------------------
# Semi-supervised label propagation from source seeds, 3 rounds.

_LP_ROUNDS = 3


def _sql_lp_iter(inp: str, out: str) -> str:
    return f"""
        cnt_{out} AS (
          SELECT e.d AS doc_id, l.lab, CAST(COUNT(*) AS BIGINT) AS c
          FROM edges e JOIN {inp} l ON l.doc_id = e.s
          GROUP BY 1, 2
        ),
        {out} AS (
          SELECT doc_id, lab FROM (
            SELECT doc_id, lab,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY c DESC, lab) AS rn
            FROM cnt_{out}
          ) WHERE rn = 1
        )
    """


@staged_query(
    "label_propagation_dup_graph",
    oracle=f"""
        WITH {_sql_lsh_pairs()},
        edges AS (
          SELECT doc_a AS s, doc_b AS d FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs
        ),
        lp0 AS (
          SELECT DISTINCT e.s AS doc_id, doc.source AS lab
          FROM edges e JOIN documents doc ON doc.doc_id = e.s
        ),
        {_sql_lp_iter('lp0', 'lp1')},
        {_sql_lp_iter('lp1', 'lp2')},
        {_sql_lp_iter('lp2', 'lp3')}
        SELECT f.lab AS label,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(CASE WHEN f.lab <> i.lab THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_flipped
        FROM lp3 f JOIN lp0 i USING (doc_id)
        GROUP BY f.lab
    """,
    doc="Semi-supervised label propagation over the near-dup graph: "
        "seed every node with its crawl source, then run "
        f"{_LP_ROUNDS} SYNCHRONIZED majority-vote rounds (count "
        "DESC, label ASC tie-break — fully deterministic, no rand) "
        "and report, per surviving label, how many nodes hold it and "
        "how many were FLIPPED from their seed — the label-bleed "
        "readout that says whether near-duplication would corrupt "
        "source-level provenance tags if they were propagated "
        "naively (Raghavan et al. 2007, synchronized variant). The "
        "vote is pure integer counting; the argmax is a rank<=1 "
        "window partitioned by doc_id (grows-with-data key, rides "
        "WindowGroupLimit). Plan: the shared pairs relation; per "
        "round one edge->label join + one (node,label) count + one "
        "per-node top-1 — the PageRank message-passing shape with "
        "localCheckpoint per round (per-round iteration state, the "
        "recorded allowed class); <= |sources| rows out.",
    tags=("staged", "dedup", "graph", "iterative"),
)
def label_propagation_dup_graph(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    return _label_prop(
        _lsh_verified(spark, sf_dir).select("doc_a", "doc_b"),
        load(spark, sf_dir, "documents").select("doc_id", "source"))


def _label_prop(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """Synchronized majority-vote label propagation (count DESC, label
    ASC tie-break) from (doc_id, source) seeds — exposed for
    planted-graph tests."""
    edges = (pairs.select(F.col("doc_a").alias("s"),
                          F.col("doc_b").alias("d"))
             .union(pairs.select(F.col("doc_b").alias("s"),
                                 F.col("doc_a").alias("d"))))
    edges = edges.persist()
    try:
        lp0 = (edges.select(F.col("s").alias("doc_id")).distinct()
               .join(docs, "doc_id")
               .select("doc_id", F.col("source").alias("lab"))
               .localCheckpoint())
        lab = lp0
        w = Window.partitionBy("doc_id").orderBy(
            F.col("c").desc(), F.col("lab"))
        for _ in range(_LP_ROUNDS):
            cnt = (edges.join(lab.withColumnRenamed("doc_id", "s"), "s")
                   .groupBy(F.col("d").alias("doc_id"), "lab")
                   .agg(F.count(F.lit(1)).cast("long").alias("c")))
            lab = (cnt.withColumn("rn", F.row_number().over(w))
                   .where("rn = 1").select("doc_id", "lab")
                   .localCheckpoint())
        return (lab.join(lp0.withColumnRenamed("lab", "lab0"),
                         "doc_id")
                .groupBy(F.col("lab").alias("label"))
                .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
                     F.expr("CAST(SUM(CASE WHEN lab <> lab0 THEN 1"
                            " ELSE 0 END) AS BIGINT)")
                      .alias("n_flipped")))
    finally:
        edges.unpersist()


# ---------------------------------------------------------------------
# Global transitivity: 3 * triangles / wedges.


@staged_query(
    "dup_graph_transitivity",
    oracle=f"""
        WITH {_sql_lsh_pairs()},
        tri AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS t
          FROM pairs e1
          JOIN pairs e2 ON e2.doc_a = e1.doc_b
          JOIN pairs e3 ON e3.doc_a = e1.doc_a
                        AND e3.doc_b = e2.doc_b
        ),
        edges AS (
          SELECT doc_a AS s FROM pairs
          UNION ALL SELECT doc_b FROM pairs
        ),
        wdg AS (
          SELECT SUM(CAST(dg AS HUGEINT) * (dg - 1)) AS w2
          FROM (SELECT s, CAST(COUNT(*) AS BIGINT) AS dg
                FROM edges GROUP BY s)
        )
        SELECT tri.t AS n_triangles,
               CAST({wide('wdg.w2')} / 2 AS DOUBLE) AS n_wedges,
               CASE WHEN wdg.w2 = 0 THEN NULL
                 ELSE 6.0 * tri.t / {wide('wdg.w2')}
               END AS transitivity
        FROM tri, wdg
    """,
    doc="Global transitivity of the near-dup graph: 3*triangles / "
        "wedges (wedges = sum deg*(deg-1)/2) — 1.0 for clique-like "
        "duplicate clusters (every candidate pair verified), near 0 "
        "for chain-shaped candidate paths (LSH bands linking A-B and "
        "B-C without A-C, the false-positive smell) — the normalized "
        "companion the registered raw triangle_count_dup_graph "
        "lacks. Triangles ride the same ordered-edge 3-way join; "
        "wedges are an exact HUGEINT/DECIMAL(38,0) degree sum; the "
        "ratio is ONE string-route division (6T / sum deg(deg-1)); "
        "NULL when the graph has no wedge. Plan: the shared pairs "
        "relation, the edge-partitioned triangle join, one degree "
        "aggregate, 1-row panel out.",
    tags=("staged", "dedup", "graph"),
)
def dup_graph_transitivity(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    return _transitivity(
        _lsh_verified(spark, sf_dir).select("doc_a", "doc_b"))


def _transitivity(pairs: DataFrame) -> DataFrame:
    """Global transitivity 3T/W over the undirected pairs graph —
    exposed for planted-graph tests."""
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
           .join(e3, (F.col("e3.doc_a") == F.col("e1.doc_a"))
                 & (F.col("e3.doc_b") == F.col("e2.doc_b")))
           .agg(F.count(F.lit(1)).cast("long").alias("t")))
    ends = (pairs.select(F.col("doc_a").alias("s"))
            .union(pairs.select(F.col("doc_b").alias("s"))))
    wdg = (ends.groupBy("s")
           .agg(F.count(F.lit(1)).cast("long").alias("dg"))
           .agg(F.expr("SUM(CAST(dg AS DECIMAL(38,0)) * (dg - 1))")
                 .alias("w2")))
    return (tri.crossJoin(F.broadcast(wdg))
            .selectExpr(
                "t AS n_triangles",
                f"CAST({wide('w2')} / 2 AS DOUBLE) AS n_wedges",
                "CASE WHEN w2 = 0 THEN NULL"
                f" ELSE CAST(6 AS DOUBLE) * t / {wide('w2')} END"
                " AS transitivity"))
