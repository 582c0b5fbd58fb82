"""The lake changes day by day: a query called again in the same session
after its input file was rewritten in place must answer from the new
file. Each query below materializes a shared intermediate of its
build; a ``persist()``-ed one stays registered in Spark's CacheManager,
keyed by plan, and a second build of the same plan would read the old
blocks. Each second call is checked against its DuckDB oracle over the
rewritten file.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from de_project_airflow_etl_spark.registry import all_queries
from de_project_airflow_etl_spark.tables import TABLES
from tests.harness import _canon, compare, duck_connection

SOURCE_SF = "/root/testdata/sf0.001"

# queries whose documents-derived intermediate feeds several consumers
# of one build
REWRITE_READERS = (
    "bm25_term_scores",
    "class_distinctive_terms",
    "pagerank_dup_graph",
    "vocab_growth_curve",
    "word_cooccurrence_lift",
)


def _oracle(sql: str, sf_dir: str):
    con = duck_connection(sf_dir)
    try:
        return _canon(con.execute(sql).fetchdf())
    finally:
        con.close()


@pytest.mark.parametrize("name", REWRITE_READERS)
def test_second_call_reads_rewritten_documents(name, spark, tmp_path):
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{SOURCE_SF}/{t}.parquet", tmp_path / f"{t}.parquet")
    path = str(tmp_path / "documents.parquet")
    docs = pq.read_table(f"{SOURCE_SF}/documents.parquet")
    pq.write_table(docs, path)
    q = all_queries()[name]
    q.fn(spark, str(tmp_path)).collect()
    before = _oracle(q.oracle, str(tmp_path))

    # doc 1 copies doc 0's text (a new near-dup pair), and every
    # document gains one token, the same within a source (new lengths,
    # counts and co-occurrences, and a term distinctive of each source)
    texts = docs.column("text").to_pylist()
    texts[1] = texts[0]
    texts = [f"{t} fresh{s}"
             for t, s in zip(texts, docs.column("source").to_pylist())]
    pq.write_table(docs.set_column(docs.schema.get_field_index("text"),
                                   "text", pa.array(texts)), path)
    after = _oracle(q.oracle, str(tmp_path))
    assert not before.equals(after), f"{name}: the rewrite changes nothing"
    problems = compare(q.fn(spark, str(tmp_path)), after, name)
    assert not problems, "\n".join(problems)
