"""Default-tier oracle check for the dup-graph family: the verified
MinHash+LSH pairs and the three graph queries built on them, against
DuckDB at the correctness scale factor.

The full registry sweep (tests/test_correctness.py) sits in the slow
tier; this gives the default run a direct signal on the verified
pairs and on the connected-components fixpoint.
"""

from __future__ import annotations

import pytest

from de_project_airflow_etl_spark.registry import all_queries
from tests.harness import compare

DUP_GRAPH_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_clusters",
    "pagerank_dup_graph",
    "triangle_count_dup_graph",
)


@pytest.mark.parametrize("name", DUP_GRAPH_QUERIES)
def test_dup_graph_query_matches_oracle(name, spark, sf_dir, duck):
    q = all_queries()[name]
    problems = compare(q.fn(spark, sf_dir),
                       duck.execute(q.oracle).fetchdf(), name)
    assert not problems, "\n".join(problems)


def test_rewritten_documents_change_the_pairs(spark, tmp_path):
    """The lake changes day by day: after ``documents.parquet`` is
    rewritten in place, the next ``dedup_minhash_lsh`` call in the same
    session derives its pairs from the new file, not from the pairs an
    earlier call built."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from de_project_airflow_etl_spark.operators.dedup import dedup_minhash_lsh

    path = str(tmp_path / "documents.parquet")
    docs = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    pq.write_table(docs, path)

    def pairs() -> set[tuple[int, int]]:
        return {(r["doc_a"], r["doc_b"])
                for r in dedup_minhash_lsh(spark, str(tmp_path)).collect()}

    before = pairs()
    assert (0, 1) not in before
    # doc 1 (row 1) becomes an exact copy of doc 0 (row 0)
    assert docs.column("doc_id").to_pylist()[:2] == [0, 1]
    texts = docs.column("text").to_pylist()
    texts[1] = texts[0]
    pq.write_table(docs.set_column(docs.schema.get_field_index("text"),
                                   "text", pa.array(texts)), path)
    after = pairs()
    assert (0, 1) in after, sorted(after)
    assert before < after
