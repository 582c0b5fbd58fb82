"""Driver output contracts.

The driver canonicalizes every query's result through pandas
(sort_values + row hashing), which cannot hash list/dict cells —
an ArrayType/MapType/StructType output column crashes the row and
costs the query its only hard verification signal
(CORRECTNESS_r04: tokenize_to_ids, embedding_rank_normalize;
CORRECTNESS_r05: embedding_label_centroids). Complex-typed shapes
stay available as unregistered ``*_arrays`` siblings; everything
REGISTERED (or staged for registration) must ship scalar columns
only. This gate keeps the defect class closed.
"""

from __future__ import annotations

import pytest

from pyspark.sql.types import ArrayType, MapType, StructType

from de_project_airflow_etl_spark.registry import all_queries
from de_project_airflow_etl_spark.staged import STAGED


def _complex_columns(df) -> list[str]:
    return [f.name for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))]


def _contract_cases():
    qs = all_queries()
    cases = [(f"registry:{n}", q) for n, q in qs.items()]
    cases += [(f"staged:{n}", q) for n, q in sorted(STAGED.items())]
    return cases


@pytest.mark.parametrize("case", _contract_cases(),
                         ids=lambda c: c[0])
def test_no_complex_typed_output_columns(spark, sf_dir, case):
    label, q = case
    df = q.fn(spark, sf_dir)  # plan only — schema needs no execution
    bad = _complex_columns(df)
    assert not bad, (
        f"{label} outputs complex-typed columns {bad}: the driver "
        f"canonicalizer cannot hash list/dict cells — serialize them "
        f"(space-joined exact integers / md5-of-json on both engines) "
        f"and keep the array shape as an unregistered *_arrays sibling")


def test_query_rejects_bare_string_tags():
    """``tags=("statistics")`` is a str, so ``"io" in q.tags`` would be
    a substring test (true for "curation"); registration must refuse
    it."""
    from de_project_airflow_etl_spark.registry import query
    with pytest.raises(TypeError):
        query("bare_string_tags_probe", None, tags=("statistics"))
