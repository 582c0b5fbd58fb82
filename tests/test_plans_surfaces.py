"""Physical-plan gates for the round-6 surface bank
(queries/surfaces_r6.py): the shard plan must keep its
block-hierarchical windows and pruned scan. The dimension-variance
rank's window rules and the bank's nested-loop rule live in
tests/test_plan_rules.py."""

from __future__ import annotations

from de_project_airflow_etl_spark.plans.inspect import (
    partition_columns, scan_read_schema, window_nodes,
)
from de_project_airflow_etl_spark.registry import all_queries

SURFACE_BANK = {n: q for n, q in all_queries().items()
                if q.fn.__module__
                == "de_project_airflow_etl_spark.queries.surfaces_r6"}


def test_surface_bank_is_registered():
    assert len(SURFACE_BANK) == 7, sorted(SURFACE_BANK)


def test_shard_plan_windows_are_block_hierarchical(spark, sf_dir):
    """The distributed prefix sum: exactly one window may run over the
    block-level relation (which must sit above the block aggregate);
    the doc-level window must be partitioned by (source, blk) — its
    partitions are bounded by the block size, never raw-corpus-sized."""
    df = SURFACE_BANK["token_budget_shard_plan"].fn(spark, sf_dir)
    windows = window_nodes(df)
    assert len(windows) == 2, [w.nodeName() for w in windows]
    # one window partitioned by (source, blk) — the bounded intra-block
    # cumsum; the other over the 64x-reduced block relation
    assert any({"source", "blk"} <= partition_columns(w) for w in windows), (
        [w.simpleString(30) for w in windows])
    # the doc-level scan feeding it prunes to the consumed columns
    schemas = scan_read_schema(df)
    assert schemas
    for line in schemas:
        assert "text" in line or "doc_id" in line, line
        assert "lang" not in line, f"documents scan not pruned: {line}"


def test_xml_roundtrip_scan_prunes_orders(spark, sf_dir):
    df = SURFACE_BANK["xml_order_roundtrip"].fn(spark, sf_dir)
    for line in scan_read_schema(df):
        assert "o_comment" not in line and "o_custkey" not in line, (
            f"orders scan not pruned: {line}")
