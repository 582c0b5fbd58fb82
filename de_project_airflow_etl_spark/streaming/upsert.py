"""Streaming MERGE: foreachBatch upsert of per-key running state into
a lake table.

The reference's incremental daily ingest (SURVEY.md §2.6) generalizes
to "apply each new slice of events to a keyed state table". Structured
Streaming's file sinks are append-only, so keyed upserts go through
``foreachBatch``: every micro-batch is aggregated, merged into the
current state table with the same full-outer-join + coalesce plan the
batch MERGE operator uses (queries/etl.py), and atomically swapped in.
Applied-batch ids are recorded as ``_batch-<id>`` marker files INSIDE
the swapped state directory, so the merge result and its "this batch is
applied" fact become visible in the same rename — after recovery, a
crash at any point leaves either the old state (batch re-merges
cleanly) or the new state with its marker (batch skips). The swap
itself is two renames (current -> current.old, swap_tmp -> current), so
there is a crash window where ``current`` is missing while
``current.old`` holds the pre-batch state; ``_recover`` heals it by
restoring ``current`` from ``current.old`` on the next startup /
batch — the restored state lacks the in-flight batch's marker, so that
batch re-merges. That is how exactly-once state is built on the
engine's at-least-once ``foreachBatch`` contract — the same recipe
Delta/Iceberg sinks use internally (idempotent commits keyed by
batchId; underscore-prefixed files are invisible to Spark's parquet
file listing).

At 100 TB the state table is bucketed by the merge key so each
micro-batch merge is a co-located join against only the buckets the
batch touches; the full-overwrite here is the local-FS stand-in.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_project_airflow_etl_spark.registry import query
from de_project_airflow_etl_spark.streaming.ingest import read_event_stream


def _recover(cur_path: str) -> None:
    """Heal the two-rename crash window: if ``current`` is missing but
    ``current.old`` exists, the process died between the two renames —
    restore the pre-batch state (its markers lack the in-flight batch,
    so that batch re-merges). Also clears a stale ``current.old`` left
    by a crash after the second rename, which would otherwise fail the
    next swap's os.rename with ENOTEMPTY."""
    old = cur_path + ".old"
    if not os.path.isdir(old):
        return
    if not os.path.isdir(cur_path):
        os.rename(old, cur_path)
    else:
        shutil.rmtree(old, ignore_errors=True)


def _applied_ids(cur_path: str) -> set[int]:
    """Batch ids recorded inside the current state table (after
    crash-window recovery)."""
    _recover(cur_path)
    if not os.path.isdir(cur_path):
        return set()
    return {int(n[len("_batch-"):]) for n in os.listdir(cur_path)
            if n.startswith("_batch-")}


def _merge_batch(state_dir: str, batch_agg: DataFrame,
                 batch_id: int) -> None:
    """Full-outer merge of a micro-batch aggregate into the state table
    (count partials add; max partials take greatest). The new table is
    stamped with every applied batch id (prior ids carried forward +
    this one) BEFORE the atomic swap — merge and marker cannot be
    separated by a crash."""
    spark = batch_agg.sparkSession
    cur_path = os.path.join(state_dir, "current")
    prior_ids = _applied_ids(cur_path)
    if os.path.exists(cur_path):
        cur = spark.read.parquet(cur_path)
        c, b = cur.alias("c"), batch_agg.alias("b")
        merged = (
            c.join(b, F.col("c.user_id") == F.col("b.user_id"), "full_outer")
             .select(
                 F.coalesce("c.user_id", "b.user_id").alias("user_id"),
                 (F.coalesce("c.event_count", F.lit(0))
                  + F.coalesce("b.event_count", F.lit(0))).alias("event_count"),
                 F.greatest(
                     F.coalesce("c.last_seen_us", F.lit(-(1 << 62))),
                     F.coalesce("b.last_seen_us", F.lit(-(1 << 62))))
                  .alias("last_seen_us"))
        )
    else:
        merged = batch_agg
    # write-new-then-swap: readers never observe a half-written table
    tmp_path = os.path.join(state_dir, f"swap_{uuid.uuid4().hex[:8]}")
    merged.write.mode("overwrite").parquet(tmp_path)
    for bid in prior_ids | {batch_id}:
        open(os.path.join(tmp_path, f"_batch-{bid}"), "w").close()
    old = cur_path + ".old"
    # a stale .old from a crash after a previous swap's second rename
    # must go BEFORE the first rename, or os.rename fails ENOTEMPTY
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(cur_path):
        os.rename(cur_path, old)
    os.rename(tmp_path, cur_path)
    shutil.rmtree(old, ignore_errors=True)


def run_streaming_upsert(spark: SparkSession, sf_dir: str,
                         state_dir: str) -> DataFrame:
    """Drain the events stream with availableNow, merging per-user
    totals into ``state_dir/current`` via foreachBatch; returns the
    final state table. Re-delivered batch ids are skipped (their marker
    rides inside the atomically swapped state table), so a
    crash-replayed batch cannot double-count."""
    os.makedirs(state_dir, exist_ok=True)
    cur_path = os.path.join(state_dir, "current")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in _applied_ids(cur_path):
            return  # re-delivery after a crash: no-op
        agg = (batch_df.groupBy("user_id")
                       .agg(F.count(F.lit(1)).alias("event_count"),
                            F.max(F.unix_micros("ts")).alias("last_seen_us")))
        _merge_batch(state_dir, agg, batch_id)

    from de_project_airflow_etl_spark.streaming.ingest import (
        run_stream, stream_shuffle_sizing,
    )
    stream = read_event_stream(spark, sf_dir, with_watermark=None)
    with stream_shuffle_sizing(spark, sf_dir):
        run_stream(spark, stream.writeStream.foreachBatch(apply_batch),
                   checkpoint=os.path.join(state_dir, "checkpoint"))
    return spark.read.parquet(os.path.join(state_dir, "current"))


@query(
    "streaming_upsert_user_totals",
    oracle="""
        SELECT user_id,
               COUNT(*) AS event_count,
               MAX(epoch_us(ts)) AS last_seen_us
        FROM events
        GROUP BY user_id
    """,
    doc="Streaming MERGE into a keyed lake table: foreachBatch "
        "aggregates each micro-batch and full-outer-merges it into the "
        "running per-user state with additive count / greatest "
        "last-seen partials, gated by applied-batch markers so "
        "re-delivered batches are no-ops (exactly-once state over the "
        "engine's at-least-once foreachBatch). The drained result must "
        "equal the one-shot batch aggregate — the oracle.",
    tags=("streaming", "merge", "upsert"),
)
def streaming_upsert_user_totals(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    state_dir = tempfile.mkdtemp(prefix="stream_upsert_")
    return run_streaming_upsert(spark, sf_dir, state_dir)
