"""Targeted gates for the round-10 staged bank (cluster-validity
indices, Cliff's delta, Quade test, SMOG/Fog, MATTR) — range
invariants. Scan budgets and window rules live in
tests/test_plan_rules.py.

The blanket oracle-match / non-empty gates in
tests/test_staged_pen.py already parametrize over ALL staged queries.
"""

from __future__ import annotations

from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


# ------------------------------------------------ range invariants


def test_r10_silhouette_bounded(spark, sf_dir):
    rows = REG["simplified_silhouette_labels"].fn(
        spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_positive <= r.n_vecs
        assert -1.0 - 1e-9 <= r.mean_silhouette <= 1.0 + 1e-9
        # sum is the quantized per-point sum: |sum| <= n * scale
        assert abs(r.sil_sum_fp) <= r.n_vecs * 1_000_000_000_000


def test_r10_davies_bouldin_positive(spark, sf_dir):
    rows = REG["davies_bouldin_labels"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.scatter_mean >= 0.0
        assert r.r_max > 0.0


def test_r10_cliffs_delta_bounded(spark, sf_dir):
    row = REG["cliffs_delta_weekend"].fn(spark, sf_dir).collect()[0]
    assert -1.0 - 1e-12 <= row.cliffs_delta <= 1.0 + 1e-12
    assert row.n_weekend > 0 and row.n_weekday > 0


def test_r10_quade_consistent(spark, sf_dir):
    row = REG["quade_test_dow"].fn(spark, sf_dir).collect()[0]
    assert row.n_blocks >= 1
    assert row.a_term >= 0.0
    assert row.b_term >= 0.0
    # B <= A always (Cauchy-Schwarz over blocks)
    assert row.b_term <= row.a_term + 1e-9
    if row.f_stat is not None:
        assert row.f_stat >= 0.0


def test_r10_smog_fog_consistent(spark, sf_dir):
    rows = REG["smog_fog_readability_by_source"].fn(
        spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_complex <= r.n_words
        assert r.fog_index >= 0.0
        assert r.smog_index >= 3.1291 - 1e-12


def test_r10_mattr_bounded(spark, sf_dir):
    rows = REG["mattr_lexical_diversity_by_source"].fn(
        spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_docs_scored >= 1
        # TTR of a 25-token window is in (0, 1]
        assert 0.0 < r.mean_mattr <= 1.0 + 1e-9


def test_r10_ansari_bradley_consistent(spark, sf_dir):
    row = REG["ansari_bradley_weekend_value"].fn(
        spark, sf_dir).collect()[0]
    n = row.n_weekend + row.n_weekday
    # total 2x-scores = g2(N); weekend share bounded by the whole
    assert 0.0 < row.ab2_stat
    assert row.e_ab2 > 0.0
    assert row.var_ab2 > 0.0
    assert row.z_stat == row.z_stat
    # each element's 2x midscore is in [2, N+1]
    assert row.ab2_stat >= 2.0 * row.n_weekend - 1e-6
    assert row.ab2_stat <= (n + 1.0) * row.n_weekend + 1e-6


def test_r10_stream_sink_replayed_batch_commits_once(tmp_path):
    """The streaming sink's manifest gate: committing the SAME batchId
    twice must not double-append — the second commit discards its
    staging files (exactly-once across engine retries)."""
    import json
    import os

    from de_project_airflow_etl_spark.sources.launch_library import (
        JsonlCommit, JsonlStreamSinkWriter,
    )
    out = str(tmp_path / "sink")
    os.makedirs(out)
    w = JsonlStreamSinkWriter({"path": out}, overwrite=False)

    def staged(rows):
        stage = os.path.join(out, "_staging")
        os.makedirs(stage, exist_ok=True)
        p = os.path.join(stage, f"t{rows}.jsonl")
        with open(p, "w") as f:
            for i in range(rows):
                f.write(json.dumps({"i": i}) + "\n")
        return JsonlCommit(p, rows)

    w.commit([staged(3)], batchId=0)
    w.commit([staged(2)], batchId=1)
    # replay batch 1 with different staged content
    replay = staged(5)
    w.commit([replay], batchId=1)
    with open(os.path.join(out, "_STREAM_MANIFEST.json")) as f:
        m = json.load(f)
    assert m["total_rows"] == 5  # 3 + 2, replay discarded
    assert not os.path.exists(replay.tmp_path)
    files = [n for n in os.listdir(out) if n.startswith("batch-")]
    assert sorted(files) == ["batch-00000-00000.jsonl",
                             "batch-00001-00000.jsonl"]


def test_r10_stream_sink_roundtrip_nonempty(spark, sf_dir):
    rows = REG["jsonl_stream_sink_roundtrip"].fn(
        spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_events > 0 and r.sum_cents >= 0


def test_r10_arrow_udf_plans_arrow_not_pickle(spark, sf_dir):
    """useArrow=True must plan as ArrowEvalPython — BatchEvalPython
    would be the 10-100x-slower pickled-row path."""
    df = REG["arrow_udf_text_normalize"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    rows = df.collect()
    assert rows
    for r in rows:
        assert 0 < r.n_distinct_norm <= r.n_docs
