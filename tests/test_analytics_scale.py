"""Scale-shaped stress + plan gates for the analytics suite
(queries/analytics.py, promoted from staged/round5.py in round 5):
the plan properties their 100 TB story depends on, a planted-pair
containment stress at 50k docs, and the exact-quantile machinery vs
DuckDB at 1M rows with adversarial length skew.
"""

from __future__ import annotations

import duckdb
import pytest

from de_project_airflow_etl_spark.plans.inspect import formatted_plan
from de_project_airflow_etl_spark.queries.analytics import (
    WS_K, containment_dup_pairs, corr_matrix_lineitem,
    doc_length_iqr_flags, trigram_lm_counts,
    weighted_sample_wor,
)
from tests.harness import compare


# ------------------------------------------------------------- plans

def test_weighted_sample_plans_top_k(spark, sf_dir):
    # k-smallest selection must be per-partition heaps + driver merge,
    # never a global sort of the corpus.
    plan = formatted_plan(weighted_sample_wor(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_trigram_vocab_scalar_broadcasts(spark, sf_dir):
    # The one-row vocabulary total must ride a broadcast, not force a
    # shuffled join against the trigram counts.
    plan = formatted_plan(trigram_lm_counts(spark, sf_dir))
    assert "BroadcastNestedLoop" in plan or "BroadcastExchange" in plan, plan


def test_bm25_topk_is_window_group_limit(spark, sf_dir):
    # rank<=k per term must pre-filter per partition (WindowGroupLimit)
    # before the 3-partition term exchange — otherwise three hot tasks
    # would sort the whole scored corpus.
    from de_project_airflow_etl_spark.queries.analytics import bm25_term_scores
    plan = formatted_plan(bm25_term_scores(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_skyline_is_broadcast_filter_not_self_join(spark, sf_dir):
    # The survivor filter must ride a broadcast of the tiny per-date
    # maxima — no order x order join, and the date bound reaches the
    # scan.
    from de_project_airflow_etl_spark.queries.analytics import (
        skyline_pareto_orders,
    )
    df = skyline_pareto_orders(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    from de_project_airflow_etl_spark.plans.inspect import has_pushed_filter
    assert has_pushed_filter(df, "o_orderdate"), plan


def test_winnowing_hashes_each_gram_once(spark, sf_dir):
    from de_project_airflow_etl_spark.queries.analytics import (
        winnowing_fingerprints,
    )
    df = winnowing_fingerprints(spark, sf_dir)
    # THE gate for this query: the md5 k-gram transform must appear
    # exactly once in the executed plan. A two-step projection let
    # CollapseProject substitute it into the per-window lambda —
    # re-hashing the whole document at every window position (O(T^2)
    # md5s; measured 234s vs 1s at sf0.1) — and the join-back
    # formulation duplicated the subtree again on the probe side.
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("md5") == 1, executed


def test_corr_matrix_is_single_aggregate(spark, sf_dir):
    # Sufficient-statistics pass: exactly one aggregate over the scan,
    # no joins at all.
    plan = formatted_plan(corr_matrix_lineitem(spark, sf_dir))
    assert "Join" not in plan, plan


def test_char_class_gini_is_shuffle_free(spark, sf_dir):
    # stateless row map: no Exchange anywhere in the plan
    from de_project_airflow_etl_spark.queries.analytics import char_class_gini
    plan = formatted_plan(char_class_gini(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_batch5_plans_are_scale_shaped(spark, sf_dir):
    from de_project_airflow_etl_spark.queries.analytics import (
        class_distinctive_terms, word_cooccurrence_lift,
    )
    # per-query required operator (the no-cartesian rule of the batch
    # is each query's nested_loops item in tests/test_plan_rules.py)
    required = {
        class_distinctive_terms: "WindowGroupLimit",   # top-k pre-filter
        word_cooccurrence_lift: "TakeOrderedAndProject",  # heap top-k
    }
    for fn, op in required.items():
        plan = formatted_plan(fn(spark, sf_dir))
        assert op in plan, (fn.__name__, op, plan)


def test_trailing_anomaly_flags_planted_spike(spark, tmp_path):
    """A flat-value user with one 100x spike: exactly the spike is
    flagged (its trailing window has zero variance), and a user whose
    values oscillate inside the band is never flagged (a steady LINEAR
    ramp is correctly ~2 sigma out — the trailing mean lags it — so
    the negative control alternates instead)."""
    rows = []
    base = "2024-01-01 00:00:{:02d}"
    for i in range(10):
        v = 500.0 if i == 8 else 5.0       # spike at event 8
        rows.append((1, i, base.format(i), "click", v, "{}"))
    for i in range(10):
        rows.append((2, 100 + i, base.format(i), "click",
                     5.0 + 0.02 * (i % 2), "{}"))
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, "
              "event_type string, value double, props string")
    df = df.withColumn("ts", df.ts.cast("timestamp"))
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from de_project_airflow_etl_spark.queries.analytics import (
        trailing_anomaly_events,
    )
    out = trailing_anomaly_events(spark, str(tmp_path)).collect()
    assert [(r["user_id"], r["event_id"]) for r in out] == [(1, 8)]


def test_token_array_ops_survive_degenerate_docs(spark, tmp_path):
    """Single-token and empty-text documents must not abort the
    token-window queries: Spark's sequence(1, 0) DESCENDS, so an
    unguarded lambda would call element_at(t, 0) and crash (the bug
    the size(t) guards fix); the oracles' generate_series is simply
    empty for these docs."""
    rows = [(0, "lonely", "en", "s", 6),
            (1, "", "en", "s", 0),
            (2, "alpha beta gamma delta epsilon", "en", "s", 30)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    from de_project_airflow_etl_spark.queries.analytics import (
        trigram_lm_counts, word_cooccurrence_lift,
    )
    lift = word_cooccurrence_lift(spark, str(tmp_path)).collect()
    # only doc 2 contributes pairs; no crash on docs 0/1
    assert all({r["w1"], r["w2"]} <= {"alpha", "beta", "gamma",
                                      "delta", "epsilon"} for r in lift)
    assert len(lift) > 0
    tri = trigram_lm_counts(spark, str(tmp_path)).collect()
    assert all(r["w12"].split(" ")[0] in {"alpha", "beta", "gamma"}
               for r in tri)


def test_novelty_planted_duplicate_is_zero(spark, tmp_path):
    """doc 5 repeats doc 0's text verbatim -> novelty 0; doc 0 (first
    occurrence) scores 1.0 when its grams appear nowhere earlier."""
    texts = [f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}"
             for i in range(5)]
    texts.append(texts[0])                  # doc 5 == doc 0
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    from de_project_airflow_etl_spark.queries.analytics import (
        ngram_novelty_score,
    )
    out = {r["doc_id"]: r for r in
           ngram_novelty_score(spark, str(tmp_path)).collect()}
    assert out[5]["n_novel"] == 0 and out[5]["novelty_frac"] == 0.0
    assert out[0]["novelty_frac"] == 1.0


# ----------------------------------------- containment planted stress

N_DOCS = 50_000
PLANT_EVERY = 1_000
VOCAB = " ".join(f"tok{k}" for k in range(50))


@pytest.fixture()
def prefix_corpus(spark, tmp_path):
    """Every 1000th doc is the 10-token PREFIX of its predecessor's
    20-token text: all of its 3-grams are contained in the partner
    (containment 1.0 in the short->long direction only), while ambient
    docs share grams only by rare chance."""
    docs = spark.range(N_DOCS).selectExpr(
        "id AS doc_id",
        f"CASE WHEN id % {PLANT_EVERY} = 0 AND id > 0 "
        f"THEN id - 1 ELSE id END AS seed",
        f"CASE WHEN id % {PLANT_EVERY} = 0 AND id > 0 "
        f"THEN 9 ELSE 19 END AS last_j",
    ).selectExpr(
        "doc_id",
        f"concat_ws(' ', transform(sequence(0, last_j), j -> "
        f"element_at(split('{VOCAB}', ' '), "
        f"1 + pmod(hash(seed * 31 + j), 50)))) AS text",
        "'en' AS lang", "'synth' AS source",
    ).selectExpr("doc_id", "text", "lang", "source",
                 "length(text) AS n_chars")
    out = str(tmp_path / "documents.parquet")
    docs.write.mode("overwrite").parquet(out)
    return str(tmp_path)


def test_containment_finds_exactly_planted_prefixes(spark, prefix_corpus):
    rows = containment_dup_pairs(spark, prefix_corpus).collect()
    planted = {(i, i - 1) for i in range(PLANT_EVERY, N_DOCS, PLANT_EVERY)}
    full = {(r["doc_a"], r["doc_b"]): r for r in rows}
    # every planted (prefix -> full) pair found with containment 1.0
    for key in planted:
        assert key in full, f"missing planted pair {key}"
        assert full[key]["containment"] == 1.0
    # the reverse (full -> prefix) direction must NOT pass the 0.6 bar
    # (8 shared grams / 18 grams = 0.44), and ambient false positives
    # must not survive either
    extras = set(full) - planted
    assert not extras, f"unexpected pairs: {sorted(extras)[:5]}"


# --------------------------------- exact quantiles at 1M, skewed input

def test_iqr_quantiles_exact_at_1m_rows(spark, tmp_path):
    """1M docs, 5 languages, lengths with heavy duplication plus a
    far-outlier tail — the distributed histogram quantile must equal
    DuckDB's quantile_cont bit-for-bit and count the planted outliers."""
    docs = spark.range(1_000_000).selectExpr(
        "pmod(hash(id), 5) AS lang_i",
        "pmod(hash(id * 7 + 1), 1000) AS r",
    ).selectExpr(
        "concat('lang', lang_i) AS lang",
        "CASE WHEN r < 990 THEN 100 + pmod(r, 200) "
        "ELSE 100000 + r END AS n_chars",
    )
    out = str(tmp_path / "documents.parquet")
    docs.write.mode("overwrite").parquet(out)

    sdf = doc_length_iqr_flags(spark, str(tmp_path))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{out}/*.parquet'")
    ddf = con.execute("""
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
    """).fetchdf()
    con.close()
    problems = compare(sdf, ddf, "iqr_1m")
    assert not problems, "\n".join(problems)
    # the ~1% planted far outliers are flagged high, none low
    rows = {r["lang"]: r for r in sdf.collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert r["n_high"] > 0
        assert r["n_low"] == 0


def test_iqr_single_row_groups(spark, tmp_path):
    """n=1 group: q1 == q3 == the single value, zero outliers."""
    spark.createDataFrame(
        [("aa", 123), ("bb", 7)], "lang string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {r["lang"]: r
            for r in doc_length_iqr_flags(spark, str(tmp_path)).collect()}
    assert rows["aa"]["q1"] == rows["aa"]["q3"] == 123.0
    assert rows["bb"]["q1"] == rows["bb"]["q3"] == 7.0
    for r in rows.values():
        assert r["n_docs"] == 1 and r["n_low"] == 0 and r["n_high"] == 0


def test_weighted_sample_is_length_biased(spark, sf_dir):
    # Sanity on the sampling semantics: the selected docs' mean length
    # must exceed the corpus mean (weight = n_chars).
    from de_project_airflow_etl_spark.tables import load
    sample_mean = (weighted_sample_wor(spark, sf_dir)
                   .agg({"n_chars": "avg"}).collect()[0][0])
    corpus_mean = (load(spark, sf_dir, "documents")
                   .agg({"n_chars": "avg"}).collect()[0][0])
    assert sample_mean > corpus_mean
    assert weighted_sample_wor(spark, sf_dir).count() == WS_K


def test_char_class_gini_agrees_batch_vs_stream(spark, sf_dir, tmp_path):
    """The stateless Gini map must stream unchanged: readStream + the
    same plan-builder + availableNow drain == the batch rows (the
    unified backfill/live-ingest property the quality family already
    guarantees, extended to the analytics surface)."""
    from de_project_airflow_etl_spark.queries.analytics import (
        char_class_gini_plan,
    )
    from de_project_airflow_etl_spark.tables import load
    docs = load(spark, sf_dir, "documents")
    batch = sorted(map(tuple, char_class_gini_plan(docs).collect()))
    shard_dir = str(tmp_path / "docs_shards")
    docs.write.mode("overwrite").parquet(shard_dir)
    stream_src = spark.readStream.schema(docs.schema).parquet(shard_dir)
    q = (char_class_gini_plan(stream_src)
         .writeStream.format("memory").queryName("stream_gini")
         .outputMode("append").trigger(availableNow=True).start())
    done = q.awaitTermination(120)
    if not done:
        q.stop()
    assert done, "availableNow drain did not finish in 120s"
    streamed = sorted(map(tuple, spark.table("stream_gini").collect()))
    assert streamed == batch and len(batch) > 0


def test_batch4_plans_are_scale_shaped(spark, sf_dir):
    """Batch-4 gates: the HHI dim join and the seasonality one-row
    totals broadcast; the LTV window runs over the rollup
    (post-aggregate), not the raw events (structural check). No
    cartesian anywhere: each query's nested_loops item in
    tests/test_plan_rules.py."""
    from de_project_airflow_etl_spark.queries.analytics import (
        revenue_concentration_hhi, seasonal_weekday_index,
        user_ltv_cohort_curves,
    )
    assert "BroadcastHashJoin" in formatted_plan(
        revenue_concentration_hhi(spark, sf_dir))
    assert "Broadcast" in formatted_plan(
        seasonal_weekday_index(spark, sf_dir))
    # LTV structural gate: the cumulative window must run over the
    # (cohort, age) ROLLUP, not the raw events — in the formatted tree
    # (children printed below their parent) an (Hash|Sort)Aggregate
    # line must appear BETWEEN the Window line and the first scan
    # below it; a data-sized window would go Window -> Sort ->
    # Exchange -> Scan with no aggregate in between.
    plan = formatted_plan(user_ltv_cohort_curves(spark, sf_dir))
    tree = plan.splitlines()
    win_i = next((i for i, l in enumerate(tree)
                  if "Window" in l and "WindowGroupLimit" not in l), None)
    assert win_i is not None, plan
    scan_i = next((i for i, l in enumerate(tree)
                   if i > win_i and "Scan" in l), None)
    assert scan_i is not None, plan
    between = "\n".join(tree[win_i + 1:scan_i])
    assert "Aggregate" in between, plan


# r11 test tiering: multi-minute sweep/scale/property module —
# excluded from the default (driver-budget) run; run with
# -m "slow or not slow" for the full signal (see pytest.ini).
pytestmark = pytest.mark.slow
