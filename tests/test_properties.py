"""Property-based tests (hypothesis): invariants that hold for ANY
input, not just the fixed testdata — gap-sessionization laws, exact
cents aggregation, and rolling-hash agreement with a reference
implementation.

Each property runs a real (tiny) Spark job per example, so example
counts are deliberately small and deadlines disabled.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

GAP_US = 30 * 60 * 1_000_000
BASE = datetime(2024, 1, 1)

prop = settings(max_examples=12, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])


@given(offsets=st.lists(
    st.integers(min_value=0, max_value=6 * 3600), min_size=1, max_size=40,
    unique=True))
# the exact-gap boundary hypothesis discovered in round 8: two events
# precisely 30:00.000000 apart share a session (windows that TOUCH
# merge) — pinned so the semantics can never silently drift
@example(offsets=[0, 1800])
@example(offsets=[0, 1800, 3601])
@prop
def test_session_window_partitions_events_by_gap(spark, offsets):
    """session_window(30m) must (a) keep every event, (b) never split
    a <=gap pair, (c) never join a >gap pair (Spark merges windows
    whose boundaries TOUCH: two events exactly 30:00.000000 apart
    share a session — measured; the reference model matches)."""
    ts = sorted(BASE + timedelta(seconds=o) for o in offsets)
    df = spark.createDataFrame([(t,) for t in ts], "ts timestamp")
    sessions = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"))
          .agg(F.count(F.lit(1)).alias("n"),
               F.min("ts").alias("start"), F.max("ts").alias("end"))
          .orderBy("start")
          .collect()
    )
    assert sum(r["n"] for r in sessions) == len(ts)          # (a)
    # reference sessionization: split where gap >= 30 min
    expected = 1
    for a, b in zip(ts, ts[1:]):
        if (b - a) > timedelta(minutes=30):
            expected += 1
    assert len(sessions) == expected                          # (b)+(c)
    for prev, nxt in zip(sessions, sessions[1:]):
        assert nxt["start"] - prev["end"] > timedelta(minutes=30)


class _GroupState:
    """The slice of ``GroupState`` the sessionizer reads."""

    def __init__(self, ts_us):
        self.exists, self.get, self.removed = bool(ts_us), (ts_us,), False

    def remove(self):
        self.removed = True


@given(offsets=st.lists(
    st.integers(min_value=0, max_value=6 * 3600 * 1_000_000),
    min_size=1, max_size=40), cut=st.integers(min_value=0, max_value=40),
    in_state=st.integers(min_value=0, max_value=5))
@example(offsets=[0, GAP_US], cut=1, in_state=0)
@example(offsets=[0, GAP_US, 2 * GAP_US + 1], cut=2, in_state=0)
@example(offsets=[2 * GAP_US + 1, 0, GAP_US], cut=1, in_state=1)
@prop
def test_stateful_sessionizer_splits_strictly_above_gap(offsets, cut,
                                                        in_state):
    """``_sessionize_group`` over any split of a user's events into
    Arrow batches and prior state equals the sequential reference
    split: a new session only where the gap is STRICTLY greater than
    30 minutes, as ``session_window`` and the oracle split."""
    import pandas as pd

    from de_project_airflow_etl_spark.streaming.stateful import (
        _sessionize_group,
    )
    base_us = 1_704_067_200_000_000
    ts = [base_us + o for o in offsets]
    state = _GroupState(ts[:in_state])
    rows = ts[in_state:]
    batches = [pd.DataFrame({"ts": pd.to_datetime(b, unit="us")})
               for b in (rows[:cut], rows[cut:]) if b]
    (got,) = _sessionize_group((7,), iter(batches), state)
    assert state.removed == bool(in_state)

    want, ordered = [], sorted(ts)
    start = prev = ordered[0]
    for t in ordered[1:]:
        if t - prev > GAP_US:
            want.append((start, prev))
            start = t
        prev = t
    want.append((start, prev))
    assert list(got["user_id"]) == [7] * len(want)
    assert [(s.value // 1000, e.value // 1000) for s, e in
            zip(got["session_start"], got["session_end"])] == want
    assert int(got["n_events"].sum()) == len(ts)
    assert [int(n) for n in got["n_events"]] == [
        sum(s <= t <= e for t in ts) for s, e in want]


@given(vals=st.lists(
    st.integers(min_value=-10_000_00, max_value=10_000_00),  # cents
    min_size=1, max_size=50))
@prop
def test_cents_sum_is_exact(spark, vals):
    """dsum over 2-decimal doubles equals exact Decimal arithmetic for
    any accumulation order (the determinism contract of util.cents)."""
    from de_project_airflow_etl_spark.queries.util import dsum
    doubles = [c / 100.0 for c in vals]
    df = spark.createDataFrame([(v,) for v in doubles], "x double")
    got = df.agg(dsum("x", "s")).first()["s"]
    expected = float(sum(Decimal(c) for c in vals) / 100)
    assert got == expected  # bit-exact, not approximate


@given(words=st.lists(
    st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=126),
            min_size=1, max_size=6),
    min_size=4, max_size=12))
@prop
def test_rolling_hash_matches_reference(spark, words):
    """The SQL rolling hash must equal a straight python Rabin-Karp."""
    from de_project_airflow_etl_spark.operators.text import RH_BASE, RH_MOD
    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(F.expr(
        f"aggregate(transform(split(text, ''), c -> ascii(c)),"
        f" cast(0 as bigint),"
        f" (acc, x) -> (acc * {RH_BASE} + x) % {RH_MOD})").alias("h")
    ).first()["h"]
    expected = 0
    for ch in text:
        expected = (expected * RH_BASE + ord(ch)) % RH_MOD
    assert got == expected


@given(payload=st.binary(min_size=0, max_size=64))
@settings(max_examples=200, deadline=None)
def test_decode_image_total_over_arbitrary_bytes(payload):
    """decode_image's error contract: ANY byte string either parses to
    a metadata dict or raises ValueError — never struct.error /
    IndexError (which would crash a mapInPandas worker outside the
    documented contract; ADVICE r2 multimodal.py:58)."""
    from de_project_airflow_etl_spark.operators.multimodal import (
        decode_image,
    )
    try:
        meta = decode_image(bytes(payload))
        assert {"width", "height", "channels", "format"} <= set(meta)
    except ValueError:
        pass


def test_pack_sequences_offsets_are_contiguous(spark, sf_dir):
    """Within each source shard: offsets start at 0, every next doc
    starts exactly where the previous ended, and bin ranges are
    consistent with the budget."""
    from de_project_airflow_etl_spark.operators.curation import (
        PACK_BUDGET, pack_sequences,
    )
    rows = pack_sequences(spark, sf_dir).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    assert by_source
    for source, docs in by_source.items():
        docs.sort(key=lambda r: r["doc_id"])
        expect = 0
        for r in docs:
            assert r["start_offset"] == expect, (source, r)
            assert r["n_tokens"] >= 1
            assert r["first_bin"] == r["start_offset"] // PACK_BUDGET
            end = r["start_offset"] + r["n_tokens"]
            assert r["last_bin"] == (end - 1) // PACK_BUDGET
            assert r["first_bin"] <= r["last_bin"]
            expect = end


def test_hash_split_is_stable_across_scale_factors(spark):
    """A document's split is a pure function of doc_id: the sf0.001
    subset must agree with sf0.01 row-for-row (re-running the split on
    a grown corpus never reshuffles old docs across splits — the
    property that makes hash splits train-safe)."""
    from de_project_airflow_etl_spark.operators.curation import (
        _SPLIT_EXPR,
    )
    from de_project_airflow_etl_spark.tables import load

    def assign(sf):
        return {r["doc_id"]: r["split"]
                for r in load(spark, sf, "documents")
                .selectExpr("doc_id", f"{_SPLIT_EXPR} AS split").collect()}

    small = assign("/root/testdata/sf0.001")
    big = assign("/root/testdata/sf0.01")
    assert small  # non-empty
    for doc_id, split in small.items():
        assert big.get(doc_id, split) == split, doc_id


def test_shuffle_shards_positions_are_dense_and_balanced(spark, sf_dir):
    """Every shard's positions are exactly 1..len(shard) (a training
    loader can seek by position), and the hash sharding is roughly
    balanced (no shard more than 2x the mean)."""
    from de_project_airflow_etl_spark.operators.curation import (
        corpus_shuffle_shards,
    )
    rows = corpus_shuffle_shards(spark, sf_dir).collect()
    shards: dict[int, list[int]] = {}
    for r in rows:
        shards.setdefault(r["shard"], []).append(r["pos_in_shard"])
    mean = len(rows) / len(shards)
    for shard, poss in shards.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
        assert len(poss) <= 2 * mean, (shard, len(poss), mean)


def test_contamination_pairs_share_a_trigram(spark, sf_dir):
    """Spot-check the inverted-index join: every reported pair really
    shares >= n_shared distinct word trigrams (recomputed in Python)."""
    from de_project_airflow_etl_spark.operators.curation import (
        NGRAM_N, contamination_check,
    )
    from de_project_airflow_etl_spark.tables import load
    pairs = contamination_check(spark, sf_dir).collect()
    assert pairs  # the eval set must collide at trigram level
    texts = {r["doc_id"]: r["text"]
             for r in load(spark, sf_dir, "documents").collect()}

    def grams(doc_id):
        toks = texts[doc_id].split(" ")
        return {" ".join(toks[i:i + NGRAM_N])
                for i in range(len(toks) - NGRAM_N + 1)}

    for r in pairs[:50]:
        shared = grams(r["doc_id"]) & grams(r["eval_doc_id"])
        assert len(shared) == r["n_shared_ngrams"], r


def test_collapse_is_idempotent_and_run_free(spark, sf_dir):
    """Collapsing consecutive duplicates is a projection onto run-free
    strings: re-collapsing changes nothing, and a Python recompute of
    the run-free form md5-matches the reported clean_md5."""
    import hashlib

    from de_project_airflow_etl_spark.operators.quality import (
        collapse_repeated_tokens,
    )
    from de_project_airflow_etl_spark.tables import load
    rows = {r["doc_id"]: r
            for r in collapse_repeated_tokens(spark, sf_dir).collect()}
    texts = {r["doc_id"]: r["text"]
             for r in load(spark, sf_dir, "documents").collect()}
    assert rows
    changed = 0
    for doc_id, r in rows.items():
        toks = texts[doc_id].split(" ")
        ref = [t for i, t in enumerate(toks) if i == 0 or t != toks[i - 1]]
        assert r["n_after"] == len(ref), doc_id
        assert r["clean_md5"] == hashlib.md5(
            " ".join(ref).encode()).hexdigest(), doc_id
        # idempotence: the run-free form has no adjacent duplicates
        assert all(a != b for a, b in zip(ref, ref[1:])), doc_id
        changed += r["n_after"] < r["n_tokens"]
    assert changed  # the testdata actually contains runs


def test_chunks_tile_documents(spark, sf_dir):
    """Per document: chunk indexes are dense from 0, starts advance by
    the stride, every chunk is non-empty and within the window budget,
    and the final chunk reaches exactly the end of the document."""
    from de_project_airflow_etl_spark.operators.curation import (
        CHUNK_STRIDE, CHUNK_TOKENS, doc_chunk_windows,
    )
    rows = doc_chunk_windows(spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        assert [c["chunk_idx"] for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            assert c["start_tok"] == c["chunk_idx"] * CHUNK_STRIDE + 1
            assert 1 <= c["chunk_len"] <= CHUNK_TOKENS
        last = chunks[-1]
        n_tokens = last["start_tok"] + last["chunk_len"] - 1
        # every earlier chunk is full-width; the doc ends inside the last
        for c in chunks[:-1]:
            assert c["chunk_len"] == CHUNK_TOKENS
        if len(chunks) > 1:
            assert n_tokens > (last["chunk_idx"] - 1) * CHUNK_STRIDE + \
                CHUNK_TOKENS - CHUNK_STRIDE  # last chunk adds new tokens


def test_mixture_sample_hits_language_budgets(spark, sf_dir):
    """The kept set is a subset of the corpus and each language's
    achieved keep rate tracks its budget/share target (wide tolerance:
    the md5 draw is uniform but finite-sample)."""
    from de_project_airflow_etl_spark.operators.curation import (
        _BUDGET_DENOM, _MIX_WEIGHTS, mixture_weighted_sample,
    )
    from de_project_airflow_etl_spark.tables import load
    kept = mixture_weighted_sample(spark, sf_dir).collect()
    corpus = load(spark, sf_dir, "documents") \
        .select("doc_id", "lang", "n_chars").collect()
    ids = {r["doc_id"] for r in corpus}
    assert kept and all(r["doc_id"] in ids for r in kept)
    tot = sum(r["n_chars"] for r in corpus)
    by_lang_tot: dict[str, int] = {}
    for r in corpus:
        by_lang_tot[r["lang"]] = by_lang_tot.get(r["lang"], 0) + r["n_chars"]
    by_lang_kept: dict[str, int] = {}
    for r in kept:
        by_lang_kept[r["lang"]] = by_lang_kept.get(r["lang"], 0) + 1
    n_by_lang = {
        lang: sum(1 for r in corpus if r["lang"] == lang)
        for lang in by_lang_tot
    }
    for lang, w in _MIX_WEIGHTS.items():
        target = min(1.0, w * tot / (10 * _BUDGET_DENOM * by_lang_tot[lang]))
        achieved = by_lang_kept.get(lang, 0) / n_by_lang[lang]
        assert abs(achieved - target) < 0.2, (lang, achieved, target)


def test_quantize_codes_reconstruct_within_one_step(spark, sf_dir):
    """int8 codes recompute exactly in NumPy-free Python and the
    dequantized value is within one quantization step of the input."""
    import hashlib

    from de_project_airflow_etl_spark.operators.similarity import (
        embedding_int8_quantize,
    )
    from de_project_airflow_etl_spark.tables import load
    import math
    out = {r["vec_id"]: r
           for r in embedding_int8_quantize(spark, sf_dir).collect()}
    vecs = {r["vec_id"]: r["embedding"]
            for r in load(spark, sf_dir, "embeddings").limit(50).collect()}
    for vec_id, emb in vecs.items():
        r = out[vec_id]
        max_abs = max(abs(float(x)) for x in emb)
        assert r["max_abs"] == max_abs
        codes = [0] * len(emb) if max_abs == 0 else [
            math.floor(float(x) * (127.0 / max_abs)) for x in emb]
        assert r["code_sum"] == sum(codes), vec_id
        assert r["code_md5"] == hashlib.md5(
            "|".join(str(c) for c in codes).encode()).hexdigest(), vec_id
        step = max_abs / 127.0 if max_abs else 0.0
        for x, c in zip(emb, codes):
            assert abs(c * step - float(x)) <= step + 1e-12


def test_transition_counts_sum_to_events_minus_users(spark, sf_dir):
    """Each user's time-ordered sequence of n events contributes
    exactly n-1 transitions, so the matrix total is fixed."""
    from de_project_airflow_etl_spark.operators.curation import (
        user_event_transitions,
    )
    from de_project_airflow_etl_spark.tables import load
    ev = load(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    total = sum(r["n_transitions"]
                for r in user_event_transitions(spark, sf_dir).collect())
    assert total == n_events - n_users


@given(lengths=st.lists(st.integers(min_value=0, max_value=500),
                        min_size=1, max_size=60))
@prop
def test_curriculum_rank_equals_sorted_enumerate(spark, tmp_path_factory,
                                                 lengths):
    """For ANY multiset of lengths, the bucketed global rank must
    equal plain sorted-enumerate semantics (n_chars DESC, doc_id
    ASC)."""
    tmp = tmp_path_factory.mktemp("rank")
    rows = [(i, "x", "en", "s", n) for i, n in enumerate(lengths)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    from de_project_airflow_etl_spark.operators.corpus_stats import (
        curriculum_global_rank,
    )
    got = {r["doc_id"]: r["global_rank"]
           for r in curriculum_global_rank(spark, str(tmp)).collect()}
    expected = {doc_id: rank for rank, (doc_id, n) in enumerate(
        sorted(enumerate(lengths), key=lambda p: (-p[1], p[0])), start=1)}
    assert got == expected


@given(vals=st.lists(
    st.integers(min_value=-500_00, max_value=500_00),  # cents
    min_size=3, max_size=40))
@prop
def test_mad_outliers_match_python_statistics(spark, tmp_path_factory,
                                              vals):
    """MAD gate vs a pure-python median reference for ANY value set:
    identical median, MAD, and outlier count."""
    import statistics

    tmp = tmp_path_factory.mktemp("mad")
    base = datetime(2024, 1, 1)
    rows = [(i, base + timedelta(minutes=i), i, "t", c / 100.0, "{}")
            for i, c in enumerate(vals)]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
    from de_project_airflow_etl_spark.operators.quality import (
        MAD_K, mad_outlier_events,
    )
    row = mad_outlier_events(spark, str(tmp)).collect()[0]
    med = statistics.median(vals)               # exact: ints or .5 steps
    adev = [abs(c - med) for c in vals]
    mad = statistics.median(adev)
    n_out = sum(1 for d in adev if d > MAD_K * mad)
    assert row["median_value"] == med / 100
    assert row["mad_value"] == mad / 100
    assert row["n_outliers"] == n_out


@given(texts=st.lists(
    st.lists(st.sampled_from([f"t{i}" for i in range(30)]),  # 30 > VOCAB_K
             min_size=1, max_size=12).map(" ".join),
    min_size=1, max_size=25))
@prop
def test_tokenize_ids_roundtrip_in_vocab(spark, tmp_path_factory, texts):
    """For ANY corpus over a tiny alphabet: every token sequence maps
    to an id sequence of the same length, id 0 is exactly the OOV
    channel, and in-vocab ids decode back to the original tokens."""
    tmp = tmp_path_factory.mktemp("tok")
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    from collections import Counter

    from de_project_airflow_etl_spark.operators.corpus_stats import (
        VOCAB_K, tokenize_to_ids, tokenize_to_ids_arrays,
    )
    counts = Counter(tok for t in texts for tok in t.split(" "))
    vocab = [tok for tok, _ in sorted(
        counts.items(), key=lambda kv: (-kv[1], kv[0]))][:VOCAB_K]
    id_of = {tok: i + 1 for i, tok in enumerate(vocab)}
    out = {r["doc_id"]: r
           for r in tokenize_to_ids_arrays(spark, str(tmp)).collect()}
    # the registered driver variant must be the exact space-joined
    # serialization of the array API — same plan, scalar contract
    flat = {r["doc_id"]: r["token_ids_str"]
            for r in tokenize_to_ids(spark, str(tmp)).collect()}
    for did, row in out.items():
        assert flat[did] == " ".join(str(t) for t in row["token_ids"])
    for i, t in enumerate(texts):
        toks = t.split(" ")
        ids = out[i]["token_ids"]
        assert len(ids) == len(toks) == out[i]["n_tokens"]
        for tok, tid in zip(toks, ids):
            assert tid == id_of.get(tok, 0)
        assert out[i]["n_oov"] == sum(1 for tok in toks if tok not in id_of)


# ----------------------------------------------- NTILE integer formula

def _py_ntile(r: int, n: int, k: int) -> int:
    """Reference NTILE: first n % k tiles hold n // k + 1 rows, the
    rest n // k (the SQL-standard bucket sizing both engines use)."""
    big, m = n // k + 1, n % k
    if m and r <= m * big:
        return (r - 1) // big + 1
    return m + (r - m * big - 1) // max(n // k, 1) + 1


def _case_ntile(r: int, n: int, k: int) -> int:
    """The exact CASE expression _global_ntile ships to Spark,
    transliterated (DIV == Python // for non-negative operands)."""
    if n % k > 0 and r <= (n % k) * (n // k + 1):
        return (r - 1) // (n // k + 1) + 1
    return n % k + (r - (n % k) * (n // k + 1) - 1) // max(n // k, 1) + 1


@given(n=st.integers(min_value=1, max_value=10_000),
       k=st.integers(min_value=1, max_value=64))
@settings(max_examples=300, deadline=None)
def test_ntile_case_formula_partitions_correctly(n, k):
    """For every (n, k): the CASE formula equals the reference for all
    ranks, tiles are contiguous and non-decreasing, sizes differ by at
    most one, and larger tiles come first — NTILE's defining laws."""
    tiles = [_case_ntile(r, n, k) for r in range(1, n + 1)]
    assert tiles == [_py_ntile(r, n, k) for r in range(1, n + 1)]
    assert tiles == sorted(tiles)
    assert tiles[0] == 1 and tiles[-1] == min(n, k)
    from collections import Counter
    sizes = Counter(tiles)
    assert max(sizes.values()) - min(sizes.values()) <= 1
    ordered = [sizes[t] for t in sorted(sizes)]
    assert ordered == sorted(ordered, reverse=True)


# ----------------------------- analytics-surface helper invariants

@given(vals=st.lists(st.integers(min_value=0, max_value=50),
                     min_size=1, max_size=60),
       probs=st.sets(st.sampled_from([0.0625, 0.25, 0.5, 0.75, 0.9375]),
                     min_size=1, max_size=3))
@prop
def test_exact_group_quantiles_matches_linear_interpolation(
        spark, vals, probs):
    """The histogram-based quantile must equal the definitional
    (n-1)*p linear interpolation over the sorted values, for any
    multiset and any dyadic probability."""
    from de_project_airflow_etl_spark.queries.analytics import (
        exact_group_quantiles,
    )
    df = spark.createDataFrame([("g", v) for v in vals], "k string, val long")
    counts = df.groupBy("k", "val").agg(F.count("*").alias("cnt"))
    labels = {f"q{i}": p for i, p in enumerate(sorted(probs))}
    row = exact_group_quantiles(counts, ["k"], labels).collect()[0]
    s = sorted(vals)
    n = len(s)
    for lab, p in labels.items():
        k = (n - 1) * p
        lo = int(k)
        frac = k - lo
        expect = (s[lo] if frac == 0
                  else s[lo] + frac * (s[lo + 1] - s[lo]))
        assert row[lab] == float(expect), (lab, p, s, row[lab], expect)
    assert row["n_rows"] == n


@given(items=st.lists(st.integers(min_value=0, max_value=30),
                      min_size=0, max_size=12, unique=True))
@prop
def test_ordered_pair_structs_equals_combinations(spark, items):
    """In-array ordered-pair emission over a sorted array must equal
    itertools.combinations of the sorted distinct items — the law the
    pair-query rewrites (frequent_item_pairs, source_overlap_matrix)
    rely on."""
    from itertools import combinations

    from de_project_airflow_etl_spark.queries.analytics import (
        ordered_pair_structs,
    )
    arr = sorted(items)
    df = spark.createDataFrame([(arr,)], "xs array<long>")
    out = (df.select(F.explode(F.expr(
        ordered_pair_structs("xs", "a", "b"))).alias("p"))
           .select("p.a", "p.b").collect())
    got = sorted((r["a"], r["b"]) for r in out)
    assert got == sorted(combinations(arr, 2))


# r11 test tiering: multi-minute sweep/scale/property module —
# excluded from the default (driver-budget) run; run with
# -m "slow or not slow" for the full signal (see pytest.ini).
pytestmark = pytest.mark.slow
