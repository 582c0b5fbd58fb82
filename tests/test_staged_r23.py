"""Planted-ground-truth tests for the round-23 staged bank (TextRank
keyphrases, LZ78 event-sequence complexity): known-graph rank
ordering with a pure-Python replay of the exact integer iteration,
and hand-parsed LZ78 phrase counts.

The blanket oracle-match / non-empty gates in
tests/test_staged_pen.py already parametrize over ALL staged queries.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from de_project_airflow_etl_spark.staged import STAGED
from de_project_airflow_etl_spark.staged.round23 import (
    TR_ITERS, TR_SCALE)

_BASE = datetime(2024, 1, 3, 12, 0, 0)


def _write_events(spark, path, rows):
    """rows: (event_id, day_offset, sec_offset, user_id, type)"""
    data = [(eid, _BASE + timedelta(days=d, seconds=s), uid, et,
             1.0, "{}")
            for eid, d, s, uid, et in rows]
    (spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
     .write.mode("overwrite").parquet(f"{path}/events.parquet"))


def _write_docs(spark, path, rows):
    data = [(i, t, "en", s, len(t)) for i, t, s in rows]
    (spark.createDataFrame(
        data, "doc_id long, text string, lang string, source string,"
              " n_chars long")
     .write.mode("overwrite").parquet(f"{path}/documents.parquet"))


# ------------------------------------------------------------ LZ78


def _lz78_py(seq):
    """Reference LZ78 incremental parse (phrase count incl. the
    trailing partial phrase)."""
    seen, cur, cnt = set(), "", 0
    for t in seq:
        cur = cur + "|" + t
        if cur not in seen:
            seen.add(cur)
            cnt += 1
            cur = ""
    return cnt + (1 if cur else 0)


def test_lz78_hand_parsed_sequences(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("lz78"))
    rows = []
    # user 1: v v v v   -> phrases v, vv, v        = 3
    for i in range(4):
        rows.append((len(rows) + 1, 0, i, 1, "view"))
    # user 2: a b a b a b (click/purchase alternating)
    #         -> phrases a, b, ab, ab              = 4
    for i in range(6):
        rows.append((len(rows) + 1, 0, i,
                     2, "click" if i % 2 == 0 else "purchase"))
    # user 3: single event                          = 1
    rows.append((len(rows) + 1, 0, 0, 3, "signup"))
    _write_events(spark, tmp, rows)
    out = {(r["seq_len"], r["n_phrases"]): r["n_users"]
           for r in STAGED["lz78_event_sequence_complexity"].fn(
               spark, tmp).collect()}
    assert out == {
        (4, _lz78_py("vvvv")): 1,           # (4, 3)
        (6, _lz78_py("ababab")): 1,         # (6, 4)
        (1, 1): 1,
    }
    assert _lz78_py("vvvv") == 3 and _lz78_py("ababab") == 4


def test_lz78_repetitive_vs_diverse(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("lz78b"))
    types = ["view", "click", "purchase", "signup", "error"]
    rows = []
    # user 1: 15 identical events (scripted)
    for i in range(15):
        rows.append((len(rows) + 1, 0, i, 1, "view"))
    # user 2: 15 maximally diverse events
    for i in range(15):
        rows.append((len(rows) + 1, 0, i, 2, types[i % 5]))
    _write_events(spark, tmp, rows)
    out = {r["seq_len"]: r["n_phrases"]
           for r in STAGED["lz78_event_sequence_complexity"].fn(
               spark, tmp).collect()}
    seq1 = "v" * 15
    seq2 = "".join("vcpse"[i % 5] for i in range(15))
    assert out[15] in (_lz78_py(seq1), _lz78_py(seq2))
    # both users have seq_len 15 -> two census rows OR one if equal
    diverse, scripted = _lz78_py(seq2), _lz78_py(seq1)
    assert scripted < diverse  # repetition compresses


# -------------------------------------------------------- TextRank


def _textrank_py(edges, iters=TR_ITERS, scale=TR_SCALE):
    """Exact integer replay of the fixed-point weighted PageRank."""
    from collections import defaultdict
    w = defaultdict(int)
    for a, b, c in edges:
        w[(a, b)] += c
        w[(b, a)] += c
    nodes = sorted({x for e in w for x in e})
    n = len(nodes)
    wout = defaultdict(int)
    for (a, _), c in w.items():
        wout[a] += c
    base = (15 * scale) // (100 * n)
    r = {v: scale // n for v in nodes}
    for _ in range(iters):
        s = defaultdict(int)
        for (a, b), c in w.items():
            s[b] += (r[a] * c) // wout[a]
        r = {v: base + (85 * s[v]) // 100 for v in nodes}
    return r


def test_textrank_hub_ranks_first(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("trank"))
    # star graph: 'hub' is adjacent to every spoke, spokes only to hub
    docs = [(i, f"hub spoke{i} hub spoke{i}", "s0") for i in range(6)]
    _write_docs(spark, tmp, docs)
    rows = STAGED["textrank_keyphrases"].fn(spark, tmp).collect()
    by_rk = sorted(rows, key=lambda r: r["rk"])
    assert by_rk[0]["term"] == "hub"
    # exact integer replay: doc i contributes 3 hub-spoke adjacencies
    edges = []
    for i in range(6):
        edges.append(("hub", f"spoke{i}", 3))
    expected = _textrank_py(edges)
    got = {r["term"]: r["rank_e12"] for r in rows}
    assert got == expected


def test_textrank_tolerates_empty_and_tiny_docs(spark, tmp_path_factory):
    """ADVICE r9 (medium): an empty / whitespace-only / single-token
    document must not abort the job — slice(toks, 1, size-1) on an
    empty token array hard-fails with INVALID_PARAMETER_VALUE.LENGTH
    without the size(toks) >= 2 guard. The oracle (guarded
    identically) must still hash-match on the same data."""
    import duckdb

    from tests.harness import compare

    tmp = str(tmp_path_factory.mktemp("trank3"))
    docs = [(1, "", "s0"), (2, "   ", "s0"), (3, "solo", "s0"),
            (4, "hub spoke hub spoke", "s0"),
            (5, "hub other hub other", "s0")]
    _write_docs(spark, tmp, docs)
    q = STAGED["textrank_keyphrases"]
    out = q.fn(spark, tmp)
    rows = out.collect()  # would raise before the guard
    assert {r["term"] for r in rows} == {"hub", "spoke", "other"}
    assert sorted(rows, key=lambda r: r["rk"])[0]["term"] == "hub"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT *"
                f" FROM '{tmp}/documents.parquet/*.parquet'")
    assert compare(out, con.execute(q.oracle).df(), q.name) == []


def test_textrank_contribution_survives_hub_overflow(spark):
    """ADVICE r9 (low): rank ~10^12 x edge weight 2e7 overflows int64
    (product 2e19 > 2^63); the shipped DECIMAL(38,0)/HUGEINT widening
    must return the exact quotient on BOTH engines, and the unwidened
    form must indeed abort under ANSI mode (proves the test bites)."""
    import duckdb
    import pytest

    from de_project_airflow_etl_spark.staged.round23 import (
        TR_CONTRIB_SPARK, TR_SCALE, _tr_contrib_sql)

    r, w, wt = TR_SCALE, 2 * 10**7, 4 * 10**7
    df = spark.createDataFrame([(r, w, wt)], "r long, w long, wt long")
    assert df.selectExpr(f"{TR_CONTRIB_SPARK} AS c").first()["c"] \
        == (r * w) // wt
    with pytest.raises(Exception, match="(?i)overflow"):
        df.selectExpr("(r * w) div wt AS c").collect()
    got = duckdb.connect().execute(
        f"SELECT {_tr_contrib_sql(str(r), str(w), str(wt))} AS c"
    ).fetchone()[0]
    assert got == (r * w) // wt


def test_textrank_symmetric_pair_ties(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("trank2"))
    docs = [(1, "xx yy xx yy xx", "s0"), (2, "yy xx yy xx yy", "s0")]
    _write_docs(spark, tmp, docs)
    rows = STAGED["textrank_keyphrases"].fn(spark, tmp).collect()
    got = {r["term"]: r["rank_e12"] for r in rows}
    assert set(got) == {"xx", "yy"}
    assert got["xx"] == got["yy"]  # symmetric graph -> equal ranks
    # deterministic tiebreak: term ascending
    rks = {r["term"]: r["rk"] for r in rows}
    assert rks["xx"] == 1 and rks["yy"] == 2
