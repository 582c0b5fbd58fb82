"""Targeted gates for the round-17 staged bank (quantile
normalization, DBSCAN grid clustering, HITS authorities) —
invariants and independent pure-Python recomputations (closed-form
rank mapping vs a literal per-rank loop, union-find vs the
alternating-star components, the HITS integer fixed point). Scan
budgets live in tests/test_plan_rules.py.

The blanket oracle-match / non-empty gates in
tests/test_staged_pen.py already parametrize over ALL staged queries.
"""

from __future__ import annotations

import math

from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


def test_quantile_normalize_per_rank_loop(spark, sf_dir, duck):
    """The closed-form floor-division mapping must equal a literal
    per-rank evaluation of the pooled type-1 quantile function."""
    out = (REG["quantile_normalize_source_chars"].fn(spark, sf_dir)
           .toPandas().set_index("source"))
    rows = duck.execute(
        "SELECT source, n_chars FROM documents").fetchall()
    pooled = sorted(v for _, v in rows)
    n = len(pooled)
    by_src: dict[str, list[int]] = {}
    for s, v in rows:
        by_src.setdefault(s, []).append(v)
    for s, vals in by_src.items():
        n_s = len(vals)
        # rank r maps to the ceil(r*N/n_s)-th pooled order statistic
        qsum = sum(pooled[math.ceil(r * n / n_s) - 1]
                   for r in range(1, n_s + 1))
        assert out.loc[s, "n_docs"] == n_s
        assert math.isclose(out.loc[s, "qnorm_mean_chars"],
                            qsum / n_s, rel_tol=1e-12), s
        assert math.isclose(out.loc[s, "raw_mean_chars"],
                            sum(vals) / n_s, rel_tol=1e-12), s


def test_dbscan_union_find_recomputation(spark, sf_dir, duck):
    from de_project_airflow_etl_spark.queries.clustering import (
        _DB_ENC, _DB_GRID, _DB_MINPTS, _DB_OFF)
    out = (REG["dbscan_grid_embedding_clusters"].fn(spark, sf_dir)
           .toPandas())
    cells = dict()
    for cx, cy, cnt in duck.execute(f"""
        SELECT CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * {_DB_GRID})
                    AS BIGINT),
               CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * {_DB_GRID})
                    AS BIGINT),
               COUNT(*)
        FROM embeddings GROUP BY 1, 2
    """).fetchall():
        if cnt >= _DB_MINPTS:
            cells[(cx, cy)] = cnt
    parent = {c: c for c in cells}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (cx, cy) in cells:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nb = (cx + dx, cy + dy)
                if nb != (cx, cy) and nb in cells:
                    ra, rb = find((cx, cy)), find(nb)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    expect: dict[int, list[int]] = {}
    for c, cnt in cells.items():
        cid = (find(c)[0] + _DB_OFF) * _DB_ENC + find(c)[1] + _DB_OFF
        expect.setdefault(cid, [0, 0])
        expect[cid][0] += 1
        expect[cid][1] += cnt
    # union-find roots are component-minimum encoded ids because
    # unions always point the larger root at the smaller and the
    # encoding is monotone in (cx, cy)
    got = {int(r.cluster_id): [int(r.n_cells), int(r.n_points)]
           for _, r in out.iterrows()}
    assert got == expect
    assert (out.min_cx <= out.max_cx).all()
    assert (out.min_cy <= out.max_cy).all()


def test_hits_python_fixed_point(spark, sf_dir, duck):
    from de_project_airflow_etl_spark.queries.clustering import (
        _HITS_ITERS, _HITS_SCALE)
    out = (REG["hits_event_type_authority"].fn(spark, sf_dir)
           .toPandas().set_index("event_type"))
    ut = duck.execute("""
        SELECT user_id, event_type, COUNT(*) FROM events GROUP BY 1, 2
    """).fetchall()
    types = sorted({t for _, t, _ in ut})
    a = {t: _HITS_SCALE // len(types) for t in types}
    for _ in range(_HITS_ITERS):
        hr: dict[object, int] = {}
        for u, t, w in ut:
            hr[u] = hr.get(u, 0) + w * a[t]
        htot = sum(hr.values())
        h = {u: (v * _HITS_SCALE) // htot for u, v in hr.items()}
        ar = {t: 0 for t in types}
        for u, t, w in ut:
            ar[t] += w * h[u]
        atot = sum(ar.values())
        a = {t: (v * _HITS_SCALE) // atot for t, v in ar.items()}
    for t in types:
        assert out.loc[t, "authority_e9"] == a[t], t
    # L1 normalization: total mass within truncation slack of SCALE
    assert _HITS_SCALE - len(types) <= out.authority_e9.sum() \
        <= _HITS_SCALE
