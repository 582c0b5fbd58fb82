"""Targeted gates for the round-19 staged bank (percentile_cont
WITHIN GROUP, the JSON scalar-function family, approx_top_k in its
exact regime) — surface-specific invariants. Scan budgets live in
tests/test_plan_rules.py.

The blanket oracle-match / non-empty gates in
tests/test_staged_pen.py already parametrize over ALL staged queries.
"""

from __future__ import annotations

from de_project_airflow_etl_spark.registry import all_queries

REG = all_queries()


def test_percentile_cont_quartiles_ordered(spark, sf_dir):
    out = (REG["percentile_cont_within_group_quartiles"]
           .fn(spark, sf_dir).toPandas())
    assert len(out) == 5
    assert (out.q1_cents <= out.median_cents).all()
    assert (out.median_cents <= out.q3_cents).all()
    # quartiles on integer cents interpolate at power-of-two
    # fractions: 4*q is integral
    for col in ("q1_cents", "median_cents", "q3_cents"):
        assert ((out[col] * 4) % 1 == 0).all(), col


def test_json_family_roundtrip_is_total(spark, sf_dir, duck):
    out = (REG["json_function_family_events"].fn(spark, sf_dir)
           .toPandas())
    counts = dict(duck.execute(
        "SELECT event_type, COUNT(*) FROM events GROUP BY 1"
    ).fetchall())
    for _, r in out.iterrows():
        n = counts[r.event_type]
        assert r.roundtrip_ok == n       # every document round-trips
        assert r.total_keys == 3 * n     # t, v, tags
        assert r.total_tag_len == 2 * n  # two tags per document


def test_approx_top_k_exact_regime_matches_group_by(spark, sf_dir,
                                                    duck):
    out = (REG["approx_top_k_event_types"].fn(spark, sf_dir)
           .toPandas().sort_values("rnk"))
    exact = dict(duck.execute(
        "SELECT event_type, COUNT(*) FROM events GROUP BY 1"
    ).fetchall())
    assert dict(zip(out.item, out.est_count)) == exact
    cnts = out.est_count.tolist()
    assert cnts == sorted(cnts, reverse=True)
