"""The perf-regression gate: BENCH_BASELINE.json is the recorded bar
(re-recorded in round 3 under the best-of-2 cold-cache methodology —
see its "note" field); ``python bench.py --gate`` fails when the
headline set regresses. The comparison logic is unit-tested here so
the gate itself stays trustworthy; the full sf0.1 bench run is a
per-round CLI step, not a pytest fixture cost."""

from __future__ import annotations

import json
import os

from bench import HEADLINE, gate_failures

BASELINE = json.load(open(os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BENCH_BASELINE.json")))


def test_baseline_file_matches_headline_set():
    # every baseline query still exists in the headline set (renames
    # would silently drop coverage from the gate)
    assert set(BASELINE["queries"]) <= set(HEADLINE)
    assert BASELINE["value"] > 0
    assert abs(sum(BASELINE["queries"].values())
               - BASELINE["value"]) < 0.01


def test_gate_passes_at_baseline():
    assert gate_failures(BASELINE["value"], BASELINE["queries"],
                         BASELINE["value"], BASELINE["queries"]) == []


def test_gate_trips_on_total_regression():
    bad_total = BASELINE["value"] * 2.1
    fails = gate_failures(bad_total, BASELINE["queries"],
                          BASELINE["value"], BASELINE["queries"])
    assert any("total" in f for f in fails)


def test_gate_trips_on_single_query_regression():
    timings = dict(BASELINE["queries"])
    timings["pricing_summary"] *= 1.6
    fails = gate_failures(sum(timings.values()), timings,
                          BASELINE["value"], BASELINE["queries"])
    assert any("pricing_summary" in f for f in fails)


def test_gate_ignores_new_queries():
    timings = dict(BASELINE["queries"])
    timings["brand_new_query"] = 99.0
    fails = gate_failures(BASELINE["value"], timings,
                          BASELINE["value"], BASELINE["queries"])
    assert fails == []


def test_gate_normalizes_uniform_machine_slowdown():
    """A box running everything 1.6x slower (throttling, shared
    tenancy) is not a code regression: the median machine factor
    absorbs it."""
    timings = {n: t * 1.6 for n, t in BASELINE["queries"].items()}
    fails = gate_failures(sum(timings.values()), timings,
                          BASELINE["value"], BASELINE["queries"])
    assert fails == []


def test_gate_still_trips_single_regression_on_slow_box():
    """One genuinely 4x-regressed query must trip even when the whole
    box also runs 1.3x slow (4x > 1.5 * factor)."""
    timings = {n: t * 1.3 for n, t in BASELINE["queries"].items()}
    timings["pricing_summary"] = BASELINE["queries"]["pricing_summary"] * 4
    fails = gate_failures(sum(timings.values()), timings,
                          BASELINE["value"], BASELINE["queries"])
    assert any("pricing_summary" in f for f in fails)


def test_gate_widens_band_for_subsecond_baselines():
    """A 1.7x wobble on a 0.3s baseline entry is JVM jitter, not a
    regression (same-commit spread observed on an idle box); a 3.5x
    blowup on the same entry still trips — that magnitude means a lost
    broadcast or an accidental cartesian, not noise."""
    small = [n for n, t in BASELINE["queries"].items() if t < 0.4]
    assert small, "headline set should contain sub-0.4s entries"
    name = small[0]
    timings = dict(BASELINE["queries"])
    timings[name] *= 1.7
    assert gate_failures(sum(timings.values()), timings,
                         BASELINE["value"], BASELINE["queries"]) == []
    timings[name] = BASELINE["queries"][name] * 3.5
    fails = gate_failures(sum(timings.values()), timings,
                          BASELINE["value"], BASELINE["queries"])
    assert any(name in f for f in fails)


def test_gate_normalizes_nonuniform_host_degradation():
    """Round-8 measured signature of a degraded host window: heavy
    shuffle/iteration queries inflate ~2x while sub-second scans
    inflate only ~1.1x. A median over ALL entries (dominated by light
    scans) under-corrects the heavy class and flags disjoint sets of
    heavy queries run-to-run; the weight-class median (baseline >=
    HEAVY_BASE_SEC only) compares like with like and passes."""
    from bench import HEAVY_BASE_SEC
    timings = {n: t * (2.0 if t >= HEAVY_BASE_SEC else 1.1)
               for n, t in BASELINE["queries"].items()}
    fails = gate_failures(sum(timings.values()), timings,
                          BASELINE["value"], BASELINE["queries"])
    assert fails == []


def test_gate_still_trips_heavy_regression_inside_degraded_window():
    """The weight-class factor must stay robust: ONE heavy query at 4x
    while the rest of the heavy class sits at 2x still trips
    (4 > 1.5 * 2.0)."""
    from bench import HEAVY_BASE_SEC
    timings = {n: t * (2.0 if t >= HEAVY_BASE_SEC else 1.1)
               for n, t in BASELINE["queries"].items()}
    heavy = [n for n, t in BASELINE["queries"].items()
             if t >= HEAVY_BASE_SEC]
    timings[heavy[0]] = BASELINE["queries"][heavy[0]] * 4.0
    fails = gate_failures(sum(timings.values()), timings,
                          BASELINE["value"], BASELINE["queries"])
    assert any(heavy[0] in f for f in fails)


def test_machine_factor_falls_back_when_heavy_class_too_small():
    """Tiny ad-hoc runs with < MIN_HEAVY_N heavy entries fall back to
    the full common set rather than trusting a 2-entry median."""
    from bench import HEAVY_BASE_SEC, MIN_HEAVY_N, machine_factor
    heavy = [n for n, t in BASELINE["queries"].items()
             if t >= HEAVY_BASE_SEC]
    light = [n for n, t in BASELINE["queries"].items()
             if t < HEAVY_BASE_SEC]
    assert len(heavy) >= MIN_HEAVY_N and len(light) >= MIN_HEAVY_N
    # 2 heavy entries at 3x + many light at 1.2x: the 2-entry heavy
    # class must NOT set the factor to 3.0
    names = heavy[:2] + light[: MIN_HEAVY_N + 2]
    timings = {n: BASELINE["queries"][n] * (3.0 if n in heavy[:2] else 1.2)
               for n in names}
    assert machine_factor(timings, BASELINE["queries"]) < 1.5


def test_machine_factor_never_loosens_below_one_or_above_three():
    from bench import machine_factor
    fast = {n: t * 0.5 for n, t in BASELINE["queries"].items()}
    assert machine_factor(fast, BASELINE["queries"]) == 1.0
    melt = {n: t * 10 for n, t in BASELINE["queries"].items()}
    assert machine_factor(melt, BASELINE["queries"]) == 3.0
    assert machine_factor({}, BASELINE["queries"]) == 1.0


def test_gate_fails_loudly_when_machine_factor_saturates():
    """A median ratio at the 3.0 clamp means the normalization is
    meaningless (unusable box OR a uniform shared-path regression) —
    the gate must fail rather than silently widen every threshold."""
    timings = {n: t * 3.5 for n, t in BASELINE["queries"].items()}
    fails = gate_failures(sum(timings.values()), timings,
                          BASELINE["value"], BASELINE["queries"])
    assert any("saturated" in f for f in fails)


def test_small_headline_queries_have_plan_gates():
    """ADVICE r4: the widened 3.0x band for sub-0.4s baseline entries
    is justified by plan-shape gates being the primary regression
    signal for those queries — so that justification must be
    ENFORCED: every small headline query's name must appear in a
    plan/scale test module. A 2-3x regression that stays fast at
    sf0.1 (e.g. a lost WindowGroupLimit) is then caught by the shape
    gate the name points at, not by wall-clock."""
    import glob
    tests_dir = os.path.dirname(os.path.abspath(__file__))
    gate_sources = ""
    for pattern in ("test_plans*.py", "test_plan_rules.py",
                    "test_*scale*.py", "test_layout.py",
                    "test_bucketing.py", "test_skew.py", "test_graph.py",
                    "test_sketches.py", "test_streaming_*.py",
                    "test_substr_and_mix.py", "test_wau_scale.py"):
        for path in glob.glob(os.path.join(tests_dir, pattern)):
            gate_sources += open(path).read()
    small = [n for n, t in BASELINE["queries"].items() if t < 0.4]
    assert small, "headline set should contain sub-0.4s entries"
    missing = [n for n in small if n not in gate_sources]
    assert not missing, (
        f"small headline queries without a plan/scale gate: {missing} — "
        f"add a shape assertion before relying on the widened band")


def test_write_detail_round_stamped(tmp_path, monkeypatch):
    """The full per-query payload lands in BENCH_DETAIL_r{N}.json (the
    driver's stdout artifact truncates at ~2000 chars, VERDICT r9): the
    round comes from $BENCH_ROUND when set, else 1 + the highest
    recorded BENCH_r*.json round."""
    import bench

    monkeypatch.setattr(bench.os.path, "abspath",
                        lambda _: str(tmp_path / "bench.py"))
    (tmp_path / "BENCH_r03.json").write_text("{}")
    (tmp_path / "BENCH_r11.json").write_text("{}")
    monkeypatch.delenv("BENCH_ROUND", raising=False)
    payload = {"value": 1.5, "queries": {"q": 1.5}}
    bench._write_detail(payload)
    got = json.load(open(tmp_path / "BENCH_DETAIL_r12.json"))
    assert got == payload
    monkeypatch.setenv("BENCH_ROUND", "99")
    bench._write_detail(payload)
    assert (tmp_path / "BENCH_DETAIL_r99.json").exists()
