"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Runs a seconds-long smoke of every workload (queries at sf0.001, a
three-day lake), untraced and traced, and asserts that each prints every
metric ``BENCHMARK.json`` names, with its unit, and checks correct. Then
asserts the seed contract of the inputs: one seed gives a byte-identical
raw zone and query tables, another seed gives different ones.
Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytics_mix", "curation_iterative", "lake_etl")


def smoke(bench: dict) -> None:
    for workload in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                raise SystemExit(f"selftest: {workload} trace={trace} exited {proc.returncode}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            expect = {m["name"]: m["unit"] for m in bench[key]}
            got = {name: m["unit"] for name, m in result["metrics"].items()}
            if got != expect:
                raise SystemExit(f"selftest: {workload} trace={trace} metrics {got} "
                                 f"!= BENCHMARK.json {expect}")
            if not (result["correct"] and result["attempted"] > 0 and result["failed"] == 0):
                raise SystemExit(f"selftest: {workload} trace={trace} incorrect: {result}")
            print(f"selftest: {workload} trace={trace} ok "
                  f"({result['attempted']} operations)", flush=True)


def raw_zone(out: str, seed: int) -> str:
    """Land the seeded inputs the way a run does: the launch days through
    the pipeline's own ``ingest``, the query tables as parquet."""
    sys.path[:0] = [ROOT, HERE]
    import gen
    from de_project_airflow_etl_spark.pipeline.launch_etl import LaunchPipeline
    days = gen.LaunchDays(seed, 3, 50)
    pipe = LaunchPipeline(None, out)  # local ingest needs no Spark session
    for day in days.days:
        pipe.ingest(day, days.fetch)
    gen.write_tables(os.path.join(out, "tables"), seed, 0.001)
    return out


def same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def seed_contract() -> None:
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    try:
        first, again, other = (raw_zone(os.path.join(work, name), seed)
                               for name, seed in (("a", 7), ("b", 7), ("c", 8)))
        if not same_tree(first, again):
            raise SystemExit("selftest: one seed gave two different raw zones")
        if same_tree(first, other):
            raise SystemExit("selftest: two seeds gave the same raw zone")
        for zone in ("raw/launch", "tables"):
            if same_tree(os.path.join(first, zone), os.path.join(other, zone)):
                raise SystemExit(f"selftest: two seeds gave the same {zone}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest: seed contract ok", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seed_contract()
    smoke(bench)
    return 0


if __name__ == "__main__":
    sys.exit(main())
