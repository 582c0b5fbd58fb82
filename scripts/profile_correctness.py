"""Profile AND verify the driver-shaped correctness pass: run every
registry query at sf0.01 on one session, compare each oracle-bearing
query against DuckDB (the same exact-value check as
tests/test_correctness.py, strictly stronger than the driver's
order-insensitive hash), and print per-query wall time slowest first.

Usage: python scripts/profile_correctness.py [sf_dir] [--no-compare]
           [--staged]

--staged sweeps the STAGED bank instead of the registry — run it at
sf0.1 as well as sf0.01 before promotion (the round-5 lesson: two
bugs were invisible at sf0.01).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from de_project_airflow_etl_spark.registry import all_queries
from de_project_airflow_etl_spark.session import get_spark


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    do_compare = "--no-compare" not in sys.argv
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = get_spark()
    if "--staged" in sys.argv:
        from de_project_airflow_etl_spark.staged import STAGED
        qs = dict(sorted(STAGED.items()))
    else:
        qs = all_queries()
    duck = None
    if do_compare:
        from tests.harness import compare, duck_connection
        duck = duck_connection(sf_dir)
    t_all = time.perf_counter()
    times: dict[str, float] = {}
    n_fail = n_checked = 0
    for name, q in qs.items():
        t0 = time.perf_counter()
        try:
            df = q.fn(spark, sf_dir)
            if duck is not None and q.oracle is not None:
                problems = compare(df, duck.execute(q.oracle).fetchdf(),
                                   name)
                n_checked += 1
                if problems:
                    n_fail += 1
                    print(f"MISMATCH {name}: " + "; ".join(problems),
                          flush=True)
            else:
                df.collect()
        except Exception as exc:  # noqa: BLE001
            n_fail += 1
            print(f"ERROR {name}: {type(exc).__name__}: {exc}", flush=True)
        times[name] = time.perf_counter() - t0
    total = time.perf_counter() - t_all
    ranked = sorted(times.items(), key=lambda kv: -kv[1])
    for name, t in ranked[:20]:
        print(f"{t:8.3f}s  {name}")
    print(json.dumps({"total_sec": round(total, 2), "n": len(times),
                      "n_compared": n_checked, "n_failed": n_fail}))
    if n_fail:
        sys.exit(1)


if __name__ == "__main__":
    main()
