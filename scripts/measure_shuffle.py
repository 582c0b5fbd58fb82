"""Measure per-query I/O and shuffle volume for the bench headline set.

"Measure, don't guess": runs each headline query once at the given
scale factor on a UI-enabled session and reads the stage-level
metrics (input bytes, shuffle write/read bytes, spill) from the Spark
REST API, attributing each stage to the query that ran it. The
resulting table is the empirical basis of docs/SCALING.md — shuffle-
to-input ratios are what extrapolate to a 1000-executor cluster, not
local wall-clock.

Usage: python scripts/measure_shuffle.py [sf_dir] > table.md
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from bench import HEADLINE
from de_project_airflow_etl_spark.registry import all_queries


def _stage_totals(base: str, app: str) -> dict[str, int]:
    url = f"{base}/api/v1/applications/{app}/stages?status=complete"
    stages = json.load(urllib.request.urlopen(url))
    out = {"input": 0, "sw": 0, "sr": 0, "spill": 0}
    for s in stages:
        out["input"] += s.get("inputBytes", 0)
        out["sw"] += s.get("shuffleWriteBytes", 0)
        out["sr"] += s.get("shuffleReadBytes", 0)
        out["spill"] += s.get("diskBytesSpilled", 0)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = (SparkSession.builder.master(
                 f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
             .appName("shuffle-measure")
             .config("spark.ui.enabled", "true")
             .config("spark.ui.retainedStages", "5000")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    registry = all_queries()
    rows = []
    prev = _stage_totals(base, app)
    for name in HEADLINE:
        registry[name].fn(spark, sf_dir).count()
        cur = _stage_totals(base, app)
        rows.append((name, cur["input"] - prev["input"],
                     cur["sw"] - prev["sw"], cur["sr"] - prev["sr"],
                     cur["spill"] - prev["spill"]))
        prev = cur

    # Non-headline coverage: the queries still missing a driver row
    # (the ones the driver's window verifies next) plus anything still
    # staged — so every query the driver will verify this round has a
    # measured shuffle row, not just the bench headliners.
    from de_project_airflow_etl_spark.registry import _driver_verified
    from de_project_airflow_etl_spark.staged import STAGED
    verified = _driver_verified()
    extra = [n for n in registry
             if n not in HEADLINE and n not in verified] + sorted(STAGED)
    staged_rows = []
    for name in extra:
        fn = registry[name].fn if name in registry else STAGED[name].fn
        fn(spark, sf_dir).count()
        cur = _stage_totals(base, app)
        staged_rows.append((name, cur["input"] - prev["input"],
                            cur["sw"] - prev["sw"], cur["sr"] - prev["sr"],
                            cur["spill"] - prev["spill"]))
        prev = cur

    def mb(b: int) -> str:
        return f"{b / 1e6:.1f}"

    # NOTE: REST inputBytes conflates file-scan bytes with
    # localCheckpoint block reads, so it is not a clean denominator;
    # the shuffle columns are the load-bearing measurement.
    print("| query | shuffle write MB | shuffle read MB | spill MB |")
    print("|---|---|---|---|")
    for name, _inp, sw, sr, spill in rows:
        print(f"| {name} | {mb(sw)} | {mb(sr)} | {mb(spill)} |")
    if staged_rows:
        print()
        print("| window query (non-headline) | shuffle write MB"
              " | shuffle read MB | spill MB |")
        print("|---|---|---|---|")
        for name, _inp, sw, sr, spill in staged_rows:
            print(f"| {name} | {mb(sw)} | {mb(sr)} | {mb(spill)} |")


if __name__ == "__main__":
    main()
