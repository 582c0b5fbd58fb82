"""The benchmark's three workloads.

``analytics_mix`` and ``curation_iterative`` run registry queries one
after another (a closed loop with one client); ``lake_etl`` runs the
launch pipeline day by day over a growing lake. Each workload offers the
same steps: ``prepare`` (seeded inputs), ``engine`` (import the engine's
entry points), ``probe`` (the first operation of a set-up), ``warm_up``
and ``timed``. Every operation is checked outside its timer.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

import gen

# A timed phase runs at least this many whole passes (of the queries, or
# over a lake), so that every operation has a median of several samples.
MIN_PASSES = 2

# Execute-heavy queries at sf0.1: a count-distinct and a multi-aggregate
# scan, a multi-way join, a vector search. The first one of each list is
# the set-up probe.
ANALYTICS_MIX = (
    "daily_events", "pricing_summary", "tpch_q9_product_profit", "ann_ivf_search",
)
# Build-heavy queries, one of each kind: an availableNow stream drain,
# the star-contraction connected-components fixed point over the
# near-duplicate graph, and MinHash signatures materialized by an eager
# local checkpoint. Each fires most of its Spark jobs before the query
# function returns.
CURATION_ITERATIVE = ("streaming_windowed_counts", "dedup_clusters", "dedup_minhash_lsh")


@dataclass
class Sample:
    name: str
    seconds: float
    rows: int
    ok: bool


def _fingerprint(rows) -> str:
    return hashlib.sha1("\n".join(sorted(map(repr, rows))).encode()).hexdigest()


def _failed(name: str) -> Sample:
    traceback.print_exc(file=sys.stderr)
    print(f"perfbench: operation {name} raised", file=sys.stderr)
    return Sample(name, 0.0, 0, False)


class QueryWorkload:
    """Registry queries at one scale factor; a traced run also times one
    pass at a tenth of it for the layers' data slope."""

    def __init__(self, name: str, queries: tuple[str, ...], sf: float, small_sf: float):
        self.name, self.queries, self.sf, self.small_sf = name, queries, sf, small_sf
        self._verified: dict[tuple[str, str], str | None] = {}
        self._duck: dict[str, object] = {}
        self.check_s = 0.0

    def prepare(self, work: str, seed: int, trace: bool) -> None:
        scales = (self.sf, self.small_sf) if trace else (self.sf,)
        self.dirs = {sf: gen.write_tables(os.path.join(work, f"sf{sf}"), seed, sf)
                     for sf in scales}
        self._order = random.Random(seed)

    def engine(self) -> None:
        from de_project_airflow_etl_spark.operators.dedup import clear_pairs_cache
        from de_project_airflow_etl_spark.registry import all_queries
        self._clear_pairs_cache = clear_pairs_cache
        self.registry = all_queries()

    def probe(self, spark) -> Sample:
        return self._run(spark, self.queries[0], self.sf)

    def warm_up(self, spark) -> list[Sample]:
        return [self._run(spark, q, self.sf) for q in self.queries]

    def timed(self, spark, seconds: float, tracer=None, small: bool = False) -> list[Sample]:
        """Whole passes, in a seeded order, until ``seconds`` have passed
        and at least ``MIN_PASSES`` passes ran (one for ``small``)."""
        sf = self.small_sf if small else self.sf
        samples: list[Sample] = []
        start, passes = time.perf_counter(), 0
        while passes < MIN_PASSES or time.perf_counter() - start < seconds:
            passes += 1
            order = list(self.queries)
            self._order.shuffle(order)
            samples += [self._run(spark, q, sf, tracer, "small" if small else "main")
                        for q in order]
            if small:
                break
        return samples

    def _run(self, spark, name: str, sf: float, tracer=None, phase: str = "") -> Sample:
        """Time one query from ``Query.fn`` through ``collect()``."""
        spark.catalog.clearCache()
        self._clear_pairs_cache()
        fn, sf_dir = self.registry[name].fn, self.dirs[sf]
        try:
            if tracer is None:
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                rows = df.collect()
                seconds = time.perf_counter() - t0
            else:
                df, rows, seconds = self._traced(spark, tracer, phase, name, fn, sf_dir)
        except Exception:
            return _failed(name)
        return Sample(name, seconds, len(rows), self._check(name, sf_dir, df.columns, rows))

    @staticmethod
    def _traced(spark, tracer, phase, name, fn, sf_dir):
        """Like the untraced run, but the time returned is the whole
        operation's, the tracer's own bookkeeping included."""
        t_op = time.perf_counter()
        with tracer.op(name, phase):
            j0 = tracer.jobs_so_far()
            t0 = time.perf_counter()
            with tracer.span("build"):
                df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            j1 = tracer.jobs_so_far()
            with tracer.span("execute"):
                rows = df.collect()
            t2 = time.perf_counter()
            j2 = tracer.jobs_so_far()
            phases = tracer.plan_phases(df)
            tracer.add("build_s", t1 - t0)
            tracer.add("execute_s", max(0.0, t2 - t1 - phases.get("optimization", 0.0)
                                         - phases.get("planning", 0.0)))
            for key in ("analysis", "optimization", "planning"):
                tracer.add(f"plan.{key}_s", phases.get(key, 0.0))
            tracer.add("result_rows", len(rows))
            tracer.job_counts(j0, j1, "build")
            tracer.job_counts(j1, j2, "execute")
            tracer.streaming_counts()
        return df, rows, time.perf_counter() - t_op

    def _check(self, name: str, sf_dir: str, columns: list[str], rows) -> bool:
        """Rows equal the DuckDB oracle's (first run of a query on an
        input), or the rows already verified for it (later runs)."""
        key = (name, sf_dir)
        t0 = time.perf_counter()
        if key not in self._verified:
            self._verified[key] = (_fingerprint(rows) if self._oracle_equal(
                name, sf_dir, columns, rows) else None)
        ok = self._verified[key] == _fingerprint(rows)
        self.check_s += time.perf_counter() - t0
        return ok

    def _oracle_equal(self, name: str, sf_dir: str, columns: list[str], rows) -> bool:
        import pandas as pd
        from tests.harness import _canon, duck_connection
        if sf_dir not in self._duck:
            self._duck[sf_dir] = duck_connection(sf_dir)
        cur = self._duck[sf_dir].execute(self.registry[name].oracle)
        expect = cur.fetchall()
        names = [c[0] for c in cur.description]
        if sorted(names) != sorted(columns) or len(expect) != len(rows):
            print(f"perfbench: {name}: columns {columns} x {len(rows)} rows, "
                  f"oracle {names} x {len(expect)} rows", file=sys.stderr)
            return False
        same = _canon(pd.DataFrame.from_records(rows, columns=columns)).equals(
            _canon(pd.DataFrame.from_records(expect, columns=names)))
        if not same:
            print(f"perfbench: {name}: values differ from the oracle", file=sys.stderr)
        return same


class LakeWorkload:
    """The launch pipeline: ``ingest -> validate_raw -> transform ->
    publish -> sync_partitions`` per day, then the daily COUNT(DISTINCT)
    query over the growing table. One lake is ``days`` days; the timed
    phase repeats whole lakes."""

    name = "lake_etl"
    WARM_DAYS = 3

    def __init__(self, days: int, records: int):
        self.days, self.records = days, records

    def prepare(self, work: str, seed: int, trace: bool) -> None:
        self.base = os.path.join(work, "lake")
        self.launches = gen.LaunchDays(seed, self.days, self.records)
        self._lakes = 0
        self.zone_bytes: dict[str, int] = {}
        self.partitions = 0

    def engine(self) -> None:
        from de_project_airflow_etl_spark.pipeline.launch_etl import LaunchPipeline
        self._pipeline = LaunchPipeline

    def probe(self, spark) -> Sample:
        return self._lake(spark, 1)[0]

    def warm_up(self, spark) -> list[Sample]:
        return self._lake(spark, self.WARM_DAYS)

    def timed(self, spark, seconds: float, tracer=None, small: bool = False) -> list[Sample]:
        samples: list[Sample] = []
        start, lakes = time.perf_counter(), 0
        while lakes < MIN_PASSES or time.perf_counter() - start < seconds:
            lakes += 1
            samples += self._lake(spark, self.days, tracer, keep_sizes=True)
        return samples

    def _lake(self, spark, n_days: int, tracer=None, keep_sizes: bool = False) -> list[Sample]:
        self._lakes += 1
        base = os.path.join(self.base, str(self._lakes))
        pipe = self._pipeline(spark, base, table_name=f"perfbench_launch_{self._lakes}")
        days = self.launches.days[:n_days]
        samples = []
        try:
            for i, day in enumerate(days):
                try:
                    samples.append(self._day(pipe, day, i == 0, days[:i + 1], tracer))
                except Exception:
                    samples.append(_failed(f"{self.name}:{day}"))
            samples = self._check_lake(pipe, days, samples)
            if keep_sizes:
                self.zone_bytes = {zone: _tree_bytes(d) for zone, d in (
                    ("raw", pipe.raw_dir), ("silver", pipe.silver_dir), ("gold", pipe.gold_dir))}
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {pipe.table_name}")
            shutil.rmtree(base, ignore_errors=True)
        return samples

    def _day(self, pipe, day: str, first: bool, landed: list[str], tracer) -> Sample:
        steps = (
            ("pipeline.ingest", lambda: pipe.ingest(day, self.launches.fetch)),
            ("pipeline.validate_raw", lambda: pipe.validate_raw(day)),
            ("pipeline.transform", lambda: pipe.transform(day)),
            ("pipeline.publish", lambda: pipe.publish(day)),
            ("catalog.sync", pipe.register_table if first else pipe.sync_partitions),
            ("pipeline.query", lambda: pipe.daily_launch_events().collect()),
        )
        if tracer is None:
            t0 = time.perf_counter()
            out = [step() for _, step in steps]
            seconds = time.perf_counter() - t0
        else:
            out, seconds = self._traced_day(pipe, day, steps, tracer)
        n_bad, rows = out[1], out[5]
        expect = {d: self.launches.truth[d][1] for d in landed}
        got = {r["net"].isoformat(): r["event_count"] for r in rows}
        return Sample(day, seconds, self.launches.truth[day][0], n_bad == 0 and got == expect)

    def _traced_day(self, pipe, day, steps, tracer):
        t0 = time.perf_counter()
        before = _tree_files(pipe.base)
        with tracer.op(day, "main"):
            j0 = tracer.jobs_so_far()
            out = []
            for key, step in steps:
                s0 = time.perf_counter()
                with tracer.span(key):
                    out.append(step())
                tracer.add(f"{key}_s", time.perf_counter() - s0)
            tracer.job_counts(j0, tracer.jobs_so_far(), "pipeline")
            tracer.add("pipeline.files_written", _tree_files(pipe.base) - before)
        return out, time.perf_counter() - t0

    def _check_lake(self, pipe, days: list[str], samples: list[Sample]) -> list[Sample]:
        """Gold rows per day and the table's partition list against the
        generator's truth; a day that disagrees fails."""
        from pyspark.sql import functions as F
        gold = {r["net"].isoformat(): r["n"] for r in
                pipe.read_gold().groupBy("net").agg(F.count("*").alias("n")).collect()}
        parts = sorted(r[0] for r in pipe.spark.sql(
            f"SHOW PARTITIONS {pipe.table_name}").collect())
        parts_ok = parts == [f"net={d}" for d in days]
        self.partitions = len(parts)
        return [Sample(s.name, s.seconds, s.rows, s.ok and parts_ok
                       and gold.get(day) == self.launches.truth[day][0])
                for s, day in zip(samples, days)]


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _tree_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


def make(name: str, smoke: bool = False):
    """The named workload; ``smoke`` shrinks it to seconds for the self-test."""
    if name == "lake_etl":
        return LakeWorkload(days=3, records=50) if smoke else LakeWorkload(days=6, records=1500)
    queries, sf = {"analytics_mix": (ANALYTICS_MIX, 0.1),
                   "curation_iterative": (CURATION_ITERATIVE, 0.01)}[name]
    if smoke:
        return QueryWorkload(name, queries, sf=0.001, small_sf=0.001)
    return QueryWorkload(name, queries, sf=sf, small_sf=sf / 10)
