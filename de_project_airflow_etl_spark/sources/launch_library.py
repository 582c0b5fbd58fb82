"""Launch Library REST ingest as a Spark Python Data Source (S1).

The reference fetches one day per Airflow task on a Celery worker,
driver-side (`/root/reference/dags/rocket_launch_etl.py:24-48`). The
Spark-native scale path is a Python Data Source (Spark 4 API): each day
of the requested half-open interval ``[start, end)`` becomes one input
partition, so a backfill of N days fans out as N parallel fetch tasks
across executors instead of N sequential DAG runs — while a single-day
incremental run degenerates to the reference's behavior exactly.

Usage::

    register_launch_source(spark)   # registers + enables pushdown
    df = (spark.read.format("launch_library")
               .option("start", "2024-12-01").option("end", "2024-12-04")
               .load())

The fetch itself is pluggable through options:

* ``fetcher=fixture`` (default): deterministic offline payloads from
  :mod:`de_project_airflow_etl_spark.pipeline.fixtures` — no network.
* ``fetcher=http``: the real API (requires ``requests`` at run time;
  endpoint shape per the reference: ``net__gte``/``net__lt`` params).

Rows surface the *raw* nested record shape (status / image.license
structs), so the pipeline's transform stage stays responsible for
T1-T4 — the source replaces only the download step.
"""

from __future__ import annotations

import json
import os
import uuid
from datetime import date, timedelta

from pyspark.sql.datasource import (
    DataSource, DataSourceReader, DataSourceStreamWriter,
    DataSourceWriter, InputPartition,
    SimpleDataSourceStreamReader, WriterCommitMessage,
)

RAW_RECORD_DDL = (
    "id string, url string, name string, "
    "status struct<name:string>, "
    "image struct<image_url:string, license:struct<name:string>>, "
    "net string"
)

API_URL = "https://lldev.thespacedevs.com/2.3.0/launches/"


class DayPartition(InputPartition):
    def __init__(self, day: str):
        self.day = day


def _fetch_fixture(day: str, n: int) -> dict:
    from de_project_airflow_etl_spark.pipeline.fixtures import launch_day_payload
    return launch_day_payload(day, n)


def _fetch_http(day: str) -> dict:
    try:
        import requests
    except ImportError as exc:  # pragma: no cover - offline environment
        raise NotImplementedError(
            "fetcher=http requires the requests package") from exc
    nxt = (date.fromisoformat(day) + timedelta(days=1)).isoformat()
    resp = requests.get(API_URL, params={
        "mode": "list", "net__gte": day, "net__lt": nxt})
    resp.raise_for_status()  # fail-fast, reference dags/rocket_launch_etl.py:46
    return resp.json()


class LaunchLibraryReader(DataSourceReader):
    def __init__(self, options):
        self.start = options["start"]
        self.end = options.get("end")  # half-open; default: start + 1 day
        self.fetcher = options.get("fetcher", "fixture")
        self.fixture_n = int(options.get("fixture_n", "5"))
        # day bounds tightened by pushFilters (inclusive ISO days)
        self.lo_day: str | None = None
        self.hi_day: str | None = None

    def pushFilters(self, filters):
        """Partition pruning at the SOURCE (Spark 4.1 Python Data
        Source filter pushdown): ``net`` is an ISO-8601 string, so its
        first 10 chars are the partition day and string comparison IS
        chronological — a bound on ``net`` bounds the day range, and
        ``partitions()`` skips whole days (whole API calls) outside
        it. ALL filters are returned as residuals: Spark still
        evaluates them post-scan, so pruning is a pure optimization
        and exactness never depends on this method — the contract
        that makes pushdown safe to extend."""
        from pyspark.sql.datasource import (
            EqualTo, GreaterThan, GreaterThanOrEqual, LessThan,
            LessThanOrEqual,
        )

        def day_of(value) -> str | None:
            v = str(value)
            return v[:10] if len(v) >= 10 else None

        for f in filters:
            try:
                if f.attribute != ("net",):
                    continue
            except AttributeError:
                continue
            if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                d = day_of(f.value)
                if d and (self.lo_day is None or d > self.lo_day):
                    self.lo_day = d
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                d = day_of(f.value)
                if d and (self.hi_day is None or d < self.hi_day):
                    self.hi_day = d
            elif isinstance(f, EqualTo):
                d = day_of(f.value)
                if d:
                    if self.lo_day is None or d > self.lo_day:
                        self.lo_day = d
                    if self.hi_day is None or d < self.hi_day:
                        self.hi_day = d
        return filters

    def partitions(self):
        d0 = date.fromisoformat(self.start)
        d1 = (date.fromisoformat(self.end) if self.end
              else d0 + timedelta(days=1))
        days = []
        while d0 < d1:
            day = d0.isoformat()
            if ((self.lo_day is None or day >= self.lo_day)
                    and (self.hi_day is None or day <= self.hi_day)):
                days.append(DayPartition(day))
            d0 += timedelta(days=1)
        return days

    def read(self, partition: DayPartition):
        # Runs on an executor: one API call per day-partition.
        if self.fetcher == "fixture":
            payload = _fetch_fixture(partition.day, self.fixture_n)
        elif self.fetcher == "http":
            payload = _fetch_http(partition.day)
        else:
            raise ValueError(f"unknown fetcher {self.fetcher!r}")
        for r in payload.get("results", []):
            status = r.get("status") or {}
            image = r.get("image")
            license_ = (image or {}).get("license")
            yield (
                r.get("id"), r.get("url"), r.get("name"),
                (status.get("name"),),
                ((image.get("image_url"),
                  (license_.get("name"),) if license_ else None)
                 if image else None),
                r.get("net"),
            )


class LaunchLibraryStreamReader(SimpleDataSourceStreamReader):
    """Streaming form of the ingest: the offset is the next unread day,
    each micro-batch drains exactly one day (the reference's Airflow
    data interval becomes a streaming offset). ``readBetweenOffsets``
    replays committed ranges deterministically after a restart —
    exactly-once for free because fixture payloads are pure functions
    of the day."""

    def __init__(self, options):
        self.start = options["start"]
        self.end = options.get("end")  # exclusive; None -> unbounded
        self.fetcher = options.get("fetcher", "fixture")
        self.fixture_n = int(options.get("fixture_n", "5"))

    def initialOffset(self) -> dict:
        return {"day": self.start}

    def _rows_for(self, day: str):
        return list(LaunchLibraryReader(
            {"start": day, "fetcher": self.fetcher,
             "fixture_n": str(self.fixture_n)}).read(DayPartition(day)))

    def read(self, start: dict):
        day = start["day"]
        if self.end is not None and day >= self.end:
            return iter([]), start  # caught up: empty batch, same offset
        nxt = (date.fromisoformat(day) + timedelta(days=1)).isoformat()
        return iter(self._rows_for(day)), {"day": nxt}

    def readBetweenOffsets(self, start: dict, end: dict):
        d = date.fromisoformat(start["day"])
        stop = date.fromisoformat(end["day"])
        while d < stop:
            yield from self._rows_for(d.isoformat())
            d += timedelta(days=1)


class JsonlCommit(WriterCommitMessage):
    """Per-task commit message: where the task staged its file and how
    many rows it holds."""

    def __init__(self, tmp_path: str, n_rows: int) -> None:
        self.tmp_path = tmp_path
        self.n_rows = n_rows


def _stage_rows(path: str, iterator) -> JsonlCommit:
    """One task's write for both JSONL sinks: its rows as JSON lines in
    a fresh staging file under ``path``, which only the driver commit
    renames into place."""
    stage = os.path.join(path, "_staging")
    os.makedirs(stage, exist_ok=True)
    tmp = os.path.join(stage, f"task-{uuid.uuid4().hex}.jsonl")
    n = 0
    with open(tmp, "w") as f:
        for row in iterator:
            f.write(json.dumps(row.asDict(recursive=True), default=str) + "\n")
            n += 1
    return JsonlCommit(tmp, n)


class JsonlSinkWriter(DataSourceWriter):
    """JSONL sink with a two-phase commit: every task writes to a
    staging file and reports it in its commit message; only the driver
    commit renames staged files into place and stamps ``_SUCCESS`` with
    a manifest. A failed/speculative task's staging file is never
    visible, and abort() removes the staging dir — the same
    all-or-nothing contract Spark's file committers give parquet,
    re-implemented on the Python Data Source API (the reference's
    pyarrow-to-MinIO put is a driver-side single write; this is its
    parallel, atomic counterpart)."""

    def __init__(self, options, overwrite: bool) -> None:
        if "path" not in options:
            raise ValueError("jsonl sink requires option 'path'")
        self.path = options["path"]
        self.overwrite = overwrite

    def write(self, iterator) -> JsonlCommit:
        return _stage_rows(self.path, iterator)

    def commit(self, messages) -> None:
        import shutil

        import re

        if self.overwrite:
            for name in os.listdir(self.path):
                if name.startswith("part-"):
                    os.remove(os.path.join(self.path, name))
        # In append mode, numbering must start past any part files a
        # previous commit left behind — reusing part-00000.. would
        # os.replace over committed data and silently drop rows.
        base = 0
        if not self.overwrite:
            existing = [re.match(r"part-(\d{5})\.jsonl$", n)
                        for n in os.listdir(self.path)]
            indices = [int(m.group(1)) for m in existing if m]
            base = max(indices) + 1 if indices else 0
        manifest = []
        for i, m in enumerate(messages):
            final = os.path.join(self.path, f"part-{base + i:05d}.jsonl")
            os.replace(m.tmp_path, final)
            manifest.append({"file": os.path.basename(final),
                             "rows": m.n_rows})
        # _SUCCESS manifest covers the whole directory state: merge any
        # prior manifest's entries that still exist on disk (append), so
        # total_rows stays truthful across commits.
        success = os.path.join(self.path, "_SUCCESS")
        if not self.overwrite and os.path.exists(success):
            with open(success) as f:
                prior = json.load(f).get("files", [])
            manifest = [e for e in prior
                        if os.path.exists(os.path.join(self.path, e["file"]))
                        ] + manifest
        with open(success, "w") as f:
            json.dump({"files": manifest,
                       "total_rows": sum(e["rows"] for e in manifest)}, f)
        shutil.rmtree(os.path.join(self.path, "_staging"),
                      ignore_errors=True)

    def abort(self, messages) -> None:
        import shutil
        shutil.rmtree(os.path.join(self.path, "_staging"),
                      ignore_errors=True)


class JsonlStreamSinkWriter(DataSourceStreamWriter):
    """Streaming twin of :class:`JsonlSinkWriter`: each microbatch's
    tasks stage files and the driver commit renames them into place
    under batch-scoped names, appending a per-batch entry to a
    ``_STREAM_MANIFEST.json``. EXACTLY-ONCE across engine retries: a
    replayed batchId that is already in the manifest discards its
    staging files instead of committing twice (the same applied-batch
    idempotency gate the foreachBatch MERGE sink uses), so the sink's
    contents are a function of the committed offsets, not of how many
    attempts it took."""

    def __init__(self, options, overwrite: bool) -> None:
        if "path" not in options:
            raise ValueError("jsonl stream sink requires option 'path'")
        if overwrite:
            # truncate/complete output modes would have to clear prior
            # batch files + manifest per trigger; this sink's contract
            # is append-only (manifest entries accumulate per batch) —
            # fail loudly rather than silently appending.
            raise ValueError(
                "jsonl stream sink is append-only: use outputMode "
                "'append' (got a truncate/overwrite mode)")
        self.path = options["path"]

    def write(self, iterator) -> JsonlCommit:
        return _stage_rows(self.path, iterator)

    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_STREAM_MANIFEST.json")

    def commit(self, messages, batchId: int) -> None:
        manifest = {"batches": {}}
        if os.path.exists(self._manifest_path()):
            with open(self._manifest_path()) as f:
                manifest = json.load(f)
        if str(batchId) in manifest["batches"]:
            # replayed batch: already committed — drop the staging
            # files, never double-append (exactly-once)
            for m in messages:
                if m is not None and os.path.exists(m.tmp_path):
                    os.remove(m.tmp_path)
            return
        # Crash-window hygiene: a prior attempt of this batch may have
        # renamed some files into place and died BEFORE writing the
        # manifest entry. Those orphans are uncommitted (the manifest is
        # the commit point) — delete them first, or a retry producing
        # fewer task messages would leave stale batch-{id}-{i} files
        # that a batch-*.jsonl read-back glob double-counts.
        import glob
        for stale in glob.glob(os.path.join(
                self.path, f"batch-{batchId:05d}-*.jsonl")):
            os.remove(stale)
        entry = []
        for i, m in enumerate(messages):
            if m is None:
                continue
            final = os.path.join(
                self.path, f"batch-{batchId:05d}-{i:05d}.jsonl")
            os.replace(m.tmp_path, final)
            entry.append({"file": os.path.basename(final),
                          "rows": m.n_rows})
        manifest["batches"][str(batchId)] = entry
        manifest["total_rows"] = sum(
            e["rows"] for b in manifest["batches"].values() for e in b)
        tmp_manifest = self._manifest_path() + ".tmp"
        with open(tmp_manifest, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp_manifest, self._manifest_path())

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


class LaunchLibraryDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "launch_library"

    def schema(self) -> str:
        return RAW_RECORD_DDL

    def reader(self, schema) -> LaunchLibraryReader:
        if "start" not in self.options:
            raise ValueError("launch_library requires option 'start' "
                             "(ISO date; optional 'end' is exclusive)")
        return LaunchLibraryReader(self.options)

    def simpleStreamReader(self, schema) -> LaunchLibraryStreamReader:
        if "start" not in self.options:
            raise ValueError("launch_library stream requires option 'start'")
        return LaunchLibraryStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> JsonlSinkWriter:
        return JsonlSinkWriter(self.options, overwrite)

    def streamWriter(self, schema,
                     overwrite: bool) -> JsonlStreamSinkWriter:
        return JsonlStreamSinkWriter(self.options, overwrite)


def register_launch_source(spark) -> None:
    """Register the data source AND enable Python-source filter
    pushdown: Spark 4.1 refuses to plan a reader that implements
    pushFilters() while spark.sql.python.filterPushdown.enabled is
    false (hard error, not a silent skip), and the conf is
    runtime-settable — so registration and the conf travel together
    and driver-supplied vanilla sessions keep working."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(LaunchLibraryDataSource)
