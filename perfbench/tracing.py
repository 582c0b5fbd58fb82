"""Spans and counters recorded around the engine's calls (traced runs only).

Everything here wraps the engine from outside: the query modules'
bindings of ``tables.load`` / ``tables.fan_out``, ``DataFrame``'s
checkpoint and persist calls, Spark's job counter and status store, the
final plan's Catalyst phase tracker, and a Python
``StreamingQueryListener``. Spans live in memory and are written out once,
when the run ends.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import json
import sys
import threading
import time
from collections import Counter

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.streaming.listener import StreamingQueryListener

PACKAGE = "de_project_airflow_etl_spark"
CHECKPOINT_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")


def _iso_ms(stamp: str) -> float:
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1000


class _StreamListener(StreamingQueryListener):
    """Collects started / progress / terminated events per query run."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started: dict[str, float] = {}
        self.progress: list = []
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        with self.lock:
            self.started[str(event.runId)] = _iso_ms(event.timestamp)

    def onQueryProgress(self, event):
        p = event.progress
        with self.lock:
            self.progress.append({
                "run": str(p.runId), "start_ms": _iso_ms(p.timestamp),
                "durations": dict(p.durationMs),
                "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                "commit_ms": sum(o.commitTimeMs for o in p.stateOperators),
            })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated.add(str(event.runId))

    def drain(self) -> tuple[dict, list]:
        """Events of the queries that ended since the last drain."""
        deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline:
            with self.lock:
                if set(self.started) <= self.terminated:
                    break
            time.sleep(0.02)
        with self.lock:
            started, progress = self.started, self.progress
            self.started, self.progress, self.terminated = {}, [], set()
        return started, progress


class Tracer:
    """Per-operation spans and counts for one Spark session."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._open: list[int] = []
        self._next_id = 0
        self._op: dict | None = None
        self._patches: list[tuple[object, str, object]] = []
        self._listener = _StreamListener()

    # -- spans ----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        sid = self._next_id
        self._next_id += 1
        parent = self._open[-1] if self._open else None
        self._open.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._open.pop()
            self.spans.append({"id": sid, "op": self._op["op"] if self._op else None,
                               "name": name, "parent": parent,
                               "start": start, "end": end})

    @contextlib.contextmanager
    def op(self, name: str, phase: str):
        """One operation: every span and count inside it shares its id."""
        self._op = {"op": len(self.ops), "name": name, "phase": phase,
                    "counts": Counter()}
        try:
            with self.span(name):
                yield self._op
        finally:
            self.ops.append(self._op)
            self._op = None

    def add(self, key: str, value: float = 1) -> None:
        if self._op is not None:
            self._op["counts"][key] += value

    # -- Spark jobs, stages, tasks, shuffle -----------------------------
    def jobs_so_far(self) -> int:
        return self._sc.dagScheduler().numTotalJobs()

    def job_counts(self, first: int, last: int, prefix: str) -> None:
        """Count jobs ``[first, last)`` and their completed stages, tasks,
        shuffle and spill bytes into the current op under ``prefix``."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        self.add(f"{prefix}_jobs", last - first)
        seen = set()
        for jid in range(first, last):
            try:
                job = store.job(jid)
            except Py4JJavaError:  # evicted from the status store: count the job only
                continue
            self.add(f"{prefix}_stages", job.numCompletedStages())
            self.add(f"{prefix}_tasks", job.numCompletedTasks())
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                self.add(f"{prefix}_shuffle_write_bytes", st.shuffleWriteBytes())
                self.add(f"{prefix}_shuffle_read_bytes", st.shuffleReadBytes())
                self.add(f"{prefix}_spill_bytes",
                         st.memoryBytesSpilled() + st.diskBytesSpilled())

    @staticmethod
    def plan_phases(df: DataFrame) -> dict[str, float]:
        """Catalyst analysis / optimization / planning seconds of ``df``."""
        out = {}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = kv._2().durationMs() / 1000.0
        return out

    def streaming_counts(self) -> None:
        started, progress = self._listener.drain()
        if not started:
            return
        self.add("streaming.queries", len(started))
        self.add("streaming.batches", len(progress))
        first_end: dict[str, float] = {}
        last_rows: dict[str, int] = {}
        for p in progress:
            d = p["durations"]
            self.add("streaming.add_batch_s", d.get("addBatch", 0) / 1000.0)
            self.add("streaming.state_commit_s", p["commit_ms"] / 1000.0)
            end = p["start_ms"] + d.get("triggerExecution", 0)
            first_end[p["run"]] = min(first_end.get(p["run"], end), end)
            last_rows[p["run"]] = p["state_rows"]
        for run, t0 in started.items():
            if run in first_end:
                self.add("streaming.start_to_first_progress_s",
                         (first_end[run] - t0) / 1000.0)
        self.add("streaming.state_rows", sum(last_rows.values()))

    # -- wrappers around the engine ---------------------------------------
    def install(self) -> None:
        from de_project_airflow_etl_spark import tables
        self.spark.streams.addListener(self._listener)
        for attr, key in (("load", "tables.load"), ("fan_out", "tables.fan_out")):
            original = getattr(tables, attr)
            wrapped = self._timed(original, key)
            for mod in list(sys.modules.values()):
                name = getattr(mod, "__name__", "")
                if name.startswith(PACKAGE):
                    for bound, value in list(vars(mod).items()):
                        if value is original:
                            self._patch(mod, bound, wrapped)
        for meth in CHECKPOINT_METHODS:
            self._patch(ClassicDataFrame, meth,
                        self._timed(getattr(ClassicDataFrame, meth), "checkpoint"))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()
        self.spark.streams.removeListener(self._listener)

    def _patch(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _timed(self, fn, key: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                with self.span(key):
                    return fn(*args, **kwargs)
            finally:
                self.add(f"{key}_calls")
                self.add(f"{key}_s", time.perf_counter() - t0)
        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "ops": [dict(o, counts=dict(o["counts"])) for o in self.ops]}, f)
