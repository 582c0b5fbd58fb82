"""Benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One Python process drives one local
Spark session (``local[N]``, N = the CPUs this process may use) through
the engine's public calls, one operation after another. Inputs are
generated from ``--seed`` under ``.perfbench_work/`` and removed at exit.

A run sets up three times (fresh session, engine import, first
operation), warms up with one untimed pass (of the queries, or over a
three-day lake), then times whole passes until ``--seconds`` have passed
and at least two passes ran. Every operation's output is checked
outside its timer.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is a JSON record of the run: pinned environment, versions, host
health, sample counts. A traced run also writes its spans to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "de_project_airflow_etl_spark"
SETUPS = 3
DRIVER_MEM = "4g"
# A run whose timed phase lost more than this share of CPU time to the
# hypervisor is flagged as degraded.
STEAL_LIMIT = 0.05

# Bounded metrics: set-up time, and the CPU seconds one operation costs.
# Wall-clock latency and throughput move with the CPU time a shared host's
# hypervisor steals, which differs from run to run; they are reported in
# every run's record line and as wall.* in a traced run, without a bound.
END_TO_END = {"setup_s": "s", "cpu_s_per_op": "s"}
# Per-operation means unless noted; 0 where a workload does not enter the layer.
PER_LAYER = {
    "session.start_s": "s", "registry.import_s": "s", "warmup_s": "s",
    "tables.load_calls": "count", "tables.load_s": "s",
    "tables.fan_out_calls": "count", "tables.fan_out_s": "s",
    "build_s": "s", "build_jobs": "count", "build_stages": "count",
    "build_tasks": "count", "checkpoint_calls": "count", "checkpoint_s": "s",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "execute_s": "s", "execute_jobs": "count", "execute_stages": "count",
    "execute_tasks": "count", "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes", "spill_bytes": "bytes", "result_rows": "count",
    "streaming.batches": "count", "streaming.start_to_first_progress_s": "s",
    "streaming.add_batch_s": "s", "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "pipeline.ingest_s": "s", "pipeline.validate_raw_s": "s",
    "pipeline.transform_s": "s", "pipeline.publish_s": "s", "pipeline.query_s": "s",
    "pipeline.jobs": "count", "pipeline.files_written": "count",
    "pipeline.raw_bytes": "bytes", "pipeline.silver_bytes": "bytes",
    "pipeline.gold_bytes": "bytes", "pipeline.lake_bytes_per_raw_byte": "ratio",
    "catalog.sync_s": "s", "catalog.partitions": "count", "catalog.sync_growth": "ratio",
    "slope.build": "ratio", "slope.execute": "ratio", "trace.overhead_frac": "ratio",
    "peak_rss_mb": "MB",
    "wall.op_gmean_s": "s", "wall.ops_per_min": "1/min", "wall.rows_per_s": "1/s",
}
# Counter keys the tracer records under another name than the metric.
_RENAMED = {"shuffle_write_bytes": "execute_shuffle_write_bytes",
            "shuffle_read_bytes": "execute_shuffle_read_bytes",
            "spill_bytes": "execute_spill_bytes", "pipeline.jobs": "pipeline_jobs"}


def pin_environment(work: str) -> dict[str, str]:
    """Engine settings that would otherwise follow the host, and every
    temporary location inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_LOF_SALT": "1",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT,
        # every JVM, the launcher's too: temp files in the work directory
        # and no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "pyspark-shell"),
    }
    os.environ.update(env)
    return env


def start_session(work: str):
    from de_project_airflow_etl_spark.session import get_spark
    spark = get_spark(app_name="perfbench")
    spark.conf.set("spark.sql.streaming.checkpointLocation", os.path.join(work, "ckpt"))
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every process under
    it (the JVM and its Python workers). Time the hypervisor steals from
    the host's CPUs is not in it."""
    procs = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # ended meanwhile
            continue
        procs[int(pid)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _peak_rss_mb(spark) -> float:
    """High-water resident memory of the JVM plus this driver process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0


def setup(workload, work: str, layers: dict) -> tuple[object, list[float], list]:
    """Set up ``SETUPS`` times: fresh session, engine entry points, first
    operation. The first set-up also launches the JVM and imports the
    engine."""
    spark, seconds, samples = None, [], []
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work)
        t1 = time.perf_counter()
        workload.engine()
        t2 = time.perf_counter()
        samples.append(workload.probe(spark))
        seconds.append(time.perf_counter() - t0)
        if i == 0:
            layers["session.start_s"] = t1 - t0
            layers["registry.import_s"] = t2 - t1
    return spark, seconds, samples


def _mean(ops: list[dict], key: str) -> float:
    return sum(o["counts"].get(key, 0) for o in ops) / len(ops) if ops else 0.0


def per_layer(workload, tracer, layers: dict, untraced: list, traced: list) -> dict:
    main = [o for o in tracer.ops if o["phase"] == "main"]
    small = [o for o in tracer.ops if o["phase"] == "small"]
    out = {}
    for name in PER_LAYER:
        out[name] = layers.get(name, _mean(main, _RENAMED.get(name, name)))
    stream_ops = [o for o in main if o["counts"].get("streaming.queries")]
    for name in PER_LAYER:
        if name.startswith("streaming."):
            out[name] = _mean(stream_ops, name)
    for layer in ("build", "execute"):
        base = _mean(small, f"{layer}_s")
        out[f"slope.{layer}"] = _mean(main, f"{layer}_s") / base if base else 0.0
    # traced ops are timed around the tracer's bookkeeping too
    u = statistics.mean(s.seconds for s in untraced)
    t = statistics.mean(s.seconds for s in traced)
    out["trace.overhead_frac"] = (t - u) / u
    if getattr(workload, "zone_bytes", None):
        zb = workload.zone_bytes
        out["pipeline.raw_bytes"], out["pipeline.silver_bytes"], out["pipeline.gold_bytes"] = (
            zb["raw"], zb["silver"], zb["gold"])
        out["pipeline.lake_bytes_per_raw_byte"] = sum(zb.values()) / zb["raw"]
        out["catalog.partitions"] = workload.partitions
        syncs = [o["counts"]["catalog.sync_s"] for o in main]
        lake = syncs[-workload.days:]
        # day 1 registers the table; syncs start on day 2
        out["catalog.sync_growth"] = (statistics.mean(lake[-2:])
                                      / statistics.mean(lake[1:3]))
    return out


def latency(timed: list) -> dict[str, float]:
    """Wall-clock figures of the untraced timed phase."""
    ok = [s for s in timed if s.ok]
    per_op: dict[str, list[float]] = {}
    for s in ok:
        per_op.setdefault(s.name, []).append(s.seconds)
    busy = sum(s.seconds for s in ok) or 1.0
    return {
        # geometric mean over operations of each operation's median
        # latency: every query (or lake day) weighs the same, however fast
        # it is and however many passes ran
        "op_gmean_s": statistics.geometric_mean(
            map(statistics.median, per_op.values())) if per_op else 0.0,
        "ops_per_min": 60.0 * len(ok) / busy,
        "rows_per_s": sum(s.rows for s in ok) / busy,
    }


def run(args, work: str, env: dict) -> tuple[dict, dict]:
    sys.path[:0] = [ROOT, HERE]
    import workloads
    workload = workloads.make(args.workload, args.smoke)
    wall = {}
    t0 = time.perf_counter()
    workload.prepare(os.path.join(work, "data"), args.seed, bool(args.trace))
    wall["prepare_s"] = time.perf_counter() - t0

    layers: dict[str, float] = {}
    spark, setups, checked = setup(workload, work, layers)
    try:
        t0 = time.perf_counter()
        checked += workload.warm_up(spark)
        layers["warmup_s"] = time.perf_counter() - t0

        cpu0, load0, tree0 = _cpu_times(), _loadavg(), _tree_cpu_s()
        t0 = time.perf_counter()
        timed = workload.timed(spark, args.seconds)
        wall["timed_s"] = time.perf_counter() - t0
        timed_cpu_s = _tree_cpu_s() - tree0
        metrics: dict[str, float]
        if args.trace:
            from tracing import Tracer
            tracer = Tracer(spark)
            tracer.install()
            try:
                traced = workload.timed(spark, args.seconds, tracer)
                small = workload.timed(spark, 0, tracer, small=True) \
                    if hasattr(workload, "small_sf") else []
            finally:
                tracer.uninstall()
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                     f"trace-{args.workload}-seed{args.seed}.json"))
            metrics = per_layer(workload, tracer, layers, timed, traced)
            metrics["peak_rss_mb"] = _peak_rss_mb(spark)
            timed_all = timed + traced + small
        cpu1, load1 = _cpu_times(), _loadavg()
        peak_rss_mb = _peak_rss_mb(spark)
        versions = {"spark": spark.version, "python": platform.python_version(),
                    "java": spark.sparkContext._jvm.java.lang.System.getProperty(
                        "java.version")}
    finally:
        stop_session(spark)

    wall_figures = latency(timed)
    if args.trace:
        metrics.update({f"wall.{k}": v for k, v in wall_figures.items()})
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            # CPU of the whole timed phase, its output checks included
            "cpu_s_per_op": timed_cpu_s / len(timed),
        }
        timed_all = timed

    import duckdb
    steal = [b - a for a, b in zip(cpu0, cpu1)]
    steal_frac = steal[7] / sum(steal) if sum(steal) else 0.0
    every = checked + timed_all
    failed = sum(not s.ok for s in every)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": env, "versions": dict(versions, duckdb=duckdb.__version__),
        "host": {"loadavg_start": load0, "loadavg_end": load1,
                 "steal_frac": steal_frac, "degraded": steal_frac > STEAL_LIMIT,
                 "steal_limit": STEAL_LIMIT},
        "samples": {"setup": len(setups), "timed": len(timed_all)},
        "ops": {name: [round(s.seconds, 4) for s in timed if s.name == name]
                for name in dict.fromkeys(s.name for s in timed)},
        "peak_rss_mb": peak_rss_mb,
        "latency": wall_figures,
        "wall": dict(wall, setup_s=setups, warmup_s=layers["warmup_s"],
                     check_s=getattr(workload, "check_s", 0.0)),
    }
    units = PER_LAYER if args.trace else END_TO_END
    result = {"correct": failed == 0, "attempted": len(every), "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("analytics_mix", "curation_iterative", "lake_etl"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="seconds-long inputs, for perfbench/selftest.py")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        result, detail = run(args, work, pin_environment(work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
