"""Pieces shared by the workloads: session start, latency statistics,
memory readings and the per-layer figures both workload kinds emit."""

from __future__ import annotations

import math
import os
import statistics
import time

import spans as tr

# Working memory for the driver JVM.  Every fixture at the benchmark's
# scale fits many times over; the cap keeps concurrent benchmark
# processes on a shared machine from exhausting memory.
DRIVER_MEM = "2g"


def cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(env) if env.isdigit() else len(os.sched_getaffinity(0))


def start_session(tmp: str):
    """The engine's own SparkSession factory, with every scratch
    location (block manager, warehouse, JVM temp) under ``tmp``."""
    from core2_spark.session import get_spark

    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    spark = get_spark(
        app_name="perfbench",
        cpus=cpus(),
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then end the JVM pyspark started and wait for
    it to exit; it exits when its stdin pipe closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t, out


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and
    its label.  Below twenty samples no percentile above the median has
    ten samples beyond it, so the median is reported, labelled ``p50``
    (the maximum of six pipeline operators moved by a fifth between
    seeds, past any bound the benchmark may set)."""
    n = len(values)
    if n < 20:
        return statistics.median(values), "p50"
    pct = math.floor(100 * (1 - 10 / n))
    xs = sorted(values)
    k = min(n - 1, math.ceil(pct / 100 * n) - 1)
    return xs[k], f"p{pct}"


def latency_metrics(lat: list[float], wall: float) -> dict:
    t, label = tail(lat)
    return {
        "op_p50_s": statistics.median(lat),
        "op_tail_s": t,
        "tail_pct": label,
        "ops_per_s": len(lat) / wall,
        "samples": len(lat),
    }


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb(int(jvm_pid)) + vm_hwm_mb(os.getpid())


def live_heap_mb(spark) -> float:
    """Driver JVM heap in use after a full collection: what the engine
    retains (caches, status store, broadcast state) once work is done."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def dir_bytes(path: str) -> tuple[int, int]:
    """(parquet files, bytes of every file) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return files, size


QUERY_LAYERS = (
    "queries.build_s", "queries.build_jobs",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "exec.wall_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_cpu_s", "exec.task_run_s", "exec.sched_wait_s",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
    "exec.task_skew", "exec.stage_reruns", "exec.useful_stage_frac",
    "plan.exchanges", "plan.range_sorts", "plan.python_nodes",
    "jvm.gc_s", "jvm.heap_live_mb", "process.peak_rss_mb",
)

TXN_LAYERS = (
    "client.commit_p50_s", "client.commit_tail_s",
    "client.read_p50_s", "client.read_tail_s",
    "http_server.self_s", "pgwire_server.self_s", "flight_server.self_s",
    "sql_dialect.plan_s", "basis.acquire_s",
    "engine.commit_s", "sql_dml.compile_s", "engine.commit_jobs",
    "engine.files_per_commit", "engine.bytes_per_commit", "engine.live_files",
    "engine.optimize_s", "engine.optimize_bytes_rewritten", "engine.space_amp",
    "mviews.refresh_s", "mviews.incremental_frac",
    "temporal.read_exec_s",
)


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def query_path_layers(spark, tracer, ops: list[str], dfs: dict, gc_s: float) -> dict:
    """Per-operation means of the query-path layers.  ``ops`` are the
    measured operation ids (job groups ``op`` and ``op:build``);
    ``dfs`` maps each distinct statement to one executed DataFrame."""
    tr.drain_listener_bus(spark)
    per_op, build_jobs = [], 0
    for op in ops:
        built = tr.group_jobs(spark, op + ":build")
        jobs = built + tr.group_jobs(spark, op)
        for j in jobs:
            tracer.add("spark.job", op, j["start"], j["end"])
        build_jobs += len(built)
        per_op.append(tr.exec_summary(jobs))
    build = [s for s in tracer.spans if s["name"] == "queries.build"]
    phases = [tr.catalyst_phases(df) for df in dfs.values()]
    plans = [tr.plan_counts(df) for df in dfs.values()]
    stages = sum(e["stages"] for e in per_op)
    reruns = sum(e["stage_reruns"] for e in per_op)
    n = max(1, len(ops))
    out = {
        "queries.build_s": mean(s["end"] - s["start"] for s in build),
        "queries.build_jobs": build_jobs / len(build) if build else 0.0,
        "catalyst.analysis_s": mean(p["analysis"] for p in phases),
        "catalyst.optimization_s": mean(p["optimization"] for p in phases),
        "catalyst.planning_s": mean(p["planning"] for p in phases),
        "exec.task_skew": statistics.median(e["skew"] for e in per_op) if per_op else 1.0,
        "exec.useful_stage_frac": 1.0 - reruns / stages if stages else 1.0,
        "plan.exchanges": sum(p["exchanges"] for p in plans),
        "plan.range_sorts": sum(p["range_sorts"] for p in plans),
        "plan.python_nodes": sum(p["python_nodes"] for p in plans),
        "jvm.gc_s": gc_s / n,
    }
    for key in ("wall_s", "jobs", "stages", "tasks", "task_cpu_s", "task_run_s",
                "sched_wait_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                "stage_reruns"):
        out[f"exec.{key}"] = sum(e[key] for e in per_op) / n
    return out
