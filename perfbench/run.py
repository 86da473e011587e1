#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload interactive|pipeline|txn \\
        --seed N --seconds S --trace 0|1 [--scale 0.01]

Run from the repository root.  The workload's inputs are generated from
``--seed``; every scratch file (fixtures, engine roots, Spark local
dirs, temp files) lives under ``.perfbench/`` in the repository root.
Human-readable lines come first; the last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` with
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  The exit code is non-zero when any operation failed
or any correctness check did not pass.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

END_TO_END_UNITS = {
    "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "ops_per_s": "1/s",
}


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_frac", "_skew", "_amp")):
        return "ratio"
    return "count"


def _isolate(tmp: str) -> None:
    """Point every temp-file location this process and its children
    use at ``tmp`` before pyspark starts the JVM."""
    os.makedirs(tmp, exist_ok=True)
    for var in ("TMPDIR", "TEMP", "TMP", "SPARK_LOCAL_DIRS"):
        os.environ[var] = tmp
    # the launcher JVM spark-submit starts first would otherwise write
    # its perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    ).strip()
    import tempfile

    tempfile.tempdir = tmp


def _canary_ms() -> float:
    """Wall time of a fixed single-core loop: a reading of how busy
    the machine is, stamped on the run and never used to drop it."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return (time.perf_counter() - t) * 1000.0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs; steal is time the hypervisor
    gave the CPUs to another guest."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _stamp(args) -> dict:
    import pyspark

    import common

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "nproc": len(os.sched_getaffinity(0)), "cpus": common.cpus(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": os.getloadavg(), "canary_ms_before": _canary_ms(),
        "cpu_ticks_before": _cpu_ticks(),
        "git_commit": _git_commit(), "pyspark": pyspark.__version__,
    }


def _overhead(stamp: dict, traced: dict) -> str:
    """Traced op_p50_s against the median of the untraced runs of the
    same workload, length and scale in the results directory."""
    base = []
    for path in glob.glob(os.path.join(STATE, "results", f"{stamp['workload']}-t0-*.json")):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("latency") and all(
            rec["stamp"][k] == stamp[k] for k in ("seconds", "scale")
        ):
            base.append(rec["latency"]["op_p50_s"])
    if not base:
        return "n/a (no untraced run of this workload recorded yet)"
    ratio = traced["op_p50_s"] / statistics.median(base) - 1.0
    return f"{ratio:+.1%} op_p50_s vs the median of {len(base)} untraced runs"


def main() -> int:
    t_main = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("interactive", "pipeline", "txn"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.005,
                    help="fixture scale factor (lineitem ~ 600k x scale rows)")
    args = ap.parse_args()

    tmp = os.path.join(STATE, "tmp", f"{args.workload}-{os.getpid()}")
    _isolate(tmp)
    sys.path.insert(0, ROOT)
    import core2_spark  # noqa: F401 — the program under test must be present

    import spans

    stamp = _stamp(args)
    stamp["startup_s"] = time.perf_counter() - t_main
    tracer = spans.Tracer() if args.trace else None
    data_root = os.path.join(STATE, "data")
    try:
        if args.workload == "txn":
            import txn_workload

            res = txn_workload.run(args, tmp, data_root, tracer)
        else:
            import query_workload as qw

            res = qw.run(args, tmp, data_root, tracer)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    stamp["run_s"] = time.perf_counter() - t_main
    stamp["canary_ms_after"] = _canary_ms()
    stamp["loadavg_after"] = os.getloadavg()
    steal, total = (a - b for a, b in zip(_cpu_ticks(), stamp.pop("cpu_ticks_before")))
    stamp["cpu_steal_frac"] = steal / max(1, total)

    lat = res["latency"]
    setup_s = sum(res["setup"].values())
    failed = len(res["failures"])
    attempted = max(1, res["attempted"])
    print("stamp " + json.dumps(stamp))
    print("setup " + " ".join(f"{k}={v:.3f}" for k, v in res["setup"].items())
          + f" total={setup_s:.3f}")
    if lat:
        print(f"op_p50_s={lat['op_p50_s']:.4f} s  op_tail_s={lat['op_tail_s']:.4f} s "
              f"({lat['tail_pct']})  ops_per_s={lat['ops_per_s']:.4f} 1/s  "
              f"samples={lat['samples']}")
    for k, v in res.get("extra", {}).items():
        print(f"{k}={v}")
    print(f"peak_rss_mb={res['peak_rss_mb']:.1f} MB  heap_live_mb={res['heap_live_mb']:.1f} MB  "
          f"failed_frac={failed / attempted:.4f} "
          f"({failed}/{attempted})")
    print("checks " + json.dumps(res["checks"]))
    for f in res["failures"]:
        print("FAILED " + f)

    if args.trace:
        print(f"{'span':28s} {'count':>6s} {'total_s':>10s} {'self_s':>10s}")
        for name, count, total, own in spans.layer_table(tracer.spans):
            print(f"{name:28s} {count:6d} {total:10.3f} {own:10.3f}")
        if lat:
            print("tracing overhead: " + _overhead(stamp, lat))
        import common

        layers = {**res["layers"], "process.peak_rss_mb": res["peak_rss_mb"],
                  "jvm.heap_live_mb": res["heap_live_mb"]}
        metrics = {
            k: {"value": float(layers.get(k, 0.0)), "unit": _layer_unit(k)}
            for k in common.QUERY_LAYERS + common.TXN_LAYERS
        }
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_s": lat["op_p50_s"] if lat else 0.0,
            "op_tail_s": lat["op_tail_s"] if lat else 0.0,
            "ops_per_s": lat["ops_per_s"] if lat else 0.0,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}

    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    record = os.path.join(
        STATE, "results", f"{args.workload}-t{args.trace}-{args.seed}-{time.time_ns()}.json"
    )
    with open(record, "w") as f:
        json.dump({"stamp": stamp, **{k: v for k, v in res.items() if k != "failures"},
                   "failures": res["failures"]}, f, default=str)
    correct = failed == 0 and lat is not None
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
