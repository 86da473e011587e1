"""In-memory spans and Spark status-store readers for the traced run.

A span is ``{id, name, op, parent, start, end}`` with wall-clock epoch
seconds, so spans recorded in Python line up with the JVM's job and
stage timestamps.  Every span of one client operation carries the same
``op`` id; the operation's Spark jobs are tagged with that id through
the job group and are added as ``spark.job`` spans after the run.
"""

from __future__ import annotations

import itertools
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> dict | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, op: str | None = None, parent: int | None = None):
        """Time the block as a child of this thread's innermost span
        (or of ``parent``, for a caller on another thread)."""
        top = self.current()
        rec = {
            "id": next(self._ids),
            "name": name,
            "op": op if op is not None else (top["op"] if top else None),
            "parent": parent if parent is not None else (top["id"] if top else None),
            "start": time.time(),
            "end": None,
        }
        self._stack().append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack().pop()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, op: str, start: float, end: float) -> dict:
        """Record a span measured elsewhere (a Spark job); its parent is
        the innermost span of ``op`` that covers its start."""
        covering = [
            s for s in self.spans
            if s["op"] == op and s["start"] <= start <= s["end"]
        ]
        parent = max(covering, key=lambda s: s["start"])["id"] if covering else None
        rec = {"id": next(self._ids), "name": name, "op": op, "parent": parent,
               "start": start, "end": max(start, end)}
        with self._lock:
            self.spans.append(rec)
        return rec


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], ())
        ]
        covered = union_length([k for k in kids if k[1] > k[0]])
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


def layer_table(spans: list[dict]) -> list[tuple[str, int, float, float]]:
    """(span name, count, total s, self s) rows, largest self first."""
    own = self_times(spans)
    rows: dict[str, list] = {}
    for s in spans:
        r = rows.setdefault(s["name"], [0, 0.0, 0.0])
        r[0] += 1
        r[1] += s["end"] - s["start"]
        r[2] += own[s["id"]]
    return sorted(((k, *v) for k, v in rows.items()), key=lambda r: -r[3])


# -- Spark status store ------------------------------------------------


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def drain_listener_bus(spark) -> None:
    """Wait until the status store has seen every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_jobs(spark, group: str) -> list[dict]:
    """Jobs of one job group, each with its stages' metrics."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(jid)
        start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        if start is None or end is None:
            continue
        stages = []
        for sid in _seq(jd.stageIds()):
            attempts = store.stageData(
                sid, False, sc._jvm.java.util.ArrayList(), False, _quantiles(sc, ())
            )
            for sd in _seq(attempts):
                if str(sd.status()) != "COMPLETE":
                    continue
                stages.append(_stage_record(sc, store, sd))
        jobs.append({"job": jid, "start": start, "end": end, "stages": stages})
    return jobs


def _quantiles(sc, qs):
    arr = sc._gateway.new_array(sc._jvm.double, len(qs))
    for i, q in enumerate(qs):
        arr[i] = q
    return arr


def _stage_record(sc, store, sd) -> dict:
    sub = _opt_ms(sd.submissionTime())
    first = _opt_ms(sd.firstTaskLaunchedTime())
    skew = None
    summary = store.taskSummary(sd.stageId(), sd.attemptId(), _quantiles(sc, (0.5, 1.0)))
    if summary.isDefined():
        dur = _seq(summary.get().executorRunTime())
        if dur and dur[0] > 0:
            skew = dur[1] / dur[0]
    return {
        "stage": sd.stageId(),
        "attempt": sd.attemptId(),
        "tasks": sd.numTasks(),
        "run_s": sd.executorRunTime() / 1000.0,
        "cpu_s": sd.executorCpuTime() / 1e9,
        "sched_wait_s": (first - sub) if sub is not None and first is not None else 0.0,
        "shuffle_read_mb": sd.shuffleReadBytes() / 2**20,
        "shuffle_write_mb": sd.shuffleWriteBytes() / 2**20,
        "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20,
        "skew": skew,
        "rdds": frozenset(int(x) for x in _seq(sd.rddIds())),
    }


def exec_summary(jobs: list[dict]) -> dict:
    """Per-operation execution figures from its jobs' stages.  A stage
    that shares an RDD with an earlier stage of the same operation
    re-executes that plan fragment (e.g. a range-sort sampling job)."""
    stages = [st for j in jobs for st in j["stages"]]
    seen: set[int] = set()
    reruns = 0
    for st in sorted(stages, key=lambda s: s["stage"]):
        if st["rdds"] & seen:
            reruns += 1
        seen |= st["rdds"]
    skews = [st["skew"] for st in stages if st["skew"] is not None]
    return {
        "wall_s": union_length([(j["start"], j["end"]) for j in jobs]),
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(st["tasks"] for st in stages),
        "task_cpu_s": sum(st["cpu_s"] for st in stages),
        "task_run_s": sum(st["run_s"] for st in stages),
        "sched_wait_s": sum(st["sched_wait_s"] for st in stages),
        "shuffle_read_mb": sum(st["shuffle_read_mb"] for st in stages),
        "shuffle_write_mb": sum(st["shuffle_write_mb"] for st in stages),
        "spill_mb": sum(st["spill_mb"] for st in stages),
        "skew": statistics.median(skews) if skews else 1.0,
        "stage_reruns": reruns,
    }


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per QueryPlanningTracker phase of ``df``'s own query
    execution, forcing optimization and planning if they have not run."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = 0.0 if p.isEmpty() else p.get().durationMs() / 1000.0
    return out


_PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow", "MapInPandas", "MapInArrow", "PythonMapInArrow",
    "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas",
    "FlatMapGroupsInPandasWithState", "ArrowWindowPython", "PythonUDTF",
    "BatchEvalPythonUDTF", "ArrowEvalPythonUDTF",
)


def plan_counts(df) -> dict[str, int]:
    """Exchanges, range-partition exchanges without a LIMIT above them,
    and Python nodes in ``df``'s physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    limited = any("TakeOrderedAndProject" in ln or "Limit" in ln for ln in lines)
    names = [ln.strip(" :+-*()0123456789").split(" ")[0].split("(")[0] for ln in lines]
    return {
        "exchanges": sum(1 for ln in lines if "Exchange " in ln and "Reused" not in ln),
        "range_sorts": 0 if limited else sum(1 for ln in lines if "rangepartitioning" in ln),
        "python_nodes": sum(1 for n in names if n in _PYTHON_NODES),
    }


def gc_seconds(spark) -> float:
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0
