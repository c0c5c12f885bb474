"""Shared pieces of the benchmark: paths, Spark set-up, statistics, spans and
plan metrics.

Everything that talks to Spark reaches the program through its public entry
points (`session.get_spark`, the registry, the stream sources and runners)
or through Spark's own instruments (`QueryPlanningTracker`, SQL metrics,
`StreamingQueryProgress`, the status tracker). Nothing here patches the
program except the memo counters in `batch.py`, which wrap module
attributes from the outside.
"""

from __future__ import annotations

import itertools
import os
import subprocess
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
WORK_ROOT = os.path.join(BENCH_DIR, "_work")
# The heap must fit a 4-core, 15 GB box shared with other jobs; the
# program's own 16g default does not.
DRIVER_MEM = "2g"
SETUP_REPEATS = 3


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work_dir: str) -> None:
    """Point every scratch location of Spark, the JVM and Python workers
    into `work_dir` and fix the session shape. Must run before pyspark is
    imported."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    # No JVM (the spark-submit launcher included) writes its temp or
    # hsperfdata files outside the work dir.
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '{jvm_opts}' pyspark-shell"
    # Python workers start in the JVM's working directory; they import the
    # program's modules by path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def timed_setups(n: int = SETUP_REPEATS):
    """Start a session and run its first job `n` times; return the last
    (fresh) session and the wall time of each set-up. The first set-up also
    launches the JVM; the later ones stop the SparkContext and build a new
    one in the same JVM."""
    from flink_adcom_spark.session import get_spark

    spark, times = None, []
    for _ in range(n):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cores())
        spark.range(0, 100_000, 1, cores()).selectExpr("sum(id) AS s").collect()
        times.append(time.perf_counter() - t0)
    return spark, times


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Shut the py4j gateway down and wait for the JVM it launched, so the
    run ends only after every process it started has ended. The JVM exits
    when its stdin closes; Spark's Python worker daemons exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_times() -> list[int] | None:
    """The machine's cumulative CPU times (/proc/stat), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    `cpu_times` samples: the noise floor of a run on a shared host."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else None


# -- statistics ---------------------------------------------------------------


def percentile(values, q: float) -> float:
    """q-th percentile (0..100) with linear interpolation between closest
    ranks (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


# -- spans --------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent id and a trace id shared by
    the spans of one query or micro-batch. Disabled, `span` records nothing.
    The parent stack is per thread: foreachBatch sinks run on a py4j
    callback thread."""

    def __init__(self, enabled: bool, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float, trace, parent: int | None = None) -> int:
        with self._lock:
            sid = next(self._ids)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "trace": trace}
            )
        return sid

    @contextmanager
    def span(self, name: str, trace=None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": None,
            "name": name,
            "start": self.clock(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "trace": trace if trace is not None else (parent["trace"] if parent else None),
        }
        with self._lock:
            rec["id"] = next(self._ids)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = self.clock()
            stack.pop()


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part of
    its interval that its children cover (overlapping children counted
    once, children clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


# -- Spark plan metrics -------------------------------------------------------

PLAN_METRICS = {
    # SQL metric name -> aggregated key
    "pythonBootTime": "python_boot_ms",
    "pythonTotalTime": "python_total_ms",
    "pythonDataSent": "arrow_sent_bytes",
    "pythonDataReceived": "arrow_recv_bytes",
    "shuffleBytesWritten": "shuffle_bytes",
    "shuffleRecordsWritten": "shuffle_records",
    "spillSize": "spill_bytes",
}


def aggregate_plan_metrics(nodes) -> dict[str, float]:
    """Sum the SQL metrics of a walked plan, given as (node name, {metric:
    value}) pairs. File scans (nodes carrying `numFiles`) contribute their
    output rows as `input_rows`."""
    out = {key: 0 for key in PLAN_METRICS.values()}
    out["input_rows"] = 0
    for _name, metrics in nodes:
        for metric, key in PLAN_METRICS.items():
            out[key] += metrics.get(metric, 0)
        if "numFiles" in metrics:
            out["input_rows"] += metrics.get("numOutputRows", 0)
    return out


def plan_layers(plan: dict) -> dict[str, float]:
    """Per-layer metrics from summed `aggregate_plan_metrics` results."""
    out = {
        "operators.python_boot_ms": plan.get("python_boot_ms", 0),
        "operators.python_total_ms": plan.get("python_total_ms", 0),
        "operators.arrow_sent_bytes": plan.get("arrow_sent_bytes", 0),
        "operators.arrow_recv_bytes": plan.get("arrow_recv_bytes", 0),
        "shuffle.bytes_written": plan.get("shuffle_bytes", 0),
        "shuffle.records_written": plan.get("shuffle_records", 0),
        "shuffle.spill_bytes": plan.get("spill_bytes", 0),
    }
    inputs = plan.get("input_rows", 0)
    out["shuffle.rows_per_input_row"] = out["shuffle.records_written"] / inputs if inputs else 0.0
    return out


def walk_plan(jplan) -> list[tuple[str, dict]]:
    """(node name, {metric: value}) for every node of an executed JVM plan,
    descending through AQE's final plan and each query stage. A reused
    exchange is not descended: its metrics belong to the exchange it
    reuses."""
    out = []
    todo = [jplan]
    while todo:
        p = todo.pop()
        metrics = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append((p.nodeName(), metrics))
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(p.plan())
        elif cls != "ReusedExchangeExec":
            ch = p.children()
            todo.extend(ch.apply(i) for i in range(ch.size()))
    return out


def catalyst_phases(jqe) -> dict[str, float]:
    """Analysis, optimization and planning ms of a JVM QueryExecution."""
    out = {}
    it = jqe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def group_jobs_tasks(sc, group: str) -> tuple[int, int]:
    """Jobs launched under a job group, and the tasks they completed."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            stage = st.getStageInfo(s)
            tasks += stage.numCompletedTasks if stage else 0
    return len(jobs), tasks
