"""stream_combine_step and stream_adcombine_step: a keyed word count with
newest-event stamp, fed by the open-loop generator (gen.py) at a stepped
rate, low -> high -> low, and paced by `SelfPacedAdaptiveRunner` with its
default controller and decision period.

- stream_combine_step runs the declarative combiner: `groupBy(word).agg(
  count, max(ts))` in update mode, the Catalyst partial aggregate before the
  shuffle; no Python worker is involved.
- stream_adcombine_step runs the same fold through `ad_combine_stream`, the
  bundle-and-flush operator over `applyInPandasWithState`.

Both write through a `foreachBatch` sink that collects each micro-batch's
emitted rows, stamps their emission time and keeps per-key totals. After the
schedule ends the run drains until those totals equal the generator's own
tally (or a deadline passes); only then is the query stopped.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from datetime import datetime

from . import common

WORKLOADS = {
    "stream_combine_step": {"keys": 10_000, "rates": (50_000, 1_000_000, 50_000)},
    "stream_adcombine_step": {"keys": 1_000, "rates": (20_000, 200_000, 20_000)},
}
PHASE_SHARES = (0.25, 0.5, 0.25)
START_TIMEOUT_S = 90.0
DRAIN_TIMEOUT_S = 30.0


# -- pure helpers -------------------------------------------------------------


def latencies_ms(emissions, start_us: int) -> list[float]:
    """Per emitted result row: emission time minus the creation stamp of the
    newest event it reflects, for rows whose newest event was created at or
    after `start_us` (the priming rows before the schedule are left out).
    `emissions` holds (emission time in s, rows reflected, newest stamps in
    us) per micro-batch."""
    out = []
    for emit_s, _rows, newest in emissions:
        emit_us = emit_s * 1e6
        out.extend((emit_us - n) / 1000.0 for n in newest if n >= start_us)
    return out


def throughput(emissions, lo_s: float, hi_s: float) -> float:
    """Rows reflected per second by the emissions inside [lo_s, hi_s]: the
    rows of every emission after the first one in the window, over the time
    from the first to the last. Counting from an emission rather than from
    the window edge keeps a bursty flush cadence from quantising the rate."""
    inside = [(t, rows) for t, rows, _ in emissions if lo_s <= t <= hi_s]
    if len(inside) < 2 or inside[-1][0] <= inside[0][0]:
        return 0.0
    return sum(rows for _, rows in inside[1:]) / (inside[-1][0] - inside[0][0])


def reconverge_s(timeline, steps, end: float) -> float:
    """Mean time after each rate step until the controller's interval holds
    for the rest of that phase. `timeline` is (time, interval) samples in
    time order; `steps` the step times; a phase runs to the next step or
    `end`."""
    out = []
    bounds = list(steps) + [end]
    for step, stop in zip(bounds, bounds[1:]):
        last_change, prev = step, None
        for t, interval in timeline:
            if t > stop:
                break
            if prev is not None and interval != prev and t >= step:
                last_change = t
            prev = interval
        out.append(last_change - step)
    return sum(out) / len(out) if out else 0.0


def conservation(totals: dict, newest: dict, tally: dict) -> tuple[int, int]:
    """(rows offered but not reflected or reflected twice, keys whose newest
    stamp differs) between the sink's per-key state and the generator's
    tally."""
    counts = tally["counts"]
    bad_rows = sum(abs(counts.get(k, 0) - totals.get(k, 0)) for k in set(counts) | set(totals))
    bad_newest = sum(1 for k, v in tally["newest_us"].items() if newest.get(k) != v)
    return bad_rows, bad_newest


# -- the sink -----------------------------------------------------------------


class Sink:
    """foreachBatch body. `running` sinks receive update-mode running totals
    per key; otherwise each row is a flushed delta.

    Each batch keeps a handle on its JVM execution (`lastExecution()`), in
    traced and untraced runs alike, so the body the runner times, and the
    interval its controller picks, do not depend on tracing. The plans are
    walked only after the query has stopped (`collect_layers`)."""

    def __init__(self, running: bool, tracer, query_ref: list):
        self.running = running
        self.tracer = tracer
        self.query_ref = query_ref
        self.lock = threading.Lock()
        self.totals: dict[str, int] = {}
        self.newest: dict[str, int] = {}
        self.emissions: list = []
        self.busy_s: dict[int, float] = {}
        self.executions: list = []
        self.layers: dict[str, float] = {}
        self.target: dict | None = None
        self.drained = threading.Event()
        self.batch_id = -1
        self.interval = None  # callable: the controller's interval in ms
        self.timeline: list[tuple[float, int]] = []
        self._jsq = None

    def __call__(self, batch_df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        self.batch_id = batch_id
        t0 = time.time()
        if self.interval is not None:
            self.timeline.append((t0, self.interval()))
        with self.tracer.span("sink.emit", trace=batch_id):
            newest_col = F.unix_micros("newest") if self.running else F.col("newest")
            pdf = batch_df.select("word", "cnt", newest_col.alias("newest")).toPandas()
        self.absorb(pdf["word"].tolist(), pdf["cnt"].tolist(), pdf["newest"].tolist(), time.time())
        self.busy_s[batch_id] = time.time() - t0
        if self._jsq is None and self.query_ref:
            self._jsq = self.query_ref[0]._jsq.streamingQuery()
        if self._jsq is not None:
            self.executions.append(self._jsq.lastExecution())

    def absorb(self, words, cnts, stamps, emit_t: float) -> None:
        """Fold one batch's emitted rows into the per-key totals and newest
        stamps, and record the emission (time, rows it reflects, stamps)."""
        with self.lock:
            if self.running:
                rows = sum(c - self.totals.get(w, 0) for w, c in zip(words, cnts))
                self.totals.update(zip(words, cnts))
            else:
                rows = sum(cnts)
                for w, c in zip(words, cnts):
                    self.totals[w] = self.totals.get(w, 0) + c
            for w, n in zip(words, stamps):
                if n > self.newest.get(w, 0):
                    self.newest[w] = n
            self.emissions.append((emit_t, rows, stamps))
            if self.target is not None and self.totals == self.target:
                self.drained.set()

    def collect_layers(self) -> None:
        """Catalyst phases and plan metrics of every batch's execution,
        summed; the walk's own time is the tracing instruments' cost."""
        t0 = time.perf_counter()
        for qe in self.executions:
            if qe is None:
                continue
            for phase, ms in common.catalyst_phases(qe).items():
                self.layers[f"catalyst.{phase}_ms"] = self.layers.get(f"catalyst.{phase}_ms", 0) + ms
            for k, v in common.aggregate_plan_metrics(common.walk_plan(qe.executedPlan())).items():
                self.layers[f"plan.{k}"] = self.layers.get(f"plan.{k}", 0) + v
        self.layers["trace.overhead_ms"] = (time.perf_counter() - t0) * 1000.0

    def set_target(self, counts: dict) -> None:
        with self.lock:
            self.target = counts
            if self.totals == counts:
                self.drained.set()


class Pacer:
    """The runner's injectable sleep, timed."""

    def __init__(self, tracer, sink: Sink):
        self.tracer = tracer
        self.sink = sink
        self.total_s = 0.0

    def __call__(self, seconds: float) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("adaptive.pacing", trace=self.sink.batch_id):
            time.sleep(seconds)
        self.total_s += time.perf_counter() - t0


def newest_count_fold(value, pdf):
    """Bundle = [rows seen, newest creation stamp in us]."""
    cnt, newest = value or (0, 0)
    return [cnt + len(pdf), max(newest, int(pdf["ts"].max().value // 1000))]


def newest_count_emit(key, value):
    return [{"word": key[0], "cnt": int(value[0]), "newest": int(value[1])}]


# -- the workload -------------------------------------------------------------


def _start_query(workload, spark, spool, ckpt, runner, sink):
    from pyspark.sql import functions as F

    from flink_adcom_spark.sources.ratecontrol import variable_words_stream
    from flink_adcom_spark.streaming.adcombine import ad_combine_stream

    stream = variable_words_stream(spark, spool)
    if workload == "stream_combine_step":
        out = stream.groupBy("word").agg(F.count("*").alias("cnt"), F.max("ts").alias("newest"))
        mode = "update"
    else:
        out = ad_combine_stream(
            stream, ["word"], newest_count_fold, newest_count_emit, "word string, cnt long, newest long"
        )
        mode = "append"
    return (
        out.writeStream.outputMode(mode)
        .foreachBatch(runner.paced(sink))
        .option("checkpointLocation", ckpt)
        .start()
    )


def _wait(cond, timeout: float, what: str, gen=None) -> None:
    end = time.monotonic() + timeout
    while not cond():
        if gen is not None and gen.poll() not in (None, 0):
            raise RuntimeError(f"generator exited with {gen.returncode} while waiting for {what}")
        if time.monotonic() > end:
            raise TimeoutError(f"timed out after {timeout} s waiting for {what}")
        time.sleep(0.02)


def run(workload: str, seed: int, seconds: float, trace: bool, tracer, work: str) -> dict:
    from flink_adcom_spark.streaming.adaptive import SelfPacedAdaptiveRunner

    cfg = WORKLOADS[workload]
    spool, ckpt = os.path.join(work, "spool"), os.path.join(work, "ckpt")
    go, tally_path = os.path.join(work, "go"), os.path.join(work, "tally.json")
    phases = [seconds * s for s in PHASE_SHARES]
    tracer.clock = time.time

    spark, setups = common.timed_setups()
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    gen = subprocess.Popen(
        [
            sys.executable, os.path.join(common.BENCH_DIR, "gen.py"),
            "--seed", str(seed), "--spool", spool, "--go", go, "--out", tally_path,
            "--keys", str(cfg["keys"]),
            "--rates", ",".join(str(r) for r in cfg["rates"]),
            "--phases", ",".join(f"{p:.3f}" for p in phases),
        ]
    )  # fmt: skip
    query_ref: list = []
    query = None
    try:
        _wait(lambda: os.path.exists(os.path.join(spool, ".ready")), START_TIMEOUT_S, "the priming file", gen)
        sink = Sink(workload == "stream_combine_step", tracer, query_ref)
        pacer = Pacer(tracer, sink)
        runner = SelfPacedAdaptiveRunner(sleep=pacer)
        sink.interval = lambda: runner.controller.interval_ms
        t0 = time.perf_counter()
        query = _start_query(workload, spark, spool, ckpt, runner, sink)
        build_s = time.perf_counter() - t0
        query_ref.append(query)
        _wait(lambda: query.lastProgress is not None or query.exception() is not None, START_TIMEOUT_S, "the first batch")
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        cold_s = time.perf_counter() - t0
        open(go, "w").close()
        gen.wait(timeout=seconds + START_TIMEOUT_S)
        if gen.returncode != 0:
            raise RuntimeError(f"generator exited with {gen.returncode}")
        with open(tally_path) as f:
            tally = json.load(f)
        sink.set_target(tally["counts"])
        sink.drained.wait(DRAIN_TIMEOUT_S)
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        progress = [json.loads(p.json) for p in query.recentProgress]
        jobs_tasks = common.group_jobs_tasks(spark.sparkContext, str(query.runId)) if trace else (0, 0)
        query.stop()
        query = None
        if trace:
            with tracer.span("trace.instrument"):
                sink.collect_layers()
        sink.executions.clear()
    finally:
        if query is not None:
            query.stop()
        if gen.poll() is None:
            gen.kill()
        gen.wait()
        spark.stop()

    with sink.lock:
        bad_rows, bad_newest = conservation(sink.totals, sink.newest, tally)
        emissions = list(sink.emissions)
    if bad_rows or bad_newest:
        print(f"CONSERVATION: {bad_rows} rows and {bad_newest} newest stamps differ from the tally", flush=True)
    b = [x / 1e6 for x in tally["phase_bounds_us"]]
    # The whole offered load once the query is warm: sink busy time of
    # every batch after the first.
    warm = [s for bid, s in sink.busy_s.items() if bid > min(sink.busy_s)]
    lat = latencies_ms(emissions, tally["schedule_start_us"])
    result = {
        "attempted": tally["rows"],
        "failed": bad_rows,
        "correct": bad_rows == 0 and bad_newest == 0,
        "setups": setups,
    }
    print(
        f"{workload}: offered {tally['rows']} rows, batches {len(progress)}, "
        f"late_max {tally['late_max_ms']:.1f} ms, final interval {runner.controller.interval_ms} ms",
        flush=True,
    )
    if trace:
        result["layers"] = _stream_layers(
            progress, sink, pacer, runner, b, tally, build_s, jobs_tasks, tracer
        )
        return result
    result["metrics"] = {
        "cold_s": cold_s,
        "warm_s": sum(warm),
        "latency_p50_ms": common.percentile(lat, 50) if lat else 0.0,
        "latency_p99_ms": common.percentile(lat, 99) if lat else 0.0,
        "throughput_rows_s": throughput(emissions, b[1], b[2]),
    }
    return result


def _progress_time(p) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


# Order in which a micro-batch spends the durations its progress reports.
PROGRESS_SPANS = (
    ("latestOffset", "sources.latest_offset"),
    ("walCommit", "streaming.wal_commit"),
    ("getBatch", "sources.get_batch"),
    ("queryPlanning", "streaming.query_planning"),
    ("addBatch", "streaming.add_batch"),
    ("commitOffsets", "streaming.commit_offsets"),
)


def _progress_spans(progress, tracer) -> None:
    """Lay each batch's reported durations out as spans under one trigger
    span, and hang the sink's own spans of that batch under its addBatch."""
    sink_spans = {}
    for s in tracer.spans:
        if s["parent"] is None:
            sink_spans.setdefault(s["trace"], []).append(s)
    for p in progress:
        d, bid = p["durationMs"], p["batchId"]
        start = _progress_time(p)
        root = tracer.add("streaming.trigger", start, start + d.get("triggerExecution", 0) / 1000.0, bid)
        t = start
        for key, name in PROGRESS_SPANS:
            dur = d.get(key, 0) / 1000.0
            sid = tracer.add(name, t, t + dur, bid, root)
            if key == "addBatch":
                for s in sink_spans.get(bid, ()):
                    s["parent"] = sid
            t += dur


def _stream_layers(progress, sink, pacer, runner, b, tally, build_s, jobs_tasks, tracer) -> dict:
    dur = lambda key: sum(p["durationMs"].get(key, 0) for p in progress)  # noqa: E731
    data = [p for p in progress if p["numInputRows"] > 0]
    states = [s for p in progress for s in p.get("stateOperators", [])]
    last_states = progress[-1].get("stateOperators", []) if progress else []
    decisions = runner.report.decisions
    lay = sink.layers
    _progress_spans(progress, tracer)
    out = {
        "queries.build_s": build_s,
        "executor.exec_s": sum(sink.busy_s.values()),
        "executor.jobs": jobs_tasks[0],
        "executor.tasks": jobs_tasks[1],
        **common.plan_layers({k[5:]: v for k, v in lay.items() if k.startswith("plan.")}),
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.get_batch_ms": dur("getBatch"),
        "streaming.batches": len(progress),
        "streaming.rows_per_batch": sum(p["numInputRows"] for p in data) / len(data) if data else 0.0,
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "adaptive.pacing_sleep_s": pacer.total_s,
        "controller.decisions": len(decisions),
        "controller.interval_changes": sum(1 for d in decisions if d.changed),
        "controller.final_interval_ms": runner.controller.interval_ms,
        "controller.reconverge_s": reconverge_s(sink.timeline, b[1:3], b[3]),
        "state.rows_total": sum(s.get("numRowsTotal", 0) for s in last_states),
        "state.memory_bytes": sum(s.get("memoryUsedBytes", 0) for s in last_states),
        "state.commit_ms": sum(s.get("commitTimeMs", 0) for s in states),
        "gen.late_max_ms": tally["late_max_ms"],
    }
    for k in ("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms", "trace.overhead_ms"):
        out[k] = lay.get(k, 0)
    return out
