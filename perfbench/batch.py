"""batch_headline: a fixed subset of the registry's `bench=True` queries over
the sf0.01 tables in perfbench/data: one cold pass in a fresh session, then
warm passes until the run's window, opened by the cold pass, closes.

The subset is chosen from per-query profiles at sf0.01 on four cores, to
weight the layers as the whole 47-query suite does. The suite, in sorted
order in one session: cold pass 82.2 s, warm 42.4 s (warm/cold 0.52);
`spec.build` holds 52 % of the cold pass and 35 % of the warm. These eight
queries, run alone: cold 29.8 s, warm 10.6 s (0.35); build 53 % / 43 %.
A short pass pays the JVM's JIT and first-use costs that the suite spreads
over 47 queries, so no subset that fits the time budget reaches the suite's
warm/cold ratio alone: a twelve-query pick that matched the suite's sums
from the queries' in-suite times read 0.29 alone (cold 39.9 s, warm 11.4 s).
This one leans to queries whose warm time stays near their cold time (q179,
q188); adding q10 and q191 reads 0.42 but makes a run about ten seconds
longer, which 22 runs per workload cannot afford. It keeps the suite's first
query, the pandas/Arrow query q179, three builders that launch their own
Spark jobs (q150, q178, q179) and a TPC-H join (q93).

Every result, on every pass, is hashed against the query's DuckDB oracle
outside the timed window. A query that errors or mismatches on any pass is
counted failed and left out of every published time.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from tests import _parity

from . import common

DATA_DIR = os.path.join(common.BENCH_DIR, "data", "sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
QUERIES = (
    "q01_ride_count",
    "q150_covisit_pagerank",
    "q159_bpe_train_merges",
    "q178_quality_classifier",
    "q179_unigram_lm_tokenizer",
    "q188_substring_dedup",
    "q20_tumbling_hourly",
    "q93_tpch_q18_large_orders",
)
MIN_WARM_PASSES = 2


# -- result hashing -----------------------------------------------------------


def result_hash(columns, rows) -> str:
    """Order-insensitive hash of a result, normalised by the repository's
    parity rules (tests/_parity.py): columns sorted by name, rows sorted by
    repr."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    normed = _parity.norm_rows([tuple(r[i] for i in order) for r in rows])
    return hashlib.sha256(repr((cols, normed)).encode()).hexdigest()


def data_fingerprint(data_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(t.encode())
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def oracle_hashes(specs, cache_path: str) -> dict[str, str]:
    """DuckDB result hash per query, cached by oracle SQL text and input
    fingerprint."""
    fp = data_fingerprint(DATA_DIR)
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    keys = {n: hashlib.sha256((specs[n].oracle + "\0" + fp).encode()).hexdigest() for n in QUERIES}
    missing = [n for n in QUERIES if keys[n] not in cache]
    if missing:
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
        for n in missing:
            rel = con.sql(specs[n].oracle)
            cache[keys[n]] = result_hash(list(rel.columns), rel.fetchall())
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return {n: cache[keys[n]] for n in QUERIES}


# -- memo counters ------------------------------------------------------------


def install_memo_counters(counts: dict, tracer) -> None:
    """Count hits and misses of `tables.memo_relation` / `memo_value`. Their
    call sites import them at call time, so replacing the module attribute
    catches every call."""
    from flink_adcom_spark import tables

    def wrap(orig):
        def counted(spark, sf_dir, key, build, *args, **kwargs):
            built = []

            def timed_build():
                built.append(True)
                with tracer.span("tables.memo_build"):
                    return build()

            out = orig(spark, sf_dir, key, timed_build, *args, **kwargs)
            counts["memo_misses" if built else "memo_hits"] += 1
            return out

        return counted

    tables.memo_relation = wrap(tables.memo_relation)
    tables.memo_value = wrap(tables.memo_value)


# -- the workload -------------------------------------------------------------


def _run_pass(spark, specs, expected, tracer, layers, label):
    """One pass over QUERIES. Returns {query: (seconds, result rows) or an
    error string}. With `layers` (a dict) the pass is traced and per-layer
    figures accumulate into it."""
    sc = spark.sparkContext
    out = {}
    for name in QUERIES:
        trace = f"{label}:{name}"
        try:
            with tracer.span("query", trace=trace):
                if layers is not None:
                    sc.setJobGroup(f"{trace}:build", trace)
                t0 = time.perf_counter()
                with tracer.span("queries.build"):
                    df = specs[name].build(spark, DATA_DIR)
                t1 = time.perf_counter()
                if layers is not None:
                    sc.setJobGroup(f"{trace}:exec", trace)
                with tracer.span("executor.run"):
                    rows = df.collect()
                t2 = time.perf_counter()
            if result_hash(df.columns, rows) != expected[name]:
                out[name] = "result differs from the DuckDB oracle"
                continue
            out[name] = (t2 - t0, len(rows))
            if layers is not None:
                _collect_layers(sc, df, trace, t1 - t0, t2 - t1, layers)
        except Exception as e:  # noqa: BLE001 - a failing query is a counted result
            out[name] = f"{type(e).__name__}: {e}"[:300]
    return out


def _collect_layers(sc, df, trace, build_s, exec_s, layers):
    add = lambda k, v: layers.__setitem__(k, layers.get(k, 0) + v)  # noqa: E731
    add("queries.build_s", build_s)
    add("executor.exec_s", exec_s)
    jobs, _ = common.group_jobs_tasks(sc, f"{trace}:build")
    add("queries.build_jobs", jobs)
    jobs, tasks = common.group_jobs_tasks(sc, f"{trace}:exec")
    add("executor.jobs", jobs)
    add("executor.tasks", tasks)
    qe = df._jdf.queryExecution()
    for phase, ms in common.catalyst_phases(qe).items():
        add(f"catalyst.{phase}_ms", ms)
    for k, v in common.aggregate_plan_metrics(common.walk_plan(qe.executedPlan())).items():
        add(f"plan.{k}", v)


def run(seconds: float, trace: bool, tracer, cache_path: str) -> dict:
    from flink_adcom_spark import registry

    specs = registry.all_specs()
    expected = oracle_hashes(specs, cache_path)
    memo = {"memo_hits": 0, "memo_misses": 0}
    if trace:
        install_memo_counters(memo, tracer)

    spark, setups = common.timed_setups()
    layers: dict = {}
    tracer.enabled = trace
    start = time.perf_counter()
    cold = _run_pass(spark, specs, expected, tracer, layers if trace else None, "cold")
    warm = []  # (traced, {query: result})
    while len(warm) < (5 if trace else MIN_WARM_PASSES) or time.perf_counter() - start < seconds:
        # Traced runs measure the tracing overhead inside one session: the
        # first warm pass, still slower while the JIT warms, is untraced and
        # left out; the next ones run untraced, traced, traced, untraced, so
        # a steady drift across them cancels.
        traced = trace and len(warm) % 4 in (2, 3)
        tracer.enabled = traced
        warm.append((traced, _run_pass(spark, specs, expected, tracer, layers if traced else None, f"warm{len(warm)}")))
    tracer.enabled = trace
    spark.stop()

    errors = {}
    passes = [cold] + [res for _t, res in warm]
    for res in passes:
        for name, r in res.items():
            if isinstance(r, str):
                errors.setdefault(name, r)
    good = [n for n in QUERIES if n not in errors]
    for name, err in errors.items():
        print(f"FAILED {name}: {err}", flush=True)

    def pass_s(res):
        return sum(res[n][0] for n in good)

    warm_s = [pass_s(res) for _t, res in warm]
    result = {
        "attempted": len(QUERIES),
        "failed": len(errors),
        "setups": setups,
    }
    if trace:
        result["layers"] = _batch_layers(layers, memo, warm, pass_s)
        return result
    # Each query's latency is its median over the warm passes; the
    # percentiles are taken over the queries of the suite.
    query_ms = [common.median([res[n][0] * 1000.0 for _t, res in warm]) for n in good]
    warm_rows = sum(res[n][1] for _t, res in warm for n in good)
    result["metrics"] = {
        "cold_s": pass_s(cold),
        "warm_s": common.median(warm_s) if good else 0.0,
        "latency_p50_ms": common.percentile(query_ms, 50) if good else 0.0,
        "latency_p99_ms": common.percentile(query_ms, 99) if good else 0.0,
        "throughput_rows_s": warm_rows / sum(warm_s) if good else 0.0,
    }
    print("per query (s):", {n: [round(res[n][0], 2) for res in passes] for n in good}, flush=True)
    print(f"batch passes: cold {pass_s(cold):.3f} s, warm {[round(w, 3) for w in warm_s]} s", flush=True)
    return result


def _batch_layers(layers, memo, warm, pass_s) -> dict:
    traced = [pass_s(res) for t, res in warm[1:] if t]
    untraced = [pass_s(res) for t, res in warm[1:] if not t]
    out = {k: v for k, v in layers.items() if not k.startswith("plan.")}
    out.update(common.plan_layers({k[5:]: v for k, v in layers.items() if k.startswith("plan.")}))
    out["tables.memo_hits"] = memo["memo_hits"]
    out["tables.memo_misses"] = memo["memo_misses"]
    if traced and untraced:
        out["trace.overhead_ms"] = (common.median(traced) - common.median(untraced)) * 1000.0
    return out
