#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload batch_headline --seed 1 --seconds 30 --trace 0

Run it from the repository root. With `--trace 0` the result carries the
end-to-end metrics (BENCHMARK.json `end_to_end`); with `--trace 1` it
carries the per-layer metrics (`per_layer`), derived from spans written to
perfbench/_work/spans/ and from Spark's own instruments. End-to-end numbers
come from untraced runs only.

The last line is one JSON object:
    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": number, "unit": str}}}
Any error exits non-zero without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

BATCH = "batch_headline"
STREAMS = ("stream_combine_step", "stream_adcombine_step")


def spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=(BATCH, *STREAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench = spec()
    work = os.path.join(common.WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    common.prepare_env(work)
    os.chdir(work)
    cpu0 = common.cpu_times()
    try:
        import flink_adcom_spark  # noqa: F401 - fail fast outside a full checkout

        from perfbench import batch, streams

        tracer = common.Tracer(enabled=bool(args.trace))
        print(f"config: local[{common.cores()}], driver memory {common.DRIVER_MEM}, "
              f"workload {args.workload}, seed {args.seed}, {args.seconds:g} s", flush=True)
        if args.workload == BATCH:
            res = batch.run(args.seconds, bool(args.trace), tracer, os.path.join(common.WORK_ROOT, "oracle-cache.json"))
            res.setdefault("correct", res["failed"] == 0)
        else:
            res = streams.run(args.workload, args.seed, args.seconds, bool(args.trace), tracer, work)
    finally:
        if "pyspark" in sys.modules:
            common.stop_jvm()
        os.chdir(common.ROOT)
        shutil.rmtree(work, ignore_errors=True)

    setups = res["setups"]
    steal = common.steal_share(cpu0, common.cpu_times())
    print(f"set-ups (s): {[round(s, 3) for s in setups]}; "
          f"cpu steal over the run: {'n/a' if steal is None else f'{steal:.1%}'}", flush=True)
    if args.trace:
        spans_dir = os.path.join(common.WORK_ROOT, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        with open(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(tracer.spans, f)
        values = dict(res["layers"])
        for name, s in common.self_times(tracer.spans).items():
            values[f"self.{name}_s"] = s
        wanted = bench["per_layer"]
    else:
        values = dict(res["metrics"], setup_s=common.median(setups))
        wanted = bench["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}", flush=True)
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
