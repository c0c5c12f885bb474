#!/usr/bin/env python3
"""Open-loop word-stream generator for the streaming workloads.

Runs as its own process, apart from the Spark driver it feeds, so that a
slow query never slows the offered load. It writes one parquet file per tick
into the spool directory (temp name, then an atomic rename; Spark's file
source ignores dot-files) in the `ts timestamp, word string` layout that
`sources.ratecontrol.variable_words_stream` reads.

Each row's `ts` is its scheduled creation time: the rows of tick k are due
evenly across [t0 + k*tick, t0 + (k+1)*tick) and the file is written when
the tick closes. A late tick keeps its due stamps, so a generator stall is
charged to event latency, and the lateness is reported as `late_max_ms`.

Protocol with the benchmark process:
  1. write a small priming file and the `ready` marker;
  2. wait for the `go` marker (the query has committed its first batch);
  3. run the rate schedule;
  4. write the tally JSON (per-key row counts and newest stamps) and exit.

    python3 perfbench/gen.py --seed 1 --spool DIR --go DIR/go --keys 1000 \
        --rates 20000,200000,20000 --phases 5,10,5 --out tally.json
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TICK_S = 0.1
ZIPF_S = 1.1
PRIME_ROWS = 200
GO_TIMEOUT_S = 120.0


def key_names(n_keys: int) -> list[str]:
    return [f"w{i:05d}" for i in range(n_keys)]


def zipf_probabilities(n_keys: int, s: float, rng: np.random.Generator) -> np.ndarray:
    """Zipf(s) weights over n_keys, with ranks shuffled by the seed so the hot
    keys differ from seed to seed."""
    p = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    p /= p.sum()
    return p[rng.permutation(n_keys)]


def rows_due(rates: list[float], phases: list[float], t: float) -> int:
    """Whole rows due by schedule time t (integral of the stepped rate)."""
    total, start = 0.0, 0.0
    for rate, length in zip(rates, phases):
        total += rate * max(0.0, min(t, start + length) - start)
        start += length
    return int(total)


class Spool:
    def __init__(self, spool_dir: str, vocab: pa.Array):
        self.dir = spool_dir
        self.vocab = vocab
        self.seq = 0

    def write(self, idx: np.ndarray, stamps_us: np.ndarray) -> None:
        table = pa.table(
            {
                "ts": pa.array(stamps_us, type=pa.timestamp("us")),
                "word": pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), self.vocab),
            }
        )
        tmp = os.path.join(self.dir, f".inprogress-{self.seq:08d}.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.dir, f"tick-{self.seq:08d}.parquet"))
        self.seq += 1


def wait_for(path: str, deadline_s: float) -> None:
    end = time.monotonic() + deadline_s
    while not os.path.exists(path):
        if time.monotonic() > end:
            raise TimeoutError(f"no {path} within {deadline_s} s")
        time.sleep(0.005)


def run(args: argparse.Namespace) -> dict:
    rng = np.random.default_rng(args.seed)
    rates = [float(r) for r in args.rates.split(",")]
    phases = [float(p) for p in args.phases.split(",")]
    if len(rates) != len(phases):
        raise ValueError("--rates and --phases need the same number of entries")
    n_keys = args.keys
    p = zipf_probabilities(n_keys, ZIPF_S, rng)
    cdf = np.cumsum(p)
    cdf[-1] = 1.0
    spool = Spool(args.spool, pa.array(key_names(n_keys), pa.string()))
    counts = np.zeros(n_keys, dtype=np.int64)
    newest = np.zeros(n_keys, dtype=np.int64)

    def emit(n: int, start_us: int, span_us: int) -> None:
        idx = np.searchsorted(cdf, rng.random(n), side="right").astype(np.int32)
        stamps = start_us + (np.arange(n, dtype=np.int64) * span_us) // max(n, 1)
        spool.write(idx, stamps)
        np.add.at(counts, idx, 1)
        np.maximum.at(newest, idx, stamps)

    emit(PRIME_ROWS, int(time.time() * 1e6), 0)
    open(os.path.join(args.spool, ".ready"), "w").close()
    wait_for(args.go, GO_TIMEOUT_S)

    mono0, wall0_us = time.monotonic(), int(time.time() * 1e6)
    tick_us = int(TICK_S * 1e6)
    n_ticks = int(round(sum(phases) / TICK_S))
    late_max = 0.0
    for k in range(n_ticks):
        due_end = (k + 1) * TICK_S
        pause = mono0 + due_end - time.monotonic()
        if pause > 0:
            time.sleep(pause)
        n = rows_due(rates, phases, due_end) - rows_due(rates, phases, k * TICK_S)
        if n > 0:
            emit(n, wall0_us + k * tick_us, tick_us)
        late_max = max(late_max, time.monotonic() - mono0 - due_end)
    names = key_names(n_keys)
    hit = np.nonzero(counts)[0]
    return {
        "schedule_start_us": wall0_us,
        "phase_bounds_us": [wall0_us + int(sum(phases[:i]) * 1e6) for i in range(len(phases) + 1)],
        "rows": int(counts.sum()),
        "ticks": n_ticks,
        "late_max_ms": late_max * 1000.0,
        "counts": {names[i]: int(counts[i]) for i in hit},
        "newest_us": {names[i]: int(newest[i]) for i in hit},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--spool", required=True)
    ap.add_argument("--go", required=True, help="marker file that starts the schedule")
    ap.add_argument("--out", required=True, help="tally JSON written at the end")
    ap.add_argument("--keys", type=int, required=True)
    ap.add_argument("--rates", required=True, help="rows/s per phase, comma-separated")
    ap.add_argument("--phases", required=True, help="seconds per phase, comma-separated")
    args = ap.parse_args()
    os.makedirs(args.spool, exist_ok=True)
    tally = run(args)
    tmp = args.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(tally, f)
    os.replace(tmp, args.out)


if __name__ == "__main__":
    main()
