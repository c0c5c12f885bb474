"""Self-tests for the benchmark's pure helpers (no Spark session needed).

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import random
from decimal import Decimal

import numpy as np
import pytest

from perfbench import batch, common, gen, streams


def test_percentile_matches_numpy_linear():
    rng = random.Random(7)
    for n in (1, 2, 3, 10, 101):
        xs = [rng.uniform(-5, 5) for _ in range(n)]
        for q in (0, 1, 25, 50, 75, 99, 100):
            assert common.percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_percentile_small_cases():
    assert common.percentile([3, 1, 2], 50) == 2
    assert common.percentile([1, 2], 50) == 1.5
    assert common.median([4.0]) == 4.0
    with pytest.raises(ValueError):
        common.percentile([], 50)


def _span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "trace": "t"}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "root", 0.0, 10.0),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 3.0, 5.0, 0),  # overlaps a: union 1..5
        _span(3, "c", 8.0, 12.0, 0),  # clipped to 8..10
        _span(4, "a", 1.5, 2.0, 1),  # grandchild: only a's self time shrinks
    ]
    st = common.self_times(spans)
    assert st["root"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st["a"] == pytest.approx((3.0 - 0.5) + 0.5)
    assert st["b"] == pytest.approx(2.0)
    assert st["c"] == pytest.approx(4.0)


def test_tracer_nests_and_disables():
    ticks = iter(range(100))
    tr = common.Tracer(enabled=True, clock=lambda: float(next(ticks)))
    with tr.span("outer", trace="q1"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and inner["trace"] == "q1"
    assert common.self_times(tr.spans) == {"outer": 2.0, "inner": 1.0}
    off = common.Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_latency_join_drops_priming_rows():
    emissions = [
        (10.0, 3, [9_000_000, 9_500_000, 8_000_000]),
        (12.0, 1, [11_900_000]),
    ]
    lat = streams.latencies_ms(emissions, start_us=9_000_000)
    assert lat == pytest.approx([1000.0, 500.0, 100.0])


def test_throughput_counts_from_first_emission_in_window():
    emissions = [(0.5, 999, []), (1.0, 100, []), (2.0, 300, []), (3.0, 500, []), (9.0, 7, [])]
    assert streams.throughput(emissions, 1.0, 3.0) == pytest.approx(800 / 2.0)
    assert streams.throughput(emissions, 1.0, 1.5) == 0.0


def test_reconverge_measures_last_change_after_each_step():
    timeline = [(0.0, 500), (1.0, 500), (2.5, 700), (4.0, 900), (5.0, 900), (6.5, 700), (9.0, 700)]
    # step at 2: interval changes at 2.5 and 4.0 -> holds after 2.0 s;
    # step at 6: changes at 6.5 -> 0.5 s
    assert streams.reconverge_s(timeline, [2.0, 6.0], 10.0) == pytest.approx((2.0 + 0.5) / 2)
    assert streams.reconverge_s([(0.0, 500), (5.0, 500)], [1.0], 6.0) == 0.0


def test_conservation_counts_missing_and_surplus_rows():
    tally = {"counts": {"a": 3, "b": 2}, "newest_us": {"a": 10, "b": 20}}
    assert streams.conservation({"a": 3, "b": 2}, {"a": 10, "b": 20}, tally) == (0, 0)
    assert streams.conservation({"a": 1, "c": 4}, {"a": 10, "b": 19}, tally) == (2 + 2 + 4, 1)


def test_plan_metric_aggregation():
    nodes = [
        ("Scan parquet", {"numFiles": 1, "numOutputRows": 1000, "filesSize": 10}),
        ("Exchange", {"shuffleBytesWritten": 400, "shuffleRecordsWritten": 40}),
        ("Exchange", {"shuffleBytesWritten": 100, "shuffleRecordsWritten": 10}),
        ("HashAggregate", {"numOutputRows": 50, "spillSize": 7}),
        ("FlatMapCoGroupsInPandas", {"pythonBootTime": 12, "pythonTotalTime": 30, "pythonDataSent": 5, "pythonDataReceived": 6}),
        ("Project", {}),
    ]
    agg = common.aggregate_plan_metrics(nodes)
    assert agg == {
        "python_boot_ms": 12,
        "python_total_ms": 30,
        "arrow_sent_bytes": 5,
        "arrow_recv_bytes": 6,
        "shuffle_bytes": 500,
        "shuffle_records": 50,
        "spill_bytes": 7,
        "input_rows": 1000,
    }


def test_result_hash_ignores_row_and_column_order():
    h = batch.result_hash(["b", "a"], [(1, "x"), (2.5, None)])
    assert h == batch.result_hash(["a", "b"], [(None, 2.5), ("x", 1)])
    assert h == batch.result_hash(["b", "a"], [(Decimal("2.5"), None), (1, "x")])
    assert h != batch.result_hash(["b", "a"], [(1, "x"), (2.5, "y")])


def test_generator_schedule_and_key_weights():
    assert gen.rows_due([10.0, 100.0], [2.0, 1.0], 0.5) == 5
    assert gen.rows_due([10.0, 100.0], [2.0, 1.0], 2.5) == 70
    assert gen.rows_due([10.0, 100.0], [2.0, 1.0], 99.0) == 120
    p1 = gen.zipf_probabilities(50, 1.1, np.random.default_rng(1))
    p2 = gen.zipf_probabilities(50, 1.1, np.random.default_rng(1))
    assert p1.sum() == pytest.approx(1.0) and (p1 == p2).all()
    assert sorted(p1)[-1] / sorted(p1)[0] == pytest.approx(50**1.1)


def test_sink_absorbs_running_totals_and_deltas():
    running = streams.Sink(True, common.Tracer(False), [])
    running.absorb(["a", "b"], [2, 1], [10, 20], 1.0)
    running.absorb(["a"], [5], [30], 2.0)  # update mode: a's running total
    assert running.totals == {"a": 5, "b": 1} and running.newest == {"a": 30, "b": 20}
    assert [rows for _t, rows, _s in running.emissions] == [3, 3]

    delta = streams.Sink(False, common.Tracer(False), [])
    delta.absorb(["a", "b"], [2, 1], [10, 20], 1.0)
    delta.absorb(["a"], [3], [5], 2.0)  # a flushed bundle: added, older stamp kept out
    assert delta.totals == {"a": 5, "b": 1} and delta.newest == {"a": 10, "b": 20}
    assert [rows for _t, rows, _s in delta.emissions] == [3, 3]
    delta.set_target({"a": 5, "b": 1})
    assert delta.drained.is_set()


def test_adcombine_fold_and_emit():
    import pandas as pd

    ts = pd.to_datetime(["2024-01-01 00:00:01", "2024-01-01 00:00:03"])
    bundle = streams.newest_count_fold(None, pd.DataFrame({"ts": ts}))
    assert bundle == [2, ts[1].value // 1000]
    older = pd.DataFrame({"ts": pd.to_datetime(["2024-01-01"])})
    bundle = streams.newest_count_fold(bundle, older)
    assert bundle == [3, ts[1].value // 1000]
    assert streams.newest_count_emit(("w",), bundle) == [{"word": "w", "cnt": 3, "newest": ts[1].value // 1000}]
