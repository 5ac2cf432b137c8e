"""Unit tests for the benchmark's own arithmetic and its metric names.
No Spark needed: ``python3 -m pytest perfbench/tests/test_stats.py``."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench import run
from perfbench.sparkstats import parse_metric, plan_totals, stage_totals
from perfbench.stats import (
    METRIC_NAME,
    TAIL_MIN_BEYOND,
    Span,
    Tracer,
    self_time_by_layer,
    self_times,
    tail_percentile,
    tail_value,
)

BENCHMARK = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


# ------------------------------------------------------------ tail rule

@pytest.mark.parametrize("n,p", [(20, 50), (25, 60), (40, 75), (100, 90), (1000, 99), (5000, 99)])
def test_tail_percentile_known_values(n, p):
    assert tail_percentile(n) == p


def test_tail_percentile_is_highest_with_ten_beyond():
    for n in range(20, 2000):
        p = tail_percentile(n)
        assert n * (100 - p) / 100 >= TAIL_MIN_BEYOND
        if p < 99:
            assert n * (100 - (p + 1)) / 100 < TAIL_MIN_BEYOND


@pytest.mark.parametrize("n", [0, 1, 10, 19])
def test_tail_percentile_needs_twenty_samples(n):
    assert tail_percentile(n) is None


def test_tail_value_is_nearest_rank_and_leaves_ten_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100, shuffled order
    values = values[50:] + values[:50]
    value, p, n = tail_value(values)
    assert (p, n) == (90, 100)
    assert value == 90.0
    assert sum(v > value for v in values) == TAIL_MIN_BEYOND


def test_tail_value_falls_back_to_median_below_twenty_samples():
    value, p, n = tail_value([3.0, 1.0, 2.0, 10.0])
    assert (value, p, n) == (2.5, 50, 4)


def test_tail_value_rejects_empty():
    with pytest.raises(ValueError):
        tail_value([])


# ------------------------------------------------------------ self time

def _span(i, name, parent, start, end):
    return Span(i, name, "t", parent, start, end)


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, "op", None, 0.0, 10.0),
        _span(1, "builder", 0, 1.0, 4.0),
        _span(2, "action", 0, 5.0, 9.0),
        _span(3, "fill", 1, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 3.0, 1: 2.0, 2: 4.0, 3: 1.0})
    # self times partition the root span
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_by_layer_sums_spans_of_one_name():
    spans = [
        _span(0, "pass", None, 0.0, 10.0),
        _span(1, "op", 0, 0.0, 4.0),
        _span(2, "op", 0, 5.0, 10.0),
        _span(3, "sql.action", 1, 1.0, 4.0),
        _span(4, "sql.action", 2, 5.0, 9.0),
    ]
    assert self_time_by_layer(spans) == pytest.approx(
        {"pass": 1.0, "op": 2.0, "sql.action": 7.0}
    )


def test_tracer_nests_spans_and_shares_trace_id():
    tr = Tracer(True)
    with tr.span("op", trace_id="perfbench-1"):
        with tr.span("registry.builder"):
            pass
    op, builder = tr.spans
    assert builder.parent == op.span_id and builder.trace_id == "perfbench-1"
    assert op.start <= builder.start <= builder.end <= op.end


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op") as sp:
        assert sp is None
    assert tr.spans == []


# ------------------------------------------------------- layer readers

@pytest.mark.parametrize("text,value", [
    ("60,000", 60000.0),
    ("319 ms", 319.0),
    ("2.6 s", 2600.0),
    ("852.0 B", 852.0),
    ("1018.0 KiB", 1018.0 * 1024),
    ("total (min, med, max (stageId: taskId))\n110 ms (0 ms, 4 ms, 48 ms (stage 7.0: task 6))", 110.0),
    ("total (min, med, max (stageId: taskId))\n445.1 KiB (53.9 KiB, 56.0 KiB, 57.8 KiB (stage 7.0: task 8))",
     445.1 * 1024),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_plan_totals_picks_layer_nodes():
    nodes = [
        ("Scan parquet ", {"scan time": "12 ms", "number of output rows": "5"}),
        ("MapInPandas", {"data sent to Python workers": "1.0 KiB",
                         "data returned from Python workers": "512.0 B",
                         "number of output rows": "500"}),
        ("BroadcastExchange", {"data size": "2.0 MiB", "time to build": "7 ms"}),
        ("HashAggregate", {"avg hash probes per key": "avg (min, med, max)\n(1, 1, 1)"}),
    ]
    out = plan_totals(nodes)
    assert out["io.scan_time_ms"] == 12.0
    assert (out["udf.python_bytes_sent"], out["udf.python_bytes_received"], out["udf.python_rows"]) == (
        1024.0, 512.0, 500.0)
    assert (out["broadcast.bytes"], out["broadcast.build_ms"]) == (2 * 1024 * 1024, 7.0)


def test_stage_totals_splits_mr_map_and_reduce():
    base = dict.fromkeys(
        ("numTasks", "inputBytes", "inputRecords", "shuffleWriteBytes", "shuffleReadBytes",
         "shuffleWriteRecords", "shuffleFetchWaitTime", "executorRunTime", "executorCpuTime",
         "jvmGcTime", "resultSize", "outputBytes"), 0)
    map_stage = {**base, "numTasks": 2, "inputBytes": 100, "shuffleWriteBytes": 50,
                 "shuffleWriteRecords": 4, "executorRunTime": 30}
    reduce_stage = {**base, "numTasks": 3, "shuffleReadBytes": 50, "executorRunTime": 20,
                    "outputBytes": 9}
    out = stage_totals([map_stage, reduce_stage], mr=True)
    assert (out["sql.stages"], out["sql.tasks"], out["io.scan_tasks"]) == (2, 5, 2)
    assert (out["mr.map_ms"], out["mr.reduce_ms"], out["mr.shuffle_records"]) == (30, 20, 4)
    assert (out["warehouse.output_bytes"], out["warehouse.write_ms"]) == (9, 20)
    assert stage_totals([map_stage], mr=False)["mr.map_ms"] == 0


def test_stream_metrics_sum_durations_and_keep_last_state():
    from perfbench.workloads import _stream_metrics

    def batch(add, wal, state_rows, mem):
        return {"durationMs": {"addBatch": add, "getBatch": 1, "queryPlanning": 2, "walCommit": wal},
                "stateOperators": [{"numRowsTotal": state_rows, "memoryUsedBytes": mem}]}

    out = _stream_metrics([batch(100, 10, 40, 4000), batch(120, 12, 70, 6000)])
    assert (out["streaming.add_batch_ms"], out["streaming.wal_commit_ms"]) == (220, 22)
    assert (out["streaming.get_batch_ms"], out["streaming.query_planning_ms"]) == (2, 4)
    assert (out["streaming.state_rows"], out["streaming.state_memory_bytes"]) == (70, 6000)


# ------------------------------------------------------------ metric names

def test_metric_names_are_well_formed_and_unique():
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in BENCHMARK[key]]
    assert all(METRIC_NAME.fullmatch(n) for n in names)
    assert len(names) == len(set(names))


def test_benchmark_json_matches_what_run_prints():
    assert [(m["name"], m["unit"]) for m in BENCHMARK["end_to_end"]] == list(run.END_TO_END.items())
    assert [(m["name"], m["unit"]) for m in BENCHMARK["per_layer"]] == [
        (k, run.layer_unit(k)) for k in run.PER_LAYER
    ]
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(run_workloads())
    setup = next(m for m in BENCHMARK["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCHMARK["end_to_end"])


def run_workloads():
    from perfbench.workloads import WORKLOADS

    return WORKLOADS
