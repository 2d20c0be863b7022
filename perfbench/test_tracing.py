"""Tests for the benchmark's reducers (span self time, event-log totals by
job group). Run from the repository root:

    python3 -m pytest perfbench/test_tracing.py -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench.tracing import (
    GROUP_PREFIX,
    Span,
    SparkCounters,
    Tracer,
    per_pass_layers,
    reduce_event_log,
    self_times,
)

HERE = os.path.dirname(os.path.abspath(__file__))


def _tree() -> list[Span]:
    #   pass 0 [0, 10]
    #     a [1, 4]
    #       a1 [2, 3]
    #     b [5, 9]
    #   pass 1 [20, 26]
    #     a [20, 21]
    #     b [22, 25]
    #       b1 [22, 24]
    #       b2 [23, 26]  (overlaps b1, and runs past its parent)
    return [
        Span(0, "pass", 0.0, 10.0, None, 0),
        Span(1, "a", 1.0, 4.0, 0, 0),
        Span(2, "a1", 2.0, 3.0, 1, 0),
        Span(3, "b", 5.0, 9.0, 0, 0),
        Span(4, "pass", 20.0, 26.0, None, 1),
        Span(5, "a", 20.0, 21.0, 4, 1),
        Span(6, "b", 22.0, 25.0, 4, 1),
        Span(7, "b1", 22.0, 24.0, 6, 1),
        Span(8, "b2", 23.0, 26.0, 6, 1),
    ]


def test_self_time_subtracts_covered_child_time():
    st = self_times(_tree())
    assert st[0] == pytest.approx(10 - 3 - 4)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(1)
    assert st[3] == pytest.approx(4)
    # b1 ∪ b2 clipped to b covers [22, 25]: nothing of b is its own
    assert st[6] == pytest.approx(0)
    assert st[4] == pytest.approx(6 - 1 - 3)


def test_self_times_of_a_pass_add_up_to_its_duration():
    spans = _tree()
    st = self_times(spans)
    assert sum(st[s.sid] for s in spans if s.pass_id == 0) == pytest.approx(10)


def test_per_pass_layers_medians_over_passes():
    groups = {f"{GROUP_PREFIX}3": SparkCounters(jobs=2), f"{GROUP_PREFIX}6": SparkCounters(jobs=4)}
    self_s, incl_s, ctr = per_pass_layers(_tree(), groups, [0, 1])
    assert incl_s["pass"] == pytest.approx((10 + 6) / 2)
    assert self_s["pass"] == pytest.approx((3 + 2) / 2)
    assert incl_s["b"] == pytest.approx((4 + 3) / 2)
    # a1 ran in pass 0 only: pass 1 counts it as 0 s
    assert incl_s["a1"] == pytest.approx(0.5)
    assert ctr["b"].jobs == 3
    assert "a" not in ctr


def test_tracer_nests_spans_and_inherits_the_pass():
    tr = Tracer(True)
    with tr.span("pass", 7):
        with tr.span("outer"):
            with tr.span("inner"):
                pass
    names = [(s.name, s.parent, s.pass_id) for s in tr.spans]
    assert names == [("pass", None, 7), ("outer", 0, 7), ("inner", 1, 7)]
    assert all(s.end >= s.start for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("pass", 0):
        pass
    assert tr.spans == []


def _ev(kind: str, **kw) -> str:
    return json.dumps({"Event": kind, **kw})


def _task(stage: int, run_ms: int, wr: int, rd: int, spill: int = 0, sent: int = 0) -> str:
    acc = [{"ID": 1, "Name": "data sent to Python workers", "Update": str(sent)}] if sent else []
    return _ev(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Stage Attempt ID": 0,
            "Task Info": {"Accumulables": acc},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "JVM GC Time": 10,
                "Disk Bytes Spilled": spill,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": rd},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": wr},
            },
        },
    )


def _stage(kind: str, sid: int, group: str | None) -> str:
    props = {"spark.jobGroup.id": group} if group else {}
    return _ev(kind, **{"Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0}, "Properties": props})


def test_event_log_totals_by_job_group():
    lines = [
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Properties": {"spark.jobGroup.id": "g1"}}),
        _stage("SparkListenerStageSubmitted", 0, "g1"),
        _task(0, 1000, wr=100, rd=0, sent=64),
        _task(0, 500, wr=50, rd=0, sent=36),
        _stage("SparkListenerStageCompleted", 0, "g1"),
        _stage("SparkListenerStageSubmitted", 1, "g1"),
        _task(1, 250, wr=0, rd=150, spill=7),
        _stage("SparkListenerStageCompleted", 1, "g1"),
        # a second job of another group reuses stage 0's output: the skipped
        # stage never completes and is not counted
        _ev("SparkListenerJobStart", **{"Job ID": 1, "Properties": {"spark.jobGroup.id": "g2"}}),
        _stage("SparkListenerStageSubmitted", 2, "g2"),
        _task(2, 100, wr=0, rd=150),
        _stage("SparkListenerStageCompleted", 2, "g2"),
        _ev("SparkListenerJobStart", **{"Job ID": 2, "Properties": {}}),
    ]
    g = reduce_event_log(lines)
    g1, g2 = g["g1"], g["g2"]
    assert (g1.jobs, g1.stages, g1.tasks) == (1, 2, 3)
    assert (g1.shuffle_write_bytes, g1.shuffle_read_bytes, g1.spill_bytes) == (150, 150, 7)
    assert g1.executor_run_s == pytest.approx(1.75)
    assert g1.gc_s == pytest.approx(0.03)
    assert g1.python_bytes_sent == 100
    assert (g2.jobs, g2.stages, g2.tasks, g2.shuffle_read_bytes) == (1, 1, 1, 150)
    assert g[""].jobs == 1


def test_recorded_event_log():
    """A Spark event log recorded by perfbench/testdata/record_eventlog.py:
    group "udf" ran one mapInPandas count, group "agg" one groupBy
    collect, and the rest ran outside any group."""
    with open(os.path.join(HERE, "testdata", "eventlog_small.jsonl")) as fh:
        g = reduce_event_log(fh)
    udf, agg = g["udf"], g["agg"]
    assert udf.python_bytes_sent > 0 and udf.python_bytes_received > 0
    assert agg.python_bytes_sent == 0
    # the aggregate's exchange: everything written is read back
    assert agg.shuffle_write_bytes > 0
    assert agg.shuffle_read_bytes == agg.shuffle_write_bytes
    assert agg.stages >= 2 and agg.tasks >= agg.stages
    assert udf.jobs >= 1 and agg.jobs >= 1


def test_benchmark_json_lists_the_ledger_metrics():
    from perfbench.ledger import END_TO_END, PER_LAYER

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
