"""The event-log reducer on a small canned log: two calls, one of them
over an adaptively re-planned MapInPandas query, plus an untimed job."""

from __future__ import annotations

from pathlib import Path

import pytest

from perfbench import eventlog
from perfbench.harness import Call

LOG = Path(__file__).parent / "data" / "canned_eventlog.jsonl"
CALLS = [
    Call("op", "op#0", 1000.0, 1002.0, 2.0, 1),
    Call("other", "other#1", 1001.9, 1002.2, 0.3, 1),
]


@pytest.fixture(scope="module")
def reduced():
    return eventlog.reduce_calls(eventlog.read_events(LOG), CALLS)


def test_python_accumulators_follow_adaptive_replans():
    acc = eventlog.python_accumulators(eventlog.read_events(LOG))
    assert acc[50] == acc[125] == "python_bytes_in"
    assert acc[130] == "python_rows_out"
    # rows into Python: the exchange under the codegen/AQE wrappers
    assert acc[70] == acc[173] == "python_rows_in"
    assert 112 not in acc and 140 not in acc


def test_counters_per_call(reduced):
    op = reduced["op#0"]
    assert op["jobs"] == 2 and op["tasks"] == 6
    assert op["exec_run_s"] == pytest.approx(1.7)
    assert op["exec_cpu_s"] == pytest.approx(0.06)
    assert op["shuffle_write_bytes"] == 2000
    assert op["shuffle_read_bytes"] == 60
    assert op["python_bytes_in"] == 3 * 2000 + 100
    assert op["python_bytes_out"] == 3 * 1500
    assert op["python_rows_in"] == 90 and op["python_rows_out"] == 75
    assert op["python_run_s"] == pytest.approx(0.12)
    assert op["python_start_s"] == pytest.approx(0.045)
    # the untimed job's task is not charged to any call
    assert reduced["other#1"]["tasks"] == 1


def test_driver_gap_and_skew(reduced):
    op = reduced["op#0"]
    assert op["job_s"] == pytest.approx(1.3)
    assert op["driver_gap_s"] == pytest.approx(0.7)
    # busiest stage (2): runs 200, 200, 800 ms
    assert op["task_max_over_median"] == pytest.approx(4.0)
    other = reduced["other#1"]
    assert other["driver_gap_s"] == pytest.approx(0.2)


def test_per_op_medians(reduced):
    ops = eventlog.per_op(reduced, CALLS + [
        Call("op", "op#9", 0.0, 1.0, 1.0, 1)])
    assert ops["op"]["n"] == 1  # op#9 has no events and no entry
    ops = eventlog.per_op(reduced, CALLS)
    assert ops["other"]["wall_s"] == pytest.approx(0.3)
