"""Unit tests of the event-log parser and span arithmetic on a canned log."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import eventlog  # noqa: E402
from perfbench.trace import inclusive_jobs, self_times  # noqa: E402

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")


def _groups():
    return eventlog.per_group(eventlog.parse(eventlog.read_events(LOG)))


def test_tasks_map_to_the_group_of_their_job():
    g = _groups()
    op0 = g["perfbench-0"]
    assert op0["jobs"] == 1
    assert op0["tasks"] == 3
    assert op0["executor_run_s"] == pytest.approx(0.66)
    assert op0["executor_cpu_s"] == pytest.approx(0.53)
    assert op0["shuffle_bytes"] == 1500
    assert op0["spill_bytes"] == 96
    assert op0["input_rows"] == 150
    assert op0["input_bytes"] == 6144
    # stage 1 ran in job 0, the first to submit it; job 1 owns stage 2 only
    assert g["perfbench-1"]["tasks"] == 1
    # a job outside any span keeps no group
    assert g[None]["jobs"] == 1


def test_no_task_time_is_op_wall_minus_task_cover():
    spans = [
        {"id": 0, "name": "op.x", "parent": None, "op": 7, "start": 1000.0, "end": 1001.0},
        {"id": 1, "name": "inner", "parent": 0, "op": 7, "start": 1000.9, "end": 1001.4},
    ]
    ops = [{"i": 7, "start": 1000.0, "end": 1001.5}]
    by_op = eventlog.per_op(_groups(), spans, ops)
    # tasks cover [1000.1, 1000.5] + [1000.7, 1000.8] + [1001.1, 1001.3]
    assert by_op[7]["no_task_s"] == pytest.approx(1.5 - 0.4 - 0.1 - 0.2)
    assert by_op[7]["jobs"] == 2


def test_self_time_and_inclusive_jobs():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0, "jobs": [1]},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0, "jobs": [2, 3]},
        {"id": 2, "parent": 0, "start": 5.0, "end": 6.0, "jobs": []},
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0, "jobs": [4]},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(6.0)
    assert st[1] == pytest.approx(2.0)
    assert sorted(inclusive_jobs(spans)[0]) == [1, 2, 3, 4]
    assert sorted(inclusive_jobs(spans)[1]) == [2, 3, 4]
