import os
import shutil

import pytest

from lhbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "eventlog_two_groups.jsonl")


def test_aggregates_per_job_group():
    with open(FIXTURE) as fh:
        groups = eventlog.aggregate(fh)
    assert set(groups) == {"opA", "opB"}
    a = groups["opA"]
    # job 1 lists stages 1 and 2; stage 1 is skipped and never completes
    assert (a.jobs, a.stages, a.tasks) == (2, 2, 3)
    assert a.run_ms == 553 + 554 + 136
    assert a.shuffle_write_b == 266 and a.shuffle_read_b == 266
    assert a.cpu_ns == 446_086_028
    assert a.gc_ms == 0 and a.spill_b == 0
    b = groups["opB"]
    assert (b.jobs, b.stages, b.tasks) == (2, 2, 3)
    assert b.run_ms == 185


def test_busy_time_is_the_union_of_task_intervals():
    with open(FIXTURE) as fh:
        a = eventlog.aggregate(fh)["opA"]
    lo = min(s for s, _ in a.task_spans)
    hi = max(e for _, e in a.task_spans)
    # two overlapping tasks of stage 0, then one task of stage 2
    assert a.busy_s(lo, hi) == pytest.approx(
        (1792193054.449 - 1792193053.536) + (1792193055.194 - 1792193054.989))
    assert a.busy_s(hi, hi + 10) == 0.0


def test_reads_a_rolling_eventlog_dir(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    shutil.copy(FIXTURE, d / "events_1_local-1")
    (d / "appstatus_local-1").write_text("")
    groups = eventlog.read_dir(str(tmp_path))
    assert groups["opA"].tasks == 3


def test_events_without_a_job_group_are_ignored():
    lines = ['{"Event": "SparkListenerJobStart", "Job ID": 0, '
             '"Stage IDs": [0], "Properties": {}}',
             '{"Event": "SparkListenerTaskEnd", "Stage ID": 0, '
             '"Task Info": {}, "Task Metrics": {"Executor Run Time": 5}}']
    assert eventlog.aggregate(lines) == {}
