"""The event-log parser on a small hand-written log (data/events.jsonl)."""

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "events.jsonl")


@pytest.fixture(scope="module")
def ops():
    return eventlog.EventLog(eventlog.read_events(LOG)).op_stats()


def test_only_tagged_work_is_attributed(ops):
    assert sorted(ops) == [7, 8]


def test_counts_follow_the_job_group(ops):
    s = ops[7]
    assert (s.sql_execs, s.jobs, s.stages, s.tasks) == (2, 2, 3, 6)
    assert dict(s.jobs_by_span) == {3: 1, 5: 1}
    assert dict(s.execs_by_span) == {3: 1, 5: 1}
    assert (ops[8].sql_execs, ops[8].jobs, ops[8].stages, ops[8].tasks) == (0, 1, 1, 1)


def test_task_metrics_are_summed(ops):
    s = ops[7]
    assert s.executor_cpu_s == pytest.approx(6.0)
    assert s.executor_run_s == pytest.approx(6.0)
    assert s.gc_s == pytest.approx(0.6)
    assert (s.shuffle_write_bytes, s.shuffle_read_bytes, s.spill_bytes, s.result_bytes) == (100, 100, 7, 60)
    assert s.scan_rows == 110


def test_task_skew_is_the_worst_stage(ops):
    # stage 2 ran tasks of 100, 100 and 500 ms
    assert ops[7].task_skew == pytest.approx(5.0)
    assert ops[8].task_skew == 1.0


def test_sql_metrics_of_the_final_plan(ops):
    s = ops[7]
    # Generate chains: 10 query rows -> 40 cells, 100 object rows -> 120 cells
    assert (s.generated_rows, s.generate_input_rows) == (160, 110)
    assert s.join_rows == 30
    # string task updates plus a driver-side update
    assert s.scan_bytes == 1000 + 4000 + 10
    assert (s.write_files, s.write_bytes) == (4, 4096)
    assert s.sql_intervals == [(10.0, 10.9), (11.0, 11.5)]


def test_directory_layout_is_read(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    with open(LOG) as src:
        lines = src.readlines()
    (d / "events_2_local-1").write_text("".join(lines[10:]))
    (d / "events_1_local-1").write_text("".join(lines[:10]))
    (d / "appstatus_local-1").write_text("")
    events = list(eventlog.read_events(str(tmp_path)))
    assert len(events) == len(lines)
    assert eventlog.EventLog(events).op_stats()[7].tasks == 6
