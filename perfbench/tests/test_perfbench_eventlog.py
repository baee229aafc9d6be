"""The event-log parser against a small rolling log (two event files)
with the field layout Spark 4 writes."""

import os

import pytest

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_v2_local-1")


@pytest.fixture(scope="module")
def groups():
    (log,) = eventlog.app_logs(os.path.dirname(FIXTURE))
    return eventlog.parse(log)


def test_rolling_files_read_in_order():
    names = [os.path.basename(f) for f in eventlog.event_files(FIXTURE)]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]


def test_job_groups_attribute_to_label_and_op(groups):
    assert set(groups) == {
        ("sink.write", "1"),
        ("verify.count", "1"),
        ("sources.jdbc.probe", "1"),
        (eventlog.UNLABELLED, ""),
    }
    assert [groups[k].jobs for k in sorted(groups)] == [1, 1, 1, 1]


def test_tasks_of_a_reused_stage_stay_with_the_job_that_ran_it(groups):
    sink, verify = groups[("sink.write", "1")], groups[("verify.count", "1")]
    # stage 1 is listed again by the verify job but ran under the sink
    assert (sink.stages, sink.tasks) == (2, 3)
    assert (verify.stages, verify.tasks) == (1, 1)


def test_per_label_task_sums(groups):
    sink = groups[("sink.write", "1")]
    assert sink.executor_run_s == pytest.approx(1.2)
    assert sink.executor_cpu_s == pytest.approx(0.9)
    assert sink.gc_s == pytest.approx(0.03)
    # 600 ms launch-to-finish - 400 run - 50 deserialize - 10 serialize
    assert sink.scheduler_delay_s == pytest.approx(0.14 + 0.05 + 0.05)
    assert sink.spill_bytes == 300
    assert sink.shuffle_write_bytes == 1000
    assert sink.output_bytes == 800
    assert sink.task_skew() == pytest.approx(30 / 20)
    assert groups[("verify.count", "1")].task_skew() == 0.0


def test_input_bytes_come_from_the_scan_not_the_tasks(groups):
    sink = groups[("sink.write", "1")]
    # the scan reported 5000 bytes of files; the task claimed 10 bytes
    # for 100 records, a near-zero figure that must not leak through
    assert sink.input_bytes == 5000


def test_jdbc_scan_tasks_are_counted_and_have_no_byte_figure(groups):
    probe = groups[("sources.jdbc.probe", "1")]
    assert probe.jdbc_tasks == 1
    assert probe.input_bytes == 0
    assert groups[("sink.write", "1")].jdbc_tasks == 0


def test_unlabelled_jobs_are_kept_apart(groups):
    other = groups[(eventlog.UNLABELLED, "")]
    assert (other.tasks, other.input_bytes) == (1, 0)
