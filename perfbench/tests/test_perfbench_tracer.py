import time

import pytest

from perfbench import tracer


def _traced_job(tr):
    with tr.span("job", key="job", op="1"):
        time.sleep(0.01)
        with tr.span("verify.gate", key="verify.gate"):
            with tr.span("job.read_target", key=None):
                time.sleep(0.01)
        with tr.span("sink.write", key="sink.write"):
            time.sleep(0.01)
            tr.set_root_phase("verify.count")
        time.sleep(0.01)
        tr.count("planner.partitions", 4)


def test_self_times_account_for_the_operation():
    tr = tracer.Tracer(lambda group: None)
    _traced_job(tr)
    root = tr.spans[0]
    selfs = tr.self_times()
    assert sum(selfs.values()) == pytest.approx(root.end - root.start)
    assert {k for _, k in selfs} == {"job", "verify.gate", "sink.write", "verify.count"}
    # the lazy read inherits the gate's key; the time after the write
    # is verification, the time before it the job's own
    assert selfs[("1", "verify.gate")] >= 0.01
    assert selfs[("1", "verify.count")] >= 0.01
    assert 0.01 <= selfs[("1", "job")] < 0.02
    assert tr.counters == {("1", "planner.partitions"): 4}
    assert tr.durations("sink.write")[("1", "")] >= 0.01


def test_job_group_follows_the_innermost_span():
    groups = []
    _traced_job(tracer.Tracer(groups.append))
    assert groups == [
        "job|1",
        "verify.gate|1",
        "verify.gate|1",  # read_target inherits
        "verify.gate|1",
        "job|1",
        "sink.write|1",
        "verify.count|1",  # back at the root, after the write
        None,
    ]


def test_a_root_span_needs_key_and_op():
    tr = tracer.Tracer(lambda group: None)
    with pytest.raises(ValueError):
        with tr.span("orphan"):
            pass


def test_install_wraps_and_restore_undoes(monkeypatch):
    from bend_archiver_spark import job

    calls = []
    monkeypatch.setattr(job, "write_batch", lambda *a, **k: calls.append(a))
    stub = job.write_batch
    tr = tracer.Tracer(lambda group: None)
    restore = tracer.install(tr)
    try:
        assert job.write_batch is not stub
        with tr.span("job", key="job", op="7"):
            job.write_batch("df", "path")
    finally:
        restore()
    assert job.write_batch is stub
    assert calls == [("df", "path")]
    assert [s.name for s in tr.spans] == ["job", "sink.write"]
    assert tr.spans[0].phases[-1][1] == "verify.count"
