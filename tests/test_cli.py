"""CLI driver (cli.py, A38 parity) end-to-end: dry-run, archive +
verify, idempotency-gate refusal, config error paths — the same rc
contract as cmd/main.go (0 ok, 1 job/gate failure, 2 bad invocation).

Runs main() in-process against the shared test session: get_spark is
patched to return it and stop() is disarmed so the session-scoped
fixture survives.
"""

import json
import re

import pytest

from bend_archiver_spark import cancel, cli


@pytest.fixture(autouse=True)
def _clean_cancel_token():
    """The cancellation token is process-global; a test that trips it
    (TestCliCancellation) must never leak a stale cancellation into
    later suites' direct job.run() calls."""
    cancel.reset()
    yield
    cancel.reset()


@pytest.fixture()
def cli_spark(spark, monkeypatch):
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    return spark


def _write_conf(tmp_path, target, **overrides):
    conf = {
        "sourceTable": "lineitem",
        "sourceWhereCondition": "l_orderkey > 0",
        "sourceSplitKey": "l_orderkey",
        "batchSize": 40000,
        "maxThread": 5,
        "targetPath": str(target),
        "targetFormat": "parquet",
    }
    conf.update(overrides)
    path = tmp_path / "conf.json"
    path.write_text(json.dumps(conf))
    return str(path)


class TestCliContract:
    def test_dry_run_counts_only(self, cli_spark, sf_dir, tmp_path, capsys):
        conf = _write_conf(tmp_path, tmp_path / "out")
        rc = cli.main(
            [
                "--conf", conf,
                "--source-path", f"{sf_dir}/lineitem.parquet",
                "--dry-run",
            ]
        )
        out = capsys.readouterr().out
        assert rc == 0
        payload = next(
            json.loads(l) for l in out.splitlines() if l.startswith("{")
        )
        assert payload["dry_run"] is True
        assert payload["matching_rows"] > 0
        assert not (tmp_path / "out").exists()  # nothing written

    def test_archive_verifies_then_gate_refuses_rerun(
        self, cli_spark, sf_dir, tmp_path, capsys
    ):
        conf = _write_conf(tmp_path, tmp_path / "out")
        args = ["--conf", conf, "--source-path", f"{sf_dir}/lineitem.parquet"]
        rc = cli.main(args)
        out = capsys.readouterr().out
        assert rc == 0
        report = next(
            json.loads(l) for l in out.splitlines() if l.startswith("{")
        )
        assert report["verified"] is True
        assert report["source_rows"] == report["target_rows"] > 0

        # second run against the same target: idempotency gate (A32,
        # cmd/main.go:74-82) must refuse with rc=1
        rc2 = cli.main(args)
        err = capsys.readouterr().err
        assert rc2 == 1
        assert "idempotency gate" in err

    def test_archive_prints_phase_timings(
        self, cli_spark, sf_dir, tmp_path, capsys
    ):
        """After the report line, one JSON line gives each phase's start
        offset, seconds and counted rows."""
        conf = _write_conf(tmp_path, tmp_path / "out")
        rc = cli.main(
            ["--conf", conf, "--source-path", f"{sf_dir}/lineitem.parquet"]
        )
        assert rc == 0
        lines = [
            json.loads(l)
            for l in capsys.readouterr().out.splitlines()
            if l.startswith("{")
        ]
        report, phases = lines[0], lines[1]["phases"]
        assert {"gate", "plan", "write", "source_count", "verify",
                "publish"} <= set(phases)
        assert phases["verify"]["rows"] == report["target_rows"]
        assert all(
            set(p) == {"start_s", "seconds", "rows"} for p in phases.values()
        )

    def test_archive_prints_what_the_gate_read(
        self, cli_spark, sf_dir, tmp_path, capsys
    ):
        """The phases line also carries the gate's reads: a second
        archive of a key-disjoint slice reads the first run's manifest,
        lists its files and scans none of them."""
        source = ["--source-path", f"{sf_dir}/lineitem.parquet"]
        gates = []
        for where in ("l_orderkey < 1000", "l_orderkey >= 1000"):
            conf = _write_conf(
                tmp_path, tmp_path / "out", sourceWhereCondition=where
            )
            assert cli.main(["--conf", conf, *source]) == 0
            lines = [
                json.loads(l)
                for l in capsys.readouterr().out.splitlines()
                if l.startswith("{")
            ]
            gates.append(lines[1]["gate"])
        assert gates[0] == {
            "manifests": 0, "files": 0, "scanned": 0, "runs_skipped": 0,
        }
        assert gates[1]["manifests"] == gates[1]["runs_skipped"] == 1
        assert gates[1]["files"] > 0 and gates[1]["scanned"] == 0

    def test_job_line_rate_is_rows_over_elapsed(
        self, cli_spark, sf_dir, tmp_path, capsys
    ):
        """The closing ``job:`` line reports the loop's rows, its
        elapsed seconds (at least the table's own) and rows/s as their
        quotient, not a rate over a clamped one-event window."""
        conf = _write_conf(tmp_path, tmp_path / "out")
        rc = cli.main(
            ["--conf", conf, "--source-path", f"{sf_dir}/lineitem.parquet"]
        )
        assert rc == 0
        out = capsys.readouterr().out.splitlines()
        report = json.loads(next(l for l in out if l.startswith("{")))
        job = [l for l in out if l.startswith("job:")]
        assert len(job) == 1
        m = re.fullmatch(r"job: (\d+) rows in ([\d.]+) s, ([\d.]+) rows/s", job[0])
        assert m, job[0]
        rows, elapsed, rate = int(m[1]), float(m[2]), float(m[3])
        assert rows == report["source_rows"] > 0
        assert elapsed >= report["elapsed_sec"] > 0
        assert rate == pytest.approx(rows / elapsed, rel=1e-3)

    def test_delete_after_sync_on_file_source_fails(
        self, cli_spark, sf_dir, tmp_path, capsys
    ):
        conf = _write_conf(tmp_path, tmp_path / "out", deleteAfterSync=True)
        rc = cli.main(
            ["--conf", conf, "--source-path", f"{sf_dir}/lineitem.parquet"]
        )
        assert rc == 1
        assert "deleteAfterSync" in capsys.readouterr().err
        assert not (tmp_path / "out").exists()

    def test_missing_conf_is_usage_error(self, cli_spark, capsys):
        assert cli.main([]) == 2
        assert "--conf is required" in capsys.readouterr().err

    def test_invalid_conf_is_usage_error(self, cli_spark, tmp_path, capsys):
        bad = tmp_path / "bad.json"
        bad.write_text("{not json")
        assert cli.main(["--conf", str(bad)]) == 2
        assert "invalid config" in capsys.readouterr().err

    def test_conflicting_split_keys_rejected(
        self, cli_spark, tmp_path, capsys
    ):
        conf = _write_conf(
            tmp_path,
            tmp_path / "out",
            sourceSplitTimeKey="l_shipdate",
            timeSplitUnit="day",
        )
        assert cli.main(["--conf", conf]) == 2
        assert "invalid config" in capsys.readouterr().err


class TestCliCancellation:
    def test_cancelled_job_exits_128_plus_signum(
        self, cli_spark, sf_dir, tmp_path, monkeypatch, capsys
    ):
        """A JobCancelled escaping the job must reach the CLI's
        cancellation handler (exit 128+signum), not be swallowed by
        the generic RuntimeError job-failure branch (JobCancelled IS a
        RuntimeError subclass)."""
        import signal

        from bend_archiver_spark import cancel
        from bend_archiver_spark.job import FileArchiveJob

        def cancelled_run(self, *a, **k):
            cancel.request_cancel(signal.SIGTERM)
            cancel.raise_if_cancelled("write")

        monkeypatch.setattr(FileArchiveJob, "run", cancelled_run)
        conf = _write_conf(tmp_path, tmp_path / "out_cancel")
        rc = cli.main(
            [
                "--conf", conf,
                "--source-path", f"{sf_dir}/lineitem.parquet",
            ]
        )
        assert rc == 128 + signal.SIGTERM
        assert "cancelled" in capsys.readouterr().err
        # handler cleanup ran: default disposition restored
        assert signal.getsignal(signal.SIGTERM) is signal.SIG_DFL

    def test_signal_during_spark_launch_exits_cancel_path(
        self, monkeypatch, tmp_path, capsys
    ):
        """A signal landing during the multi-second Spark session
        launch must still exit through the cancellation path
        (128+signum, handlers restored, no uncaught traceback) —
        handlers are installed inside the try, before get_spark."""
        import signal

        def launching(*a, **k):
            cancel.request_cancel(signal.SIGTERM)
            raise cancel.JobCancelled("received signal 15")

        monkeypatch.setattr(cli, "get_spark", launching)
        conf = _write_conf(tmp_path, tmp_path / "out_launch")
        rc = cli.main(
            ["--conf", conf, "--source-path", "whatever.parquet"]
        )
        assert rc == 128 + signal.SIGTERM
        assert "cancelled" in capsys.readouterr().err
        assert signal.getsignal(signal.SIGTERM) is signal.SIG_DFL

    def test_first_signal_during_cancel_unwind_still_exits_128(
        self, monkeypatch, tmp_path, capsys
    ):
        """With the first-signal raise keyed off the dedicated flag
        (not the token), a job stopped by a PROGRAMMATIC cancel still
        has its raise armed — so a real signal landing while the CLI
        is already unwinding that cancellation (here: during the
        ``finally`` cleanup) raises a second JobCancelled that the
        inner handler can't catch. It must exit 128+signum via the
        outer ``main`` wrapper, not escape as a traceback."""
        import os
        import signal

        def launching(*a, **k):
            # programmatic trip: no signum recorded, raise still armed
            cancel.request_cancel()
            raise cancel.JobCancelled("cancelled before write")

        real_restore = cli.restore_signal_handlers

        def restore_with_late_signal(prev):
            # a real SIGTERM lands just before handlers come off:
            # handler raises synchronously inside the finally block
            os.kill(os.getpid(), signal.SIGTERM)
            real_restore(prev)  # pragma: no cover — raise precedes

        monkeypatch.setattr(cli, "get_spark", launching)
        monkeypatch.setattr(
            cli, "restore_signal_handlers", restore_with_late_signal
        )
        conf = _write_conf(tmp_path, tmp_path / "out_unwind")
        try:
            rc = cli.main(
                ["--conf", conf, "--source-path", "whatever.parquet"]
            )
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
        assert rc == 128 + signal.SIGTERM
        err = capsys.readouterr().err
        assert "cancelled" in err
        assert "Traceback" not in err

    def test_signal_swallowed_by_jvm_call_still_exits_128(
        self, monkeypatch, tmp_path, capsys
    ):
        """A signal whose JobCancelled raise lands inside a py4j
        socket read is CAUGHT by py4j's broad ``except`` in
        send_command and re-surfaces as Py4JError — a foreign type no
        ``except JobCancelled`` can see (observed live: SIGTERM during
        get_spark -> Py4JError -> rc=1 traceback). The recorded signal
        is authoritative: the CLI must exit 128+signum."""
        import os
        import signal

        class FakePy4JError(Exception):
            """Stands in for py4j.protocol.Py4JError (not a
            RuntimeError, exactly like the real one)."""

        def launching(*a, **k):
            # real signal delivery: the installed handler raises
            # JobCancelled synchronously here...
            try:
                os.kill(os.getpid(), signal.SIGTERM)
            except cancel.JobCancelled:
                # ...and py4j's broad except swallows it, surfacing a
                # protocol error instead
                pass
            raise FakePy4JError(
                "An error occurred while calling None.org.apache."
                "spark.sql.classic.SparkSession"
            )

        monkeypatch.setattr(cli, "get_spark", launching)
        conf = _write_conf(tmp_path, tmp_path / "out_swallow")
        try:
            rc = cli.main(
                ["--conf", conf, "--source-path", "whatever.parquet"]
            )
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
        assert rc == 128 + signal.SIGTERM
        err = capsys.readouterr().err
        assert "cancelled" in err
        assert "FakePy4JError" in err
        assert "Traceback" not in err

    def test_rewrapped_cancellation_exits_128(
        self, cli_spark, sf_dir, tmp_path, monkeypatch, capsys
    ):
        """A swallowed JobCancelled can come back re-wrapped as a
        plain RuntimeError (a handler that chains
        ``raise RuntimeError(...) from e``). With a recorded signal,
        the generic job-failure branch must NOT claim it as rc=1 —
        the run was cancelled, so it exits 128+signum."""
        import signal

        from bend_archiver_spark import cancel
        from bend_archiver_spark.job import FileArchiveJob

        def rewrapped_run(self, *a, **k):
            cancel.request_cancel(signal.SIGTERM)
            raise RuntimeError("delta-spark not available") from (
                cancel.JobCancelled("received signal 15")
            )

        monkeypatch.setattr(FileArchiveJob, "run", rewrapped_run)
        conf = _write_conf(tmp_path, tmp_path / "out_rewrap")
        rc = cli.main(
            [
                "--conf", conf,
                "--source-path", f"{sf_dir}/lineitem.parquet",
            ]
        )
        assert rc == 128 + signal.SIGTERM
        err = capsys.readouterr().err
        assert "cancelled" in err
        assert signal.getsignal(signal.SIGTERM) is signal.SIG_DFL

    def test_non_signal_exception_still_raises(
        self, monkeypatch, tmp_path
    ):
        """The foreign-exception conversion keys strictly off a
        RECORDED SIGNAL: an unexpected error with no signal delivered
        must propagate unchanged, not be misreported as cancellation."""
        class FakePy4JError(Exception):
            pass

        def launching(*a, **k):
            raise FakePy4JError("gateway fell over on its own")

        monkeypatch.setattr(cli, "get_spark", launching)
        conf = _write_conf(tmp_path, tmp_path / "out_noswallow")
        with pytest.raises(FakePy4JError):
            cli.main(
                ["--conf", conf, "--source-path", "whatever.parquet"]
            )


class TestCliSourceFormat:
    """``--source-format`` reads through ``sources.files.read_source``."""

    def test_ndjson_source_archives(self, cli_spark, sf_dir, tmp_path, capsys):
        from bend_archiver_spark.sink import write_batch
        from bend_archiver_spark.tables import load_table

        src = str(tmp_path / "nd")
        rows = load_table(cli_spark, sf_dir, "lineitem").filter("l_orderkey < 200")
        write_batch(rows, src, fmt="ndjson")
        conf = _write_conf(tmp_path, tmp_path / "out")
        rc = cli.main(
            ["--conf", conf, "--source-path", src, "--source-format", "ndjson"]
        )
        assert rc == 0
        report = next(
            json.loads(l) for l in capsys.readouterr().out.splitlines()
            if l.startswith("{")
        )
        assert report["verified"] is True
        assert report["source_rows"] == report["target_rows"] == (
            rows.filter("l_orderkey > 0").count()
        )

    def test_csv_header_names_the_columns(
        self, cli_spark, tmp_path, capsys
    ):
        src = tmp_path / "t.csv"
        src.write_text("id,name\n1,a\n2,b\n3,c\n")
        conf = _write_conf(
            tmp_path, tmp_path / "out",
            sourceSplitKey="id", sourceWhereCondition="id > 1",
        )
        rc = cli.main(
            ["--conf", conf, "--source-path", str(src), "--source-format", "csv"]
        )
        assert rc == 0
        report = next(
            json.loads(l) for l in capsys.readouterr().out.splitlines()
            if l.startswith("{")
        )
        assert report["verified"] is True and report["target_rows"] == 2
        back = cli_spark.read.parquet(str(tmp_path / "out"))
        assert back.columns == ["id", "name"]
        assert sorted(r.name for r in back.collect()) == ["b", "c"]

    def test_unknown_format_is_usage_error(self, cli_spark, tmp_path, capsys):
        conf = _write_conf(tmp_path, tmp_path / "out")
        rc = cli.main(
            ["--conf", conf, "--source-path", str(tmp_path),
             "--source-format", "avro"]
        )
        assert rc == 2
        assert "unsupported source format 'avro'" in capsys.readouterr().err


class TestCliFailureLine:
    """A run that fails with any exception exits 1 with one ``error:``
    line naming its root cause, not a Python traceback."""

    def _fails(self, sf_dir, tmp_path, capsys, target) -> str:
        conf = _write_conf(tmp_path, target)
        rc = cli.main(
            ["--conf", conf, "--source-path", f"{sf_dir}/lineitem.parquet"]
        )
        err = capsys.readouterr().err
        assert rc == 1
        assert "Traceback" not in err
        return next(l for l in err.splitlines() if l.startswith("error: "))

    def test_target_is_a_regular_file(self, cli_spark, sf_dir, tmp_path, capsys):
        """A run refuses a target that is a regular file before its
        gate lists it, with one line naming ``targetPath``."""
        target = tmp_path / "not_a_dir"
        target.write_text("a regular file")
        line = self._fails(sf_dir, tmp_path, capsys, target)
        assert line == f"error: targetPath {target} exists and is not a directory"

    def test_java_failure_names_the_java_cause(
        self, cli_spark, sf_dir, tmp_path, capsys
    ):
        """Under a regular file the gate finds no target and the staged
        write fails in the JVM: the line names the Java exception, not
        Py4J's ``An error occurred while calling``."""
        parent = tmp_path / "not_a_dir"
        parent.write_text("a regular file")
        line = self._fails(sf_dir, tmp_path, capsys, parent / "archive")
        assert "org.apache.hadoop.fs.ParentNotDirectoryException" in line
