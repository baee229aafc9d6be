"""Archive job round-trip tests (the Tier-3/4 analog of the reference's
integration tests, using file sources per FIXTURES.md §F6)."""

import shutil

import pytest

from bend_archiver_spark.config import Config
from bend_archiver_spark.job import FileArchiveJob
from bend_archiver_spark.sink import write_batch
from bend_archiver_spark.sources.jdbc import JdbcSource
from bend_archiver_spark.tables import load_table
from bend_archiver_spark.verify import (
    content_fingerprint,
    count_and_fingerprint,
)

PINNED_FILE_JOBS = 7


def _cfg(target, **kw):
    base = dict(
        source_table="lineitem",
        source_split_key="l_orderkey",
        source_where_condition="l_quantity > 5",
        batch_size=1000,
        target_path=target,
        target_format="parquet",
    )
    base.update(kw)
    return Config(**base)


class TestFileArchiveJob:
    def test_round_trip_and_verify(self, spark, sf_dir, tmp_path):
        tgt = str(tmp_path / "t1")
        li = load_table(spark, sf_dir, "lineitem")
        report = FileArchiveJob(spark, _cfg(tgt), li).run()
        assert report.verify.is_correct
        assert report.source_rows == li.filter("l_quantity > 5").count()
        # content fingerprint matches, not just counts
        src = li.filter("l_quantity > 5")
        dst = spark.read.parquet(tgt).select(*src.columns)
        assert content_fingerprint(src) == content_fingerprint(dst)
        shutil.rmtree(tgt, ignore_errors=True)

    def test_idempotency_gate(self, spark, sf_dir, tmp_path):
        tgt = str(tmp_path / "t2")
        li = load_table(spark, sf_dir, "lineitem")
        FileArchiveJob(spark, _cfg(tgt), li).run()
        with pytest.raises(RuntimeError, match="idempotency"):
            FileArchiveJob(spark, _cfg(tgt), li).run()
        shutil.rmtree(tgt, ignore_errors=True)

    def test_fingerprint_verification(self, spark, sf_dir, tmp_path):
        """verify_fingerprint upgrades the contract from counts to an
        order-insensitive content checksum of both sides."""
        tgt = str(tmp_path / "t1fp")
        li = load_table(spark, sf_dir, "lineitem")
        report = FileArchiveJob(
            spark, _cfg(tgt, verify_fingerprint=True), li
        ).run()
        assert report.verify.source_fingerprint is not None
        assert report.verify.fingerprints_match
        assert report.verify.is_correct
        shutil.rmtree(tgt, ignore_errors=True)

    def test_fingerprint_mismatch_fails_verification(self):
        from bend_archiver_spark.verify import VerifyResult

        v = VerifyResult(10, 10, source_fingerprint=1, target_fingerprint=2)
        assert not v.fingerprints_match and not v.is_correct
        # same counts without fingerprints still verify
        assert VerifyResult(10, 10).is_correct
        assert not VerifyResult(10, 9).is_correct

    def test_gate_error_on_existing_target_propagates(
        self, spark, sf_dir, tmp_path
    ):
        """A target that EXISTS but can't evaluate the gate predicate
        (e.g. schema-degraded: the predicate column is missing) must
        raise, not silently pass the double-archive guard."""
        from pyspark.errors import AnalysisException

        tgt = str(tmp_path / "t2b")
        li = load_table(spark, sf_dir, "lineitem")
        # target exists, but without the l_quantity column
        li.select("l_orderkey").limit(5).write.parquet(tgt)
        with pytest.raises(AnalysisException):
            FileArchiveJob(spark, _cfg(tgt), li).run()
        shutil.rmtree(tgt, ignore_errors=True)

    def test_execute_copy_into_flag(self, spark, sf_dir, tmp_path):
        """executeCopyInto runs the generated COPY INTO through the
        statement executor after the stage write, with the job's
        purge/force/stage knobs reflected in the SQL (parity:
        ingester/ingest_databend.go:182-195)."""
        tgt = str(tmp_path / "stage_batch")
        li = load_table(spark, sf_dir, "lineitem")
        executed = []

        def fake_executor(sql):
            executed.append(sql)
            return 42

        report = FileArchiveJob(
            spark,
            _cfg(
                tgt,
                target_format="ndjson",
                execute_copy_into=True,
                databend_table="archive.lineitem",
                copy_force=True,
            ),
            li,
        ).run(copy_executor=fake_executor)
        assert report.details["copy_into_rows"] == 42
        assert len(executed) == 1
        sql = executed[0]
        assert sql.startswith("COPY INTO archive.lineitem FROM @~/stage_batch/")
        assert "FORCE = true" in sql and "PURGE = true" in sql
        shutil.rmtree(tgt, ignore_errors=True)

    def test_execute_copy_into_requires_table_and_url(
        self, spark, sf_dir, tmp_path
    ):
        tgt = str(tmp_path / "stage_noconf")
        li = load_table(spark, sf_dir, "lineitem")
        with pytest.raises(RuntimeError, match="databendTable"):
            FileArchiveJob(
                spark, _cfg(tgt, execute_copy_into=True), li
            ).run()
        shutil.rmtree(tgt, ignore_errors=True)
        with pytest.raises(RuntimeError, match="warehouseJdbcUrl"):
            FileArchiveJob(
                spark,
                _cfg(
                    str(tmp_path / "stage_nourl"),
                    execute_copy_into=True,
                    databend_table="archive.lineitem",
                ),
                li,
            ).run()

    def test_empty_source_short_circuit(self, spark, sf_dir, tmp_path):
        tgt = str(tmp_path / "t3")
        li = load_table(spark, sf_dir, "lineitem")
        report = FileArchiveJob(
            spark, _cfg(tgt, source_where_condition="l_quantity > 1e9"), li
        ).run()
        assert report.source_rows == 0
        assert report.num_partitions == 0

    def test_empty_source_reports_its_gate(self, spark, sf_dir, tmp_path):
        """The short-circuit runs after the gate: its report carries the
        gate's stats and the two phases it ran, and nothing is written."""
        tgt = tmp_path / "t3gate"
        li = load_table(spark, sf_dir, "lineitem")
        report = FileArchiveJob(
            spark, _cfg(str(tgt), source_where_condition="l_quantity > 1e9"), li
        ).run()
        assert set(report.details["phases"]) == {"gate", "plan"}
        assert report.details["gate"] == {
            "manifests": 0, "files": 0, "scanned": 0, "runs_skipped": 0
        }
        assert not tgt.exists()

    @pytest.mark.parametrize("fmt", ["parquet", "orc", "ndjson"])
    def test_write_batch_appends(self, spark, tmp_path, fmt):
        """Every write appends, as the reference's COPY INTO
        accumulates: a second batch into the same path adds its rows."""
        from bend_archiver_spark.job import read_target

        path = str(tmp_path / f"appended_{fmt}")
        rows = spark.range(0, 10, 1, 2).selectExpr("id AS k")
        write_batch(rows, path, fmt)
        write_batch(rows, path, fmt)
        back = read_target(spark, _cfg(path, target_format=fmt), rows.schema)
        assert back.count() == 20
        assert back.distinct().count() == 10

    def test_delete_after_sync_refused_before_any_write(
        self, spark, sf_dir, tmp_path
    ):
        """A file source cannot be deleted from: the job refuses the
        option up front instead of reporting a verified archive that
        deleted nothing."""
        tgt = tmp_path / "t_del"
        li = load_table(spark, sf_dir, "lineitem")
        job = FileArchiveJob(spark, _cfg(str(tgt), delete_after_sync=True), li)
        with pytest.raises(RuntimeError, match="deleteAfterSync"):
            job.run()
        assert not tgt.exists()

    def test_fingerprinted_run_spark_jobs(
        self, spark, sf_dir, tmp_path, spark_jobs
    ):
        """Pins the Spark jobs of a fingerprinted archive into an
        existing target: the gate counts the first run's files (a double
        column's predicate cannot skip them) with the schema its
        manifest records, the probe takes the key's bounds and count,
        the write samples, shuffles and writes, the staged files are
        read once with the written schema for a fused count +
        fingerprint, and the source fingerprint hashes the filtered rows
        without re-running the range-partition sampling and shuffle.
        Each global aggregate is one job with no exchange."""
        tgt = str(tmp_path / "fp_jobs")
        li = load_table(spark, sf_dir, "lineitem")
        first = _cfg(tgt, source_where_condition="l_quantity <= 25")
        assert FileArchiveJob(spark, first, li).run().verify.is_correct
        cfg = _cfg(
            tgt, source_where_condition="l_quantity > 25", verify_fingerprint=True
        )
        report, jobs = spark_jobs(FileArchiveJob(spark, cfg, li).run)
        assert report.verify.is_correct
        assert report.verify.source_fingerprint is not None
        assert jobs == PINNED_FILE_JOBS
        shutil.rmtree(tgt, ignore_errors=True)


def _files(root) -> list[str]:
    """Every file under ``root``, as sorted relative paths."""
    import os

    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, names in os.walk(root)
        for f in names
    )


class TestStagedRun:
    """A run writes into ``<target>/_staging/<run_id>/`` and publishes
    only once verified; the gate runs before the plan, and the source
    fingerprint overlaps the staged verify on one worker thread."""

    def test_gate_refusal_leaves_target_unchanged(self, spark, sf_dir, tmp_path):
        tgt = str(tmp_path / "refused")
        li = load_table(spark, sf_dir, "lineitem")
        assert FileArchiveJob(spark, _cfg(tgt), li).run().verify.is_correct
        before = _files(tgt)
        with pytest.raises(RuntimeError, match="idempotency"):
            FileArchiveJob(spark, _cfg(tgt), li).run()
        assert _files(tgt) == before
        assert not (tmp_path / "refused" / "_staging").exists()

    def test_phases_are_timed_and_describe_their_jobs(
        self, spark, sf_dir, tmp_path
    ):
        tgt = str(tmp_path / "phases")
        li = load_table(spark, sf_dir, "lineitem")
        sc = spark.sparkContext
        group = "phases-test"
        sc.setJobGroup(group, group)
        try:
            report = FileArchiveJob(
                spark, _cfg(tgt, verify_fingerprint=True), li
            ).run()
            # the caller's description is left as it was
            assert sc.getLocalProperty("spark.job.description") == group
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        phases = report.details["phases"]
        assert set(phases) == {
            "gate", "plan", "write", "source_count", "verify",
            "fingerprint", "publish",
        }
        for p in phases.values():
            assert p["start_s"] >= 0 and p["seconds"] >= 0
        def end(name):
            return phases[name]["start_s"] + phases[name]["seconds"]

        # the gate ends before the plan starts, the fingerprint
        # overlaps the verify scan; publishing waits for both
        # (offsets and durations are rounded to 0.1 ms apiece)
        assert end("gate") <= phases["plan"]["start_s"] + 1e-3
        assert phases["fingerprint"]["start_s"] < end("verify")
        # (offsets and durations are rounded to 0.1 ms apiece)
        assert phases["publish"]["start_s"] >= max(
            end("gate"), end("verify"), end("fingerprint")
        ) - 1e-3
        rows = report.source_rows
        assert phases["plan"]["rows"] == phases["source_count"]["rows"] == rows
        assert phases["verify"]["rows"] == rows and phases["gate"]["rows"] == 0

        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        store = sc._jsc.sc().statusStore()  # noqa: SLF001
        described = set()
        for job_id in sc.statusTracker().getJobIdsForGroup(group):
            d = store.job(job_id).description()
            described.add(d.get() if d.isDefined() else None)
        assert {"archive lineitem: write", "archive lineitem: verify",
                "archive lineitem: fingerprint"} <= described
        assert all(d.startswith("archive lineitem: ") for d in described)

    @pytest.mark.parametrize("error", ["failure", "cancel"])
    def test_in_flight_worker_job_is_cancelled_before_cleanup(
        self, spark, sf_dir, tmp_path, monkeypatch, error
    ):
        """An exception or a cancellation on the run's thread while the
        source fingerprint's Spark job runs on the worker: the job is
        cancelled and the worker thread has ended before ``run``
        returns, and the staged files are gone."""
        import threading
        import time

        from bend_archiver_spark import cancel, verify
        from bend_archiver_spark import job as job_mod

        sc = spark.sparkContext
        fingerprint_outcome = []

        def endless_fingerprint(df):
            try:
                # minutes of work unless cancelled
                df.sparkSession.range(0, 1 << 42, 1, 2).selectExpr(
                    "sum(id % 7)").collect()
            except Exception as e:  # noqa: BLE001
                fingerprint_outcome.append(type(e).__name__)
                raise

        def verify_fails(*a, **kw):
            deadline = time.monotonic() + 60
            while not sc.statusTracker().getActiveJobsIds():
                assert time.monotonic() < deadline
                time.sleep(0.05)
            if error == "cancel":
                raise cancel.JobCancelled("received signal 15")
            raise RuntimeError("verify failed")

        monkeypatch.setattr(verify, "content_fingerprint", endless_fingerprint)
        monkeypatch.setattr(job_mod, "verify_target", verify_fails)
        tgt = tmp_path / "inflight"
        expected = cancel.JobCancelled if error == "cancel" else RuntimeError
        t0 = time.monotonic()
        with pytest.raises(expected):
            FileArchiveJob(spark, _cfg(str(tgt), verify_fingerprint=True),
                           load_table(spark, sf_dir, "lineitem")).run()
        assert time.monotonic() - t0 < 120
        # the fingerprint's job was cancelled, not finished
        assert fingerprint_outcome
        assert not [
            t for t in threading.enumerate()
            if t.name.startswith("archive-worker")
        ]
        assert not sc.statusTracker().getActiveJobsIds()
        assert not (tgt / "_staging").exists()
        assert not [f for f in _files(tgt) if f.endswith(".parquet")]

    @pytest.mark.parametrize("fmt", ["parquet", "ndjson"])
    def test_staged_run_holds_only_data_files_and_its_marker(
        self, spark, sf_dir, tmp_path, monkeypatch, fmt
    ):
        """What a verified run's publish finds in its staging directory:
        its data files (with their local checksum files) and
        ``_PUBLISHING``, and no ``_SUCCESS`` marker, which nothing
        reads."""
        from bend_archiver_spark import job as job_mod
        from bend_archiver_spark.sink import PUBLISHING_MARKER

        real_publish = job_mod.publish_staged
        staged_files = []

        def publish(spark, staged, target):
            staged_files.append(_files(staged))
            return real_publish(spark, staged, target)

        monkeypatch.setattr(job_mod, "publish_staged", publish)
        tgt = str(tmp_path / f"only_data_{fmt}")
        li = load_table(spark, sf_dir, "lineitem")
        report = FileArchiveJob(spark, _cfg(tgt, target_format=fmt), li).run()
        assert report.verify.is_correct
        [names] = staged_files
        data = {n for n in names if n.startswith("part-")}
        checksums = {f".{n}.crc" for n in data}
        assert data and set(names) - data - checksums == {PUBLISHING_MARKER}

    @pytest.mark.parametrize("listing", ["local", "hadoop"])
    def test_unmarked_run_is_never_published(
        self, spark, tmp_path, monkeypatch, listing
    ):
        """A publish starts only from a marked run (``mark_publishing``):
        without the marker a cut-short publish could not be finished, so
        ``publish_staged`` fails before it moves a file."""
        from py4j.protocol import Py4JJavaError

        from bend_archiver_spark import sink

        if listing == "hadoop":
            monkeypatch.setattr(sink, "_local_path", lambda fs, path: None)
        tgt = tmp_path / "unmarked"
        staged = sink.staging_path(str(tgt), "run")
        write_batch(spark.range(0, 10, 1, 2), staged, "parquet")
        before = _files(staged)
        with pytest.raises((OSError, Py4JJavaError), match=sink.PUBLISHING_MARKER):
            sink.publish_staged(spark, staged, str(tgt))
        assert _files(staged) == before
        assert not [f for f in _files(tgt) if "_staging" not in f]

    def test_next_run_clears_staging_left_by_a_crash(
        self, spark, sf_dir, tmp_path
    ):
        """What a crashed run left under ``_staging``: a run that had
        begun publishing is published to the end, any other is
        deleted, and neither blocks the next run."""
        from bend_archiver_spark.sink import (
            PUBLISHING_MARKER,
            clear_staging,
            staging_path,
        )

        tgt = str(tmp_path / "crashed")
        li = load_table(spark, sf_dir, "lineitem")
        half = li.filter("l_quantity <= 5")
        # crashed before publishing: never published
        write_batch(half, staging_path(tgt, "unverified"), "parquet")
        # crashed part-way through its publish: finished
        verified = staging_path(tgt, "verified")
        write_batch(half, verified, "parquet")
        (tmp_path / "crashed" / "_staging" / "verified" / PUBLISHING_MARKER).touch()
        clear_staging(spark, tgt)
        assert not (tmp_path / "crashed" / "_staging").exists()
        assert spark.read.parquet(tgt).count() == half.count()

        report = FileArchiveJob(spark, _cfg(tgt), li).run()
        assert report.verify.is_correct
        assert spark.read.parquet(tgt).count() == li.count()


    def test_partition_column_with_leading_underscore_is_published(
        self, spark, sf_dir, tmp_path
    ):
        """``_p=A`` is a partition directory, not a hidden name: Spark
        lists it, so the publish must move it too."""
        tgt = str(tmp_path / "underscore")
        li = load_table(spark, sf_dir, "lineitem")
        li = li.withColumn("_p", li["l_returnflag"])
        cfg = _cfg(tgt, target_partition_by=["_p"])
        report = FileArchiveJob(spark, cfg, li).run()
        assert report.verify.is_correct
        published = spark.read.parquet(tgt)
        assert published.filter("l_quantity > 5").count() == report.source_rows
        assert {r[0] for r in published.select("_p").distinct().collect()} == {
            "A", "N", "R"
        }
        assert not (tmp_path / "underscore" / "_staging").exists()

    def test_delta_target_is_refused_before_any_write(
        self, spark, sf_dir, tmp_path
    ):
        """A staged publish renames plain files, which a Delta table's
        log would never list: the run refuses the format up front."""
        tgt = tmp_path / "delta"
        with pytest.raises(RuntimeError, match="targetFormat .delta. is not"):
            FileArchiveJob(
                spark, _cfg(str(tgt), target_format="delta"),
                load_table(spark, sf_dir, "lineitem"),
            ).run()
        assert not tgt.exists()

    def test_refused_rerun_plans_and_writes_nothing(
        self, spark, sf_dir, tmp_path, monkeypatch, spark_jobs
    ):
        """The gate runs before the plan: a refused rerun never calls
        ``_plan`` or ``write_batch``, and its only Spark job is the
        gate's count of the first run's files (one: the count runs with
        no exchange)."""
        from bend_archiver_spark import job as job_mod

        tgt = str(tmp_path / "refused_early")
        li = load_table(spark, sf_dir, "lineitem")
        assert FileArchiveJob(spark, _cfg(tgt), li).run().verify.is_correct
        before = _files(tgt)
        called = []
        monkeypatch.setattr(
            FileArchiveJob, "_plan", lambda self: called.append("plan")
        )
        monkeypatch.setattr(
            job_mod, "write_batch", lambda *a, **kw: called.append("write")
        )

        def refused():
            with pytest.raises(RuntimeError, match="idempotency"):
                FileArchiveJob(spark, _cfg(tgt), li).run()

        _, jobs = spark_jobs(refused)
        assert called == [] and jobs == 1
        assert _files(tgt) == before
        assert not (tmp_path / "refused_early" / "_staging").exists()

    def test_failed_publish_is_finished_by_the_next_run(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """A publish that fails keeps its staged files and marker (the
        run raises the publish's own error), and the next run publishes
        them to the end before its gate reads the target."""
        import pathlib

        from bend_archiver_spark import job as job_mod
        from bend_archiver_spark.sink import PUBLISHING_MARKER

        tgt = tmp_path / "publish_failed"

        def failing_publish(spark_, staged, target):
            # the marker is written, then the first rename fails
            pathlib.Path(staged, PUBLISHING_MARKER).touch()
            raise RuntimeError("publish: could not rename")

        li = load_table(spark, sf_dir, "lineitem")
        monkeypatch.setattr(job_mod, "publish_staged", failing_publish)
        with pytest.raises(RuntimeError, match="could not rename"):
            FileArchiveJob(spark, _cfg(str(tgt)), li).run()
        monkeypatch.undo()
        [run] = list((tgt / "_staging").iterdir())
        assert (run / PUBLISHING_MARKER).exists()
        assert not [f for f in _files(str(tgt)) if "_staging" not in f
                    and f.endswith(".parquet")]

        # the rerun publishes the verified rows; they are then archived,
        # so its gate refuses
        with pytest.raises(RuntimeError, match="idempotency"):
            FileArchiveJob(spark, _cfg(str(tgt)), li).run()
        assert not (tgt / "_staging").exists()
        assert spark.read.parquet(str(tgt)).count() == li.filter(
            "l_quantity > 5"
        ).count()

    def test_unpublishable_staged_run_is_moved_aside(
        self, spark, sf_dir, tmp_path, monkeypatch, capsys
    ):
        """A leftover publish that fails again does not block every later
        run: it is moved to ``_unpublished`` and named on stderr."""
        from bend_archiver_spark import sink
        from bend_archiver_spark.sink import PUBLISHING_MARKER, staging_path

        tgt = str(tmp_path / "stuck")
        li = load_table(spark, sf_dir, "lineitem")
        write_batch(li, staging_path(tgt, "verified"), "parquet")
        (tmp_path / "stuck" / "_staging" / "verified" / PUBLISHING_MARKER).touch()

        def failing_publish(spark_, staged, target):
            raise RuntimeError("publish: could not rename")

        monkeypatch.setattr(sink, "publish_staged", failing_publish)
        sink.clear_staging(spark, tgt)
        monkeypatch.undo()
        assert "stuck/_staging/verified" in capsys.readouterr().err
        assert (tmp_path / "stuck" / "_unpublished" / "verified"
                / PUBLISHING_MARKER).exists()
        assert not (tmp_path / "stuck" / "_staging").exists()
        # hidden from readers; the next run archives as on a clean target
        report = FileArchiveJob(spark, _cfg(tgt), li).run()
        assert report.verify.is_correct
        assert spark.read.parquet(tgt).count() == report.source_rows


def _keyed(spark, n=2000):
    """``n`` rows keyed 0..n-1 with an integral, string, double,
    timestamp (one a minute from 2024-01-01 UTC) and date column."""
    return spark.range(0, n, 1, 4).selectExpr(
        "id AS k",
        "id % 7 AS j",
        "CAST(id % 3 AS INT) AS p",
        "CAST(id AS STRING) AS s",
        "CAST(id AS DOUBLE) AS x",
        "timestamp_seconds(1704067200 + id * 60) AS ts",
        "date_add(DATE'2024-01-01', CAST(id DIV 100 AS INT)) AS d",
    )


def _keyed_cfg(target, where, **kw):
    return _cfg(
        target, source_table="keyed", source_split_key="k",
        source_where_condition=where, **kw,
    )


def _slice(lo, hi):
    return f"k >= {lo} AND k < {hi}"


def _gate(spark, target, where):
    from bend_archiver_spark.job import check_idempotency_gate

    return check_idempotency_gate(spark, _keyed_cfg(target, where))


class TestManifestGate:
    """Each verified publish records a manifest with its files and the
    exact ranges of its integral, date and timestamp columns; the gate
    scans only uncovered files and runs whose ranges can meet the
    predicate, and refuses exactly as the full scan would."""

    @pytest.fixture(scope="class")
    def one_run(self, spark, tmp_path_factory):
        """A target holding one run: ``k`` in [0, 100)."""
        tgt = str(tmp_path_factory.mktemp("gate") / "one_run")
        report = FileArchiveJob(
            spark, _keyed_cfg(tgt, _slice(0, 100)), _keyed(spark)
        ).run()
        assert report.verify.is_correct and report.source_rows == 100
        return tgt

    def test_manifest_records_files_and_exact_ranges(self, spark, one_run):
        import json
        import os

        [name] = [n for n in os.listdir(f"{one_run}/_manifests")
                  if n.endswith(".json")]
        manifest = json.loads(open(f"{one_run}/_manifests/{name}").read())
        assert manifest["run_id"] == name[:-len(".json")]
        assert manifest["predicate"] == _slice(0, 100)
        assert manifest["rows"] == 100
        published = {
            f: os.path.getsize(f"{one_run}/{f}") for f in os.listdir(one_run)
            if f.endswith(".parquet")
        }
        assert {f["path"]: f["size"] for f in manifest["files"]} == published
        minute = 60 * 1_000_000
        start = 1704067200 * 1_000_000
        assert manifest["ranges"] == {
            "k": [0, 99], "j": [0, 6], "p": [0, 2],
            "ts": [start, start + 99 * minute],
            "d": [19723, 19723],  # 2024-01-01 in days since the epoch
        }
        assert [f["name"] for f in manifest["schema"]["fields"]] == [
            "k", "j", "p", "s", "x", "ts", "d"
        ]

    @pytest.mark.parametrize("where, skipped", [
        ("k >= 100", True),
        ("k > 99", True),
        ("k < 0", True),
        ("k >= -5 AND k < 0", True),
        ("K >= 100", True),  # Spark resolves names case-insensitively
        ("k >= 100 and j = 3", True),
        ("j = 3 AND k >= 100", True),
        ("d > '2024-01-01'", True),
        ("d >= '2024-01-02 00:00:00'", True),
        ("ts >= '2024-01-01 01:40:00'", True),
        ("ts > '2024-01-01 01:39:00'", True),
        ("ts < '2024-01-01'", True),
        ("k >= 99", False),
        ("k = 99", False),
        ("k <= 0", False),
        ("j = 3 AND k < 100", False),
        ("d = '2024-01-01 23:59:59'", False),  # the cast keeps the date
        ("ts >= '2024-01-01 01:39:00'", False),
        ("ts <= '2024-01-01 00:00:00.000001'", False),
        ("s = '5'", False),
    ])
    def test_in_grammar_predicates_skip_only_runs_they_miss(
        self, spark, one_run, where, skipped
    ):
        if skipped:
            stats = _gate(spark, one_run, where)
            assert stats["scanned"] == 0 and stats["runs_skipped"] == 1
        else:
            with pytest.raises(RuntimeError, match="idempotency"):
                _gate(spark, one_run, where)

    @pytest.mark.parametrize("where", [
        "k >= 1000 OR k < 5",
        "NOT k >= 100",
        "k BETWEEN 50 AND 60",
        "k IN (1, 2)",
        "abs(k) < 5",
        "CAST(k AS INT) < 5",
        "5 > k",
        "k <= j",
        "k < 5L",
        "k < 5.5",
        "k < 1e1",
        "x < 5",
        "s < '5'",
        "k = 5 AND (k >= 1000 OR k < 10)",
        "k <> 1000",
        "ts < '2024-01-01T01:00:00'",
        "ts < TIMESTAMP '2024-01-01 01:00:00'",
        "d < date_add('2024-01-01', 1)",
        "k >= 1000 OR true",
    ])
    def test_shapes_outside_the_grammar_scan_and_refuse(
        self, spark, one_run, where
    ):
        """Each predicate holds for some archived rows, and a reading
        of it as ``AND``-ed intervals would skip the run: the gate
        scans it and refuses."""
        with pytest.raises(RuntimeError, match="idempotency"):
            _gate(spark, one_run, where)

    def test_key_disjoint_gate_reads_no_data_file(
        self, spark, tmp_path, spark_jobs
    ):
        """For key-disjoint slices the gate reads no target data file
        and runs no Spark job at 1, 5 and 10 published runs; it reads
        the manifests and lists the files instead."""
        from bend_archiver_spark.job import check_idempotency_gate

        tgt = str(tmp_path / "slices")
        src = _keyed(spark)
        for n in range(1, 11):
            report = FileArchiveJob(
                spark, _keyed_cfg(tgt, _slice(100 * (n - 1), 100 * n)), src
            ).run()
            assert report.verify.is_correct and report.source_rows == 100
            if n in (1, 5, 10):
                cfg = _keyed_cfg(tgt, _slice(100 * n, 100 * (n + 1)))
                stats, jobs = spark_jobs(
                    lambda: check_idempotency_gate(spark, cfg)
                )
                assert jobs == 0
                assert stats["scanned"] == 0
                assert stats["manifests"] == stats["runs_skipped"] == n
                assert stats["files"] >= n
        # a repeated slice is still refused
        with pytest.raises(RuntimeError, match="idempotency"):
            FileArchiveJob(spark, _keyed_cfg(tgt, _slice(400, 500)), src).run()

    def test_session_time_zone_reads_the_literal(self, spark, one_run):
        """A timestamp literal is read in ``spark.sql.session.timeZone``,
        as Spark's comparison reads it: four hours before midnight in Los
        Angeles is inside the run's UTC range, though the same wall time
        in UTC is not."""
        where = "ts >= '2023-12-31 16:30:00' AND ts < '2023-12-31 17:00:00'"
        assert _gate(spark, one_run, where)["scanned"] == 0
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        try:
            with pytest.raises(RuntimeError, match="idempotency"):
                _gate(spark, one_run, where)
        finally:
            spark.conf.set("spark.sql.session.timeZone", "UTC")

    def test_confgen_time_windows(self, spark, tmp_path):
        """Rolling one-day windows in the reference config generator's
        form (``key >= 'lo' and key < 'hi'``, lower-case ``and``,
        tools/confgenerotor/conf_generate.go) over a timestamp and a
        date key: the next window skips the archived one, the same
        window is refused."""
        from datetime import datetime

        src = _keyed(spark)
        for key, fmt in (("ts", "parquet"), ("d", "orc")):
            tgt = str(tmp_path / f"windows_{key}")

            def window(day, key=key):
                lo, hi = (
                    datetime(2024, 1, d).strftime("%Y-%m-%d %H:%M:%S")
                    for d in (day - 1, day)
                )
                return f"{key} >= '{lo}' and {key} < '{hi}'"

            assert window(3).startswith(f"{key} >= '2024-01-02 00:00:00' and")
            cfg = _keyed_cfg(tgt, window(2), target_format=fmt)
            assert FileArchiveJob(spark, cfg, src).run().verify.is_correct
            nxt = FileArchiveJob(
                spark, _keyed_cfg(tgt, window(3), target_format=fmt), src
            ).run()
            assert nxt.verify.is_correct and nxt.source_rows > 0
            assert nxt.details["gate"]["scanned"] == 0
            assert nxt.details["gate"]["runs_skipped"] == 1
            with pytest.raises(RuntimeError, match="idempotency"):
                FileArchiveJob(spark, cfg, src).run()

    def test_files_written_before_manifests_are_scanned(self, spark, tmp_path):
        tgt = str(tmp_path / "legacy")
        src = _keyed(spark)
        write_batch(src.filter(_slice(0, 100)), tgt, "parquet")
        stats = _gate(spark, tgt, _slice(100, 200))
        assert stats["manifests"] == 0 and stats["scanned"] == stats["files"] > 0
        with pytest.raises(RuntimeError, match="idempotency"):
            _gate(spark, tgt, _slice(50, 150))
        # a manifested run beside them skips, the uncovered files do not
        FileArchiveJob(spark, _keyed_cfg(tgt, _slice(200, 300)), src).run()
        stats = _gate(spark, tgt, _slice(300, 400))
        assert stats["runs_skipped"] == 1
        assert 0 < stats["scanned"] < stats["files"]
        with pytest.raises(RuntimeError, match="idempotency"):
            _gate(spark, tgt, _slice(0, 10))

    def test_compacted_target_is_skipped(self, spark, tmp_path):
        """Compaction publishes one run that replaces the runs it
        rewrote, with exact ranges over all their rows: a key-disjoint
        gate still reads no data file, an overlapping one refuses."""
        from bend_archiver_spark.maintenance import compact_files

        tgt = str(tmp_path / "compacted")
        src = _keyed(spark)
        for lo in (0, 100):
            FileArchiveJob(spark, _keyed_cfg(tgt, _slice(lo, lo + 100)), src).run()
        assert _gate(spark, tgt, _slice(200, 300))["scanned"] == 0
        compact_files(spark, tgt)
        stats = _gate(spark, tgt, _slice(200, 300))
        assert stats["manifests"] == stats["runs_skipped"] == 1
        assert stats["scanned"] == 0 and stats["files"] == 1
        with pytest.raises(RuntimeError, match="idempotency"):
            _gate(spark, tgt, _slice(150, 250))

    def test_file_rewritten_in_place_is_scanned(self, spark, tmp_path):
        """A published file replaced by one of another size is no longer
        the file its manifest names: its new rows are counted."""
        import glob
        import os
        import shutil

        tgt = str(tmp_path / "rewritten")
        src = _keyed(spark)
        FileArchiveJob(spark, _keyed_cfg(tgt, _slice(0, 100)), src).run()
        victim = sorted(glob.glob(f"{tgt}/*.parquet"))[0]
        other = str(tmp_path / "other")
        src.filter(_slice(100, 300)).coalesce(1).write.parquet(other)
        [new] = glob.glob(f"{other}/*.parquet")
        assert os.path.getsize(new) != os.path.getsize(victim)
        os.remove(victim)
        crc = os.path.join(tgt, "." + os.path.basename(victim) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
        shutil.copyfile(new, victim)
        with pytest.raises(RuntimeError, match="idempotency"):
            _gate(spark, tgt, _slice(100, 200))

    def test_partitioned_target(self, spark, tmp_path):
        """A partitioned target's candidate files are read with the
        partition columns (``basePath``), so a predicate on one works."""
        tgt = str(tmp_path / "parts")
        src = _keyed(spark)
        for lo in (0, 100):
            report = FileArchiveJob(
                spark,
                _keyed_cfg(tgt, _slice(lo, lo + 100), target_partition_by=["p"]),
                src,
            ).run()
            assert report.verify.is_correct
        assert _gate(spark, tgt, _slice(200, 300) + " AND p = 1")["scanned"] == 0
        # only the second run's files are candidates; its one row with
        # k >= 199 has p = 1, so the gate scans them and passes
        report = FileArchiveJob(
            spark,
            _keyed_cfg(tgt, "k >= 199 AND k < 250 AND p = 0",
                       target_partition_by=["p"]),
            src,
        ).run()
        assert report.verify.is_correct and report.source_rows == 17
        stats = report.details["gate"]
        assert stats["runs_skipped"] == 1 and 0 < stats["scanned"] < stats["files"]
        with pytest.raises(RuntimeError, match="idempotency"):
            _gate(spark, tgt, _slice(150, 250) + " AND p = 1")
        assert spark.read.parquet(tgt).filter("p = 1").count() == 67
        assert spark.read.parquet(tgt).count() == 217

    def test_manifest_without_ranges_is_scanned(self, spark, tmp_path):
        """A manifest with ``"ranges": null``, as older versions wrote
        for runs with the gate off, covers its files but never skips
        them."""
        import glob
        import json

        tgt = str(tmp_path / "no_ranges")
        src = _keyed(spark)
        FileArchiveJob(spark, _keyed_cfg(tgt, _slice(0, 100)), src).run()
        [path] = glob.glob(f"{tgt}/_manifests/*.json")
        manifest = json.loads(open(path).read())
        assert manifest["ranges"]["k"] == [0, 99]
        with open(path, "w") as out:
            json.dump(dict(manifest, ranges=None), out)
        stats = _gate(spark, tgt, _slice(100, 200))
        assert stats["manifests"] == 1 and stats["runs_skipped"] == 0
        assert stats["scanned"] == stats["files"] > 0

    def test_gate_on_an_empty_target_touches_no_spark(
        self, spark, tmp_path, spark_jobs, monkeypatch
    ):
        """With no file listed, missing or empty, the gate passes
        without reading the target."""
        from bend_archiver_spark import job as job_mod

        def no_read(*a, **kw):
            raise AssertionError("the gate read an empty target")

        monkeypatch.setattr(job_mod, "read_target", no_read)
        empty = {"manifests": 0, "files": 0, "scanned": 0, "runs_skipped": 0}
        missing = str(tmp_path / "missing")
        assert spark_jobs(lambda: _gate(spark, missing, "k >= 0")) == (empty, 0)
        (tmp_path / "empty" / "_staging").mkdir(parents=True)
        assert _gate(spark, str(tmp_path / "empty"), None) == empty

    def test_unreadable_target_refuses(self, spark, tmp_path):
        """A load error on a target that holds files is not a clean
        slate: it propagates."""
        from py4j.protocol import Py4JJavaError

        tgt = tmp_path / "junk"
        tgt.mkdir()
        (tgt / "part-0.parquet").write_bytes(b"not parquet")
        with pytest.raises(Py4JJavaError):
            _gate(spark, str(tgt), "k >= 0")

    def test_hadoop_filesystem_calls_match_the_local_ones(
        self, spark, tmp_path, monkeypatch
    ):
        """Off the local filesystem the listing, the marker write and
        the manifest reads go through Hadoop's ``FileSystem``: forced
        here, they record and read the same manifest."""
        from bend_archiver_spark import sink

        tgt = str(tmp_path / "hadoop_io")
        src = _keyed(spark)
        FileArchiveJob(spark, _keyed_cfg(tgt, _slice(0, 100)), src).run()
        local = (sink.listed_files(spark, tgt), sink.read_manifests(spark, tgt))
        monkeypatch.setattr(sink, "_local_path", lambda fs, path: None)
        assert (sink.listed_files(spark, tgt), sink.read_manifests(spark, tgt)) == local
        FileArchiveJob(spark, _keyed_cfg(tgt, _slice(100, 200)), src).run()
        stats = _gate(spark, tgt, _slice(200, 300))
        assert stats["manifests"] == stats["runs_skipped"] == 2
        assert stats["scanned"] == 0

    @pytest.mark.parametrize("operation", ["archive", "compact"])
    @pytest.mark.parametrize("listing", ["local", "hadoop"])
    def test_target_that_is_a_file_is_refused(
        self, spark, tmp_path, monkeypatch, listing, operation
    ):
        """A ``targetPath`` that is a regular file is refused before the
        gate or the compaction lists it, with the same error whether the
        listing is Python's (local) or Hadoop's ``listStatus``, which
        would read the file as a one-file target. The file is untouched."""
        import re

        from bend_archiver_spark import sink
        from bend_archiver_spark.maintenance import compact_files

        if listing == "hadoop":
            monkeypatch.setattr(sink, "_local_path", lambda fs, path: None)
        target = tmp_path / "a_file"
        target.write_text("a regular file")
        message = f"targetPath {target} exists and is not a directory"
        with pytest.raises(RuntimeError, match=f"^{re.escape(message)}$"):
            if operation == "archive":
                FileArchiveJob(
                    spark, _keyed_cfg(str(target), _slice(0, 100)), _keyed(spark)
                ).run()
            else:
                compact_files(spark, str(target))
        assert target.read_text() == "a regular file"

    def test_gate_round_trips_do_not_grow_with_runs(self, spark, tmp_path):
        """On a local target the gate lists the files and reads each
        manifest with Python's calls: the Py4J commands it sends,
        counted at the gateway client, are as many at 25 published runs
        as at 5."""
        import threading

        client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
        real, me = client.send_command, threading.get_ident()
        tgt = str(tmp_path / "round_trips")
        src = _keyed(spark)

        def commands(where) -> int:
            sent = []

            def counted(*a, **kw):
                if threading.get_ident() == me:
                    sent.append(1)
                return real(*a, **kw)

            client.send_command = counted
            try:
                stats = _gate(spark, tgt, where)
            finally:
                del client.send_command
            assert stats["scanned"] == 0
            return len(sent)

        counts = {}
        for n in range(1, 26):
            report = FileArchiveJob(
                spark, _keyed_cfg(tgt, _slice(50 * (n - 1), 50 * n)), src
            ).run()
            assert report.verify.is_correct
            if n in (5, 25):
                commands(_slice(1500, 1600))  # warm what the session caches
                counts[n] = commands(_slice(1500, 1600))
        assert counts[5] == counts[25] > 0

    def test_all_null_column_never_matches(self, spark, tmp_path):
        tgt = str(tmp_path / "nulls")
        src = _keyed(spark).selectExpr("*", "CAST(NULL AS BIGINT) AS n")
        FileArchiveJob(spark, _keyed_cfg(tgt, _slice(0, 100)), src).run()
        assert _gate(spark, tgt, "n >= 0 AND k >= 0")["runs_skipped"] == 1


class TestConjuncts:
    def test_grammar(self):
        from bend_archiver_spark.manifest import conjuncts

        assert conjuncts(None) == [] and conjuncts("  ") == []
        assert conjuncts("O_ORDERKEY >= 0 AND O_ORDERKEY < 5000") == [
            ("O_ORDERKEY", ">=", ("int", 0)), ("O_ORDERKEY", "<", ("int", 5000))
        ]
        assert conjuncts("`a b`=-3 and t<='2024-01-02 03:04:05.5'") == [
            ("a b", "=", ("int", -3)),
            ("t", "<=", ("str", "2024-01-02 03:04:05.5")),
        ]
        for bad in ("k >= 0 AND", "AND k > 0", "k > 0 AND AND k < 3",
                    "k > 0x10", "k > 1_000", "null = 3", "k > 'it''s'",
                    "k > 0;", "k > 0 -- c", "k > \"5\"", "t.k > 0",
                    "k > 1" + "0" * 38):
            assert conjuncts(bad) is None, bad


class TestNdjsonTarget:
    @pytest.mark.parametrize("fmt", ["parquet", "orc", "ndjson"])
    def test_fingerprint_matches_with_timestamp_rows(
        self, spark, sf_dir, tmp_path, fmt
    ):
        """The staged files are read back with the written schema, so an
        ``ndjson`` target's timestamps are compared as timestamps, not
        as the strings JSON inference gives."""
        orders = load_table(spark, sf_dir, "orders")
        cfg = _cfg(
            str(tmp_path / fmt), source_table="orders",
            source_split_key="o_orderkey",
            source_where_condition="o_orderkey <= 3000",
            target_format=fmt, verify_fingerprint=True,
        )
        verify = FileArchiveJob(spark, cfg, orders).run().verify
        assert verify.source_fingerprint == 203934698655393158936
        assert verify.is_correct

    def test_typed_predicates_on_ndjson_timestamps(
        self, spark, sf_dir, tmp_path
    ):
        """Five orders fall on 1995-06-19 00:00:00. As strings,
        '1995-06-19T00:00:00.000000Z' is greater than '1995-06-19
        00:00:00': a string-typed verify and gate would miss those rows
        on one side of the boundary and count them on the other."""
        orders = load_table(spark, sf_dir, "orders")
        tgt = str(tmp_path / "ndjson_ts")
        day = "'1995-06-19 00:00:00'"
        for where in (f"o_orderdate <= {day}", f"o_orderdate > {day}"):
            cfg = _cfg(
                tgt, source_table="orders", source_split_key="o_orderkey",
                source_where_condition=where, target_format="ndjson",
            )
            report = FileArchiveJob(spark, cfg, orders).run()
            assert report.verify.is_correct, where
        assert report.source_rows + orders.filter(
            f"o_orderdate <= {day}"
        ).count() == orders.count()


class TestCountAndFingerprint:
    def test_equals_count_and_row_hash_sum(self, spark):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(1, "a", None), (2, None, 1.5), (None, None, None), (2, None, 1.5)],
            "k int, s string, d double",
        )
        hashes = [r[0] for r in df.select(F.xxhash64(*df.columns)).collect()]
        assert count_and_fingerprint(df) == (df.count(), sum(hashes))
        assert content_fingerprint(df) == sum(hashes)

    def test_empty_frame(self, spark):
        df = spark.createDataFrame([], "k int, s string")
        assert count_and_fingerprint(df) == (0, 0)


class TestPartitionedSink:
    def test_hive_layout_and_partition_pruning(self, spark, sf_dir, tmp_path):
        """targetPartitionBy writes a hive-style layout; a later read
        filtered on the partition column prunes partitions (the scan
        shows PartitionFilters, and only matching directories load)."""
        import os

        tgt = str(tmp_path / "bypart")
        li = load_table(spark, sf_dir, "lineitem")
        cfg = _cfg(tgt, target_partition_by=["l_returnflag"])
        report = FileArchiveJob(spark, cfg, li).run()
        assert report.verify.is_correct
        dirs = {d for d in os.listdir(tgt) if d.startswith("l_returnflag=")}
        assert dirs == {"l_returnflag=A", "l_returnflag=N", "l_returnflag=R"}

        back = spark.read.parquet(tgt).filter("l_returnflag = 'R'")
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
        assert "l_returnflag" in plan.split("PartitionFilters", 1)[1][:200]
        expected = li.filter(
            "l_quantity > 5 AND l_returnflag = 'R'"
        ).count()
        assert back.count() == expected
        shutil.rmtree(tgt, ignore_errors=True)

    def test_partition_by_from_json_string(self):
        from bend_archiver_spark.config import Config

        cfg = Config.from_dict(
            {
                "sourceTable": "t",
                "sourceSplitKey": "id",
                "sourceWhereCondition": "id > 0",
                "targetPartitionBy": "a, b",
            }
        )
        assert cfg.target_partition_by == ["a", "b"]


class TestTimeSplitFileArchive:
    def test_time_split_round_trip(self, spark, sf_dir, tmp_path):
        """Time-split mode over the events table (Worker.Run's
        SourceSplitTimeKey branch, worker/worker.go:248-252): partitions
        come from the tumbling-window plan, not the integer key."""
        tgt = str(tmp_path / "ts")
        ev = load_table(spark, sf_dir, "events")
        cfg = Config(
            source_table="events",
            source_split_time_key="ts",
            time_split_unit="day",
            source_where_condition=(
                "ts >= '2024-01-01 00:00:00' and ts < '2024-01-08 00:00:00'"
            ),
            target_path=tgt,
            target_format="parquet",
        )
        report = FileArchiveJob(spark, cfg, ev).run()
        expected = ev.filter(cfg.source_where_condition).count()
        assert report.verify.is_correct
        assert report.source_rows == expected > 0
        # 7 day-windows over the week span (final window inclusive may add one)
        assert 7 <= report.num_partitions <= 8
        shutil.rmtree(tgt, ignore_errors=True)


class TestNanoTimestampParquet:
    def test_load_parquet_normalizes_nanos(self, spark, sf_dir):
        """Generic parquet loads (the CLI --source-path route) must
        survive TIMESTAMP(NANOS) files via footer detection, matching
        load_table's micro truncation."""
        from pyspark.sql import types as T

        from bend_archiver_spark.tables import load_parquet, load_table

        via_generic = load_parquet(spark, f"{sf_dir}/events.parquet")
        assert dict(via_generic.dtypes)["ts"] == "timestamp"
        via_table = load_table(spark, sf_dir, "events")
        assert (
            via_generic.select("event_id", "ts").exceptAll(
                via_table.select("event_id", "ts")
            ).count()
            == 0
        )
        # non-nano files pass straight through
        li = load_parquet(spark, f"{sf_dir}/lineitem.parquet")
        assert li.count() > 0


class TestJdbcPlanGeneration:
    def test_urls_and_options_without_live_db(self, spark):
        cfg = Config(
            database_type="pg",
            source_host="dbhost",
            source_port=5432,
            source_db="mydb",
            source_user="u",
            source_pass="p",
            source_table="t",
            source_split_key="id",
            source_where_condition="id > 0",
        )
        src = JdbcSource(spark, cfg)
        assert src._url() == "jdbc:postgresql://dbhost:5432/mydb"
        opts = src._base_options()
        assert opts["fetchsize"] == "10000"  # MSSQL page-size analog
        assert opts["queryTimeout"] == "60"  # page-timeout analog
        assert opts["driver"] == "org.postgresql.Driver"


class TestReferenceCompat:
    def test_compat_archive_degrades_types(self, spark, sf_dir, tmp_path):
        from pyspark.sql import types as T

        tgt = str(tmp_path / "compat")
        li = load_table(spark, sf_dir, "lineitem")
        cfg = _cfg(tgt, reference_compat=True)
        report = FileArchiveJob(spark, cfg, li).run()
        assert report.verify.is_correct
        out = spark.read.parquet(tgt)
        types = dict((f.name, f.dataType) for f in out.schema.fields)
        # temporal degraded to the reference's string wire format
        assert types["l_shipdate"] == T.StringType()
        row = out.first()
        assert len(row["l_shipdate"]) == 19  # 'yyyy-MM-dd HH:mm:ss'


class TestDecimalSplitKey:
    def test_archive_with_unsigned_bigint_key(self, spark, sf_dir, tmp_path):
        """DecimalType(20,0) split key — the unsigned-bigint mapping
        (F1 fixture id column). The bounds probe returns Decimals;
        the planner must coerce them."""
        from decimal import Decimal
        from pyspark.sql import functions as F

        tgt = str(tmp_path / "dec")
        li = load_table(spark, sf_dir, "lineitem").withColumn(
            "big_id",
            (F.col("l_orderkey").cast("decimal(20,0)") + Decimal(2) ** 63),
        )
        cfg = _cfg(tgt, source_split_key="big_id")
        report = FileArchiveJob(spark, cfg, li).run()
        assert report.verify.is_correct
        assert report.source_rows > 0

    def test_archive_at_uint64_ceiling_with_fingerprint(
        self, spark, tmp_path
    ):
        """The reference's NullUint64 core case (source/mysql.go:
        410-458): split keys just under 2^64. Archives a table whose
        keys cluster at 2^64-2 through the full job — bounds probe
        (Decimal coercion), density-adjusted batching, range-
        partitioned write — then verifies count AND content
        fingerprint, and that the max key survives bit-exact (a
        double or int64 hop anywhere would truncate it)."""
        from decimal import Decimal

        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        base = 2**64 - 2
        rows = [(Decimal(base - 7 * i), f"v{i}") for i in range(300)]
        schema = T.StructType(
            [
                T.StructField("id", T.DecimalType(20, 0)),
                T.StructField("val", T.StringType()),
            ]
        )
        src = spark.createDataFrame(rows, schema)
        tgt = str(tmp_path / "u64")
        cfg = _cfg(
            tgt,
            source_table="u64",
            source_split_key="id",
            source_where_condition="",
            batch_size=100,
            verify_fingerprint=True,
        )
        report = FileArchiveJob(spark, cfg, src).run()
        assert report.verify.is_correct
        assert report.verify.fingerprints_match
        assert report.source_rows == 300
        dst = spark.read.parquet(tgt).select("id", "val")
        assert dst.count() == 300
        assert dst.agg(F.max("id")).first()[0] == Decimal(base)

    def test_split_predicates_golden_above_int64(self):
        """Golden predicate strings with bounds past 2^63 — the exact
        digit strings, so any int64/double truncation in the planner
        shows as a changed literal (parity: the uint64 branch of
        splitConditionSql, source/mysql.go:410-458)."""
        from bend_archiver_spark.planner import (
            plan_jdbc_partitions,
            split_condition,
        )

        mn, mx = 2**64 - 100, 2**64 - 2
        conds = split_condition("id", 50, mn, mx)
        assert conds[0] == (
            "(id >= 18446744073709551516 and id < 18446744073709551566)"
        )
        # the trailing min>=max window keeps A6's inclusive-edge quirk,
        # now expressed in digits only Python ints can carry
        assert conds[-1] == (
            "(id >= 18446744073709551616 and id <= 18446744073709551614)"
        )
        plan = plan_jdbc_partitions("id", mn, mx, 99, batch_size=50)
        assert plan.num_partitions >= 1
        for c in plan.predicates:
            assert "E+" not in c and "." not in c  # no float formatting
