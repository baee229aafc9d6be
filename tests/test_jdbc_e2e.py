"""Live-database end-to-end tests for JdbcArchiveJob.

The reference proves its archive protocol against real databases with
a NULL-pattern fixture — odd ids carry NULL int/varchar/timestamp —
and a delete-after-sync round trip (cmd/main_test.go:97-144, :488-509,
embedded Postgres in utils/testutils/postgres.go:18-48). This is the
same evidence over embedded Derby, which ships inside Spark's JVM: a
real JDBC source, real partitioned predicate reads, real deletes — no
network, no mocks.
"""

import shutil

import pytest

from bend_archiver_spark.config import Config
from bend_archiver_spark.job import FileArchiveJob, JdbcArchiveJob

N_ROWS = 200
PINNED_JDBC_JOBS = 3


@pytest.fixture()
def derby(spark, tmp_path):
    """A fresh embedded-Derby database seeded with the NULL-pattern
    fixture: ids 1..200; odd ids have NULL V/NAME/TS (the reference's
    odd-ids-NULL fixture, cmd/main_test.go:488-509); TS carries
    sub-second precision so bound truncation bugs can't hide."""
    db_path = str(tmp_path / "derbydb")
    jvm = spark._sc._jvm  # noqa: SLF001 - raw JDBC seeding
    conn = jvm.java.sql.DriverManager.getConnection(
        f"jdbc:derby:{db_path};create=true"
    )
    st = conn.createStatement()
    st.execute(
        "CREATE TABLE TESTTAB (ID BIGINT NOT NULL PRIMARY KEY, "
        "V INT, NAME VARCHAR(64), TS TIMESTAMP)"
    )
    ps = conn.prepareStatement("INSERT INTO TESTTAB VALUES (?, ?, ?, ?)")
    types = jvm.java.sql.Types
    for i in range(1, N_ROWS + 1):
        ps.setLong(1, i)
        if i % 2 == 1:
            ps.setNull(2, types.INTEGER)
            ps.setNull(3, types.VARCHAR)
            ps.setNull(4, types.TIMESTAMP)
        else:
            ps.setInt(2, i * 10)
            ps.setString(3, f"name_{i}")
            ps.setTimestamp(
                4,
                jvm.java.sql.Timestamp.valueOf(
                    f"2024-06-30 10:00:{i % 60:02d}.1235"
                ),
            )
        ps.addBatch()
    ps.executeBatch()
    conn.close()
    yield db_path
    try:
        jvm.java.sql.DriverManager.getConnection(
            f"jdbc:derby:{db_path};shutdown=true"
        )
    except Exception:
        pass  # Derby signals successful shutdown via SQLException


def _cfg(db_path, target, **kw):
    base = dict(
        database_type="derby",
        source_db=db_path,
        source_table="TESTTAB",
        source_split_key="ID",
        batch_size=50,
        target_path=target,
        target_format="parquet",
    )
    base.update(kw)
    return Config(**base)


class TestJdbcArchiveE2E:
    def test_key_split_null_pattern_round_trip(self, spark, derby, tmp_path):
        tgt = str(tmp_path / "tgt_key")
        report = JdbcArchiveJob(spark, _cfg(derby, tgt)).run()
        assert report.verify.is_correct
        assert report.source_rows == N_ROWS
        # batch 50 over ids 1..200 -> multiple real predicate partitions
        assert report.num_partitions >= 4

        back = spark.read.parquet(tgt)
        assert back.count() == N_ROWS
        # NULL pattern survives the wire: odd ids all-NULL, even ids populated
        assert back.filter(
            "ID % 2 = 1 AND (V IS NOT NULL OR NAME IS NOT NULL "
            "OR TS IS NOT NULL)"
        ).count() == 0
        assert back.filter(
            "ID % 2 = 0 AND (V IS NULL OR NAME IS NULL OR TS IS NULL)"
        ).count() == 0
        # values, not just nullness
        row = back.filter("ID = 42").first()
        assert row.V == 420 and row.NAME == "name_42"
        assert row.TS.microsecond == 123500  # sub-second precision kept
        shutil.rmtree(tgt, ignore_errors=True)

    def test_one_read_task_per_predicate(self, spark, derby):
        """The reference's fan-out (per-goroutine key ranges, A5; a
        streaming splitter per worker, A7; condition chunks, A9; the
        fan-out decision, A19) is one predicate per read partition,
        which Spark's scheduler queues onto its cores: 21 predicates
        read every row exactly once."""
        from bend_archiver_spark.sources.jdbc import JdbcSource

        src = JdbcSource(
            spark, _cfg(derby, "", batch_size=10, source_where_condition="ID > 0")
        )
        plan = src.plan()
        df = src.read(plan)
        assert df.rdd.getNumPartitions() == len(plan.predicates) == 21
        assert df.count() == df.select("ID").distinct().count() == N_ROWS

    def test_time_split_includes_subsecond_max_row(
        self, spark, derby, tmp_path
    ):
        """The probed max TS is ...58.1235; a truncated upper bound
        would silently drop it and fail verification (the bug the
        ceil fix closes)."""
        tgt = str(tmp_path / "tgt_time")
        cfg = _cfg(
            derby,
            tgt,
            source_split_key="",
            source_split_time_key="TS",
            source_where_condition="TS IS NOT NULL",
            time_split_unit="minute",
        )
        report = JdbcArchiveJob(spark, cfg).run()
        assert report.verify.is_correct
        assert report.source_rows == N_ROWS // 2
        back = spark.read.parquet(tgt)
        assert back.count() == N_ROWS // 2
        # the max row itself made it across
        assert back.filter("TS = timestamp'2024-06-30 10:00:58.1235'").count() > 0
        shutil.rmtree(tgt, ignore_errors=True)

    def test_delete_after_sync_empties_source(self, spark, derby, tmp_path):
        tgt = str(tmp_path / "tgt_del")
        cfg = _cfg(derby, tgt, delete_after_sync=True)
        report = JdbcArchiveJob(spark, cfg).run()
        assert report.verify.is_correct
        assert report.deleted_rows == N_ROWS
        # the source table is empty after the verified delete
        left = (
            spark.read.format("jdbc")
            .option("url", f"jdbc:derby:{derby};create=true")
            .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
            .option("query", "SELECT COUNT(*) AS cnt FROM TESTTAB")
            .load()
            .first()["CNT"]  # Derby folds unquoted aliases to uppercase
        )
        assert int(left) == 0
        shutil.rmtree(tgt, ignore_errors=True)

    def test_multi_table_discovery_and_rollup(self, spark, derby, tmp_path):
        """The reference CLI's whole multi-table loop against a LIVE
        catalog: regex discovery (A15-A17) over Derby's system tables,
        per-table archive, aggregate count rollup + verification
        (A13 + A31)."""
        from bend_archiver_spark.multi import run_multi_table
        from bend_archiver_spark.sources.dialects import get_dialect

        jvm = spark._sc._jvm  # noqa: SLF001
        conn = jvm.java.sql.DriverManager.getConnection(
            f"jdbc:derby:{derby};create=true"
        )
        st = conn.createStatement()
        st.execute("CREATE TABLE SIDETAB (ID BIGINT NOT NULL, V INT)")
        for i in range(1, 81):
            st.execute(f"INSERT INTO SIDETAB VALUES ({i}, {i * 2})")
        conn.close()

        dialect = get_dialect("derby")
        url = dialect.jdbc_url("", 0, derby)
        props = {"driver": dialect.driver}

        def list_databases():
            return ["APP"]  # Derby's default schema

        def list_tables(db):
            return [
                r["NAME"]
                for r in spark.read.format("jdbc")
                .option("url", url)
                .option("driver", dialect.driver)
                .option("query", dialect.list_tables_sql(db))
                .load()
                .collect()
            ]

        cfg = _cfg(derby, "", source_table="", source_db="",
                   source_db_tables=["APP@.*TAB.*"])
        report = run_multi_table(
            cfg,
            job_for=lambda c: FileArchiveJob(
                spark, c, spark.read.jdbc(url, c.source_table, properties=props)
            ),
            target_path_for=lambda db, table: str(tmp_path / "multi" / table),
            list_databases=list_databases,
            list_tables=list_tables,
        )
        assert len(report.reports) == 2  # TESTTAB + SIDETAB discovered
        assert report.total_source_rows == N_ROWS + 80
        assert report.is_correct
        shutil.rmtree(str(tmp_path / "multi"), ignore_errors=True)

    def test_multi_schema_live_discovery_and_rollup(
        self, spark, derby, tmp_path
    ):
        """The closest this sandbox can get to the reference's second
        live engine (its CI runs MySQL/MSSQL/Databend containers,
        .github/workflows/ci.yaml:12-44; no second embedded JDBC jar
        ships with Spark): a second real CATALOG SHAPE inside Derby.
        Two user schemas with overlapping table names; the database
        list comes LIVE from sys.sysschemas (not hardcoded), per-
        schema table listing is schema-scoped (a leak across schemas
        would double-archive), overlapping selectors dedup, and the
        rollup verifies per-(schema, table) counts."""
        from bend_archiver_spark.catalog import expand_db_tables
        from bend_archiver_spark.multi import run_multi_table
        from bend_archiver_spark.sources.dialects import get_dialect

        jvm = spark._sc._jvm  # noqa: SLF001
        conn = jvm.java.sql.DriverManager.getConnection(
            f"jdbc:derby:{derby};create=true"
        )
        st = conn.createStatement()
        # same table NAME in both schemas, different row counts — a
        # scoping bug would conflate them
        for schema, n in (("ARCHA", 30), ("ARCHB", 45)):
            st.execute(f"CREATE SCHEMA {schema}")
            st.execute(
                f"CREATE TABLE {schema}.EVENTS (ID BIGINT NOT NULL, V INT)"
            )
            for i in range(1, n + 1):
                st.execute(
                    f"INSERT INTO {schema}.EVENTS VALUES ({i}, {i})"
                )
        st.execute("CREATE TABLE ARCHA.NOTES (ID BIGINT NOT NULL)")
        st.execute("INSERT INTO ARCHA.NOTES VALUES (1)")
        conn.close()

        dialect = get_dialect("derby")
        url = dialect.jdbc_url("", 0, derby)
        props = {"driver": dialect.driver}

        def q(sql):
            return [
                r["NAME"]
                for r in spark.read.format("jdbc")
                .option("url", url)
                .option("driver", dialect.driver)
                .option("query", sql)
                .load()
                .collect()
            ]

        def list_databases():
            return q(dialect.list_databases_sql())

        def list_tables(db):
            return q(dialect.list_tables_sql(db))

        # live schema list includes both user schemas
        assert {"ARCHA", "ARCHB"} <= set(list_databases())
        # schema-scoped listing: no cross-schema leak
        assert list_tables("ARCHA") == ["EVENTS", "NOTES"] or set(
            list_tables("ARCHA")
        ) == {"EVENTS", "NOTES"}
        assert list_tables("ARCHB") == ["EVENTS"]

        # overlapping selectors (both match ARCHA.EVENTS) must dedup
        plan = expand_db_tables(
            ["ARCH.@EVENTS", "ARCHA@.*"],
            list_databases,
            list_tables,
        )
        assert plan == {
            "ARCHA": ["EVENTS", "NOTES"],
            "ARCHB": ["EVENTS"],
        }

        cfg = _cfg(derby, "", source_table="", source_db="",
                   source_db_tables=["ARCH.@EVENTS", "ARCHA@.*"])
        report = run_multi_table(
            cfg,
            job_for=lambda c: FileArchiveJob(
                spark, c, spark.read.jdbc(
                    url, f"{c.source_db}.{c.source_table}", properties=props
                ),
            ),
            target_path_for=lambda db, table: str(
                tmp_path / "mschema" / db / table
            ),
            list_databases=list_databases,
            list_tables=list_tables,
        )
        assert len(report.reports) == 3
        assert report.total_source_rows == 30 + 45 + 1
        assert report.is_correct
        # the two same-named tables landed separately with their own counts
        assert spark.read.parquet(
            str(tmp_path / "mschema" / "ARCHA" / "EVENTS")
        ).count() == 30
        assert spark.read.parquet(
            str(tmp_path / "mschema" / "ARCHB" / "EVENTS")
        ).count() == 45
        shutil.rmtree(str(tmp_path / "mschema"), ignore_errors=True)

    def test_catalog_discovery_sees_fixture_table(self, spark, derby):
        from bend_archiver_spark.sources.dialects import get_dialect

        dialect = get_dialect("derby")
        names = [
            r["NAME"]
            for r in spark.read.format("jdbc")
            .option("url", dialect.jdbc_url("", 0, derby))
            .option("driver", dialect.driver)
            .option("query", dialect.list_tables_sql(""))
            .load()
            .collect()
        ]
        assert "TESTTAB" in names


class TestPackedWrite:
    """The archive's write packs the plan's predicates into one wave of
    ``min(predicates, defaultParallelism)`` tasks; neighbouring
    predicates share a task, so each file holds one contiguous key
    range, and the predicates (the SQL sent) stay the planner's."""

    @staticmethod
    def _archive(spark, derby, tmp_path, batch_size, monkeypatch):
        """Archive ``ID > 0`` at ``batch_size``: the plan, the
        predicates its JDBC reads were given, the write frame's task
        count and the (min ID, max ID, rows) of each published file."""
        import os

        from pyspark.sql import functions as F

        from bend_archiver_spark.sources.jdbc import JdbcSource

        tgt = str(tmp_path / f"tgt_packed_{batch_size}")
        cfg = _cfg(derby, tgt, batch_size=batch_size,
                   source_where_condition="ID > 0")
        plan = JdbcSource(spark, cfg).plan()
        read, tasks = [], []
        real_read = JdbcSource.read
        real_job_read = JdbcArchiveJob._read

        def recorded_read(self, p):
            read.append(list(p.predicates))
            return real_read(self, p)

        def recorded_job_read(self, p):
            written, fingerprinted = real_job_read(self, p)
            tasks.append(written.rdd.getNumPartitions())
            return written, fingerprinted

        monkeypatch.setattr(JdbcSource, "read", recorded_read)
        monkeypatch.setattr(JdbcArchiveJob, "_read", recorded_job_read)
        report = JdbcArchiveJob(spark, cfg).run()
        assert report.verify.is_correct and report.target_rows == N_ROWS
        files = sorted(
            tuple(spark.read.parquet(os.path.join(tgt, name)).agg(
                F.min("ID"), F.max("ID"), F.count(F.lit(1))
            ).first())
            for name in os.listdir(tgt)
            if name.startswith("part-")
        )
        shutil.rmtree(tgt, ignore_errors=True)
        return plan, read, tasks, files

    def test_more_predicates_than_slots(self, spark, derby, tmp_path, monkeypatch):
        slots = spark.sparkContext.defaultParallelism
        if 2 * slots + 1 > N_ROWS:
            pytest.skip("needs two non-empty predicates per slot")
        # at least two predicates per task, so every task has rows
        plan, read, tasks, files = self._archive(
            spark, derby, tmp_path, N_ROWS // (2 * slots + 1), monkeypatch
        )
        assert plan.num_partitions > slots
        assert read == [plan.predicates]
        assert tasks == [slots] and len(files) == slots
        # one contiguous key range per file (IDs are dense), disjoint,
        # covering every row once
        assert all(hi - lo + 1 == rows for lo, hi, rows in files)
        assert all(a[1] < b[0] for a, b in zip(files, files[1:]))
        assert files[0][0] == 1 and files[-1][1] == N_ROWS

    def test_no_more_predicates_than_slots(
        self, spark, derby, tmp_path, monkeypatch
    ):
        """A plan that fits the slots writes one task per predicate and
        one file per predicate that has rows, as without the packing."""
        from pyspark.sql import functions as F

        from bend_archiver_spark.sources.jdbc import JdbcSource

        slots = spark.sparkContext.defaultParallelism
        plan, read, tasks, files = self._archive(
            spark, derby, tmp_path, N_ROWS // max(1, slots // 2) + 1,
            monkeypatch,
        )
        if plan.num_partitions > slots:
            pytest.skip("a plan of two predicates needs two slots")
        assert read == [plan.predicates]
        assert tasks == [plan.num_partitions]
        src = JdbcSource(spark, _cfg(derby, "", batch_size=plan.batch_size,
                                     source_where_condition="ID > 0"))
        per_predicate = sorted(
            tuple(row[1:]) for row in src.read(plan).groupBy(
                F.spark_partition_id()
            ).agg(F.min("ID"), F.max("ID"), F.count(F.lit(1))).collect()
        )
        assert files == per_predicate


class TestCancellationDestructiveLast:
    def test_interrupt_between_write_and_verify_never_deletes(
        self, spark, derby, tmp_path, monkeypatch
    ):
        """A cancellation that lands right after the write (simulating
        a SIGTERM whose exception could not preempt a blocking JVM
        call) must abort at the delete-after-sync boundary: target
        written, source UNTOUCHED (cmd/main.go:29-35 parity; the
        idempotency gate makes the re-run safe)."""
        from bend_archiver_spark import cancel, job as job_mod

        cancel.reset()
        real_write = job_mod.write_batch

        def write_then_cancel(*a, **kw):
            real_write(*a, **kw)
            cancel.request_cancel()

        monkeypatch.setattr(job_mod, "write_batch", write_then_cancel)
        tgt = str(tmp_path / "tgt_cancel")
        cfg = _cfg(derby, tgt, delete_after_sync=True)
        try:
            with pytest.raises(cancel.JobCancelled, match="delete-after-sync"):
                JdbcArchiveJob(spark, cfg).run()
        finally:
            cancel.reset()
        # the write completed...
        assert spark.read.parquet(tgt).count() == N_ROWS
        # ...but the destructive phase never ran: source is intact
        left = (
            spark.read.format("jdbc")
            .option("url", f"jdbc:derby:{derby};create=true")
            .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
            .option("query", "SELECT COUNT(*) AS cnt FROM TESTTAB")
            .load()
            .first()["CNT"]
        )
        assert int(left) == N_ROWS
        shutil.rmtree(tgt, ignore_errors=True)

    def test_cancelled_job_rerun_hits_idempotency_gate(
        self, spark, derby, tmp_path, monkeypatch
    ):
        """Recovery contract after a cancellation that landed post-
        write: the target holds the rows, the source still holds them
        too, and a naive re-run REFUSES via the idempotency gate
        instead of appending a second copy — the operator must
        explicitly clean the target (or skip) to proceed, exactly the
        reference's re-run semantics (A32)."""
        from bend_archiver_spark import cancel, job as job_mod

        cancel.reset()
        real_write = job_mod.write_batch

        def write_then_cancel(*a, **kw):
            real_write(*a, **kw)
            cancel.request_cancel()

        monkeypatch.setattr(job_mod, "write_batch", write_then_cancel)
        tgt = str(tmp_path / "tgt_rerun")
        cfg = _cfg(derby, tgt, delete_after_sync=True,
                   source_where_condition="ID > 0")
        with pytest.raises(cancel.JobCancelled):
            JdbcArchiveJob(spark, cfg).run()
        cancel.reset()
        monkeypatch.setattr(job_mod, "write_batch", real_write)
        # naive re-run: the gate sees the archived predicate rows
        with pytest.raises(RuntimeError, match="idempotency gate"):
            JdbcArchiveJob(spark, cfg).run()
        # no second copy was appended, source never mutated
        assert spark.read.parquet(tgt).count() == N_ROWS
        shutil.rmtree(tgt, ignore_errors=True)


class TestStagedJdbcRun:
    def test_rerun_on_drained_source_still_refuses(self, spark, derby, tmp_path):
        """Delete-after-sync drained the source, so a rerun would plan
        no partitions; the gate runs before the plan and refuses."""
        tgt = str(tmp_path / "tgt_drained")
        cfg = _cfg(derby, tgt, source_where_condition="ID > 0",
                   delete_after_sync=True)
        assert JdbcArchiveJob(spark, cfg).run().deleted_rows == N_ROWS
        assert _source_count(spark, derby) == 0
        with pytest.raises(RuntimeError, match="idempotency gate"):
            JdbcArchiveJob(spark, cfg).run()
        assert spark.read.parquet(tgt).count() == N_ROWS
        shutil.rmtree(tgt, ignore_errors=True)

    def test_refused_rerun_plans_and_writes_nothing(
        self, spark, derby, tmp_path, monkeypatch, spark_jobs
    ):
        """The gate runs before the plan: a refused rerun never probes
        the source or calls ``write_batch``, and its only Spark job is
        the gate's count of the first run's files (one: the count runs
        with no exchange)."""
        from bend_archiver_spark import job as job_mod

        tgt = str(tmp_path / "tgt_refused")
        cfg = _cfg(derby, tgt, source_where_condition="ID > 0")
        assert JdbcArchiveJob(spark, cfg).run().verify.is_correct
        called = []
        monkeypatch.setattr(
            JdbcArchiveJob, "_plan", lambda self: called.append("plan")
        )
        monkeypatch.setattr(
            job_mod, "write_batch", lambda *a, **kw: called.append("write")
        )

        def refused():
            with pytest.raises(RuntimeError, match="idempotency gate"):
                JdbcArchiveJob(spark, cfg).run()

        _, jobs = spark_jobs(refused)
        assert called == [] and jobs == 1
        assert spark.read.parquet(tgt).count() == N_ROWS
        shutil.rmtree(tgt, ignore_errors=True)


# One archive run in a separate Spark driver process (its own JVM over
# the same Derby files): argv = db, target, mode, flag file. ``kill``
# stalls the write inside the task that holds ID 150, after an earlier
# task has written its file, until the test kills that process group;
# ``corrupt`` alters one written value so the fingerprints differ;
# ``publish`` stalls after the publish's renames, before the run's
# manifest is recorded; ``compact`` compacts the target instead and
# stalls after its publish's renames, before the replaced files are
# deleted.
_CRASH_CHILD = r"""
import sys, time
from pyspark.sql import functions as F
from bend_archiver_spark import job, maintenance, sink
from bend_archiver_spark.config import Config
from bend_archiver_spark.session import get_spark

db, target, mode, flag = sys.argv[1:5]
spark = get_spark("crash-child", master="local[2]", shuffle_partitions=2)
real_write = job.write_batch

@F.udf("boolean")
def stall_at_150(i):
    if i == 150:
        open(flag, "w").close()
        time.sleep(60)
    return True

def write(df, *a, **kw):
    if mode == "kill":
        df = df.filter(stall_at_150("ID"))
    elif mode == "corrupt":
        df = df.withColumn(
            "V", F.when(F.col("ID") == 42, F.col("V") + 1).otherwise(F.col("V")))
    return real_write(df, *a, **kw)

def stall(*a):
    open(flag, "w").close()
    time.sleep(60)

job.write_batch = write
if mode == "publish":
    sink.record_manifest = stall
if mode == "compact":
    sink.drop_replaced = stall
    maintenance.compact_files(spark, target)
else:
    cfg = Config(database_type="derby", source_db=db, source_table="TESTTAB",
                 source_split_key="ID", batch_size=50, target_path=target,
                 target_format="parquet", verify_fingerprint=True,
                 delete_after_sync=True)
    report = job.JdbcArchiveJob(spark, cfg).run()
    print("verified", report.verify.is_correct, "deleted", report.deleted_rows)
    try:  # release the database before the JVM's own exit, which lags ours
        spark._jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db};shutdown=true")
    except Exception:
        pass  # Derby signals a clean shutdown via SQLException
spark.stop()
"""


class TestCrashSafety:
    """A crashed or failed run publishes nothing and leaves nothing a
    plain rerun has to be helped past: the rerun archives every row
    exactly once, with matching fingerprints."""

    @staticmethod
    def _child(spark, derby, tgt, mode, tmp_path):
        import os
        import subprocess
        import sys

        # the child's JVM boots the database: release it here first
        jvm = spark._sc._jvm  # noqa: SLF001
        try:
            jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:{derby};shutdown=true"
            )
        except Exception:  # noqa: BLE001
            pass  # Derby signals a clean shutdown via SQLException
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = dict(
            os.environ,
            PYTHONPATH=repo,
            SPARK_GRAFT_CPUS="2",
            SPARK_DRIVER_MEMORY="1g",
        )
        log = open(tmp_path / f"child_{mode}.log", "w")
        flag = tmp_path / f"child_{mode}.flag"
        proc = subprocess.Popen(
            [sys.executable, "-c", _CRASH_CHILD, derby, tgt, mode, str(flag)],
            cwd=str(tmp_path), env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        return proc, flag, log

    @staticmethod
    def _end(proc, log):
        """Kill what is left of the child's process group and wait until
        none of it runs: its JVM holds the Derby database until it has
        exited, which can be after the child's python process."""
        import os
        import signal
        import time

        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait(timeout=60)
        deadline = time.monotonic() + 60
        while True:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            assert time.monotonic() < deadline, "child process group still runs"
            time.sleep(0.1)
        log.close()

    def _rerun_archives_exactly_once(self, spark, derby, tgt):
        import os

        cfg = _cfg(derby, tgt, verify_fingerprint=True, delete_after_sync=True)
        report = JdbcArchiveJob(spark, cfg).run()
        assert report.verify.is_correct
        assert report.verify.source_fingerprint == report.verify.target_fingerprint
        assert report.source_rows == report.target_rows == N_ROWS
        assert report.deleted_rows == N_ROWS
        back = spark.read.parquet(tgt)
        assert back.count() == back.select("ID").distinct().count() == N_ROWS
        assert not os.path.exists(os.path.join(tgt, "_staging"))
        assert _source_count(spark, derby) == 0

    def test_driver_killed_mid_write(self, spark, derby, tmp_path, release_heap):
        import glob
        import os
        import signal
        import time

        tgt = str(tmp_path / "tgt_killed")
        proc, flag, log = self._child(spark, derby, tgt, "kill", tmp_path)
        try:
            deadline = time.monotonic() + 180
            while not flag.exists():
                assert proc.poll() is None, (tmp_path / "child_kill.log").read_text()
                assert time.monotonic() < deadline
                time.sleep(0.1)
        finally:
            # the write is in flight: kill the Spark driver (python and JVM)
            self._end(proc, log)
        assert proc.returncode == -signal.SIGKILL
        # the crash left staged files, none of them published
        assert os.path.isdir(os.path.join(tgt, "_staging"))
        assert not glob.glob(os.path.join(tgt, "*.parquet"))
        assert _source_count(spark, derby) == N_ROWS
        self._rerun_archives_exactly_once(spark, derby, tgt)
        shutil.rmtree(tgt, ignore_errors=True)

    def test_fingerprint_mismatch(self, spark, derby, tmp_path, release_heap):
        import glob
        import os

        tgt = str(tmp_path / "tgt_mismatch")
        proc, _, log = self._child(spark, derby, tgt, "corrupt", tmp_path)
        try:
            assert proc.wait(timeout=300) == 0
        finally:
            self._end(proc, log)
        out = (tmp_path / "child_corrupt.log").read_text()
        assert "verified False deleted 0" in out, out
        # nothing published, nothing staged, nothing deleted
        assert not glob.glob(os.path.join(tgt, "*.parquet"))
        assert not os.path.exists(os.path.join(tgt, "_staging"))
        assert _source_count(spark, derby) == N_ROWS
        self._rerun_archives_exactly_once(spark, derby, tgt)
        shutil.rmtree(tgt, ignore_errors=True)


    def test_driver_killed_between_publish_and_manifest(
        self, spark, derby, tmp_path, release_heap
    ):
        """Every file is renamed into the target, the manifest not yet
        recorded: the rows are archived once, so a rerun finishes the
        publish, records the manifest from the staged run's marker and
        refuses; a gate over other keys then skips the run."""
        import glob
        import json
        import os
        import signal
        import time

        from bend_archiver_spark.job import check_idempotency_gate

        tgt = str(tmp_path / "tgt_publish")
        proc, flag, log = self._child(spark, derby, tgt, "publish", tmp_path)
        try:
            deadline = time.monotonic() + 180
            while not flag.exists():
                assert proc.poll() is None, (tmp_path / "child_publish.log").read_text()
                assert time.monotonic() < deadline
                time.sleep(0.1)
        finally:
            self._end(proc, log)
        assert proc.returncode == -signal.SIGKILL
        [marker] = glob.glob(os.path.join(tgt, "_staging", "*", "_PUBLISHING"))
        assert json.loads(open(marker).read())["rows"] == N_ROWS
        assert not os.path.exists(os.path.join(tgt, "_manifests"))
        assert spark.read.parquet(tgt).count() == N_ROWS

        cfg = _cfg(derby, tgt, verify_fingerprint=True, delete_after_sync=True)
        with pytest.raises(RuntimeError, match="idempotency gate"):
            JdbcArchiveJob(spark, cfg).run()
        back = spark.read.parquet(tgt)
        assert back.count() == back.select("ID").distinct().count() == N_ROWS
        assert not os.path.exists(os.path.join(tgt, "_staging"))
        [manifest] = glob.glob(os.path.join(tgt, "_manifests", "*.json"))
        assert json.loads(open(manifest).read())["ranges"]["ID"] == [1, N_ROWS]
        stats = check_idempotency_gate(
            spark, _cfg(derby, tgt, source_where_condition="ID > 200")
        )
        assert stats["runs_skipped"] == 1 and stats["scanned"] == 0
        assert _source_count(spark, derby) == N_ROWS  # never deleted
        shutil.rmtree(tgt, ignore_errors=True)

    def test_compaction_killed_between_renames_and_deletes(
        self, spark, derby, tmp_path, release_heap
    ):
        """Compaction of two runs is killed once its new files are
        renamed in, before the files they replace are deleted: readers
        of the directory see those rows twice. The next archive run
        finishes the publish before its gate, which skips the compacted
        run, and every row is archived exactly once."""
        import glob
        import json
        import os
        import signal
        import time

        from bend_archiver_spark.verify import content_fingerprint

        tgt = str(tmp_path / "tgt_compact")
        for where in ("ID <= 50", "ID > 50 AND ID <= 100"):
            report = JdbcArchiveJob(
                spark, _cfg(derby, tgt, source_where_condition=where)
            ).run()
            assert report.verify.is_correct
        archived = content_fingerprint(spark.read.parquet(tgt))
        proc, flag, log = self._child(spark, derby, tgt, "compact", tmp_path)
        try:
            deadline = time.monotonic() + 180
            while not flag.exists():
                assert proc.poll() is None, (tmp_path / "child_compact.log").read_text()
                assert time.monotonic() < deadline
                time.sleep(0.1)
        finally:
            self._end(proc, log)
        assert proc.returncode == -signal.SIGKILL
        [marker] = glob.glob(os.path.join(tgt, "_staging", "*", "_PUBLISHING"))
        assert len(json.loads(open(marker).read())["replaces"]["runs"]) == 2
        assert spark.read.parquet(tgt).count() == 2 * 100

        cfg = _cfg(derby, tgt, source_where_condition="ID > 100",
                   verify_fingerprint=True, delete_after_sync=True)
        report = JdbcArchiveJob(spark, cfg).run()
        assert report.verify.is_correct
        assert report.verify.source_fingerprint == report.verify.target_fingerprint
        assert report.source_rows == report.deleted_rows == 100
        assert report.details["gate"]["runs_skipped"] == 1
        assert report.details["gate"]["scanned"] == 0
        back = spark.read.parquet(tgt)
        assert back.count() == back.select("ID").distinct().count() == N_ROWS
        assert content_fingerprint(back.filter("ID <= 100")) == archived
        assert len(glob.glob(os.path.join(tgt, "_manifests", "*.json"))) == 2
        assert not os.path.exists(os.path.join(tgt, "_staging"))
        assert _source_count(spark, derby) == N_ROWS - 100
        shutil.rmtree(tgt, ignore_errors=True)


class TestDecimal20JdbcE2E:
    def test_uint64_ceiling_key_split_round_trip(self, spark, tmp_path):
        """DECIMAL(20,0) split keys just under 2^64 over a LIVE Derby
        wire — the JDBC twin of the reference's NullUint64 core case
        (source/mysql.go:410-458): bounds probe returns BigDecimals,
        the planner coerces past int64, the generated range predicates
        carry 20-digit literals Derby must evaluate, and the archived
        max key round-trips bit-exact."""
        from decimal import Decimal

        db_path = str(tmp_path / "derbyu64")
        jvm = spark._sc._jvm  # noqa: SLF001 - raw JDBC seeding
        conn = jvm.java.sql.DriverManager.getConnection(
            f"jdbc:derby:{db_path};create=true"
        )
        st = conn.createStatement()
        st.execute(
            "CREATE TABLE UTAB (ID DECIMAL(20,0) NOT NULL PRIMARY KEY, "
            "V INT)"
        )
        ps = conn.prepareStatement("INSERT INTO UTAB VALUES (?, ?)")
        base = 2**64 - 2
        n = 120
        for i in range(n):
            ps.setBigDecimal(1, jvm.java.math.BigDecimal(str(base - 7 * i)))
            ps.setInt(2, i)
            ps.addBatch()
        ps.executeBatch()
        conn.close()

        tgt = str(tmp_path / "tgt_u64")
        cfg = _cfg(db_path, tgt, source_table="UTAB", batch_size=100)
        report = JdbcArchiveJob(spark, cfg).run()
        assert report.verify.is_correct
        assert report.source_rows == n

        back = spark.read.parquet(tgt)
        assert back.count() == n
        assert [f.dataType.simpleString() for f in back.schema.fields if
                f.name == "ID"] == ["decimal(20,0)"]
        got_max = back.agg({"ID": "max"}).first()[0]
        assert got_max == Decimal(base)  # no int64/double truncation
        got_min = back.agg({"ID": "min"}).first()[0]
        assert got_min == Decimal(base - 7 * (n - 1))
        shutil.rmtree(tgt, ignore_errors=True)
        try:
            jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:{db_path};shutdown=true"
            )
        except Exception:
            pass  # Derby signals successful shutdown via SQLException


def _source_count(spark, db_path):
    from bend_archiver_spark.sources.jdbc import JdbcSource

    return JdbcSource(spark, _cfg(db_path, "")).count()


class TestDriverSideProbes:
    """The bounds and count probes are single-row SQL over one
    driver-side connection, as the reference runs them
    (source/mysql.go:79-114): no Spark job, same values."""

    def test_key_probes_launch_no_spark_job(self, spark, derby, spark_jobs):
        from bend_archiver_spark.sources.jdbc import JdbcSource

        src = JdbcSource(spark, _cfg(derby, ""))
        assert spark_jobs(src.probe_bounds) == ((1, N_ROWS, N_ROWS), 0)
        assert spark_jobs(src.count) == (N_ROWS, 0)
        # empty range: the COALESCE 0/0/0 sentinel
        empty = JdbcSource(
            spark, _cfg(derby, "", source_where_condition="ID > 1000")
        )
        assert spark_jobs(empty.probe_bounds) == ((0, 0, 0), 0)
        assert spark_jobs(empty.count) == (0, 0)

    def test_decimal20_bounds_near_2_64(self, spark, derby, spark_jobs):
        from bend_archiver_spark.sources.jdbc import JdbcSource

        jvm = spark._sc._jvm  # noqa: SLF001
        conn = jvm.java.sql.DriverManager.getConnection(
            f"jdbc:derby:{derby};create=true"
        )
        st = conn.createStatement()
        st.execute("CREATE TABLE UTAB (ID DECIMAL(20,0) NOT NULL, V INT)")
        for k in (2**64 - 9, 2**64 - 2, 2**63 + 5):
            st.execute(f"INSERT INTO UTAB VALUES ({k}, 1)")
        conn.close()
        src = JdbcSource(spark, _cfg(derby, "", source_table="UTAB"))
        assert spark_jobs(src.probe_bounds) == ((2**63 + 5, 2**64 - 2, 3), 0)

    def test_time_probe_launches_no_spark_job(self, spark, derby, spark_jobs):
        from bend_archiver_spark.sources.jdbc import JdbcSource, _ceil_bound

        src = JdbcSource(
            spark, _cfg(derby, "", source_split_key="", source_split_time_key="TS")
        )
        (lo, hi), jobs = spark_jobs(src.probe_time_bounds)
        assert jobs == 0
        assert lo.startswith("2024-06-30 10:00:00.1235")
        assert hi.startswith("2024-06-30 10:00:58.1235")
        assert _ceil_bound(hi) == "2024-06-30 10:00:59"
        # only NULL times in range: NULL bounds, hence no windows
        nulls = JdbcSource(
            spark,
            _cfg(derby, "", source_split_key="", source_split_time_key="TS",
                 source_where_condition="TS IS NULL"),
        )
        assert spark_jobs(nulls.probe_time_bounds) == ((None, None), 0)
        assert nulls.plan_time_split().predicates == []

    def test_connection_registers_driver_before_connecting(self):
        """Like Spark's JDBC reader, the helper registers the driver
        class with Spark's DriverRegistry before asking DriverManager
        for a connection, and closes the connection on exit."""
        from types import SimpleNamespace as ns

        from bend_archiver_spark.sources.jdbc import driver_connection

        calls = []
        conn = ns(close=lambda: calls.append("close"))
        registry = ns(register=lambda d: calls.append(("register", d)))
        manager = ns(
            getConnection=lambda *a: calls.append(("connect", *a)) or conn
        )
        spark_jdbc = ns(DriverRegistry=registry)
        jvm = ns(
            org=ns(apache=ns(spark=ns(sql=ns(execution=ns(
                datasources=ns(jdbc=spark_jdbc)))))),
            java=ns(sql=ns(DriverManager=manager)),
        )
        with driver_connection(
            ns(_jvm=jvm), "jdbc:x:db", "x.Driver", "u", "p"
        ) as got:
            assert got is conn
        assert calls == [
            ("register", "x.Driver"),
            ("connect", "jdbc:x:db", "u", "p"),
            "close",
        ]


class TestFingerprintedDeleteE2E:
    """Fingerprint verification in front of the destructive delete,
    over a live source: a match deletes, a value-level mismatch (equal
    counts) refuses and leaves the source intact."""

    def test_matching_fingerprints_delete(self, spark, derby, tmp_path):
        tgt = str(tmp_path / "tgt_fp_del")
        cfg = _cfg(derby, tgt, verify_fingerprint=True, delete_after_sync=True)
        report = JdbcArchiveJob(spark, cfg).run()
        assert report.verify.source_fingerprint is not None
        assert report.verify.source_fingerprint == report.verify.target_fingerprint
        assert report.verify.is_correct
        assert report.deleted_rows == N_ROWS
        assert _source_count(spark, derby) == 0
        shutil.rmtree(tgt, ignore_errors=True)

    def test_corrupt_value_fails_and_keeps_source(
        self, spark, derby, tmp_path, monkeypatch
    ):
        from pyspark.sql import functions as F

        from bend_archiver_spark import job as job_mod

        real_write = job_mod.write_batch

        def write_one_altered(df, *a, **kw):
            altered = df.withColumn(
                "V", F.when(F.col("ID") == 42, F.col("V") + 1).otherwise(F.col("V"))
            )
            return real_write(altered, *a, **kw)

        monkeypatch.setattr(job_mod, "write_batch", write_one_altered)
        tgt = str(tmp_path / "tgt_fp_bad")
        cfg = _cfg(derby, tgt, verify_fingerprint=True, delete_after_sync=True)
        report = JdbcArchiveJob(spark, cfg).run()
        assert report.source_rows == report.target_rows == N_ROWS
        assert report.verify.source_fingerprint != report.verify.target_fingerprint
        assert not report.verify.is_correct
        assert report.deleted_rows == 0
        assert _source_count(spark, derby) == N_ROWS
        shutil.rmtree(tgt, ignore_errors=True)


class TestArchiveJobSparkJobs:
    def test_fingerprinted_run_against_existing_target(
        self, spark, derby, tmp_path, spark_jobs
    ):
        """Pins the Spark jobs of a fingerprinted, deleting archive into
        an existing target: the write, one pass over the staged files
        for count and fingerprint, the JDBC fingerprint re-read, each
        one job (an aggregate runs with no exchange). The
        gate runs none: the first run's manifest records ID in [1, 100],
        which ``ID > 100`` cannot meet. Probes, the source count and the
        delete run on the driver's connection; the staged files are
        read with the written schema."""
        tgt = str(tmp_path / "tgt_jobs")
        first = _cfg(derby, tgt, source_where_condition="ID <= 100")
        assert JdbcArchiveJob(spark, first).run().verify.is_correct
        cfg = _cfg(
            derby, tgt, source_where_condition="ID > 100",
            verify_fingerprint=True, delete_after_sync=True,
        )
        report, jobs = spark_jobs(JdbcArchiveJob(spark, cfg).run)
        assert report.verify.is_correct and report.deleted_rows == 100
        assert jobs == PINNED_JDBC_JOBS
        shutil.rmtree(tgt, ignore_errors=True)

    def test_fresh_bounds_run_compiles_one_class(
        self, spark, derby, tmp_path, codegen_compiles
    ):
        """A drain run (fingerprinted, deleting, key-disjoint from the
        target's runs) with slice bounds no earlier run used compiles
        one new Janino class: Spark inlines the predicate's literals
        into the staged verify's generated code. Every other class is
        cached by an earlier run of the same shape."""
        tgt = str(tmp_path / "tgt_compiles")

        def drain(lo, hi):
            cfg = _cfg(
                derby, tgt, source_where_condition=f"ID > {lo} AND ID <= {hi}",
                verify_fingerprint=True, delete_after_sync=True,
            )
            return JdbcArchiveJob(spark, cfg).run()

        assert drain(0, 60).deleted_rows == 60
        report, compiles = codegen_compiles(lambda: drain(60, 130))
        assert report.verify.is_correct and report.deleted_rows == 70
        assert compiles == 1
        shutil.rmtree(tgt, ignore_errors=True)


class TestReferenceCompatJdbc:
    def test_compat_degrades_jdbc_archive(self, spark, derby, tmp_path):
        """reference_compat applies to JDBC sources too: the written
        rows and the fingerprinted rows are both the degraded ones."""
        tgt = str(tmp_path / "tgt_compat")
        cfg = _cfg(derby, tgt, reference_compat=True, verify_fingerprint=True)
        report = JdbcArchiveJob(spark, cfg).run()
        assert report.verify.is_correct
        assert report.verify.source_fingerprint is not None
        back = spark.read.parquet(tgt)
        assert dict(back.dtypes)["TS"] == "string"
        assert len(back.filter("ID = 42").first().TS) == 19
        # odd ids stay NULL through the degradation
        assert back.filter("ID % 2 = 1 AND TS IS NOT NULL").count() == 0
        assert back.filter("ID % 2 = 1").count() == N_ROWS // 2
        shutil.rmtree(tgt, ignore_errors=True)


class TestFileJdbcParity:
    def test_same_rows_same_report(self, spark, derby, tmp_path):
        """The same Derby rows archived through JdbcArchiveJob and
        through FileArchiveJob over a Spark JDBC frame get one split
        plan (the planner's partition count and batch) and the same
        counts and fingerprints."""
        from bend_archiver_spark.job import FileArchiveJob
        from bend_archiver_spark.sources.dialects import get_dialect

        dialect = get_dialect("derby")
        url = dialect.jdbc_url("", 0, derby)
        jdbc = JdbcArchiveJob(
            spark,
            _cfg(derby, str(tmp_path / "via_jdbc"), verify_fingerprint=True),
        ).run()
        df = spark.read.jdbc(url, "TESTTAB", properties={"driver": dialect.driver})
        files = FileArchiveJob(
            spark,
            _cfg(derby, str(tmp_path / "via_file"), verify_fingerprint=True),
            df,
        ).run()
        assert jdbc.verify.is_correct and files.verify.is_correct
        for attr in ("source_rows", "target_rows", "num_partitions", "batch_size"):
            assert getattr(jdbc, attr) == getattr(files, attr), attr
        assert jdbc.source_rows == N_ROWS
        assert jdbc.verify.source_fingerprint == files.verify.source_fingerprint
        assert jdbc.verify.target_fingerprint == files.verify.target_fingerprint


def _count_calls(monkeypatch, owner, attr):
    """Wrap ``owner.attr`` so each call is counted; returns the list
    the calls append to."""
    calls = []
    original = getattr(owner, attr)

    def counted(*a, **kw):
        calls.append(attr)
        return original(*a, **kw)

    monkeypatch.setattr(owner, attr, counted)
    return calls


class TestTracedEntryPoints:
    def test_archive_reaches_every_patched_entry_point(
        self, spark, derby, tmp_path, monkeypatch
    ):
        """The benchmark's tracer (perfbench/tracer.py) patches these
        names on their owners and expects the job to look them up at
        call time. A fingerprinted, deleting JDBC archive reaches each
        one, this many times."""
        from bend_archiver_spark import job, postsync, verify
        from bend_archiver_spark.sources import jdbc

        expected = {
            (job, "check_idempotency_gate"): 1,
            (job, "write_batch"): 1,
            # the post-write count + fingerprint read; the gate lists no
            # file in the fresh target, so it reads nothing
            (job, "read_target"): 1,
            (verify, "content_fingerprint"): 1,
            (jdbc.JdbcSource, "probe_bounds"): 1,
            (jdbc.JdbcSource, "count"): 1,
            (jdbc.JdbcSource, "read"): 1,
            (jdbc, "plan_jdbc_partitions"): 1,
            (postsync, "delete_after_sync"): 1,
        }
        calls = {
            key: _count_calls(monkeypatch, *key) for key in expected
        }
        tgt = str(tmp_path / "tgt_traced")
        cfg = _cfg(derby, tgt, verify_fingerprint=True, delete_after_sync=True)
        report = JdbcArchiveJob(spark, cfg).run()
        assert report.verify.is_correct and report.deleted_rows == N_ROWS
        assert {k: len(v) for k, v in calls.items()} == expected
        shutil.rmtree(tgt, ignore_errors=True)


class TestCliJdbcMode:
    """The CLI's JDBC mode builds one JdbcArchiveJob: the archive probes
    the bounds once, and a dry run is one COUNT(*) on the driver's
    connection."""

    @pytest.fixture()
    def conf(self, spark, derby, tmp_path, monkeypatch):
        import json

        from bend_archiver_spark import cancel, cli

        monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
        monkeypatch.setattr(spark, "stop", lambda: None)
        cancel.reset()
        path = tmp_path / "conf.json"
        path.write_text(json.dumps({
            "databaseType": "derby",
            "sourceDB": derby,
            "sourceTable": "TESTTAB",
            "sourceSplitKey": "ID",
            "sourceWhereCondition": "ID > 0",
            "batchSize": 50,
            "targetPath": str(tmp_path / "cli_tgt"),
            "targetFormat": "parquet",
        }))
        yield str(path)
        cancel.reset()

    @staticmethod
    def _payload(out):
        import json

        return next(json.loads(l) for l in out.splitlines() if l.startswith("{"))

    def test_archive_probes_bounds_once(self, conf, capsys, monkeypatch):
        from bend_archiver_spark import cli
        from bend_archiver_spark.sources.jdbc import JdbcSource

        probes = _count_calls(monkeypatch, JdbcSource, "probe_bounds")
        assert cli.main(["--conf", conf]) == 0
        report = self._payload(capsys.readouterr().out)
        assert report["verified"] is True
        assert report["source_rows"] == report["target_rows"] == N_ROWS
        assert len(probes) == 1

    def test_dry_run_counts_without_spark_job(
        self, conf, capsys, spark_jobs, tmp_path
    ):
        from bend_archiver_spark import cli

        rc, jobs = spark_jobs(lambda: cli.main(["--conf", conf, "--dry-run"]))
        assert rc == 0
        assert jobs == 0
        assert self._payload(capsys.readouterr().out) == {
            "dry_run": True, "matching_rows": N_ROWS,
        }
        assert not (tmp_path / "cli_tgt").exists()


class TestCliMultiTable:
    """A JDBC config with ``sourceDbTables`` runs the CLI's one loop
    over every matched table: the catalog is listed over the driver's
    connection, each table is archived into ``<targetPath>/<db>/<table>``
    and deleted from its source, and a rollup line follows (A13, A17)."""

    def test_two_schemas_archive_delete_and_roll_up(
        self, spark, derby, tmp_path, monkeypatch, capsys, spark_jobs
    ):
        import json

        from bend_archiver_spark import cancel, cli
        from bend_archiver_spark.catalog import expand_db_tables
        from bend_archiver_spark.sources.jdbc import JdbcSource

        jvm = spark._sc._jvm  # noqa: SLF001
        conn = jvm.java.sql.DriverManager.getConnection(
            f"jdbc:derby:{derby};create=true"
        )
        st = conn.createStatement()
        for schema, n in (("ARCHA", 30), ("ARCHB", 45)):
            st.execute(f"CREATE SCHEMA {schema}")
            st.execute(
                f"CREATE TABLE {schema}.EVENTS (ID BIGINT NOT NULL, V INT)"
            )
            for i in range(1, n + 1):
                st.execute(f"INSERT INTO {schema}.EVENTS VALUES ({i}, {i})")
        conn.close()

        raw = {
            "databaseType": "derby",
            "sourceDB": derby,
            "sourceDbTables": ["ARCH.@EVENTS"],
            "sourceSplitKey": "ID",
            "sourceWhereCondition": "ID > 0",
            "batchSize": 20,
            "deleteAfterSync": True,
            "targetPath": str(tmp_path / "arch"),
            "targetFormat": "parquet",
        }
        cfg = Config.from_dict(raw)
        source = JdbcSource(spark, cfg)
        expanded, jobs = spark_jobs(lambda: expand_db_tables(
            cfg.source_db_tables, source.list_databases, source.list_tables
        ))
        assert expanded == {"ARCHA": ["EVENTS"], "ARCHB": ["EVENTS"]}
        assert jobs == 0

        monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
        monkeypatch.setattr(spark, "stop", lambda: None)
        conf = tmp_path / "conf.json"
        conf.write_text(json.dumps(raw))
        cancel.reset()
        try:
            rc = cli.main(["--conf", str(conf)])
        finally:
            cancel.reset()
        assert rc == 0
        lines = [
            json.loads(l)
            for l in capsys.readouterr().out.splitlines()
            if l.startswith("{")
        ]
        reports = [l for l in lines if "table" in l]
        assert [(r["table"], r["source_rows"], r["verified"]) for r in reports] == [
            ("ARCHA.EVENTS", 30, True), ("ARCHB.EVENTS", 45, True),
        ]
        assert lines[-1] == {
            "tables": 2, "source_rows": 75, "target_rows": 75, "verified": True,
        }
        for schema, n in (("ARCHA", 30), ("ARCHB", 45)):
            assert spark.read.parquet(
                str(tmp_path / "arch" / schema / "EVENTS")
            ).count() == n
            drained = Config.from_dict({**raw, "sourceTable": f"{schema}.EVENTS"})
            assert JdbcSource(spark, drained).count() == 0
        shutil.rmtree(str(tmp_path / "arch"), ignore_errors=True)
