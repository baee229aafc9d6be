"""Archive job round-trip tests (the Tier-3/4 analog of the reference's
integration tests, using file sources per FIXTURES.md §F6)."""

import shutil

import pytest

from bend_archiver_spark.config import Config
from bend_archiver_spark.job import FileArchiveJob
from bend_archiver_spark.sources.jdbc import JdbcSource
from bend_archiver_spark.tables import load_table
from bend_archiver_spark.verify import (
    content_fingerprint,
    count_and_fingerprint,
)

PINNED_FILE_JOBS = 12


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
        existing target: the target is read once for the gate and once
        for a fused count + fingerprint (reusing the gate's schema), and
        the source fingerprint hashes the filtered rows without
        re-running the range-partition sampling and shuffle."""
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
        report = FileArchiveJob(spark, cfg, li).run(check_idempotency=False)
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
        report = FileArchiveJob(spark, cfg, li).run(check_idempotency=False)
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
        report = FileArchiveJob(spark, cfg, src).run(check_idempotency=False)
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
