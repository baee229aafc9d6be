"""Multi-table orchestration — fixture F2 semantics: regex
`db.*@test_table.*` matches exactly db1.test_table1 + db2.test_table2,
the archive total equals the sum of both tables, and non-matching
tables are excluded (cmd/main_test.go:25-59)."""

import shutil

import pytest

from bend_archiver_spark.config import Config
from bend_archiver_spark.job import ArchiveReport, FileArchiveJob
from bend_archiver_spark.multi import run_multi_table, table_configs
from bend_archiver_spark.tables import load_table
from bend_archiver_spark.verify import VerifyResult


class TestMultiTable:
    def test_f2_regex_expansion_archives_15_rows(self, spark, sf_dir, tmp_path):
        li = load_table(spark, sf_dir, "lineitem")
        fixtures = {
            ("db1", "test_table1"): li.filter("l_orderkey < 3"),
            ("db2", "test_table2"): li.filter(
                "l_orderkey >= 3 AND l_orderkey < 5"
            ),
            ("other", "ignored"): li.limit(3),
        }
        counts = {k: df.count() for k, df in fixtures.items()}
        expected = (
            counts[("db1", "test_table1")] + counts[("db2", "test_table2")]
        )
        assert expected > 0

        cfg = Config(
            source_db_tables=["db.*@test_table.*"],
            source_split_key="l_orderkey",
            source_where_condition="l_orderkey >= 0",
            batch_size=100,
            target_format="parquet",
        )
        report = run_multi_table(
            cfg,
            job_for=lambda c: FileArchiveJob(
                spark, c, fixtures[(c.source_db, c.source_table)]
            ),
            target_path_for=lambda db, t: str(tmp_path / db / t),
            list_databases=lambda: ["db1", "db2", "other"],
            list_tables=lambda db: {
                "db1": ["test_table1", "junk"],
                "db2": ["test_table2"],
                "other": ["ignored"],
            }[db],
        )
        assert len(report.reports) == 2  # 'other' not matched
        # F2 semantics: sum of the two matched tables, nothing else
        assert report.total_source_rows == expected
        assert report.total_target_rows == expected
        assert report.is_correct
        shutil.rmtree(str(tmp_path), ignore_errors=True)

    def test_explicit_table_merged(self, spark, sf_dir, tmp_path):
        li = load_table(spark, sf_dir, "lineitem").limit(7)
        cfg = Config(
            source_db="dbx",
            source_table="solo",
            source_split_key="l_orderkey",
            source_where_condition="l_orderkey >= 0",
            batch_size=100,
        )
        report = run_multi_table(
            cfg,
            job_for=lambda c: FileArchiveJob(spark, c, li),
            target_path_for=lambda db, t: str(tmp_path / db / t),
            list_databases=lambda: [],
            list_tables=lambda db: [],
        )
        assert len(report.reports) == 1
        assert report.total_source_rows == 7
        assert report.is_correct


def _target(db, table):
    return f"/archive/{db}/{table}"


class TestTableConfigs:
    def test_no_selectors_is_the_one_table(self):
        cfg = Config(
            source_db="dbx",
            source_table="solo",
            source_split_key="id",
            source_where_condition="id > 0",
            batch_size=50,
            target_path="/ignored",
        )
        (sub,) = table_configs(cfg, _target)
        assert (sub.source_db, sub.source_table) == ("dbx", "solo")
        assert sub.target_path == "/archive/dbx/solo"
        assert sub.batch_size == 50
        assert sub.source_where_condition == "id > 0"

    def test_selectors_expand_to_per_table_clones(self):
        cfg = Config(
            source_db_tables=["db.*@t.*"],
            source_split_key="id",
            source_where_condition="id > 0",
            delete_after_sync=True,
        )
        subs = table_configs(
            cfg,
            _target,
            list_databases=lambda: ["db2", "db1", "other"],
            list_tables=lambda db: {
                "db1": ["t1", "junk"],
                "db2": ["t2", "t3"],
                "other": ["t9"],
            }[db],
        )
        assert [(c.source_db, c.source_table) for c in subs] == [
            ("db1", "t1"),
            ("db2", "t2"),
            ("db2", "t3"),
        ]
        assert [c.target_path for c in subs] == [
            "/archive/db1/t1",
            "/archive/db2/t2",
            "/archive/db2/t3",
        ]
        # each clone is one table: no selectors left, the rest unchanged
        assert all(c.source_db_tables == [] for c in subs)
        assert all(c.delete_after_sync for c in subs)
        assert cfg.source_db_tables == ["db.*@t.*"]

    def test_explicit_table_joins_the_expansion(self):
        cfg = Config(
            source_db="db1",
            source_table="extra",
            source_db_tables=["db1@t1"],
            source_split_key="id",
            source_where_condition="id > 0",
        )
        subs = table_configs(
            cfg,
            _target,
            list_databases=lambda: ["db1"],
            list_tables=lambda db: ["t1", "extra"],
        )
        assert [(c.source_db, c.source_table) for c in subs] == [
            ("db1", "t1"),
            ("db1", "extra"),
        ]


class _StubJob:
    """A job whose run returns a fixed report, or raises."""

    def __init__(self, cfg, ran, fail_tables=(), raise_tables=()):
        self.cfg, self.ran = cfg, ran
        self.fail_tables, self.raise_tables = fail_tables, raise_tables

    def run(self):
        table = self.cfg.source_table
        self.ran.append(table)
        if table in self.raise_tables:
            raise RuntimeError(f"{table} failed")
        target = 4 if table in self.fail_tables else 5
        return ArchiveReport(
            table=table,
            source_rows=5,
            target_rows=target,
            num_partitions=1,
            batch_size=5,
            elapsed_sec=0.1,
            verify=VerifyResult(source_rows=5, target_rows=target),
        )


class TestRunMultiTableLoop:
    _cfg = Config(
        source_db_tables=["db@t.*"],
        source_split_key="id",
        source_where_condition="id > 0",
    )

    def _run(self, ran, seen, **stub_kw):
        return run_multi_table(
            self._cfg,
            job_for=lambda c: _StubJob(c, ran, **stub_kw),
            target_path_for=_target,
            list_databases=lambda: ["db"],
            list_tables=lambda db: ["t1", "t2", "t3"],
            on_report=lambda r: seen.append(r.table),
        )

    def test_stops_at_first_unverified_table(self):
        ran, seen = [], []
        report = self._run(ran, seen, fail_tables=("t2",))
        assert ran == ["t1", "t2"]  # t3 never runs
        assert seen == ["t1", "t2"]
        assert report.total_source_rows == 10
        assert report.total_target_rows == 9
        assert not report.is_correct

    def test_exception_propagates_and_stops_the_loop(self):
        ran, seen = [], []
        with pytest.raises(RuntimeError, match="t2 failed"):
            self._run(ran, seen, raise_tables=("t2",))
        assert ran == ["t1", "t2"]
        assert seen == ["t1"]
