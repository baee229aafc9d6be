"""Unit tests for the archiver core: dialects, catalog, retry,
postsync, sink SQL."""

import pytest

from bend_archiver_spark.catalog import (
    expand_db_tables,
    match_names,
    parse_selector,
)
from bend_archiver_spark.config import Config
from bend_archiver_spark.postsync import delete_after_sync
from bend_archiver_spark.retry import RetryableError, do_retry
from bend_archiver_spark.sink import copy_into_sql
from bend_archiver_spark.sources.dialects import get_dialect
from bend_archiver_spark.verify import VerifyResult


class TestDialects:
    def test_factory_fallback_to_mysql(self):
        # parity: source/source.go:31-46 default case
        assert get_dialect("unknown").name == "mysql"
        assert get_dialect("tidb").driver == "com.mysql.cj.jdbc.Driver"

    def test_derby_schema_scope_normalizes_case(self):
        """Derby stores unquoted schema names uppercase; a lowercase
        caller must still scope to the schema instead of silently
        matching zero tables (same normalization as the Oracle
        branch)."""
        sql = get_dialect("derby").list_tables_sql("app")
        assert "s.schemaname = 'APP'" in sql
        # unscoped form stays available for single-schema callers
        assert "schemaname" not in get_dialect("derby").list_tables_sql("")

    def test_urls(self):
        assert get_dialect("mysql").jdbc_url("h", 3306, "db").startswith(
            "jdbc:mysql://h:3306/db"
        )
        assert get_dialect("pg").jdbc_url("h", 5432, "db", "require") == (
            "jdbc:postgresql://h:5432/db?sslmode=require"
        )
        assert ";databaseName=db" in get_dialect("mssql").jdbc_url("h", 1433, "db")
        assert get_dialect("oracle").jdbc_url(
            "h", 1521, "", oracle_sid="XE"
        ).endswith("@h:1521:XE")

    def test_quoting(self):
        assert get_dialect("mysql").qualified("db", "t") == "`db`.`t`"
        assert get_dialect("mssql").qualified("db", "dbo.t") == "[db].[dbo].[t]"
        assert get_dialect("pg").qualified("", "t") == '"t"'

    def test_nolock_hint(self):
        # parity: source/sql_server.go:231
        assert "WITH (NOLOCK)" in get_dialect("mssql").table_ref("db", "t")
        assert "NOLOCK" not in get_dialect("mysql").table_ref("db", "t")

    def test_bounds_sql_coalesce_sentinel(self):
        sql = get_dialect("pg").bounds_sql("db", "t", "id", "x > 1")
        assert "COALESCE(MIN(id), 0)" in sql
        assert sql.endswith("WHERE x > 1")

    def test_mssql_time_convert(self):
        # parity: source/sql_server.go:148-156
        sql = get_dialect("mssql").minmax_time_sql("db", "t", "ts", "")
        assert "CONVERT(VARCHAR(23), MIN(ts), 126)" in sql

    def test_delete_sql_variants(self):
        # parity: source/mysql.go:158 (LIMIT), postgres single delete
        assert get_dialect("mysql").delete_sql("d", "t", "x>1", 100).endswith(
            "LIMIT 100"
        )
        assert "TOP (100)" in get_dialect("mssql").delete_sql("d", "t", "x>1", 100)
        assert "LIMIT" not in get_dialect("pg").delete_sql("d", "t", "x>1", 100)

    def test_discovery_sql(self):
        assert "information_schema" in get_dialect("mysql").list_tables_sql("db")
        assert "pg_catalog" in get_dialect("pg").list_tables_sql("db")
        assert "sys.tables" in get_dialect("mssql").list_tables_sql("db")
        assert "OWNER" in get_dialect("oracle").list_tables_sql("db").upper()


class TestCatalog:
    def test_parse_selector(self):
        assert parse_selector("db.*@test_table.*") == ("db.*", "test_table.*")
        with pytest.raises(ValueError):
            parse_selector("no-separator")

    def test_match_names(self):
        # parity golden: source/source_test.go:176-189
        assert match_names("db.*", ["db1", "db2", "default"]) == ["db1", "db2"]

    def test_expand_multi_db(self):
        # parity fixture F2: db1/test_table1 (10 rows) + db2/test_table2
        dbs = ["db1", "db2", "other"]
        tables = {"db1": ["test_table1", "misc"], "db2": ["test_table2"], "other": ["x"]}
        out = expand_db_tables(
            ["db.*@test_table.*"], lambda: dbs, lambda d: tables[d]
        )
        assert out == {"db1": ["test_table1"], "db2": ["test_table2"]}

    def test_expand_merges_explicit_and_dedups(self):
        out = expand_db_tables(
            ["db1@t1"],
            lambda: ["db1"],
            lambda d: ["t1"],
            explicit_db="db1",
            explicit_table="t1",
        )
        assert out == {"db1": ["t1"]}


class TestRetry:
    def test_retries_then_succeeds(self):
        calls = []

        def fn():
            calls.append(1)
            if len(calls) < 3:
                raise RetryableError("sink down")
            return "ok"

        slept = []
        assert do_retry(fn, sleep=slept.append) == "ok"
        assert len(calls) == 3
        assert slept == [1.0, 2.0]  # exponential from 1s

    def test_backoff_cap(self):
        slept = []

        def fn():
            if len(slept) < 15:
                raise RetryableError("x")
            return 1

        do_retry(fn, max_backoff=8.0, sleep=slept.append)
        assert max(slept) == 8.0

    def test_non_retryable_propagates(self):
        def fn():
            raise ValueError("fatal")

        with pytest.raises(ValueError):
            do_retry(fn, sleep=lambda s: None)

    def test_gives_up_after_max_attempts(self):
        def fn():
            raise RetryableError("always")

        with pytest.raises(RetryableError):
            do_retry(fn, max_attempts=3, sleep=lambda s: None)

    def test_programmatic_cancel_stops_before_next_attempt(self):
        """Each attempt is a phase boundary: a programmatic
        request_cancel() (which sets the token WITHOUT interrupting
        the main thread, unlike a signal) must stop the loop at the
        next boundary instead of sleeping through up to 500 backoffs
        (60 min each at the cap)."""
        from bend_archiver_spark import cancel

        calls = []

        def fn():
            calls.append(1)
            cancel.request_cancel()  # e.g. another thread cancels
            raise RetryableError("sink down")

        cancel.reset()
        try:
            with pytest.raises(cancel.JobCancelled):
                do_retry(fn, sleep=lambda s: None)
        finally:
            cancel.reset()
        assert calls == [1]  # no second attempt after the cancel

    def test_sentinels_are_retryable(self):
        # do_retry keys on RetryableError; COPY INTO's sentinel is one
        # (ingest_databend.go:27, 229-232)
        from bend_archiver_spark.retry import CopyIntoError

        assert issubclass(CopyIntoError, RetryableError)

    def test_copy_into_gives_up_with_its_sentinel(self):
        """After the policy's last attempt ``run_copy_into`` raises the
        ``CopyIntoError`` sentinel, chained to the executor's error."""
        from bend_archiver_spark.job import run_copy_into
        from bend_archiver_spark.retry import MAX_ATTEMPTS, CopyIntoError

        cfg = Config(
            source_split_key="id", source_where_condition="id > 0",
            databend_table="db.t", target_path="/archive/t",
        )
        calls = []

        def executor(sql):
            calls.append(sql)
            raise OSError("warehouse unreachable")

        with pytest.raises(CopyIntoError, match="warehouse unreachable") as ei:
            run_copy_into(None, cfg, executor, sleep=lambda s: None)
        assert isinstance(ei.value.__cause__, OSError)
        assert len(calls) == MAX_ATTEMPTS

    def test_copy_into_retries_its_sentinel(self):
        """``run_copy_into`` retries a failed statement under the
        reference's policy (ingest_databend.go:206-241): 1 s, then 2 s
        of backoff, then the third attempt's row count."""
        from bend_archiver_spark.job import run_copy_into

        cfg = Config(
            source_split_key="id", source_where_condition="id > 0",
            databend_table="db.t", target_path="/archive/t",
        )
        calls, slept = [], []

        def executor(sql):
            calls.append(sql)
            if len(calls) < 3:
                raise OSError("warehouse unreachable")
            return 7

        assert run_copy_into(None, cfg, executor, sleep=slept.append) == 7
        assert len(calls) == 3 and slept == [1.0, 2.0]

    def test_copy_into_cancel_stops_before_next_attempt(self):
        from bend_archiver_spark import cancel
        from bend_archiver_spark.job import run_copy_into

        cfg = Config(
            source_split_key="id", source_where_condition="id > 0",
            databend_table="db.t", target_path="/archive/t",
        )
        calls = []

        def executor(sql):
            calls.append(sql)
            raise OSError("warehouse unreachable")

        cancel.reset()
        try:
            with pytest.raises(cancel.JobCancelled):
                run_copy_into(
                    None, cfg, executor,
                    sleep=lambda s: cancel.request_cancel(),
                )
        finally:
            cancel.reset()
        assert len(calls) == 1


class TestPostsync:
    def _cfg(self, dbtype="mysql", **kw):
        return Config(
            database_type=dbtype,
            source_db="d",
            source_table="t",
            source_split_key="id",
            source_where_condition="id > 0",
            batch_size=100,
            delete_after_sync=True,
            **kw,
        )

    def test_refuses_on_failed_verify(self):
        # parity: cmd/main.go:112-117 — delete only after verification
        with pytest.raises(RuntimeError, match="refused"):
            delete_after_sync(
                self._cfg(), VerifyResult(10, 9), lambda sql: 0
            )

    def test_mysql_batched_loop_with_rate_limit(self):
        executed, slept = [], []

        def execute(sql):
            executed.append(sql)
            return 100 if len(executed) < 3 else 5

        n = delete_after_sync(
            self._cfg(), VerifyResult(5, 5), execute, sleep=slept.append
        )
        assert n == 205
        assert all("LIMIT 100" in s for s in executed)
        assert slept == [3, 3]  # batchMaxInterval default between batches

    def test_pg_single_delete(self):
        executed = []
        n = delete_after_sync(
            self._cfg("pg"),
            VerifyResult(5, 5),
            lambda sql: executed.append(sql) or 42,
        )
        assert n == 42
        assert len(executed) == 1
        assert "LIMIT" not in executed[0]

    def test_disabled_flag_noop(self):
        cfg = self._cfg()
        cfg.delete_after_sync = False
        assert delete_after_sync(cfg, VerifyResult(1, 1), lambda s: 99) == 0


class TestCopyInto:
    def test_sql_shape(self):
        # parity: ingester/ingest_databend.go:182-195
        sql = copy_into_sql("db.t", "@~/batch/x.ndjson", purge=True, force=False)
        assert "FILE_FORMAT = (type = NDJSON missing_field_as = FIELD_DEFAULT" in sql
        assert "PURGE = true" in sql
        assert "FORCE = false" in sql
        assert "DISABLE_VARIANT_CHECK = true" in sql

    def test_execute_runs_generated_statement(self):
        from bend_archiver_spark.sink import execute_copy_into

        seen = []

        def fake_executor(sql: str) -> int:
            seen.append(sql)
            return 123

        n = execute_copy_into(
            fake_executor, "db.t", "@~/batch/x.ndjson", force=True
        )
        assert n == 123
        assert seen == [
            copy_into_sql("db.t", "@~/batch/x.ndjson", force=True)
        ]
