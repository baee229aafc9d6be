"""Second-engine end-to-end tests: each dialect's generated SQL
executed by DuckDB.

The reference CI proves its per-dialect SQL against four live engines
(/root/reference/.github/workflows/ci.yaml:12-44 — MySQL 5.7, Databend,
Oracle XE, Azure SQL Edge). This container has no network and ships
only the Derby JDBC driver, so the second live engine here is DuckDB:
a real SQL parser/executor. Where the Derby e2e (tests/test_jdbc_e2e.py)
proves the full Spark JDBC archive protocol, this file proves that the
*generated SQL strings* — discovery, bounds probes, split predicates,
time windows, delete-after-sync — parse and return correct values on a
second independent engine, not just on the golden-string assertions.

The pg dialect executes verbatim (DuckDB speaks the PostgreSQL
surface, including `pg_catalog.pg_tables`). The mysql, mssql, and
oracle dialects execute through :func:`duckify` — a SURFACE-SYNTAX
translation (quoting characters, the NOLOCK hint, CONVERT style 126,
TOP/LIMIT delete batching, `+` string concat) that never touches query
STRUCTURE: every table reference, join, filter, aggregate, alias, and
COALESCE sentinel in the executed statement is the generated one, and
each lexical rule below documents the dialect spelling it maps. The
engine-specific catalog queries run against mock `sys.*` / `all_*`
tables seeded with the documented shape of the real catalogs.

One statement stays golden-only: pg `list_databases_sql` filters on
`pg_database.datistemplate`, a column only a real PostgreSQL server
has (DuckDB's pg_database compatibility view omits it).
"""

import datetime
import re

import duckdb
import pytest

from bend_archiver_spark.planner import split_condition, split_time_windows
from bend_archiver_spark.sources.dialects import get_dialect

N_ROWS = 200
PG = get_dialect("pg")
MYSQL = get_dialect("mysql")
MSSQL = get_dialect("mssql")
ORACLE = get_dialect("oracle")

_MSSQL_CONVERT_126 = re.compile(r"CONVERT\(VARCHAR\(23\), (.+?), 126\)")
_MSSQL_DELETE_TOP = re.compile(
    r"^DELETE TOP \((\d+)\) FROM (\S+)(?: WHERE (.+))?$"
)
_MYSQL_DELETE_LIMIT = re.compile(
    r"^DELETE FROM (\S+)(?: WHERE (.+?))? LIMIT (\d+)$"
)


def duckify(sql: str, dialect: str) -> str:
    """Map dialect-specific LEXEMES to their DuckDB spelling so the
    generated statement executes; the statement's structure (tables,
    joins, predicates, aggregates, aliases) passes through untouched.

    mysql/tidb:
      - backtick identifier quoting -> standard double quotes
      - ``DELETE ... LIMIT n`` (source/mysql.go:134-172) -> the rowid
        form ``DELETE FROM t WHERE rowid IN (SELECT rowid FROM t
        [WHERE w] LIMIT n)`` — DuckDB has no LIMIT on DELETE; the
        rowid form preserves the exact batched-delete semantics
        (delete at most n matching rows)
    mssql:
      - ``[bracket]`` identifier quoting (source/sql_server.go:143) ->
        double quotes
      - ``WITH (NOLOCK)`` read-uncommitted hint
        (source/sql_server.go:231) -> dropped (no DuckDB analog;
        purely a locking directive, not query structure)
      - ``CONVERT(VARCHAR(23), x, 126)`` ISO-8601 text form
        (source/sql_server.go:148-156) -> ``strftime(x,
        '%Y-%m-%dT%H:%M:%S.%g')`` — style 126 is
        yyyy-mm-ddThh:mi:ss.mmm and VARCHAR(23) keeps exactly the
        millisecond truncation %g produces
      - ``DELETE TOP (n)`` -> the same rowid form as mysql's LIMIT
      - ``+`` string concatenation (schema-qualified discovery names,
        source/sql_server.go:439-499) -> ``||``
    oracle: executes verbatim (double-quote identifiers, plain
      COALESCE/MIN/MAX/COUNT SQL, unbatched deletes).
    """
    if dialect in ("mysql", "tidb"):
        sql = sql.replace("`", '"')
        m = _MYSQL_DELETE_LIMIT.match(sql)
        if m:
            ref, where, n = m.group(1), m.group(2), m.group(3)
            w = f" WHERE {where}" if where else ""
            sql = (
                f"DELETE FROM {ref} WHERE rowid IN "
                f"(SELECT rowid FROM {ref}{w} LIMIT {n})"
            )
        return sql
    if dialect == "mssql":
        sql = sql.replace("[", '"').replace("]", '"')
        sql = sql.replace(" WITH (NOLOCK)", "")
        sql = _MSSQL_CONVERT_126.sub(
            r"strftime(\1, '%Y-%m-%dT%H:%M:%S.%g')", sql
        )
        m = _MSSQL_DELETE_TOP.match(sql)
        if m:
            n, ref, where = m.group(1), m.group(2), m.group(3)
            w = f" WHERE {where}" if where else ""
            sql = (
                f"DELETE FROM {ref} WHERE rowid IN "
                f"(SELECT rowid FROM {ref}{w} LIMIT {n})"
            )
        return sql.replace(" + ", " || ")
    return sql


@pytest.fixture()
def duck():
    """A fresh DuckDB seeded with the reference's NULL-pattern fixture
    (odd ids carry NULLs, cmd/main_test.go:488-509) plus sub-second
    timestamps so bound-truncation bugs can't hide."""
    con = duckdb.connect()
    con.execute(
        'CREATE TABLE "testtab" (id BIGINT PRIMARY KEY, v INTEGER, '
        "name VARCHAR, ts TIMESTAMP)"
    )
    rows = []
    for i in range(1, N_ROWS + 1):
        if i % 2 == 1:
            rows.append((i, None, None, None))
        else:
            rows.append(
                (
                    i,
                    i * 10,
                    f"name_{i}",
                    datetime.datetime(2024, 6, 30, 10, 0, i % 60, 123500),
                )
            )
    con.executemany("INSERT INTO testtab VALUES (?, ?, ?, ?)", rows)
    yield con
    con.close()


class TestPgDialectOnDuckDB:
    def test_discovery_finds_seeded_table(self, duck):
        names = [r[0] for r in duck.execute(PG.list_tables_sql("")).fetchall()]
        assert "testtab" in names

    def test_bounds_probe_values(self, duck):
        sql = PG.bounds_sql("", "testtab", "id", "")
        lo, hi, cnt = duck.execute(sql).fetchone()
        assert (lo, hi, cnt) == (1, N_ROWS, N_ROWS)

    def test_bounds_probe_with_where(self, duck):
        sql = PG.bounds_sql("", "testtab", "id", "v IS NOT NULL")
        lo, hi, cnt = duck.execute(sql).fetchone()
        assert (lo, hi, cnt) == (2, N_ROWS, N_ROWS // 2)

    def test_bounds_empty_table_sentinel(self, duck):
        """COALESCE(...,0) sentinel (source/postgres.go:116) must
        evaluate on the second engine too."""
        sql = PG.bounds_sql("", "testtab", "id", "id > 100000")
        assert duck.execute(sql).fetchone() == (0, 0, 0)

    def test_minmax_time_keeps_subsecond(self, duck):
        sql = PG.minmax_time_sql("", "testtab", "ts", "ts IS NOT NULL")
        lo, hi = duck.execute(sql).fetchone()
        assert lo.microsecond == 123500 and hi.microsecond == 123500

    def test_key_split_predicates_partition_exactly(self, duck):
        """Sequential splitter (A6): executed per-predicate counts must
        sum to the table count — coverage AND disjointness, proven by a
        second engine actually evaluating the predicate strings."""
        lo, hi, total = duck.execute(
            PG.bounds_sql("", "testtab", "id", "")
        ).fetchone()
        preds = split_condition("id", 50, lo, hi)
        assert len(preds) >= 4
        counts = [
            duck.execute(PG.count_sql("", "testtab", p)).fetchone()[0]
            for p in preds
        ]
        assert sum(counts) == total
        # only the parity quirk's final inclusive overshoot window
        # (min > max after the last stride) may be empty
        assert all(c > 0 for c in counts[:-1])

    def test_time_window_predicates_partition_exactly(self, duck):
        """Time splitter (A8): windows over the probed [min, max] must
        cover every non-NULL-ts row exactly once, including the
        sub-second max row an exclusive upper bound would drop."""
        lo, hi = duck.execute(
            PG.minmax_time_sql("", "testtab", "ts", "ts IS NOT NULL")
        ).fetchone()
        windows = split_time_windows(
            "ts", "minute", lo.strftime("%Y-%m-%d %H:%M:%S"), hi
        )
        counts = [
            duck.execute(
                PG.count_sql("", "testtab", f"ts IS NOT NULL AND {w}")
            ).fetchone()[0]
            for w in windows
        ]
        assert sum(counts) == N_ROWS // 2

    def test_delete_after_sync_round_trip(self, duck):
        """Unbatched pg delete (A34, source/postgres.go:174-187): the
        archived-range delete leaves exactly the unarchived rows."""
        duck.execute(PG.delete_sql("", "testtab", "id <= 100"))
        left = duck.execute(PG.count_sql("", "testtab", "")).fetchone()[0]
        assert left == N_ROWS - 100
        # remaining ids are all above the archived range
        lo2, _, _ = duck.execute(
            PG.bounds_sql("", "testtab", "id", "")
        ).fetchone()
        assert lo2 == 101

    def test_quoted_identifiers_parse(self, duck):
        """Double-quote identifier quoting must round-trip through a
        second parser (mixed-case table name forces real quoting)."""
        duck.execute('CREATE TABLE "MixedCase" ("Id" BIGINT)')
        duck.execute('INSERT INTO "MixedCase" VALUES (7)')
        sql = PG.count_sql("", "MixedCase", "")
        assert duck.execute(sql).fetchone()[0] == 1

    def test_list_databases_sql_is_pg_shaped(self):
        """Golden-only: datistemplate exists on real PostgreSQL servers
        but not in DuckDB's pg_database compatibility view."""
        assert PG.list_databases_sql() == (
            "SELECT datname AS name FROM pg_database "
            "WHERE datistemplate = false"
        )


class TestMysqlDialectOnDuckDB:
    """MySQL/TiDB dialect strings (A1, A33 batched deletes, A15-A16
    information_schema discovery) executed by DuckDB through the
    backtick-quoting shim."""

    def test_bounds_probe_values(self, duck):
        sql = duckify(MYSQL.bounds_sql("", "testtab", "id", ""), "mysql")
        assert duck.execute(sql).fetchone() == (1, N_ROWS, N_ROWS)

    def test_bounds_empty_table_sentinel(self, duck):
        sql = duckify(
            MYSQL.bounds_sql("", "testtab", "id", "id > 100000"), "mysql"
        )
        assert duck.execute(sql).fetchone() == (0, 0, 0)

    def test_key_split_predicates_partition_exactly(self, duck):
        lo, hi, total = duck.execute(
            duckify(MYSQL.bounds_sql("", "testtab", "id", ""), "mysql")
        ).fetchone()
        preds = split_condition("id", 50, lo, hi)
        counts = [
            duck.execute(
                duckify(MYSQL.count_sql("", "testtab", p), "mysql")
            ).fetchone()[0]
            for p in preds
        ]
        assert sum(counts) == total

    def test_discovery_via_information_schema(self, duck):
        """DuckDB ships a real information_schema, so the MySQL
        discovery statements execute with NO shim beyond quoting —
        the seeded table lives in schema 'main' here."""
        dbs = [
            r[0]
            for r in duck.execute(MYSQL.list_databases_sql()).fetchall()
        ]
        assert "main" in dbs
        tabs = [
            r[0]
            for r in duck.execute(MYSQL.list_tables_sql("main")).fetchall()
        ]
        assert "testtab" in tabs

    def test_batched_delete_round_trip(self, duck):
        """A33+A35: the LIMIT-batched delete loop — every batch removes
        at most batch_limit matching rows, terminating when the
        archived range is empty (reference source/mysql.go:134-172)."""
        sql = duckify(
            MYSQL.delete_sql("", "testtab", "id <= 100", batch_limit=30),
            "mysql",
        )
        count_sql = duckify(
            MYSQL.count_sql("", "testtab", "id <= 100"), "mysql"
        )
        batches = []
        while True:
            before = duck.execute(count_sql).fetchone()[0]
            duck.execute(sql)
            after = duck.execute(count_sql).fetchone()[0]
            if before == after:
                break
            batches.append(before - after)
            assert before - after <= 30
        assert sum(batches) == 100 and len(batches) == 4
        left = duck.execute(
            duckify(MYSQL.count_sql("", "testtab", ""), "mysql")
        ).fetchone()[0]
        assert left == N_ROWS - 100


@pytest.fixture()
def duck_mssql(duck):
    """The base fixture plus a mock of the SQL Server system catalog —
    the documented shape of sys.databases (state, HAS_DBACCESS gate,
    source/sql_server.go:398-437) and sys.tables/sys.schemas
    (schema-qualified discovery, source/sql_server.go:439-499)."""
    duck.execute("CREATE SCHEMA sys")
    duck.execute("CREATE TABLE sys.databases(name VARCHAR, state INTEGER)")
    duck.execute(
        "INSERT INTO sys.databases VALUES"
        " ('archive', 0), ('restoring', 1), ('locked', 0)"
    )
    duck.execute(
        "CREATE MACRO HAS_DBACCESS(n) AS"
        " CASE WHEN n = 'locked' THEN 0 ELSE 1 END"
    )
    duck.execute("CREATE TABLE sys.schemas(name VARCHAR, schema_id INTEGER)")
    duck.execute("CREATE TABLE sys.tables(name VARCHAR, schema_id INTEGER)")
    duck.execute(
        "INSERT INTO sys.schemas VALUES ('dbo', 1), ('audit', 2)"
    )
    duck.execute(
        "INSERT INTO sys.tables VALUES ('orders', 1), ('trail', 2)"
    )
    return duck


class TestMssqlDialectOnDuckDB:
    """SQL Server dialect strings (A1, A12 CONVERT-126 time bounds,
    A33 TOP-batched deletes, A15-A16 sys-catalog discovery) executed
    by DuckDB through the bracket/NOLOCK/CONVERT shim."""

    def test_bounds_probe_values(self, duck):
        sql = duckify(MSSQL.bounds_sql("", "testtab", "id", ""), "mssql")
        assert "NOLOCK" not in sql and "[" not in sql
        assert duck.execute(sql).fetchone() == (1, N_ROWS, N_ROWS)

    def test_bounds_empty_table_sentinel(self, duck):
        sql = duckify(
            MSSQL.bounds_sql("", "testtab", "id", "id > 100000"), "mssql"
        )
        assert duck.execute(sql).fetchone() == (0, 0, 0)

    def test_minmax_time_convert_126_string_form(self, duck):
        """A12: the CONVERT(VARCHAR(23), ..., 126) bounds must come
        back as ISO-8601 TEXT with millisecond precision — the string
        form the planner's time parser consumes."""
        sql = duckify(
            MSSQL.minmax_time_sql("", "testtab", "ts", "ts IS NOT NULL"),
            "mssql",
        )
        lo, hi = duck.execute(sql).fetchone()
        assert isinstance(lo, str) and isinstance(hi, str)
        assert lo.startswith("2024-06-30T10:00:") and lo.endswith(".123")
        assert hi.endswith(".123") and lo < hi
        # and the planner can parse what the probe returned
        from bend_archiver_spark.planner import parse_time_dynamic

        assert parse_time_dynamic(lo.replace("T", " ")).microsecond == 123000

    def test_key_split_predicates_partition_exactly(self, duck):
        lo, hi, total = duck.execute(
            duckify(MSSQL.bounds_sql("", "testtab", "id", ""), "mssql")
        ).fetchone()
        preds = split_condition("id", 50, lo, hi)
        counts = [
            duck.execute(
                duckify(MSSQL.count_sql("", "testtab", p), "mssql")
            ).fetchone()[0]
            for p in preds
        ]
        assert sum(counts) == total

    def test_time_window_predicates_partition_exactly(self, duck):
        lo, hi = duck.execute(
            duckify(
                MSSQL.minmax_time_sql("", "testtab", "ts", "ts IS NOT NULL"),
                "mssql",
            )
        ).fetchone()
        windows = split_time_windows(
            "ts", "minute", lo.replace("T", " ")[:19], hi.replace("T", " ")
        )
        counts = [
            duck.execute(
                duckify(
                    MSSQL.count_sql(
                        "", "testtab", f"ts IS NOT NULL AND {w}"
                    ),
                    "mssql",
                )
            ).fetchone()[0]
            for w in windows
        ]
        assert sum(counts) == N_ROWS // 2

    def test_batched_delete_top_round_trip(self, duck):
        sql = duckify(
            MSSQL.delete_sql("", "testtab", "id <= 100", batch_limit=40),
            "mssql",
        )
        count_all = duckify(MSSQL.count_sql("", "testtab", ""), "mssql")
        for _ in range(3):  # 100 rows / TOP(40) -> 3 batches
            duck.execute(sql)
        assert duck.execute(count_all).fetchone()[0] == N_ROWS - 100

    def test_discovery_against_sys_catalog(self, duck_mssql):
        """ONLINE (state=0) + accessible databases only; tables come
        back schema-qualified via the `+` concat the shim maps to
        ||."""
        dbs = [
            r[0]
            for r in duck_mssql.execute(
                duckify(MSSQL.list_databases_sql(), "mssql")
            ).fetchall()
        ]
        assert dbs == ["archive"]  # restoring: state=1; locked: no access
        tabs = sorted(
            r[0]
            for r in duck_mssql.execute(
                duckify(MSSQL.list_tables_sql("archive"), "mssql")
            ).fetchall()
        )
        assert tabs == ["audit.trail", "dbo.orders"]


@pytest.fixture()
def duck_oracle(duck):
    """The base fixture plus a mock of the Oracle data dictionary —
    ALL_USERS / ALL_TABLES with the uppercase-normalized owner column
    (source/oracle.go:312-369)."""
    duck.execute("CREATE TABLE all_users(username VARCHAR)")
    duck.execute("INSERT INTO all_users VALUES ('SCOTT'), ('SYS')")
    duck.execute("CREATE TABLE all_tables(table_name VARCHAR, owner VARCHAR)")
    duck.execute(
        "INSERT INTO all_tables VALUES"
        " ('EMP', 'SCOTT'), ('DEPT', 'SCOTT'), ('AUD$', 'SYS')"
    )
    return duck


class TestOracleDialectOnDuckDB:
    """Oracle dialect strings executed by DuckDB — verbatim: the
    oracle surface our generator emits (double-quoted identifiers,
    COALESCE'd probes, unbatched deletes, ALL_* discovery) needs NO
    lexical translation at all, which this class also pins."""

    def test_probe_statements_need_no_shim(self):
        for sql in (
            ORACLE.bounds_sql("", "testtab", "id", "v IS NOT NULL"),
            ORACLE.count_sql("", "testtab", "id > 5"),
            ORACLE.minmax_time_sql("", "testtab", "ts", ""),
            ORACLE.delete_sql("", "testtab", "id <= 100"),
            ORACLE.list_tables_sql("scott"),
        ):
            assert duckify(sql, "oracle") == sql

    def test_bounds_probe_values(self, duck):
        sql = ORACLE.bounds_sql("", "testtab", "id", "v IS NOT NULL")
        assert duck.execute(sql).fetchone() == (2, N_ROWS, N_ROWS // 2)

    def test_bounds_empty_table_sentinel(self, duck):
        sql = ORACLE.bounds_sql("", "testtab", "id", "id > 100000")
        assert duck.execute(sql).fetchone() == (0, 0, 0)

    def test_minmax_time_keeps_subsecond(self, duck):
        sql = ORACLE.minmax_time_sql("", "testtab", "ts", "ts IS NOT NULL")
        lo, hi = duck.execute(sql).fetchone()
        assert lo.microsecond == 123500 and hi.microsecond == 123500

    def test_key_split_predicates_partition_exactly(self, duck):
        lo, hi, total = duck.execute(
            ORACLE.bounds_sql("", "testtab", "id", "")
        ).fetchone()
        preds = split_condition("id", 50, lo, hi)
        counts = [
            duck.execute(ORACLE.count_sql("", "testtab", p)).fetchone()[0]
            for p in preds
        ]
        assert sum(counts) == total

    def test_unbatched_delete_round_trip(self, duck):
        duck.execute(ORACLE.delete_sql("", "testtab", "id <= 100"))
        left = duck.execute(ORACLE.count_sql("", "testtab", "")).fetchone()[0]
        assert left == N_ROWS - 100

    def test_discovery_against_all_catalog(self, duck_oracle):
        users = [
            r[0]
            for r in duck_oracle.execute(
                ORACLE.list_databases_sql()
            ).fetchall()
        ]
        assert users == ["SCOTT", "SYS"]
        # lowercase caller input must match the uppercase-stored owner
        tabs = sorted(
            r[0]
            for r in duck_oracle.execute(
                ORACLE.list_tables_sql("scott")
            ).fetchall()
        )
        assert tabs == ["DEPT", "EMP"]
