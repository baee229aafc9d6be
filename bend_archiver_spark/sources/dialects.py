"""Per-dialect SQL generation for the five supported source databases.

Capability parity with the reference's driver layer (A1-A4, A10-A17,
A33-A34): every SQL string the Go engine hand-builds per dialect —
bounds probes, filtered counts, catalog discovery, delete-after-sync —
is generated here and executed either through ``spark.read.jdbc``
(queries) or a raw JDBC statement (deletes). Dialect quirks preserved:

- MySQL/TiDB: backtick quoting, ``SHOW DATABASES``-equivalent
  discovery via information_schema (source/mysql.go:298-351)
- PostgreSQL: per-database connections, COALESCE'd bounds
  (source/postgres.go:110-150), pg_catalog discovery excluding system
  schemas (source/postgres.go:332-364)
- SQL Server: ``WITH (NOLOCK)`` hint (source/sql_server.go:231),
  bracket quoting (source/sql_server.go:143-145), ``CONVERT(VARCHAR(23),
  ..., 126)`` time formatting (source/sql_server.go:148-156),
  schema-qualified table discovery (source/sql_server.go:439-499)
- Oracle: ``ALL_TABLES``/``ALL_USERS`` discovery with system-user
  exclusion (source/oracle.go:312-369), SID-based URLs

JDBC type-fidelity notes (SURVEY §1.2): Spark's JDBC dialects map
``BIGINT UNSIGNED`` to ``DecimalType(20,0)`` natively — the reason the
reference needed a custom NullUint64 (source/mysql.go:410-458)
disappears; decimals keep ``DecimalType(p,s)`` instead of degrading to
float64; temporals arrive as real timestamps instead of strings.
"""

from __future__ import annotations

from dataclasses import dataclass

__all__ = ["Dialect", "get_dialect", "DIALECTS"]


@dataclass(frozen=True)
class Dialect:
    name: str
    driver: str
    quote_open: str = '"'
    quote_close: str = '"'
    table_hint: str = ""  # appended after table name (e.g. WITH (NOLOCK))

    # --- identifiers --------------------------------------------------
    def quote(self, identifier: str) -> str:
        """Quote one identifier part."""
        return f"{self.quote_open}{identifier}{self.quote_close}"

    def qualified(self, db: str, table: str) -> str:
        """db-qualified table reference; SQL Server uses
        db.schema.table where `table` may already carry the schema.
        Derby's "database" is the connection path, not a name
        qualifier — only the (optionally schema-qualified) table."""
        if self.name == "derby":
            db = ""
        parts = [p for p in (db, table) if p]
        return ".".join(
            ".".join(self.quote(seg) for seg in p.split(".")) for p in parts
        )

    def table_ref(self, db: str, table: str) -> str:
        ref = self.qualified(db, table)
        return f"{ref} {self.table_hint}".strip()

    # --- JDBC URL -----------------------------------------------------
    def jdbc_url(
        self,
        host: str,
        port: int,
        database: str = "",
        ssl_mode: str = "",
        oracle_sid: str = "",
    ) -> str:
        if self.name in ("mysql", "tidb"):
            ssl = "true" if ssl_mode in ("required", "true", "enabled") else "false"
            return (
                f"jdbc:mysql://{host}:{port}/{database}"
                f"?useSSL={ssl}&tinyInt1isBit=false"
            )
        if self.name == "pg":
            db = database or "postgres"
            url = f"jdbc:postgresql://{host}:{port}/{db}"
            if ssl_mode:
                url += f"?sslmode={ssl_mode}"
            return url
        if self.name == "mssql":
            url = f"jdbc:sqlserver://{host}:{port}"
            if database:
                url += f";databaseName={database}"
            return url + ";encrypt=false"
        if self.name == "oracle":
            return f"jdbc:oracle:thin:@{host}:{port}:{oracle_sid or database}"
        if self.name == "derby":
            # embedded engine: `database` is a filesystem path inside
            # the JVM — no host/port. Ships with Spark, which makes it
            # the live-database end-to-end test bed (tests/test_jdbc_e2e.py).
            return f"jdbc:derby:{database};create=true"
        raise ValueError(f"unknown dialect {self.name}")

    # --- probe queries (A10-A12) -------------------------------------
    def count_sql(self, db: str, table: str, where: str) -> str:
        w = f" WHERE {where}" if where else ""
        return f"SELECT COUNT(*) AS cnt FROM {self.table_ref(db, table)}{w}"

    def minmax_time_sql(self, db: str, table: str, key: str, where: str) -> str:
        w = f" WHERE {where}" if where else ""
        if self.name == "mssql":
            # ISO-8601 text form, reference source/sql_server.go:148-156
            lo = f"CONVERT(VARCHAR(23), MIN({key}), 126)"
            hi = f"CONVERT(VARCHAR(23), MAX({key}), 126)"
        else:
            lo, hi = f"MIN({key})", f"MAX({key})"
        return (
            f"SELECT {lo} AS min_time, {hi} AS max_time "
            f"FROM {self.table_ref(db, table)}{w}"
        )

    def bounds_sql(self, db: str, table: str, key: str, where: str) -> str:
        """One probe replacing count+minmax (engine upgrade: the
        reference runs three queries, we run one)."""
        w = f" WHERE {where}" if where else ""
        # COALESCE(...,0) empty-table sentinel as in the pg/oracle
        # drivers (source/postgres.go:116, source/oracle.go:120)
        return (
            f"SELECT COALESCE(MIN({key}), 0) AS min_key, "
            f"COALESCE(MAX({key}), 0) AS max_key, COUNT(*) AS cnt "
            f"FROM {self.table_ref(db, table)}{w}"
        )

    # --- catalog discovery (A15-A16) ---------------------------------
    def list_databases_sql(self) -> str:
        if self.name in ("mysql", "tidb"):
            return "SELECT schema_name AS name FROM information_schema.schemata"
        if self.name == "pg":
            return (
                "SELECT datname AS name FROM pg_database "
                "WHERE datistemplate = false"
            )
        if self.name == "mssql":
            # ONLINE + accessible, reference source/sql_server.go:398-437
            return (
                "SELECT name FROM sys.databases "
                "WHERE state = 0 AND HAS_DBACCESS(name) = 1"
            )
        if self.name == "oracle":
            return "SELECT username AS name FROM all_users"
        if self.name == "derby":
            return "SELECT schemaname AS name FROM sys.sysschemas"
        raise ValueError(self.name)

    def list_tables_sql(self, database: str) -> str:
        if self.name in ("mysql", "tidb"):
            return (
                "SELECT table_name AS name FROM information_schema.tables "
                f"WHERE table_schema = '{database}'"
            )
        if self.name == "pg":
            # exclude system schemas, reference source/postgres.go:332-364
            return (
                "SELECT tablename AS name FROM pg_catalog.pg_tables "
                "WHERE schemaname NOT IN ('pg_catalog', 'information_schema')"
            )
        if self.name == "mssql":
            # schema-qualified names, reference source/sql_server.go:439-499
            return (
                "SELECT s.name + '.' + t.name AS name "
                "FROM sys.tables t JOIN sys.schemas s ON t.schema_id = s.schema_id"
            )
        if self.name == "oracle":
            return (
                f"SELECT table_name AS name FROM all_tables "
                f"WHERE owner = '{database.upper()}'"
            )
        if self.name == "derby":
            # schema-scoped like the MySQL/Oracle forms — Derby's
            # "databases" are schemas (sys.sysschemas), so multi-
            # schema discovery must not leak other schemas' tables
            # into each expansion (empty database = unscoped, for
            # single-schema callers). Derby stores unquoted schema
            # names uppercase, so normalize like the Oracle branch —
            # a lowercase caller must not silently match zero schemas.
            sql = (
                "SELECT t.tablename AS name FROM sys.systables t "
                "JOIN sys.sysschemas s ON t.schemaid = s.schemaid "
                "WHERE t.tabletype = 'T'"
            )
            if database:
                sql += f" AND s.schemaname = '{database.upper()}'"
            return sql
        raise ValueError(self.name)

    # --- delete-after-sync (A33-A34) ---------------------------------
    def delete_sql(
        self, db: str, table: str, where: str, batch_limit: int = 0
    ) -> str:
        ref = self.qualified(db, table)
        w = f" WHERE {where}" if where else ""
        if self.name in ("mysql", "tidb") and batch_limit > 0:
            # batched deletes with LIMIT, reference source/mysql.go:134-172
            return f"DELETE FROM {ref}{w} LIMIT {batch_limit}"
        if self.name == "mssql" and batch_limit > 0:
            return f"DELETE TOP ({batch_limit}) FROM {ref}{w}"
        # PG/Oracle: single unbatched delete (source/postgres.go:174-187)
        return f"DELETE FROM {ref}{w}"


DIALECTS: dict[str, Dialect] = {
    "mysql": Dialect("mysql", "com.mysql.cj.jdbc.Driver", "`", "`"),
    "tidb": Dialect("tidb", "com.mysql.cj.jdbc.Driver", "`", "`"),
    "pg": Dialect("pg", "org.postgresql.Driver"),
    "mssql": Dialect(
        "mssql",
        "com.microsoft.sqlserver.jdbc.SQLServerDriver",
        "[",
        "]",
        table_hint="WITH (NOLOCK)",
    ),
    "oracle": Dialect("oracle", "oracle.jdbc.OracleDriver"),
    # embedded in-JVM engine bundled with Spark; used for live JDBC
    # end-to-end tests (the reference uses embedded Postgres the same
    # way, utils/testutils/postgres.go:18-48)
    "derby": Dialect("derby", "org.apache.derby.jdbc.EmbeddedDriver"),
}


def get_dialect(database_type: str) -> Dialect:
    """Factory with MySQL fallback — parity with NewSource dispatch
    (source/source.go:31-46, default case)."""
    return DIALECTS.get(database_type, DIALECTS["mysql"])
