"""Partitioned JDBC source — the Spark-native form of the reference's
extraction engine (A1-A4, A20-A24).

Where the Go engine hand-rolls a pool of ``maxThread`` goroutines
consuming predicate strings from a channel (worker/worker.go:86-136),
Spark's JDBC reader takes the same predicate list as one partition per
predicate, and the archive's write packs those partitions into one
wave of at most ``defaultParallelism`` tasks (``coalesce``, in
``job.JdbcArchiveJob._read``), each running a contiguous run of
predicates, one ``SELECT`` each: the pool the size of the slots that
runs all the conditions. The trade-off: a packed task cannot be
rebalanced, so a slow predicate delays the ones packed with it.
Pagination (the MSSQL OFFSET/FETCH loop, source/sql_server.go:284-313)
is replaced by ``fetchsize``; the time-split single-thread restriction
(worker/worker.go:139-143) disappears because window predicates are
independent snapshots, not LIMIT/OFFSET pages.

The bounds and count probes are single-row aggregates, so they run as
plain SQL over one driver-side JDBC connection (as the reference's
GetMinMaxSplitKey / GetSourceReadRowsCount do, source/mysql.go:79-114)
instead of as Spark jobs; only the partitioned read goes through Spark.

The SQL/URL/option generation is unit-tested per dialect; the probes,
partitioned reads and deletes run end to end against embedded Derby,
which ships inside Spark's JVM (tests/test_jdbc_e2e.py).
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession

from ..config import Config
from ..planner import (
    coerce_key,
    parse_time_dynamic,
    plan_jdbc_partitions,
    split_time_windows,
)
from .dialects import Dialect, get_dialect

__all__ = ["JdbcSource", "JdbcReadPlan", "driver_connection"]

# per-query timeout analog of the 60s page timeout (source/sql_server.go:314)
QUERY_TIMEOUT_S = 60


@contextmanager
def driver_connection(
    spark: SparkSession, url: str, driver: str, user: str, password: str
) -> Iterator[object]:
    """A JDBC connection opened in the driver JVM, closed on exit.

    ``driver`` (when given) is registered with Spark's
    ``DriverRegistry`` first, as Spark's own JDBC reader does, so a
    driver jar that Spark's reader can load is visible here too; an
    empty ``driver`` leaves the lookup to ``DriverManager`` by URL."""
    jvm = spark._jvm  # noqa: SLF001 - py4j JDBC access
    if driver:
        jvm.org.apache.spark.sql.execution.datasources.jdbc.DriverRegistry.register(
            driver
        )
    conn = jvm.java.sql.DriverManager.getConnection(url, user, password)
    try:
        yield conn
    finally:
        conn.close()


def _floor_bound(v: object) -> str:
    """Lower split bound at whole-second precision (truncation only
    widens the window downward — safe)."""
    return str(v)[:19].replace("T", " ")


def _ceil_bound(v: object) -> str:
    """Upper split bound: whole seconds, rounded UP when the probed
    max has sub-second precision. Plain truncation would make the
    final inclusive window ``key <= max-truncated-to-seconds`` and
    silently exclude rows past it — including the max row itself."""
    from datetime import timedelta

    s = str(v).replace("T", " ")
    head, dot, frac = s.partition(".")
    if dot and any(c != "0" for c in frac):
        t = parse_time_dynamic(head[:19] if len(head) >= 19 else head)
        return (t + timedelta(seconds=1)).strftime("%Y-%m-%d %H:%M:%S")
    return head[:19]


@dataclass
class JdbcReadPlan:
    url: str
    table: str
    predicates: list[str]
    batch_size: int
    options: dict[str, str] = field(default_factory=dict)

    @property
    def num_partitions(self) -> int:
        return len(self.predicates)


class JdbcSource:
    """One (database, table) extraction source."""

    def __init__(self, spark: SparkSession, cfg: Config):
        self.spark = spark
        self.cfg = cfg
        self.dialect: Dialect = get_dialect(cfg.database_type)

    # --- low-level helpers -------------------------------------------
    def _url(self, database: str | None = None) -> str:
        return self.dialect.jdbc_url(
            self.cfg.source_host,
            self.cfg.source_port,
            database if database is not None else self.cfg.source_db,
            self.cfg.ssl_mode,
            self.cfg.oracle_sid,
        )

    def _base_options(self) -> dict[str, str]:
        return {
            "user": self.cfg.source_user,
            "password": self.cfg.source_pass,
            "driver": self.dialect.driver,
            # bounds per-fetch memory like the reference's 10k-row
            # MSSQL pages (source/sql_server.go:284)
            "fetchsize": "10000",
            "queryTimeout": str(QUERY_TIMEOUT_S),
        }

    @contextmanager
    def _statement(self, database: str | None = None) -> Iterator[object]:
        """A statement over one driver-side connection to ``database``
        (default the config's), with the probe timeout; no Spark job."""
        cfg = self.cfg
        with driver_connection(
            self.spark, self._url(database), self.dialect.driver,
            cfg.source_user, cfg.source_pass,
        ) as conn:
            stmt = conn.createStatement()
            try:
                stmt.setQueryTimeout(QUERY_TIMEOUT_S)
                yield stmt
            finally:
                stmt.close()

    def _query_row(self, sql: str) -> list[str | None]:
        """First row of ``sql``, each value as its string form (NULL ->
        None), read positionally. The probes are single-row aggregates."""
        with self._statement() as stmt:
            rs = stmt.executeQuery(sql)
            rs.next()
            n = rs.getMetaData().getColumnCount()
            return [rs.getString(i) for i in range(1, n + 1)]

    def _names(self, sql: str, database: str | None = None) -> list[str]:
        """The first column of every row of ``sql``."""
        with self._statement(database) as stmt:
            rs = stmt.executeQuery(sql)
            names = []
            while rs.next():
                names.append(rs.getString(1))
            return names

    # --- catalog discovery (A15-A16) ---------------------------------
    def list_databases(self) -> list[str]:
        return self._names(self.dialect.list_databases_sql())

    def list_tables(self, database: str) -> list[str]:
        """The tables of ``database``, listed over a connection to it
        (PostgreSQL and SQL Server list per database)."""
        return self._names(
            self.dialect.list_tables_sql(database),
            self.locate(database, "")[0],
        )

    def locate(self, database: str, table: str) -> tuple[str, str]:
        """The ``(sourceDB, sourceTable)`` that read ``table`` of listed
        ``database``. Derby lists the schemas of the one database at the
        configured path, so there the path stays and the table is
        qualified by its schema."""
        if self.dialect.name != "derby" or database == self.cfg.source_db:
            return database, table
        return self.cfg.source_db, f"{database}.{table}"

    # --- probes (A10-A12, A18) ---------------------------------------
    def probe_bounds(self) -> tuple[int, int, int]:
        """min/max/count in ONE round trip (the reference runs three:
        GetMinMaxSplitKey + GetSourceReadRowsCount)."""
        sql = self.dialect.bounds_sql(
            self.cfg.source_db,
            self.cfg.source_table,
            self.cfg.source_split_key,
            self.cfg.source_where_condition,
        )
        mn, mx, cnt = self._query_row(sql)
        # through Decimal: DECIMAL(20,0) / NUMBER keys arrive as digit
        # strings (possibly with a scale or exponent) and must coerce
        # exactly, past int64
        return coerce_key(Decimal(mn)), coerce_key(Decimal(mx)), int(cnt)

    def probe_time_bounds(self) -> tuple[str | None, str | None]:
        sql = self.dialect.minmax_time_sql(
            self.cfg.source_db,
            self.cfg.source_table,
            self.cfg.source_split_time_key,
            self.cfg.source_where_condition,
        )
        lo, hi = self._query_row(sql)
        return lo, hi

    def count(self) -> int:
        sql = self.dialect.count_sql(
            self.cfg.source_db,
            self.cfg.source_table,
            self.cfg.source_where_condition,
        )
        (cnt,) = self._query_row(sql)
        return int(cnt)

    # --- partitioned reads (A1-A9, A20-A24) --------------------------
    def plan(self) -> JdbcReadPlan:
        """Split-mode dispatch (Worker.Run branches on
        SourceSplitTimeKey, worker/worker.go:248-252)."""
        if self.cfg.source_split_time_key:
            return self.plan_time_split()
        return self.plan_key_split()

    def _read_plan(self, predicates: list[str], batch_size: int) -> JdbcReadPlan:
        return JdbcReadPlan(
            url=self._url(),
            table=self.dialect.table_ref(
                self.cfg.source_db, self.cfg.source_table
            ),
            predicates=predicates,
            batch_size=batch_size,
            options=self._base_options(),
        )

    def plan_key_split(self) -> JdbcReadPlan:
        mn, mx, cnt = self.probe_bounds()
        plan = plan_jdbc_partitions(
            self.cfg.source_split_key,
            mn,
            mx,
            cnt,
            batch_size=self.cfg.batch_size,
            where_condition=self.cfg.source_where_condition,
        )
        return self._read_plan(plan.predicates, plan.batch_size)

    def plan_time_split(self) -> JdbcReadPlan:
        lo, hi = self.probe_time_bounds()
        predicates: list[str] = []
        if lo is not None and hi is not None:
            windows = split_time_windows(
                self.cfg.source_split_time_key,
                self.cfg.time_split_unit,
                _floor_bound(lo),
                _ceil_bound(hi),
            )
            where = self.cfg.source_where_condition
            predicates = (
                [f"{w} and ({where})" for w in windows] if where else windows
            )
        return self._read_plan(predicates, self.cfg.batch_size)

    def read(self, plan: JdbcReadPlan) -> DataFrame:
        """Partitioned read: one Spark partition per predicate (the
        archive's write packs them into fewer tasks). Filters
        and column pruning push down into the generated per-partition
        SQL (Catalyst JDBC pushdown). An empty plan (the empty-table
        sentinel, worker/worker.go:92-95) reads an empty frame with the
        source schema through an always-false predicate."""
        return self.spark.read.jdbc(
            url=plan.url,
            table=plan.table,
            predicates=plan.predicates or ["1 = 0"],
            properties=plan.options,
        )
