"""Delete-after-sync — the destructive tail of the archive protocol
(A33-A35).

Safety contract preserved exactly from the reference:
- deletes run ONLY after global count verification passes
  (cmd/main.go:112-117) — enforced here by requiring a passing
  ``VerifyResult``;
- MySQL/TiDB delete in ``LIMIT batch`` loops with a rate-limit sleep
  between batches (source/mysql.go:134-172, batchMaxInterval
  config/config.go:58); PG/MSSQL/Oracle issue one unbatched DELETE
  (source/postgres.go:174-187).

Statements execute through a raw JDBC connection obtained from the
driver JVM (DataFrames cannot DELETE on a remote RDBMS), the same
connection helper the source probes use.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from .config import Config
from .sources.dialects import get_dialect
from .sources.jdbc import driver_connection
from .verify import VerifyResult

__all__ = ["delete_after_sync", "jdbc_executor"]


def jdbc_executor(
    spark, url: str, user: str, password: str, driver: str = ""
) -> Callable[[str], int]:
    """Build an update-statement executor over a driver-side JDBC
    connection (``sources.jdbc.driver_connection``, which registers
    ``driver`` the way Spark's JDBC reader does). Returns affected-row
    counts."""

    def execute(sql: str) -> int:
        with driver_connection(spark, url, driver, user, password) as conn:
            stmt = conn.createStatement()
            try:
                return stmt.executeUpdate(sql)
            finally:
                stmt.close()

    return execute


def delete_after_sync(
    cfg: Config,
    verify: VerifyResult,
    execute: Callable[[str], int],
    sleep: Callable[[float], None] = time.sleep,
) -> int:
    """Delete archived rows from the source. Refuses unless
    verification passed. Returns total deleted rows."""
    if not verify.is_correct:
        raise RuntimeError(
            "delete_after_sync refused: verification failed "
            f"(source={verify.source_rows}, target={verify.target_rows})"
        )
    if not cfg.delete_after_sync:
        return 0
    dialect = get_dialect(cfg.database_type)
    total = 0
    if dialect.name in ("mysql", "tidb"):
        # batched loop with rate limit between batches
        sql = dialect.delete_sql(
            cfg.source_db,
            cfg.source_table,
            cfg.source_where_condition,
            batch_limit=int(cfg.batch_size),
        )
        while True:
            n = execute(sql)
            total += n
            if n < cfg.batch_size:
                break
            sleep(cfg.batch_max_interval)
    else:
        total = execute(
            dialect.delete_sql(
                cfg.source_db, cfg.source_table, cfg.source_where_condition
            )
        )
    return total
