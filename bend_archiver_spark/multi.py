"""Multi-table archive orchestration — the reference CLI's per-table
loop (cmd/main.go:54-110): expand the ``dbRegex@tableRegex`` catalog,
archive each (db, table) serially, roll up counts, and verify the
aggregate (GetAllSourceReadRowsCount / A13 + IsWorkerCorrect / A31).

The reference runs tables serially with parallelism only inside a
table (cmd/main.go:83-101); that shape is preserved — each table is
one Spark job whose internal parallelism is the partition plan.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .catalog import expand_db_tables
from .config import Config
from .job import ArchiveReport, FileArchiveJob

__all__ = ["MultiTableReport", "run_multi_table"]


@dataclass
class MultiTableReport:
    reports: list[ArchiveReport] = field(default_factory=list)

    @property
    def total_source_rows(self) -> int:
        return sum(r.source_rows for r in self.reports)

    @property
    def total_target_rows(self) -> int:
        return sum(r.target_rows for r in self.reports)

    @property
    def is_correct(self) -> bool:
        """Aggregate verification (A31 over the rollup A13): every
        per-table archive verified AND the global counts agree."""
        return (
            all(r.verify.is_correct for r in self.reports)
            and self.total_source_rows == self.total_target_rows
        )


def run_multi_table(
    spark: SparkSession,
    cfg: Config,
    list_databases: Callable[[], list[str]],
    list_tables: Callable[[str], list[str]],
    load_source: Callable[[str, str], DataFrame],
    target_path_for: Callable[[str, str], str],
) -> MultiTableReport:
    """Expand ``cfg.source_db_tables`` selectors and archive each
    matched (db, table). The three callables abstract the catalog and
    IO so the same loop drives JDBC catalogs, file layouts, and test
    fixtures (dependency injection mirrors the Sourcer interface
    boundary, source/source.go:18-29)."""
    expanded = expand_db_tables(
        cfg.source_db_tables,
        list_databases,
        list_tables,
        explicit_db=cfg.source_db,
        explicit_table=cfg.source_table,
    )
    out = MultiTableReport()
    for db, tables in sorted(expanded.items()):
        for table in tables:
            # per-table cfg clone, as cmd/main.go:83-98 clones per table
            sub = Config(**{**cfg.__dict__})
            sub.source_db = db
            sub.source_table = table
            sub.source_db_tables = []
            sub.target_path = target_path_for(db, table)
            report = FileArchiveJob(spark, sub, load_source(db, table)).run()
            out.reports.append(report)
    return out
