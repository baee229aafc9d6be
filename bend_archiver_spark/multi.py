"""The archive loop — the reference CLI's per-table loop
(cmd/main.go:54-110): expand the ``dbRegex@tableRegex`` catalog,
archive each (db, table) serially, roll up counts, and verify the
aggregate (GetAllSourceReadRowsCount / A13 + IsWorkerCorrect / A31).

The reference sends a single-table config through the same loop; so
does this one: a config without ``sourceDbTables`` is the loop's one
table, ``(sourceDB, sourceTable)``. Tables run serially with
parallelism only inside a table (cmd/main.go:83-101); each table is one
``ArchiveJob`` whose internal parallelism is the partition plan. The
loop stops at the first table that fails verification.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field, replace

from .catalog import expand_db_tables
from .config import Config
from .job import ArchiveJob, ArchiveReport

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


def table_configs(
    cfg: Config,
    target_path_for: Callable[[str, str], str],
    list_databases: Callable[[], list[str]] = lambda: [],
    list_tables: Callable[[str], list[str]] = lambda db: [],
) -> list[Config]:
    """One config per table the loop archives: the expansion of
    ``cfg.source_db_tables`` merged with an explicit
    ``sourceDB``/``sourceTable``, or without selectors that one table.
    Each is a clone of ``cfg`` (cmd/main.go:83-98 clones per table)
    whose target is ``target_path_for(db, table)``. ``list_databases``
    and ``list_tables`` are injected: a JDBC catalog in the CLI,
    fixtures in tests (the Sourcer interface boundary,
    source/source.go:18-29)."""
    if not cfg.source_db_tables:
        tables = [(cfg.source_db, cfg.source_table)]
    else:
        expanded = expand_db_tables(
            cfg.source_db_tables,
            list_databases,
            list_tables,
            explicit_db=cfg.source_db,
            explicit_table=cfg.source_table,
        )
        tables = [(db, t) for db, ts in sorted(expanded.items()) for t in ts]
    return [
        replace(
            cfg,
            source_db=db,
            source_table=table,
            source_db_tables=[],
            target_path=target_path_for(db, table),
        )
        for db, table in tables
    ]


def run_multi_table(
    cfg: Config,
    job_for: Callable[[Config], ArchiveJob],
    target_path_for: Callable[[str, str], str],
    list_databases: Callable[[], list[str]] = lambda: [],
    list_tables: Callable[[str], list[str]] = lambda db: [],
    on_report: Callable[[ArchiveReport], None] = lambda report: None,
) -> MultiTableReport:
    """Archive every table of :func:`table_configs` with the job
    ``job_for`` builds for its config, serially. ``on_report`` sees each
    table's report as it lands. The first table that raises or fails
    verification ends the loop; an exception propagates."""
    out = MultiTableReport()
    for sub in table_configs(cfg, target_path_for, list_databases, list_tables):
        report = job_for(sub).run()
        out.reports.append(report)
        on_report(report)
        if not report.verify.is_correct:
            break
    return out
