"""CLI driver — parity with cmd/main.go (A38): config -> table
discovery -> per-table archive -> verification -> optional delete.

Usage (spark-submit or plain python):

    python -m bend_archiver_spark --conf conf.json
    python -m bend_archiver_spark --conf conf.json --source-path /data/t.parquet \\
        --target-path /archive/t --dry-run
    python -m bend_archiver_spark --compact /archive/t --compact-key id

File mode (``--source-path``) archives parquet/orc/csv/ndjson/json files
(``--source-format``, read by ``sources.files.read_source``) and is
fully self-contained; JDBC mode (config with connection fields) needs
the matching JDBC driver jar on the Spark classpath.

Every run goes through one loop (``multi.run_multi_table``), as the
reference sends a single table through its discovery loop. A JDBC
config with ``sourceDbTables`` archives every table its
``dbRegex@tableRegex`` selectors match, serially, each into
``<targetPath>/<db>/<table>``; the catalog is listed over a driver-side
connection, with no Spark job:

    {"databaseType": "mysql", "sourceHost": "db", "sourcePort": 3306,
     "sourceDbTables": ["^sales_\\d+$@^orders$"], "sourceSplitKey": "id",
     "sourceWhereCondition": "id > 0", "deleteAfterSync": true,
     "targetPath": "/archive"}

The reference's start/end/total logging (cmd/main.go:26-28, 118-120)
and the verification gate are preserved. Each table's report is one
JSON line, followed by one JSON line of the run's phase timings and
what its idempotency gate read (``{"phases": {name: {start_s, seconds,
rows}}, "gate": {manifests, files, scanned, runs_skipped}}``). With
``sourceDbTables`` a rollup line follows the tables (A13: ``{"tables",
"source_rows", "target_rows", "verified"}``). The first table that
fails stops the run with rc 1; a failure prints ``error: <root cause>``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from .cancel import (
    JobCancelled,
    install_signal_handlers,
    last_signal,
    reset as reset_cancel,
    restore_signal_handlers,
)
from .config import Config, ConfigError, load_config
from .job import ArchiveReport, FileArchiveJob, JdbcArchiveJob
from .multi import run_multi_table, table_configs
from .session import get_spark
from .sources.files import read_source
from .sources.jdbc import JdbcSource
from .tables import load_table

_CAUSED_BY = "Caused by: "
ROOT_CAUSE_CHARS = 300


def root_cause(exc: BaseException) -> str:
    """One line naming why *exc* happened: the deepest Java ``Caused by``
    as ``Class: message``, else the Java exception a Py4J error wraps,
    else the first line of the message; at most ``ROOT_CAUSE_CHARS``.

    ``str()`` of a ``Py4JJavaError`` is ``An error occurred while
    calling oN.method.`` followed by the whole Java stack trace, whose
    first line names the call but not the failure."""
    lines = [ln.strip() for ln in str(exc).splitlines() if ln.strip()]
    causes = [ln[len(_CAUSED_BY):] for ln in lines if ln.startswith(_CAUSED_BY)]
    if causes:
        line = causes[-1]
    elif len(lines) > 1 and lines[1].startswith(": "):
        line = lines[1][2:]
    else:
        line = lines[0] if lines else type(exc).__name__
    return line[:ROOT_CAUSE_CHARS]


def _parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="bend_archiver_spark",
        description="PySpark-native archive engine (bend-archiver capability parity)",
    )
    p.add_argument("--conf", default="", help="JSON job config path")
    p.add_argument(
        "--compact",
        default="",
        metavar="PATH",
        help="maintenance mode: compact small parquet files under PATH "
        "(no --conf needed)",
    )
    p.add_argument(
        "--compact-key",
        default="",
        help="re-cluster on this column during --compact",
    )
    p.add_argument(
        "--compact-target-mb",
        type=int,
        default=128,
        help="target file size for --compact (MiB)",
    )
    p.add_argument("--source-path", default="", help="file-source path (parquet/csv/json); omit for JDBC mode")
    p.add_argument(
        "--source-format",
        default="parquet",
        help="file-source format: parquet, orc, csv (with a header row), "
        "ndjson or json",
    )
    p.add_argument("--target-path", default="", help="override target path")
    p.add_argument("--dry-run", action="store_true", help="plan + count only, no write")
    p.add_argument("--sf-table", default="", help="testdata table name (uses nano-ts-aware loader)")
    return p.parse_args(argv)


def _run_compact(args: argparse.Namespace) -> int:
    from .maintenance import compact_files

    spark = get_spark("bend_archiver_spark_compact")
    try:
        res = compact_files(
            spark,
            args.compact,
            target_file_bytes=args.compact_target_mb * 1024 * 1024,
            key=args.compact_key or None,
        )
    except Exception as e:  # noqa: BLE001
        print(
            f"error: compaction of {args.compact!r} failed: {root_cause(e)}",
            file=sys.stderr,
        )
        return 1
    finally:
        spark.stop()
    print(
        json.dumps(
            {
                "compacted": res.path,
                "files_before": res.files_before,
                "files_after": res.files_after,
                "bytes_before": res.bytes_before,
                "rows": res.rows,
            }
        )
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    """CLI entry, and the one cancellation catch. A cancellation from
    anywhere in a run exits 128+signum (1 when no signal was recorded),
    never an uncaught traceback: from the Spark launch, the job, or
    the cleanup (a real signal landing while a programmatic
    cancellation unwinds). A signal whose ``JobCancelled`` raise lands
    inside a py4j socket read is CAUGHT by py4j's broad ``except`` in
    ``send_command`` and re-surfaces as ``Py4JError`` /
    ``Py4JNetworkError`` — a foreign type no ``except JobCancelled``
    can see; the recorded signal is authoritative for it too."""
    try:
        return _archive_main(argv)
    except JobCancelled as e:
        print(f"cancelled: {e}", file=sys.stderr)
        sig = last_signal()
        return 128 + sig if sig else 1
    except Exception as e:  # noqa: BLE001
        sig = last_signal()
        if sig is None:
            raise
        print(
            f"cancelled: received signal {sig} (surfaced as "
            f"{type(e).__name__} from an interrupted JVM call)",
            file=sys.stderr,
        )
        return 128 + sig


def _report_line(report: ArchiveReport) -> str:
    return json.dumps(
        {
            "table": report.table,
            "source_rows": report.source_rows,
            "target_rows": report.target_rows,
            "partitions": report.num_partitions,
            "batch_size": report.batch_size,
            "elapsed_sec": round(report.elapsed_sec, 3),
            "rows_per_sec": round(report.rows_per_sec, 1),
            "verified": report.verify.is_correct,
        }
    )


def _archive_tables(spark, cfg: Config, args: argparse.Namespace) -> int:
    """Dry-run or archive every table of the config through the one
    loop; returns the exit code. Errors propagate to the caller."""
    if args.source_path or args.sf_table:
        try:
            source_df = (
                load_table(spark, args.source_path, args.sf_table)
                if args.sf_table
                else read_source(spark, args.source_path, args.source_format)
            )
        except ValueError as e:  # an unsupported --source-format
            print(f"error: {e}", file=sys.stderr)
            return 2
        listing = {}

        def job_for(sub: Config) -> FileArchiveJob:
            return FileArchiveJob(spark, sub, source_df)
    else:
        source = JdbcSource(spark, cfg)
        listing = {
            "list_databases": source.list_databases,
            "list_tables": source.list_tables,
        }

        def job_for(sub: Config) -> JdbcArchiveJob:
            sub.source_db, sub.source_table = source.locate(
                sub.source_db, sub.source_table
            )
            return JdbcArchiveJob(spark, sub)

    def target_path_for(db: str, table: str) -> str:
        if not cfg.source_db_tables:
            return cfg.target_path
        return f"{cfg.target_path.rstrip('/')}/{db}/{table}"

    if args.dry_run:
        for sub in table_configs(cfg, target_path_for, **listing):
            job = job_for(sub)
            # JDBC: one COUNT(*) over the driver's connection, no Spark job
            if isinstance(job, JdbcArchiveJob):
                n = job.source.count()
            else:
                n = job.filtered().count()
            line = {"dry_run": True, "matching_rows": n}
            if cfg.source_db_tables:
                line["table"] = job.cfg.source_table
            print(json.dumps(line))
        return 0

    def on_report(report: ArchiveReport) -> None:
        print(_report_line(report))
        # when each phase started, how long it ran, what it counted;
        # the manifests, target files and runs the gate read or skipped
        print(json.dumps({
            "phases": report.details["phases"],
            "gate": report.details.get("gate"),
        }))
        if not report.verify.is_correct:
            print("verification FAILED: source/target counts differ", file=sys.stderr)

    t0 = time.monotonic()
    result = run_multi_table(cfg, job_for, target_path_for, on_report=on_report, **listing)
    elapsed = time.monotonic() - t0
    if cfg.source_db_tables:
        # the aggregate rollup (A13) and its verification (A31)
        print(json.dumps({
            "tables": len(result.reports),
            "source_rows": result.total_source_rows,
            "target_rows": result.total_target_rows,
            "verified": result.is_correct,
        }))
    # the reference's rows/s log (A36), over the whole loop
    rows = result.total_source_rows
    print(f"job: {rows} rows in {elapsed:.3f} s, {rows / elapsed:.1f} rows/s")
    return 0 if result.is_correct else 1


def _archive_main(argv: list[str] | None = None) -> int:
    args = _parse_args(argv)
    if args.compact:
        return _run_compact(args)
    if not args.conf:
        print("error: --conf is required (unless using --compact)", file=sys.stderr)
        return 2
    try:
        cfg: Config = load_config(args.conf)
    except (OSError, json.JSONDecodeError, ConfigError) as e:
        print(f"error: invalid config {args.conf!r}: {e}", file=sys.stderr)
        return 2
    if args.target_path:
        cfg.target_path = args.target_path
    if cfg.source_db_tables and (args.source_path or args.sf_table):
        print(
            "error: sourceDbTables needs a JDBC source, not --source-path",
            file=sys.stderr,
        )
        return 2
    start = time.time()
    print(f"start time: {time.strftime('%Y-%m-%d %H:%M:%S', time.localtime(start))}")

    # SIGTERM/SIGINT cancel the job at the next phase boundary —
    # parity with the reference's signal context (cmd/main.go:29-35).
    # The job's destructive-last gate guarantees an interrupt between
    # write and verify never reaches delete-after-sync; the finally
    # below still stops the Spark session on the way out. Handlers are
    # installed INSIDE the try so a signal landing during the
    # multi-second Spark session launch still exits through the
    # cancellation path (128+signum), not an uncaught traceback.
    reset_cancel()
    prev_handlers = None
    spark = None
    try:
        prev_handlers = install_signal_handlers()
        spark = get_spark("bend_archiver_spark")
        try:
            return _archive_tables(spark, cfg, args)
        except JobCancelled:
            # a RuntimeError subclass — must reach main() for the
            # 128+signum exit, not the job-failure rc=1
            raise
        except Exception as e:  # noqa: BLE001
            # a swallowed JobCancelled can come back re-wrapped (a
            # handler that raises RuntimeError `from e`) — with a
            # recorded signal this is a cancellation, not a job failure
            if last_signal() is not None:
                raise
            print(f"error: {root_cause(e)}", file=sys.stderr)
            return 1
    finally:
        if prev_handlers is not None:
            restore_signal_handlers(prev_handlers)
        if spark is not None:
            try:
                spark.stop()
            except Exception as e:  # noqa: BLE001
                # a signal that interrupted a py4j call can leave the
                # gateway broken; a failed stop must not replace the
                # 128+signum exit code main() computes
                print(f"warning: spark.stop() failed: {e}", file=sys.stderr)
        end = time.time()
        print(f"end time: {time.strftime('%Y-%m-%d %H:%M:%S', time.localtime(end))}")
        print(f"total time: {end - start:.1f}s")


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
