"""CLI driver — parity with cmd/main.go (A38): config -> table
discovery -> per-table archive -> verification -> optional delete.

Usage (spark-submit or plain python):

    python -m bend_archiver_spark --conf conf.json
    python -m bend_archiver_spark --conf conf.json --source-path /data/t.parquet \\
        --target-path /archive/t --dry-run
    python -m bend_archiver_spark --compact /archive/t --compact-key id

File mode (``--source-path``) archives parquet/csv/json files and is
fully self-contained; JDBC mode (config with connection fields) needs
the matching JDBC driver jar on the Spark classpath. The reference's
start/end/total logging (cmd/main.go:26-28, 118-120) and the
verification gate are preserved; per-table reports are emitted as one
JSON line each for machine consumption, followed by one JSON line of
the run's phase timings and what its idempotency gate read
(``{"phases": {name: {start_s, seconds, rows}}, "gate": {manifests,
files, scanned, runs_skipped}}``).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.errors import AnalysisException

from .cancel import (
    JobCancelled,
    install_signal_handlers,
    last_signal,
    reset as reset_cancel,
    restore_signal_handlers,
)
from .config import Config, ConfigError, load_config
from .job import FileArchiveJob, JdbcArchiveJob
from .metrics import ThroughputRecorder
from .session import get_spark
from .tables import load_table


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
    p.add_argument("--source-format", default="parquet")
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
    except (RuntimeError, OSError) as e:
        print(f"error: compaction failed: {e}", file=sys.stderr)
        return 1
    except AnalysisException as e:
        print(f"error: cannot read {args.compact!r}: {e}", file=sys.stderr)
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
    """CLI entry. Thin wrapper whose only job is the last-resort
    cancellation catch, covering two escape paths the inner handler
    cannot:

    - a real signal landing while ``_archive_main`` is ALREADY
      unwinding a programmatic cancellation (inside its ``except
      JobCancelled`` block or the ``finally`` cleanup) raises a
      second ``JobCancelled`` past the inner handler;
    - a signal whose ``JobCancelled`` raise lands inside a py4j
      socket read gets CAUGHT by py4j's broad ``except`` in
      ``send_command`` and re-surfaces as ``Py4JError`` /
      ``Py4JNetworkError`` — a foreign type no ``except
      JobCancelled`` can see.

    In both cases the recorded signal is authoritative: exit
    128+signum, never an uncaught traceback."""
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
    rec = ThroughputRecorder()
    rc = 0
    try:
        prev_handlers = install_signal_handlers()
        spark = get_spark("bend_archiver_spark")
        jdbc_mode = not args.source_path and not args.sf_table
        if jdbc_mode:
            job = JdbcArchiveJob(spark, cfg)
        else:
            if args.sf_table:
                source_df = load_table(spark, args.source_path, args.sf_table)
            elif args.source_format == "parquet":
                from .tables import load_parquet

                source_df = load_parquet(spark, args.source_path)
            else:
                source_df = (
                    spark.read.format(args.source_format).load(args.source_path)
                )
            job = FileArchiveJob(spark, cfg, source_df)

        if args.dry_run:
            # JDBC: one COUNT(*) over the driver's connection, no Spark job
            n = job.source.count() if jdbc_mode else job.filtered().count()
            print(json.dumps({"dry_run": True, "matching_rows": n}))
        else:
            try:
                report = job.run()
            except JobCancelled:
                # a RuntimeError subclass — must reach the outer
                # handler for the 128+signum exit, not the generic
                # job-failure rc=1
                raise
            except RuntimeError as e:
                # a swallowed JobCancelled can come back re-wrapped
                # (a handler that raises RuntimeError `from e`) — with
                # a recorded signal this is a cancellation, not a job
                # failure; re-raise so the outer handlers exit
                # 128+signum
                if last_signal() is not None:
                    raise
                print(f"error: {e}", file=sys.stderr)
                return 1
            rec.record(report.source_rows)
            print(
                json.dumps(
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
            )
            # when each phase started, how long it ran, what it counted;
            # the manifests, target files and runs the gate read or skipped
            print(json.dumps({
                "phases": report.details["phases"],
                "gate": report.details.get("gate"),
            }))
            if not report.verify.is_correct:
                print("verification FAILED: source/target counts differ", file=sys.stderr)
                rc = 1
            print(rec.as_log_line("job"))
    except JobCancelled as e:
        print(f"cancelled: {e}", file=sys.stderr)
        sig = last_signal()
        rc = 128 + sig if sig else 1
    except Exception as e:  # noqa: BLE001
        # A signal whose JobCancelled raise landed inside a py4j
        # socket read gets caught by py4j's broad except in
        # send_command and re-surfaces as Py4JError — a foreign type.
        # The recorded signal is authoritative: this is a
        # cancellation, not a job failure.
        sig = last_signal()
        if sig is None:
            raise
        print(
            f"cancelled: received signal {sig} (surfaced as "
            f"{type(e).__name__} from an interrupted JVM call)",
            file=sys.stderr,
        )
        rc = 128 + sig
    finally:
        if prev_handlers is not None:
            restore_signal_handlers(prev_handlers)
        if spark is not None:
            try:
                spark.stop()
            except Exception as e:  # noqa: BLE001
                # a signal that interrupted a py4j call can leave the
                # gateway broken; a failed stop must not replace the
                # 128+signum exit code already computed above
                print(f"warning: spark.stop() failed: {e}", file=sys.stderr)
    end = time.time()
    print(f"end time: {time.strftime('%Y-%m-%d %H:%M:%S', time.localtime(end))}")
    print(f"total time: {end - start:.1f}s")
    return rc


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
