"""Job orchestration — the worker/CLI layer re-expressed as one Spark job.

The reference's whole control flow (cmd/main.go:22-121 +
worker/worker.go) is: discover tables -> idempotency gate -> bounds
probe -> split plan -> fan out scan->ingest -> verify -> optional
delete. In Spark that collapses to: one bounds probe, one partitioned
read (the split plan *is* the partitioning), one distributed write,
then the verification counts. The goroutine pool and condition
channel become one wave of write tasks, each running a contiguous run
of the plan's predicates; pagination disappears into the reader, and
the retry loop is left only around ``COPY INTO`` (``run_copy_into``).

``ArchiveJob.run`` is that one flow for every source, as Worker.Run is
behind the reference's Sourcer interface (source/source.go:18-29).
Subclasses supply only the source hooks ``_plan``, ``_read``,
``_count`` and ``_delete``: ``FileArchiveJob`` over file sources
(parquet/csv/json), ``JdbcArchiveJob`` over live RDBMS sources, whose
probes run as plain SQL on a driver-side connection (sources/jdbc.py).

A run writes into ``<target>/_staging/<run_id>/`` (``sink.staging_path``),
which readers of the target do not list, and publishes only a verified
run: ``FileSystem.rename`` of the staged files into the target, then
``COPY INTO`` if set, then delete-after-sync. Compaction
(``maintenance.compact_files``) changes a target through the same
staging, verify and publish. A run that is refused, fails verification
or raises before its publish publishes nothing and removes its staging
directory; a crashed run leaves one, which the next run on the target
removes (``sink.clear_staging``), as it finishes a publish that failed
or was cut short. A cancellation still
stops a run at the last boundary before delete-after-sync
(destructive-last), after a verified publish. The ``delta`` target
format is refused: the publish renames plain files, which a Delta
table's log would not list.

The gate runs first, on the calling thread, as the reference checks
it before it extracts anything (cmd/main.go:74-82): a refused run
plans and writes nothing. Because nothing is published before
verification, the source fingerprint's Spark job runs on one worker
thread, beside the source ``COUNT`` and the one pass over the staged
files that yields their count and (with ``verify_fingerprint``)
fingerprint. Every global aggregate of a run (the gate's count, a file
source's probe, the staged verify, the fingerprint) is one Spark job
with no exchange (``verify.observe_aggregates``), so a fingerprinted
JDBC run launches three: the write, the staged verify and the
fingerprint's re-read.

The verification contract is unchanged: the source must equal what the
target holds for the predicate once published, i.e. published + staged
rows. Every run gates, so published is 0 or the run was refused, and
only the staged files are read, with the written frame's schema (no
inference job; an ``ndjson`` target reads typed values, not strings).
That one pass counts the predicate's rows (``count_if``), sums
their fingerprint, and takes the min and max of every integral,
``decimal(p,0)``, date and timestamp column over all staged rows.

A verified run writes its manifest (``manifest.py``): predicate, rows,
fingerprint, schema, files and those ranges, carried in the staged
run's ``_PUBLISHING`` marker and recorded as
``<target>/_manifests/<run_id>.json`` once its files are renamed
(``sink.publish_staged``). The gate then reads only the candidate
files: those no manifest covers, and those of runs whose ranges can
meet the predicate; with none it runs no Spark job. Each run still
reads every manifest and lists the target's files (O(runs) small
reads on the driver), and files that an outside writer left uncovered
are scanned. ``ArchiveReport.details["phases"]`` records
when each phase started, how long it took and the rows it counted;
``details["gate"]`` the manifests the gate read, the target files it
listed, the files it scanned and the runs it skipped.
"""

from __future__ import annotations

import time
import uuid
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .cancel import JobCancelled, raise_if_cancelled
from .config import Config
from .planner import (
    MAX_PARTITIONS,
    coerce_key,
    plan_jdbc_partitions,
    split_time_windows,
)
from .manifest import gate_scan, range_aggregates, ranges_from
from .sink import (
    clear_staging,
    mark_publishing,
    publish_staged,
    refuse_non_directory,
    staging_path,
    write_batch,
)
from .verify import (
    VerifyResult,
    idempotency_gate,
    observe_aggregates,
    verify_aggregate,
)

__all__ = [
    "ArchiveJob",
    "ArchiveReport",
    "FileArchiveJob",
    "JdbcArchiveJob",
    "run_copy_into",
]


def read_target(
    spark: SparkSession,
    cfg: Config,
    schema: StructType | None = None,
    paths: list[str] | None = None,
    base_path: str | None = None,
) -> DataFrame:
    """Read the sink back for gate/verify: the published target, or
    ``paths`` (a run's staged files, or some of the target's files,
    whose partition directories Spark reads from ``base_path``).
    'ndjson' is a sink-side name (stage-file parity); Spark's reader
    calls it 'json', with the same micro-precision timestamp format the
    writer used. A given ``schema`` spares the Spark job that file
    formats spend inferring it and, for 'ndjson', reads typed values
    rather than the strings inference sees."""
    if cfg.target_format == "ndjson":
        from .sink import NDJSON_TS_FMT

        reader = spark.read.format("json").option(
            "timestampFormat", NDJSON_TS_FMT
        )
    else:
        reader = spark.read.format(cfg.target_format)
    if schema is not None:
        reader = reader.schema(schema)
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    return reader.load(paths or cfg.target_path)


def check_idempotency_gate(spark: SparkSession, cfg: Config) -> dict:
    """Refuse to double-archive (A32, cmd/main.go:74-82): count the
    target rows matching the predicate over the candidate files only
    (``manifest.gate_scan``: files no manifest covers, and the files of
    runs whose recorded ranges can meet the predicate). No candidate
    file, as on a missing or empty target: the gate passes without
    touching Spark. Every file a candidate: the whole target is read, as
    before manifests. Returns the scan's counts for
    ``ArchiveReport.details["gate"]``. An error loading or evaluating
    the candidates must propagate — swallowing it would silently skip
    the guard on a corrupt or schema-degraded target and append rows
    twice."""
    scan = gate_scan(spark, cfg.target_path, cfg.source_where_condition)
    if scan.paths == []:
        return scan.stats
    base = cfg.target_path if scan.paths else None
    existing = read_target(spark, cfg, scan.schema, scan.paths, base)
    already = idempotency_gate(existing, cfg.source_where_condition)
    if already > 0:
        raise RuntimeError(
            f"idempotency gate: target already has {already} rows "
            "matching the predicate; refusing to double-archive"
        )
    return scan.stats


def verify_target(
    spark: SparkSession,
    cfg: Config,
    columns: list[str],
    schema: StructType,
    staged: str,
) -> tuple[int, int | None, dict]:
    """Target side of the verification contract in one scan of the
    run's ``staged`` files, read with ``schema``: the number of rows
    matching the predicate, with ``verify_fingerprint`` their content
    fingerprint over ``columns`` (``None`` otherwise), and the ranges a
    manifest records of every row read (``manifest.range_aggregates``).
    Predicate-scoped: under ``reference_compat`` the degraded column
    types may not accept the source predicate, and the whole read
    counts."""
    target = read_target(spark, cfg, schema, [staged])
    names, bounds = range_aggregates(schema)
    rows, fingerprint, values = verify_aggregate(
        target, cfg.source_where_condition, columns,
        cfg.verify_fingerprint, bounds,
    )
    return rows, fingerprint, ranges_from(names, values)


def _read_schema(written: StructType) -> StructType:
    """The schema the written rows are read back with: the written
    frame's types, without field metadata (a JDBC frame's char/varchar
    marks) or non-null flags, as file inference would give them."""
    return StructType([StructField(f.name, f.dataType) for f in written.fields])


def run_copy_into(
    spark: SparkSession, cfg: Config, copy_executor=None, sleep=time.sleep
) -> int:
    """Execute the generated ``COPY INTO`` against the warehouse after
    the stage write (A27-A28, ingester/ingest_databend.go:182-195) —
    gated behind ``cfg.execute_copy_into``. The statement references
    the stage path the job just wrote; ``copy_executor`` lets tests
    inject a statement executor, otherwise one is built over the
    warehouse's JDBC URL. A failed statement is retried under the
    reference's policy (``retry.do_retry`` on its ``CopyIntoError``
    sentinel, ingest_databend.go:206-241), ``sleep`` between attempts."""
    import os

    from .postsync import jdbc_executor
    from .retry import CopyIntoError, do_retry
    from .sink import execute_copy_into

    if not cfg.databend_table:
        raise RuntimeError("executeCopyInto requires databendTable")
    if copy_executor is None:
        if not cfg.warehouse_jdbc_url:
            raise RuntimeError("executeCopyInto requires warehouseJdbcUrl")
        copy_executor = jdbc_executor(
            spark, cfg.warehouse_jdbc_url, cfg.warehouse_user, cfg.warehouse_pass
        )
    stage_loc = (
        f"@{cfg.user_stage}/{os.path.basename(cfg.target_path.rstrip('/'))}/"
    )

    def attempt() -> int:
        try:
            return execute_copy_into(
                copy_executor,
                cfg.databend_table,
                stage_loc,
                purge=cfg.copy_purge,
                force=cfg.copy_force,
                disable_variant_check=cfg.disable_variant_check,
            )
        except JobCancelled:
            raise
        except Exception as e:
            raise CopyIntoError(f"copy into failed: {e}") from e

    return do_retry(attempt, sleep=sleep)


@dataclass
class ArchiveReport:
    table: str
    source_rows: int
    target_rows: int
    num_partitions: int
    batch_size: int
    elapsed_sec: float
    verify: VerifyResult
    deleted_rows: int = 0
    details: dict = field(default_factory=dict)

    @property
    def rows_per_sec(self) -> float:
        return self.source_rows / self.elapsed_sec if self.elapsed_sec else 0.0


JOB_DESCRIPTION = "spark.job.description"


class _Phases:
    """Start offset, seconds and counted rows of each phase of one run,
    for ``ArchiveReport.details["phases"]``. A phase's Spark jobs carry
    its name as their description (a thread-local property, so phases
    on two threads keep their own)."""

    def __init__(self, spark: SparkSession, table: str, t0: float):
        self.sc = spark.sparkContext
        self.label = f"archive {table}"
        self.t0 = t0
        self.timings: dict[str, dict] = {}

    def run(self, name: str, fn, rows=None):
        """``fn()`` as phase ``name``; ``rows(result)`` gives the rows
        the phase counted (``None`` when it counts none)."""
        self.sc.setJobDescription(f"{self.label}: {name}")
        start = time.monotonic()
        result = fn()
        end = time.monotonic()
        self.timings[name] = {
            "start_s": round(start - self.t0, 4),
            "seconds": round(end - start, 4),
            "rows": None if rows is None else rows(result),
        }
        return result


class _Worker:
    """The one background thread a run overlaps the source fingerprint
    on. A task inherits the caller's local properties (job group,
    description) through ``inheritable_thread_target`` and tags its
    Spark jobs with the run's tag, so :meth:`close` can cancel what is
    still running before it waits for the thread."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.tag = f"archive-{uuid.uuid4().hex}"
        self.pool = ThreadPoolExecutor(1, thread_name_prefix="archive-worker")
        self.futures: list[Future] = []

    def submit(self, fn, *args, **kwargs) -> Future:
        sc, tag = self.spark.sparkContext, self.tag

        def task():
            sc.addJobTag(tag)
            return fn(*args, **kwargs)

        future = self.pool.submit(inheritable_thread_target(self.spark)(task))
        self.futures.append(future)
        return future

    def close(self) -> None:
        if not all(f.done() for f in self.futures):
            self.spark.sparkContext.cancelJobsWithTag(self.tag)
        self.pool.shutdown(wait=True, cancel_futures=True)


class ArchiveJob:
    """Archive one table into a file target (Worker.Run,
    worker/worker.go:244-259)."""

    deletes_source = False  # whether the subclass implements ``_delete``

    def __init__(self, spark: SparkSession, cfg: Config):
        self.spark = spark
        self.cfg = cfg

    def run(self, copy_executor=None) -> ArchiveReport:
        cfg, spark = self.cfg, self.spark
        t0 = time.monotonic()
        if cfg.delete_after_sync and not self.deletes_source:
            raise RuntimeError(
                f"deleteAfterSync is not supported by {type(self).__name__}:"
                " it cannot delete from its source"
            )
        if cfg.target_format == "delta":
            # the publish renames plain files and would leave them out
            # of the table's _delta_log: invisible to Delta readers
            raise RuntimeError(
                "targetFormat 'delta' is not supported by ArchiveJob.run:"
                " a staged publish cannot commit to a Delta table"
            )
        refuse_non_directory(spark, cfg.target_path)
        clear_staging(spark, cfg.target_path)
        run_id = uuid.uuid4().hex
        staged = staging_path(cfg.target_path, run_id)
        description = spark.sparkContext.getLocalProperty(JOB_DESCRIPTION)
        phases = _Phases(spark, cfg.source_table, t0)
        worker = _Worker(spark)
        publishing = False
        try:
            # pre-flight gate (A32, cmd/main.go:74-82) over the published
            # target, before anything is extracted: a refused run plans
            # and writes nothing, and nothing is published unless it
            # passes
            gate = phases.run(
                "gate", lambda: check_idempotency_gate(spark, cfg),
                rows=lambda _: 0,
            )
            plan = phases.run(
                "plan", self._plan,
                rows=lambda p: getattr(p, "row_count", None),
            )
            if not plan.num_partitions:
                # empty-table short-circuit (worker/worker.go:92-95)
                return ArchiveReport(
                    cfg.source_table, 0, 0, 0, plan.batch_size,
                    time.monotonic() - t0, VerifyResult(0, 0),
                    details={"phases": phases.timings, "gate": gate},
                )
            raise_if_cancelled("write")
            extracted, written = self._read(plan)
            if cfg.reference_compat:
                from .sources.typemap import apply_reference_compat

                extracted = apply_reference_compat(extracted)
                written = apply_reference_compat(written)
            phases.run("write", lambda: write_batch(
                extracted,
                staged,
                cfg.target_format,
                partition_by=cfg.target_partition_by or None,
            ))

            # verification contract (worker/worker.go:230-242): source
            # rows == published + staged target rows for the predicate;
            # the source fingerprint runs beside the count and verify,
            # which reads the staged files with the written schema
            fingerprint = None
            if cfg.verify_fingerprint:
                from .verify import content_fingerprint

                fingerprint = worker.submit(
                    phases.run, "fingerprint",
                    lambda: content_fingerprint(written),
                )
            source_rows = phases.run(
                "source_count", lambda: self._count(plan), rows=lambda n: n
            )
            schema = _read_schema(extracted.schema)
            tgt_rows, tgt_fp, ranges = phases.run(
                "verify",
                lambda: verify_target(spark, cfg, written.columns, schema, staged),
                rows=lambda r: r[0],
            )
            details = {"phases": phases.timings, "gate": gate}
            verify = VerifyResult(source_rows, tgt_rows)
            if fingerprint is not None:
                verify.source_fingerprint = fingerprint.result()
                verify.target_fingerprint = tgt_fp

            copied, deleted = None, 0
            if verify.is_correct:
                manifest = {
                    "run_id": run_id,
                    "predicate": cfg.source_where_condition,
                    "rows": tgt_rows,
                    "fingerprint": tgt_fp,
                    "schema": schema.jsonValue(),
                    "ranges": ranges,
                }

                def publish():
                    mark_publishing(spark, staged, manifest)
                    return publish_staged(spark, staged, cfg.target_path)

                publishing = True
                phases.run("publish", publish)
                publishing = False
                if cfg.execute_copy_into:
                    copied = phases.run(
                        "copy_into",
                        lambda: run_copy_into(spark, cfg, copy_executor),
                        rows=lambda n: n,
                    )
                if cfg.delete_after_sync:
                    # destructive-last: a cancellation that landed
                    # anywhere before here (e.g. inside a blocking JVM
                    # call the handler's exception could not preempt)
                    # must stop the job BEFORE the source-mutating phase
                    # (cmd/main.go:29-35)
                    raise_if_cancelled("delete-after-sync")
                    deleted = phases.run(
                        "delete", lambda: self._delete(plan, verify),
                        rows=lambda n: n,
                    )
            if copied is not None:
                details["copy_into_rows"] = copied
            return ArchiveReport(
                table=cfg.source_table,
                source_rows=verify.source_rows,
                target_rows=verify.target_rows,
                num_partitions=plan.num_partitions,
                batch_size=plan.batch_size,
                elapsed_sec=time.monotonic() - t0,
                verify=verify,
                deleted_rows=deleted,
                details=details,
            )
        finally:
            # wait for (or cancel) the fingerprint's job before removing
            # what it may still be reading
            worker.close()
            # a publish cut short keeps its staged files and marker: the
            # next run finishes it (sink.clear_staging)
            if not publishing:
                clear_staging(spark, cfg.target_path)
            spark.sparkContext.setLocalProperty(JOB_DESCRIPTION, description)


@dataclass
class _FilePlan:
    key: str  # the range-partitioning column
    row_count: int
    num_partitions: int
    batch_size: int


class FileArchiveJob(ArchiveJob):
    """Archive one table from a file source. File sources are immutable
    within the job: the plan's count is the source side of the
    verification, and there is no source to delete from."""

    def __init__(self, spark: SparkSession, cfg: Config, source_df: DataFrame):
        super().__init__(spark, cfg)
        self.source = source_df

    def filtered(self) -> DataFrame:
        """The source rows the predicate selects."""
        cond = self.cfg.source_where_condition
        return self.source.filter(cond) if cond else self.source

    def _plan(self) -> _FilePlan:
        """One pass replaces the reference's three probe queries
        (GetMinMaxSplitKey + GetSourceReadRowsCount); the split mode
        (worker/worker.go:248-252) then sizes the plan: one partition
        per time window, or the planner's key-range plan."""
        cfg = self.cfg
        key = cfg.source_split_time_key or cfg.source_split_key
        row = observe_aggregates(
            self.filtered(),
            mn=F.min(key),
            mx=F.max(key),
            cnt=F.count(F.lit(1)),
        )
        cnt = int(row["cnt"])
        if cnt == 0:
            return _FilePlan(key, 0, 0, cfg.batch_size)
        if cfg.source_split_time_key:
            windows = split_time_windows(
                key, cfg.time_split_unit, row["mn"], row["mx"]
            )
            n_parts = min(len(windows), MAX_PARTITIONS)
            return _FilePlan(key, cnt, n_parts, cfg.batch_size)
        # an all-NULL key column probes as the reference's 0 sentinel
        mn, mx = (coerce_key(v or 0) for v in (row["mn"], row["mx"]))
        plan = plan_jdbc_partitions(key, mn, mx, cnt, cfg.batch_size)
        return _FilePlan(key, cnt, plan.num_partitions, plan.batch_size)

    def _read(self, plan: _FilePlan) -> tuple[DataFrame, DataFrame]:
        """The split plan as partitioning: range-partition on the split
        key (or time key) — same disjoint ranges as the predicate
        planner, but computed by Spark's range partitioner in one
        shuffle instead of N re-scans. Sorting within each partition
        costs nothing extra at write time (data is already range-
        clustered) and gives every parquet row group a tight min/max
        on the key, so later key-range scans prune at row-group
        granularity, not just file granularity. The second frame is the
        rows as the target stores them, without the shuffle: what the
        (order-insensitive) source fingerprint hashes."""
        filtered = self.filtered()
        extracted = filtered.repartitionByRange(
            plan.num_partitions, F.col(plan.key)
        ).sortWithinPartitions(plan.key)
        return extracted, filtered

    def _count(self, plan: _FilePlan) -> int:
        return plan.row_count


class JdbcArchiveJob(ArchiveJob):
    """Archive one RDBMS table over a live JDBC source: the planner's
    predicates packed into one wave of write tasks (:meth:`_read`), a
    SQL ``COUNT`` after the write, and the verification-gated
    delete-after-sync (cmd/main.go:74-121).

    Requires the dialect's JDBC driver jar on the Spark classpath. The
    whole flow runs end to end against embedded Derby
    (tests/test_jdbc_e2e.py)."""

    deletes_source = True

    def __init__(self, spark: SparkSession, cfg: Config):
        from .sources.jdbc import JdbcSource

        super().__init__(spark, cfg)
        self.source = JdbcSource(spark, cfg)

    def _plan(self):
        return self.source.plan()

    def _read(self, plan) -> tuple[DataFrame, DataFrame]:
        """The written frame packs the plan's predicates into one wave
        of ``min(predicates, defaultParallelism)`` write tasks, as the
        reference's ``maxThread`` workers each pull many conditions
        (A20, worker/worker.go:86-136): each write task ships a
        serialized Hadoop configuration, so one per predicate spends
        more time deserializing than reading. JDBC partitions prefer
        no host, so ``coalesce`` packs neighbouring predicates and each
        file holds one contiguous key range. The SQL sent is unchanged:
        one ``SELECT`` per predicate. The trade-off: a packed task
        cannot be rebalanced, so one slow predicate holds back its
        neighbours. The fingerprint's source side re-reads over JDBC
        (the extra scan that makes ``verify_fingerprint`` opt-in), one
        task per predicate: its tasks are cheap to ship."""
        df = self.source.read(plan)
        slots = self.spark.sparkContext.defaultParallelism
        return df.coalesce(min(plan.num_partitions, slots)), df

    def _count(self, plan) -> int:
        return self.source.count()

    def _delete(self, plan, verify: VerifyResult) -> int:
        from .postsync import delete_after_sync, jdbc_executor

        cfg = self.cfg
        execute = jdbc_executor(
            self.spark,
            plan.url,
            cfg.source_user,
            cfg.source_pass,
            self.source.dialect.driver,
        )
        return delete_after_sync(cfg, verify, execute)
