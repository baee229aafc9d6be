"""Job orchestration — the worker/CLI layer re-expressed as one Spark job.

The reference's whole control flow (cmd/main.go:22-121 +
worker/worker.go) is: discover tables -> idempotency gate -> bounds
probe -> split plan -> fan out scan->ingest -> verify -> optional
delete. In Spark that collapses to: one bounds-probe aggregate, one
partitioned read (the split plan *is* the partitioning), one
distributed write, then the verification counts. The goroutine pool,
condition channel, retry loop and pagination all disappear into the
scheduler.

The target is read twice per run: once by the gate before the write,
and once after it, where a single aggregate yields both the target
count and (with ``verify_fingerprint``) its fingerprint. The second
read reuses the schema the gate read instead of inferring it again.

``FileArchiveJob`` runs the flow against file-based sources (parquet/
csv/json); ``JdbcArchiveJob`` (sources/jdbc.py) does the same against
live RDBMS sources, with its bounds and count probes run as plain SQL
on a driver-side connection rather than as Spark jobs.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .cancel import raise_if_cancelled
from .config import Config
from .planner import adjust_batch_size, coerce_key, split_time_windows
from .sink import write_batch
from .verify import VerifyResult, count_and_fingerprint, idempotency_gate

__all__ = [
    "ArchiveReport",
    "FileArchiveJob",
    "JdbcArchiveJob",
    "run_copy_into",
]


def read_target(
    spark: SparkSession, cfg: Config, schema: StructType | None = None
) -> DataFrame:
    """Read the sink back for gate/verify. 'ndjson' is a sink-side
    name (stage-file parity); Spark's reader calls it 'json', with the
    same micro-precision timestamp format the writer used. A given
    ``schema`` (the one the gate read) spares the Spark job that file
    formats spend inferring it; Delta keeps its schema in the table log
    and refuses one given at read time."""
    if cfg.target_format == "ndjson":
        from .sink import NDJSON_TS_FMT

        reader = spark.read.format("json").option(
            "timestampFormat", NDJSON_TS_FMT
        )
    else:
        reader = spark.read.format(cfg.target_format)
    if schema is not None and cfg.target_format != "delta":
        reader = reader.schema(schema)
    return reader.load(cfg.target_path)


def check_idempotency_gate(
    spark: SparkSession, cfg: Config
) -> StructType | None:
    """Refuse to double-archive (A32, cmd/main.go:74-82). Returns the
    schema of the existing target, or ``None`` when there is none yet.
    Only the target *load* may fail soft (missing target == clean
    slate); an error evaluating the gate predicate against an existing
    target must propagate — swallowing it would silently skip the guard
    on a corrupt or schema-degraded target and append rows twice."""
    try:
        existing = read_target(spark, cfg)
    except AnalysisException:
        return None  # target does not exist yet — clean slate
    already = idempotency_gate(existing, cfg.source_where_condition)
    if already > 0:
        raise RuntimeError(
            f"idempotency gate: target already has {already} rows "
            "matching the predicate; refusing to double-archive"
        )
    return existing.schema


def verify_target(
    spark: SparkSession,
    cfg: Config,
    columns: list[str],
    schema: StructType | None = None,
) -> tuple[int, int | None]:
    """Target side of the verification contract in one scan: the
    number of target rows matching the predicate and, with
    ``verify_fingerprint``, their content fingerprint over ``columns``
    (``None`` otherwise). ``schema`` is passed on to :func:`read_target`."""
    target = read_target(spark, cfg, schema)
    # predicate-scoped: a target dir may hold other archives. Under
    # reference_compat the degraded column types may not accept the
    # source predicate — fall back to the whole target
    try:
        scoped = (
            target.filter(cfg.source_where_condition)
            if cfg.source_where_condition
            else target
        )
    except AnalysisException:
        scoped = target
    if not cfg.verify_fingerprint:
        return scoped.count(), None
    return count_and_fingerprint(scoped.select(*columns))


def run_copy_into(spark: SparkSession, cfg: Config, copy_executor=None) -> int:
    """Execute the generated ``COPY INTO`` against the warehouse after
    the stage write (A27-A28, ingester/ingest_databend.go:182-195) —
    gated behind ``cfg.execute_copy_into``. The statement references
    the stage path the job just wrote; ``copy_executor`` lets tests
    inject a statement executor, otherwise one is built over the
    warehouse's JDBC URL."""
    import os

    from .postsync import jdbc_executor
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
    return execute_copy_into(
        copy_executor,
        cfg.databend_table,
        stage_loc,
        purge=cfg.copy_purge,
        force=cfg.copy_force,
        disable_variant_check=cfg.disable_variant_check,
    )


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


class FileArchiveJob:
    """Archive one table from a file source into a file/Delta target.

    Mirrors Worker.Run (worker/worker.go:244-259): bounds probe ->
    split-mode decision -> partitioned extract -> ingest -> verify.
    """

    def __init__(self, spark: SparkSession, cfg: Config, source_df: DataFrame):
        self.spark = spark
        self.cfg = cfg
        self.source = source_df

    def _probe_bounds(self, df: DataFrame) -> tuple[int, int, int]:
        """One aggregate replaces the reference's three probe queries
        (GetMinMaxSplitKey + GetSourceReadRowsCount)."""
        key = self.cfg.source_split_key
        row = df.agg(
            F.coalesce(F.min(key), F.lit(0)).alias("mn"),
            F.coalesce(F.max(key), F.lit(0)).alias("mx"),
            F.count(F.lit(1)).alias("cnt"),
        ).first()
        return coerce_key(row["mn"]), coerce_key(row["mx"]), int(row["cnt"])

    def _plan_partitions(self, filtered: DataFrame) -> tuple[int, int, str, int]:
        """Split-mode dispatch (Worker.Run branches on SourceSplitTimeKey,
        worker/worker.go:248-252): returns (num_partitions, batch_size,
        partition_column, row_count)."""
        cfg = self.cfg
        if cfg.source_split_time_key:
            key = cfg.source_split_time_key
            row = filtered.agg(
                F.min(key).alias("mn"),
                F.max(key).alias("mx"),
                F.count(F.lit(1)).alias("cnt"),
            ).first()
            cnt = int(row["cnt"])
            if cnt == 0:
                return 0, cfg.batch_size, key, 0
            windows = split_time_windows(
                key, cfg.time_split_unit, row["mn"], row["mx"]
            )
            return max(1, min(len(windows), 10_000)), cfg.batch_size, key, cnt
        mn, mx, cnt = self._probe_bounds(filtered)
        if cnt == 0:
            return 0, cfg.batch_size, cfg.source_split_key, 0
        batch = adjust_batch_size(cfg.batch_size, mn, mx, cnt)
        n_parts = max(1, min((mx - mn) // batch + 1, 10_000))
        return int(n_parts), batch, cfg.source_split_key, cnt

    def run(
        self, check_idempotency: bool = True, copy_executor=None
    ) -> ArchiveReport:
        cfg = self.cfg
        t0 = time.monotonic()
        filtered = (
            self.source.filter(cfg.source_where_condition)
            if cfg.source_where_condition
            else self.source
        )

        # pre-flight gate (A32)
        schema = (
            check_idempotency_gate(self.spark, cfg) if check_idempotency else None
        )

        n_parts, batch, part_col, cnt = self._plan_partitions(filtered)
        if cnt == 0:
            # empty-table short-circuit (worker/worker.go:92-95)
            return ArchiveReport(
                cfg.source_table, 0, 0, 0, cfg.batch_size,
                time.monotonic() - t0, VerifyResult(0, 0),
            )

        # The split plan as partitioning: range-partition on the split
        # key (or time key) — same disjoint ranges as the predicate
        # planner, but computed by Spark's range partitioner in one
        # shuffle instead of N re-scans. Sorting within each partition
        # costs nothing extra at write time (data is already range-
        # clustered) and gives every parquet row group a tight min/max
        # on the key, so later key-range scans prune at row-group
        # granularity, not just file granularity.
        raise_if_cancelled("write")
        extracted = filtered.repartitionByRange(
            n_parts, F.col(part_col)
        ).sortWithinPartitions(part_col)
        # the rows as the target stores them, without the shuffle: what
        # the (order-insensitive) source fingerprint hashes
        written = filtered
        if cfg.reference_compat:
            from .sources.typemap import apply_reference_compat

            extracted = apply_reference_compat(extracted)
            written = apply_reference_compat(filtered)
        write_batch(
            extracted,
            cfg.target_path,
            cfg.target_format,
            mode="append",
            partition_by=cfg.target_partition_by or None,
        )
        copied = (
            run_copy_into(self.spark, cfg, copy_executor)
            if cfg.execute_copy_into
            else None
        )

        tgt_rows, tgt_fp = verify_target(
            self.spark, cfg, written.columns, schema
        )
        # source side of the verification contract (worker/worker.go:230-242):
        # the bounds probe already counted the filtered source — file
        # sources are immutable within the job, so reuse it instead of
        # a second full scan
        verify = VerifyResult(cnt, tgt_rows)
        if cfg.verify_fingerprint:
            from .verify import content_fingerprint

            verify.source_fingerprint = content_fingerprint(written)
            verify.target_fingerprint = tgt_fp
        elapsed = time.monotonic() - t0
        return ArchiveReport(
            table=cfg.source_table,
            source_rows=verify.source_rows,
            target_rows=verify.target_rows,
            num_partitions=int(n_parts),
            batch_size=batch,
            elapsed_sec=elapsed,
            verify=verify,
            details={} if copied is None else {"copy_into_rows": copied},
        )


class JdbcArchiveJob:
    """Archive one RDBMS table into a file/Delta target — the complete
    reference flow (cmd/main.go:74-121) over a live JDBC source:
    idempotency gate -> bounds probe -> partitioned read (one predicate
    per task) -> distributed write -> count verification -> optional
    verification-gated delete-after-sync.

    Requires the dialect's JDBC driver jar on the Spark classpath. The
    SQL generation is unit-tested per dialect (tests/test_archiver_core.py,
    tests/test_job.py); the whole flow runs end to end against embedded
    Derby (tests/test_jdbc_e2e.py)."""

    def __init__(self, spark: SparkSession, cfg: Config):
        from .sources.jdbc import JdbcSource

        self.spark = spark
        self.cfg = cfg
        self.source = JdbcSource(spark, cfg)

    def run(
        self, check_idempotency: bool = True, copy_executor=None
    ) -> ArchiveReport:
        cfg = self.cfg
        t0 = time.monotonic()
        schema = (
            check_idempotency_gate(self.spark, cfg) if check_idempotency else None
        )

        plan = (
            self.source.plan_time_split()
            if cfg.source_split_time_key
            else self.source.plan_key_split()
        )
        if not plan.predicates:
            return ArchiveReport(
                cfg.source_table, 0, 0, 0, cfg.batch_size,
                time.monotonic() - t0, VerifyResult(0, 0),
            )
        raise_if_cancelled("write")
        df = self.source.read(plan)
        write_batch(
            df,
            cfg.target_path,
            cfg.target_format,
            mode="append",
            partition_by=cfg.target_partition_by or None,
        )
        copied = (
            run_copy_into(self.spark, cfg, copy_executor)
            if cfg.execute_copy_into
            else None
        )

        source_rows = self.source.count()
        tgt_rows, tgt_fp = verify_target(self.spark, cfg, df.columns, schema)
        verify = VerifyResult(source_rows, tgt_rows)
        if cfg.verify_fingerprint:
            # checksum upgrade: the source side re-reads over JDBC —
            # the one extra scan it costs, so opt-in
            from .verify import content_fingerprint

            verify.source_fingerprint = content_fingerprint(df)
            verify.target_fingerprint = tgt_fp

        deleted = 0
        if cfg.delete_after_sync and verify.is_correct:
            # destructive-last: a cancellation that landed anywhere
            # between write and here (e.g. inside a blocking JVM call
            # the handler's exception could not preempt) must stop the
            # job BEFORE the source-mutating phase (cmd/main.go:29-35)
            raise_if_cancelled("delete-after-sync")
            from .postsync import delete_after_sync, jdbc_executor

            execute = jdbc_executor(
                self.spark,
                plan.url,
                cfg.source_user,
                cfg.source_pass,
                self.source.dialect.driver,
            )
            deleted = delete_after_sync(cfg, verify, execute)

        return ArchiveReport(
            table=cfg.source_table,
            source_rows=verify.source_rows,
            target_rows=verify.target_rows,
            num_partitions=len(plan.predicates),
            batch_size=cfg.batch_size,
            elapsed_sec=time.monotonic() - t0,
            verify=verify,
            deleted_rows=deleted,
            details={} if copied is None else {"copy_into_rows": copied},
        )
