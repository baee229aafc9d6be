"""Warehouse sinks.

Capability parity with the reference ingest path (A25-A29):
NDJSON serialize -> stage upload -> ``COPY INTO``
(ingester/ingest_databend.go:74-195). Spark-first, the sink is a
direct distributed write — no local temp files, no presigned-URL hop;
each task writes its partition straight to the target filesystem /
object store, which is exactly the role the stage played.

Formats:
- ``parquet`` (default) — columnar, the scale path.
- ``orc``     — the other native columnar format (predicate pushdown
  and column pruning work the same; useful for Hive-ecosystem targets).
- ``ndjson``  — byte-compatible with the reference's stage files
  (one JSON object per line, NULLs as ``null``; source/source.go:164-189).
- ``delta``   — used when delta-spark is installed (gated import).

Staged publish: an archive run writes into ``<target>/_staging/<run_id>/``
and, once verified, :func:`publish_staged` moves the files into the
target with ``FileSystem.rename``. Spark's file listing skips
``_``-prefixed directories, so readers of the target never see staged
files, and a run that is refused, fails verification or crashes
publishes nothing. Limits: one writer per target (the next run clears
the whole ``_staging`` directory); on object stores a rename is a copy
plus a delete, so publishing costs a second write of the data, file
after file from the driver; a publish is file by file, not atomic: a
crash part-way through it is finished by the next run
(:func:`clear_staging`). The publish moves plain files and would not
carry a Delta table's ``_delta_log``, so ``ArchiveJob.run`` refuses the
optional ``delta`` format; Delta's own commit protocol would take the
place of this flow.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame

__all__ = [
    "write_batch",
    "staging_path",
    "publish_staged",
    "clear_staging",
    "copy_into_sql",
    "execute_copy_into",
    "NDJSON_TS_FMT",
]

# micro-precision timestamps: the default JSON format is milliseconds,
# which silently truncates micros and breaks round-trip fingerprints
NDJSON_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

STAGING_DIR = "_staging"
# where clear_staging moves a verified run it could not publish: hidden
# from readers, never published automatically
UNPUBLISHED_DIR = "_unpublished"
# written into a staged run before its first rename: the run verified,
# so a publish cut short is finished rather than discarded
PUBLISHING_MARKER = "_PUBLISHING"


def write_batch(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    """Distributed write of one batch/table. ``mode='append'`` matches
    the reference's COPY INTO accumulation semantics."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "orc":
        writer.orc(path)
    elif fmt == "ndjson":
        # line-delimited JSON, NULL fields serialized as null — matches
        # the reference's stage-file format (source/source.go:172-180)
        writer.option("ignoreNullFields", "false").option(
            "timestampFormat", NDJSON_TS_FMT
        ).json(path)
    elif fmt == "delta":
        try:
            writer.format("delta").save(path)
        except Exception as e:  # pragma: no cover - delta not installed here
            raise RuntimeError(
                "delta-spark not available in this environment"
            ) from e
    else:
        raise ValueError(f"unsupported sink format: {fmt}")


def staging_path(target: str, run_id: str) -> str:
    """The directory one run writes its files into before publishing."""
    return f"{target.rstrip('/')}/{STAGING_DIR}/{run_id}"


def _hadoop_path(spark, path: str):
    """``path`` as a Hadoop ``Path`` and the ``FileSystem`` it lives on,
    so the same calls serve local, HDFS and object-store targets."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath  # noqa: SLF001


def _hidden(name: str) -> bool:
    """Whether Spark's file listing skips a path segment
    (``PartitioningAwareFileIndex.shouldFilterOutPathName``): ``.``-
    names, and ``_``-names that are not ``column=value`` partition
    directories such as ``_dt=2024-01-01``."""
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def _listed_files(fs, root, prefix: str = "") -> list[str]:
    """The files under ``root`` that Spark's listing reads, as paths
    relative to ``root``. ``listStatus`` level by level: a recursive
    ``listFiles`` builds a ``LocatedFileStatus`` per file, which on the
    local filesystem spawns a process to read its permissions."""
    files = []
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if _hidden(name):
            continue
        if status.isDirectory():
            files += _listed_files(fs, status.getPath(), f"{prefix}{name}/")
        else:
            files.append(prefix + name)
    return files


def publish_staged(spark, staged: str, target: str) -> int:
    """Move a staged run's data files into ``target``, each to the same
    path relative to the target as it had under ``staged`` (partition
    directories included), then delete ``staged``. What Spark's listing
    skips (``_SUCCESS``; checksum files, which the rename carries
    along) is not published. Returns the number of files moved."""
    fs, src = _hadoop_path(spark, staged)
    Path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    fs.create(Path(src, PUBLISHING_MARKER), True).close()
    files = _listed_files(fs, src)
    dst_root = Path(target)
    made = set()
    for rel in files:
        dst = Path(dst_root, rel)
        parent = rel.rpartition("/")[0]
        if parent not in made:
            fs.mkdirs(dst.getParent())
            made.add(parent)
        if not fs.rename(Path(src, rel), dst):
            raise RuntimeError(f"publish: could not rename {staged}/{rel} to {dst}")
    fs.delete(src, True)
    return len(files)


def clear_staging(spark, target: str) -> None:
    """Remove ``<target>/_staging``. A staged run that had begun its
    publish (it verified) is published to the end first; any other
    (refused, failed or crashed before publishing) is deleted. A run
    whose publish fails again is moved to ``<target>/_unpublished/``,
    named in a warning on stderr, and left for the operator: the next
    run's gate refuses while part of it is published."""
    fs, root = _hadoop_path(spark, f"{target.rstrip('/')}/{STAGING_DIR}")
    if not fs.exists(root):
        return
    Path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    for status in fs.listStatus(root):
        run = status.getPath()
        if not fs.exists(Path(run, PUBLISHING_MARKER)):
            continue
        try:
            publish_staged(spark, run.toString(), target)
        except Exception as e:  # noqa: BLE001
            aside = Path(f"{target.rstrip('/')}/{UNPUBLISHED_DIR}/{run.getName()}")
            fs.mkdirs(aside.getParent())
            if not fs.rename(run, aside):
                raise RuntimeError(
                    f"staged run {run} could not be published ({e}) "
                    f"nor moved to {aside}"
                ) from e
            print(
                f"warning: staged run {run} could not be published ({e}); "
                f"moved to {aside}",
                file=sys.stderr,
            )
    fs.delete(root, True)


def copy_into_sql(
    target_table: str,
    stage_location: str,
    purge: bool = True,
    force: bool = False,
    disable_variant_check: bool = True,
) -> str:
    """Generate the warehouse ``COPY INTO`` statement for Databend
    targets (parity: ingester/ingest_databend.go:182-195). Executed via
    a JDBC statement when archiving into an actual Databend warehouse;
    file-based sinks don't need it."""
    return (
        f"COPY INTO {target_table} FROM {stage_location} "
        "FILE_FORMAT = (type = NDJSON missing_field_as = FIELD_DEFAULT "
        "COMPRESSION = AUTO) "
        f"PURGE = {str(purge).lower()} "
        f"FORCE = {str(force).lower()} "
        f"DISABLE_VARIANT_CHECK = {str(disable_variant_check).lower()}"
    )


def execute_copy_into(
    execute,
    target_table: str,
    stage_location: str,
    purge: bool = True,
    force: bool = False,
    disable_variant_check: bool = True,
) -> int:
    """Run the generated ``COPY INTO`` against a live warehouse.
    ``execute`` is a statement executor such as
    :func:`bend_archiver_spark.postsync.jdbc_executor` built over the
    warehouse's JDBC URL — the same wire path the reference's ingester
    uses (ingester/ingest_databend.go:182-195). Returns the executor's
    affected-row count. No warehouse exists in the sandbox, so this is
    exercised with an injected executor in tests and over JDBC in a
    real deployment."""
    sql = copy_into_sql(
        target_table,
        stage_location,
        purge=purge,
        force=force,
        disable_variant_check=disable_variant_check,
    )
    return execute(sql)
