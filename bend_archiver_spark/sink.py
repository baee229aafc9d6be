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

Staged publish: every write that changes a target (an archive run, a
compaction) goes into ``<target>/_staging/<run_id>/`` and, once
verified, :func:`publish_staged` moves the files into the target with
``FileSystem.rename``. Spark's file listing skips ``_``-prefixed
directories, so readers of the target never see staged files, and a
run that is refused, fails verification or crashes publishes nothing.
Limits: one writer per target (the next run clears the whole
``_staging`` directory); on object stores a rename is a copy plus a
delete, so publishing costs a second write of the data, file after
file from the driver; a publish is file by file, not atomic: a crash
part-way through it is finished by the next run (:func:`clear_staging`).

Manifests: a verified run writes its manifest into its ``_PUBLISHING``
marker (:func:`mark_publishing`) before the first rename; it names the
run's files with their sizes, its predicate, rows, fingerprint, schema
and column ranges (``manifest.py``). A compaction's manifest also names
what it ``replaces``: the target files it rewrote and the runs whose
manifests covered them. Once every file is renamed, the publish deletes
the replaced files and manifests (:func:`drop_replaced`), then moves the
marker to ``<target>/_manifests/<run_id>.json``, so a publish that a
crash cut short and :func:`clear_staging` finished does both too. A run
without a manifest (published before manifests, or whose marker is
empty) leaves its files uncovered, and the idempotency gate scans them.
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import DataFrame

__all__ = [
    "write_batch",
    "refuse_non_directory",
    "staging_path",
    "mark_publishing",
    "publish_staged",
    "drop_replaced",
    "clear_staging",
    "listed_files",
    "read_manifests",
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
# one ``<run_id>.json`` per published run that carried a manifest
MANIFEST_DIR = "_manifests"


def write_batch(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
) -> None:
    """Distributed append of one batch/table, as the reference's COPY
    INTO accumulates. No ``_SUCCESS`` marker: nothing reads it (the
    publish moves only data files), and each one costs a file create."""
    writer = df.write.mode("append").option(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
    )
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


def refuse_non_directory(spark, target: str) -> None:
    """Refuse a ``target`` that exists and is not a directory, before
    anything reads or writes it: Hadoop's ``listStatus`` on a file
    returns the file itself, so the gate would read it as a one-file
    target, while ``os.scandir`` fails on it. The target's
    ``FileSystem`` answers on every filesystem, so the error is the
    same on all of them."""
    fs, root = _hadoop_path(spark, target)
    if fs.exists(root) and not fs.getFileStatus(root).isDirectory():
        raise RuntimeError(f"targetPath {target} exists and is not a directory")


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


def _local_path(fs, jpath) -> str | None:
    """``jpath`` as a path of the local filesystem, or ``None`` when it
    lives elsewhere. Locally the listings and the manifests' reads and
    writes use Python's ``os`` calls: Hadoop's would cost a Py4J round
    trip per file, and its ``create`` spawns a ``chmod`` process per
    file (and per checksum file)."""
    return jpath.toUri().getPath() if fs.getScheme() == "file" else None


def _listed_files(fs, root, local: str | None) -> list[tuple[str, int]]:
    """The files under ``root`` (at ``local``, its :func:`_local_path`)
    that Spark's listing reads, as paths relative to ``root`` with their
    sizes. Elsewhere than on the local filesystem, ``listStatus`` level
    by level: a recursive ``listFiles`` builds a ``LocatedFileStatus``
    per file, which on the local filesystem spawns a process to read its
    permissions."""

    def scan(path, prefix):
        with os.scandir(path) as entries:
            for entry in entries:
                if _hidden(entry.name):
                    continue
                if entry.is_dir():
                    yield from scan(entry.path, f"{prefix}{entry.name}/")
                else:
                    yield prefix + entry.name, entry.stat().st_size

    def hadoop(path, prefix):
        for status in fs.listStatus(path):
            name = status.getPath().getName()
            if _hidden(name):
                continue
            if status.isDirectory():
                yield from hadoop(status.getPath(), f"{prefix}{name}/")
            else:
                yield prefix + name, status.getLen()

    return list(scan(local, "") if local is not None else hadoop(root, ""))


def listed_files(spark, path: str) -> dict[str, int]:
    """Size of every file Spark's listing reads under ``path``, keyed by
    its path relative to ``path``; empty when ``path`` does not exist."""
    fs, root = _hadoop_path(spark, path)
    if not fs.exists(root):
        return {}
    return dict(_listed_files(fs, root, _local_path(fs, root)))


def _write_json(fs, path, local: str | None, value) -> None:
    """Write ``value`` to ``path`` (at ``local`` on the local filesystem)
    under a ``.tmp`` name, then rename it: a reader finds the whole file
    or none, never a torn or empty one."""
    data = json.dumps(value).encode()
    if local is not None:
        with open(local + ".tmp", "wb") as out:
            out.write(data)
        os.replace(local + ".tmp", local)
        return
    tmp = path.suffix(".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if not fs.rename(tmp, path):
        raise RuntimeError(f"could not write {path}")


def _loads(data: bytes):
    """The JSON value in ``data``; ``None`` when it is empty or torn (a
    writer cut short)."""
    try:
        return json.loads(data) if data else None
    except ValueError:
        return None


def _read_json(fs, path, local: str | None):
    """The JSON value in the file ``path`` (at ``local`` on the local
    filesystem), as :func:`_loads` reads it."""
    if local is not None:
        with open(local, "rb") as stream:
            return _loads(stream.read())
    stream = fs.open(path)
    try:
        return _loads(bytes(stream.readAllBytes()))
    finally:
        stream.close()


def _join(local: str | None, name: str) -> str | None:
    """``name`` under the local directory ``local``, if there is one."""
    return None if local is None else os.path.join(local, name)


def mark_publishing(spark, staged: str, manifest: dict) -> None:
    """Mark a verified staged run for publishing: its marker holds
    ``manifest`` plus the run's ``files`` (path relative to the target
    and size), listed before any of them moves. The marker appears
    whole or not at all, so a run marked with ``replaces`` is never
    published without them."""
    fs, src = _hadoop_path(spark, staged)
    Path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    local = _local_path(fs, src)
    files = [{"path": rel, "size": size} for rel, size in _listed_files(fs, src, local)]
    _write_json(
        fs, Path(src, PUBLISHING_MARKER), _join(local, PUBLISHING_MARKER),
        dict(manifest, files=files),
    )


def drop_replaced(spark, fs, target: str, replaces: dict) -> None:
    """Delete what a published compaction ``replaces``: the target files
    it rewrote (``files``, paths relative to ``target``), then the
    manifests of the runs that covered them (``runs``). A delete of what
    is already gone is a no-op, so a publish finished after a crash
    deletes the rest."""
    Path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    root = Path(target)
    for rel in replaces["files"]:
        fs.delete(Path(root, rel), False)
    for run_id in replaces["runs"]:
        fs.delete(Path(root, f"{MANIFEST_DIR}/{run_id}.json"), False)


def record_manifest(spark, fs, marker, target: str) -> None:
    """Move a published run's marker, which carries its manifest, to
    ``<target>/_manifests/<run_id>.json``."""
    run_id = marker.getParent().getName()
    Path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    dst = Path(f"{target.rstrip('/')}/{MANIFEST_DIR}/{run_id}.json")
    fs.mkdirs(dst.getParent())
    if not fs.rename(marker, dst):
        raise RuntimeError(f"publish: could not record manifest {dst}")


def read_manifests(spark, target: str) -> list[dict]:
    """The manifests of ``target``'s published runs, one small read
    each; a torn one is left out, so its files count as uncovered."""
    fs, root = _hadoop_path(spark, f"{target.rstrip('/')}/{MANIFEST_DIR}")
    if not fs.exists(root):
        return []
    local = _local_path(fs, root)
    manifests = []
    for name, _size in _listed_files(fs, root, local):
        if not name.endswith(".json") or "/" in name:
            continue
        if local is not None:  # read with ``open``: no Py4J round trip
            manifest = _read_json(fs, None, os.path.join(local, name))
        else:
            Path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
            manifest = _read_json(fs, Path(root, name), None)
        if isinstance(manifest, dict) and "files" in manifest:
            manifests.append(manifest)
    return manifests


def publish_staged(spark, staged: str, target: str) -> int:
    """Move a marked staged run's data files (:func:`mark_publishing`)
    into ``target``, each to the same path relative to the target as it
    had under ``staged`` (partition directories included). If its marker
    carries a manifest, delete what that ``replaces``
    (:func:`drop_replaced`) and record it (:func:`record_manifest`).
    Then delete ``staged``. What Spark's listing skips (checksum files,
    which the rename carries along) is not published.
    Returns the number of files moved."""
    fs, src = _hadoop_path(spark, staged)
    Path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    local = _local_path(fs, src)
    marker = Path(src, PUBLISHING_MARKER)
    manifest = _read_json(fs, marker, _join(local, PUBLISHING_MARKER))
    files = [rel for rel, _ in _listed_files(fs, src, local)]
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
    if isinstance(manifest, dict):
        if "replaces" in manifest:
            drop_replaced(spark, fs, target, manifest["replaces"])
        record_manifest(spark, fs, marker, target)
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
