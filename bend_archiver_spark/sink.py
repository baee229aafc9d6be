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
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = [
    "write_batch",
    "copy_into_sql",
    "execute_copy_into",
    "NDJSON_TS_FMT",
]

# micro-precision timestamps: the default JSON format is milliseconds,
# which silently truncates micros and breaks round-trip fingerprints
NDJSON_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


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
