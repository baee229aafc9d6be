"""Archive maintenance: small-file compaction.

Incremental archives (streaming/archive.py) and per-batch appends
accumulate many small files — the classic long-running-pipeline
problem: at 100 TB, scan throughput is gated by file-open overhead and
tiny row groups defeat both pruning and vectorized reads. Compaction
rewrites a target into size-targeted files, optionally re-clustered
on the split key so row-group min/max pruning survives the rewrite
(same property job.FileArchiveJob establishes at write time).

The reference has no analog (its unit of write is one staged NDJSON
file per batch, ingester/ingest_databend.go:74-104 — compaction is
Databend's job after COPY INTO); this is engine-side capability the
Spark-native design needs for file targets.

A compaction is one more staged run on the target, published the way
an archive run is (``sink.py``): the rewrite lands in
``_staging/<run_id>/``, is verified against its input, and its manifest
names the files and runs it ``replaces``, which the publish deletes
after renaming the new files in. It is Delta's OPTIMIZE (Armbrust et
al., VLDB 2020) without ``delta-spark``: one commit adds the new files
and removes the old, through the same path appends use. Every call is
a Hadoop ``FileSystem`` call, so it runs on any filesystem a target
lives on.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import SparkSession

from .manifest import range_aggregates, ranges_from
from .sink import (
    MANIFEST_DIR,
    clear_staging,
    listed_files,
    mark_publishing,
    publish_staged,
    refuse_non_directory,
    staging_path,
    write_batch,
)
from .verify import verify_aggregate

__all__ = ["CompactionResult", "compact_files"]


@dataclass
class CompactionResult:
    path: str
    files_before: int
    files_after: int
    bytes_before: int
    rows: int


def compact_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    key: str | None = None,
) -> CompactionResult:
    """Rewrite the parquet target ``path`` into ~``target_file_bytes``
    files, keeping its ``col=value/`` partition directories.

    ``key`` re-clusters on the split key (range partition + in-file
    sort) so key-range scans keep row-group pruning; without it the
    rewrite is a plain bin-pack (round-robin repartition — no skew by
    construction).

    The run: finish or clear what ``_staging`` holds
    (``sink.clear_staging``, so a verified publish waiting there is
    published first and compacted with the rest); list the target's
    files; write the rewrite into ``_staging/<run_id>/``; check that
    its row count and content fingerprint equal the input's, in the one
    aggregate that also takes the manifest's column ranges; mark it for
    publishing with ``replaces`` (the listed files, and the runs whose
    manifests covered them); publish. A mismatch or error before the
    publish leaves the target as it was. A publish cut short is
    finished by the next archive run or compaction.

    Readers of the plain directory may, for the moment between the
    renames and the deletes, see the compacted rows twice (old and new
    files). One writer per target, as for archive runs; the next one
    finishes an interrupted publish before its gate reads the target.
    """
    refuse_non_directory(spark, path)
    clear_staging(spark, path)
    listed = listed_files(spark, path)
    if not listed:
        raise RuntimeError(f"compaction: no data files under {path}")
    runs = [
        name[: -len(".json")]
        for name in listed_files(spark, f"{path.rstrip('/')}/{MANIFEST_DIR}")
        if name.endswith(".json")
    ]
    bytes_before = sum(listed.values())
    n_out = max(1, -(-bytes_before // target_file_bytes))  # ceil division
    # the partition columns, read off one file's ``col=value/`` path
    partition_by = [d.partition("=")[0] for d in next(iter(listed)).split("/")[:-1]]

    df = spark.read.parquet(path)
    schema = df.schema
    if key is not None:
        compacted = df.repartitionByRange(n_out, key).sortWithinPartitions(key)
    else:
        compacted = df.repartition(n_out)
    run_id = uuid.uuid4().hex
    staged = staging_path(path, run_id)
    publishing = False
    try:
        rows, fingerprint, _ = verify_aggregate(df, None, df.columns, True)
        write_batch(compacted, staged, "parquet", partition_by=partition_by or None)
        names, bounds = range_aggregates(schema)
        staged_rows, staged_fp, values = verify_aggregate(
            spark.read.schema(schema).parquet(staged), None, df.columns, True,
            bounds,
        )
        if (staged_rows, staged_fp) != (rows, fingerprint):
            raise RuntimeError(
                f"compaction mismatch: read {rows} rows (fingerprint "
                f"{fingerprint}), staged {staged_rows} (fingerprint "
                f"{staged_fp}); nothing published"
            )
        manifest = {
            "run_id": run_id,
            "predicate": None,
            "rows": rows,
            "fingerprint": fingerprint,
            "schema": schema.jsonValue(),
            "ranges": ranges_from(names, values),
            "replaces": {"files": sorted(listed), "runs": sorted(runs)},
        }
        publishing = True
        mark_publishing(spark, staged, manifest)
        files_after = publish_staged(spark, staged, path)
        publishing = False
    finally:
        # a publish cut short keeps its staged files and marker: the
        # next run finishes it
        if not publishing:
            clear_staging(spark, path)
    return CompactionResult(
        path=path,
        files_before=len(listed),
        files_after=files_after,
        bytes_before=bytes_before,
        rows=rows,
    )


# ---------------------------------------------------------------------------
# Z-order value — multi-dimensional data-skipping layout.
#
# Interleaving the low 16 bits of two keys into one Morton value and
# range-partition-sorting on it gives every output file a tight
# min/max envelope on BOTH keys simultaneously, so parquet row-group
# statistics prune scans filtered on either key (a plain sort only
# prunes its leading column). The registry's `zorder_bucket_stats`
# profiles that layout over lineitem.
# ---------------------------------------------------------------------------


def zorder_value(x_col, y_col, bits: int = 16):
    """Morton-interleave the low ``bits`` bits of two non-negative
    integer columns (x -> even bit positions, y -> odd). Pure JVM
    bit arithmetic; exact and portable."""
    from pyspark.sql import functions as F

    x = x_col.bitwiseAND((1 << bits) - 1)
    y = y_col.bitwiseAND((1 << bits) - 1)
    z = F.lit(0).cast("long")
    for b in range(bits):
        z = z + F.shiftleft(F.shiftright(x, b).bitwiseAND(1), 2 * b).cast(
            "long"
        )
        z = z + F.shiftleft(
            F.shiftright(y, b).bitwiseAND(1), 2 * b + 1
        ).cast("long")
    return z
