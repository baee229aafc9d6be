"""File sources: CSV / NDJSON / parquet / ORC readers with explicit
schemas; the CLI's ``--source-format`` reads through :func:`read_source`.

The reference lists CSV and NDJSON sources as "coming soon"
(README.md supported-sources table) — here they exist. Schemas are
explicit (no inference pass over 100 TB); NDJSON round-trips the
sink's stage-file format (sink.py write_batch fmt='ndjson'),
including explicit nulls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..sink import NDJSON_TS_FMT
from ..tables import load_parquet

__all__ = ["read_source", "SUPPORTED_FORMATS"]

SUPPORTED_FORMATS = ("parquet", "orc", "csv", "ndjson", "json")


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read a file source. A schema skips inference (mandatory at
    scale: schema inference reads the data twice); without one, CSV
    falls back to inference for interactive use. A CSV file's first
    row is its header, naming the columns. Parquet goes
    through ``tables.load_parquet``, which takes the schema from the
    footers (memoised) and normalizes nanosecond timestamps."""
    if fmt == "parquet":
        return load_parquet(spark, path)
    if fmt == "csv":
        reader = spark.read.options(
            header="true",
            inferSchema="true",
            timestampFormat="yyyy-MM-dd HH:mm:ss",
            mode="PERMISSIVE",
        )
    elif fmt in ("ndjson", "json"):
        reader = spark.read.option("timestampFormat", NDJSON_TS_FMT)
    elif fmt == "orc":
        reader = spark.read
    else:
        raise ValueError(
            f"unsupported source format {fmt!r}; expected one of {SUPPORTED_FORMATS}"
        )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.format("json" if fmt == "ndjson" else fmt).load(path)
