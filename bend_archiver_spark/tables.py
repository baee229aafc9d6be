"""Test-data table loaders.

Two temporal-fidelity normalizations happen here (SURVEY §1.2 maps the
reference's temporal-as-string model to ``TimestampType`` natively):

1. Parquet ``TIMESTAMP(NANOS)`` (round-1 driver data): Spark rejects it
   (`PARQUET_TYPE_ILLEGAL`) while DuckDB truncates to micros. We read
   nanos as long (``spark.sql.legacy.parquet.nanosAsLong``) and convert
   to ``TimestampType`` at micro precision.
2. Naive (isAdjustedToUTC=false) micro-precision timestamps (round-3+
   driver data): Spark 4.x infers ``TIMESTAMP_NTZ`` by default, which
   breaks watermarks (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) and
   long-casts. We disable ``inferTimestampNTZ`` at read time so they
   load as ``TimestampType`` in the UTC session — exactly the DuckDB
   oracle's view of the same file — and belt-and-braces cast any NTZ
   column that still slips through (e.g. a caller-supplied session with
   the conf pinned).

Parquet schema memo: inferring a schema is a Spark job that reads
footers, and a session loads the same tables again and again. So
:func:`load_parquet` keeps the schema Spark inferred for a path in a
bounded LRU and hands it to ``spark.read.schema(...)`` on the next
load. The key is the path, the sorted ``(relative name, size,
mtime_ns)`` of every file under it, and the session confs that change
what inference returns, so a rewritten, added or removed file, or a
flipped ``binaryAsString`` / ``nanosAsLong``, is a miss and infers
afresh. Files modified in the last two seconds are not memoised, since
a same-size rewrite inside one filesystem timestamp tick keeps its
mtime. Remote URIs (``s3a://``, ``hdfs://`` ...) and glob patterns pass
through unmemoised, the rule ``queries.base.fanout`` applies: listing
a remote store to build the key costs about what inference does. Only
inference is skipped: Spark still lists the files on every read.
"""

from __future__ import annotations

import os
import threading
import time
import urllib.parse
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

_SCHEMA_MEMO_SIZE = 256
_schema_memo: OrderedDict[tuple, StructType] = OrderedDict()
_schema_memo_lock = threading.Lock()
# session confs that change what parquet (and partition-directory)
# schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.timestampType",
)
_SETTLE_NS = 2_000_000_000


def _file_signature(path: str) -> tuple | None:
    """Sorted ``(relative name, size, mtime_ns)`` of every file under a
    local *path*; ``None`` (do not memoise) for remote URIs, globs,
    unreadable paths and files modified in the last ``_SETTLE_NS``."""
    uri = urllib.parse.urlparse(path)
    if uri.scheme not in ("", "file") or any(c in path for c in "*?[{"):
        return None
    local = urllib.parse.unquote(uri.path) if uri.scheme else path
    try:
        if not os.path.isdir(local):
            st = os.stat(local)
            files = [("", st.st_size, st.st_mtime_ns)]
        else:
            files = []
            for root, _dirs, names in os.walk(local):
                for name in names:
                    full = os.path.join(root, name)
                    st = os.stat(full)
                    files.append(
                        (os.path.relpath(full, local), st.st_size, st.st_mtime_ns)
                    )
    except OSError:
        return None
    settled = time.time_ns() - _SETTLE_NS
    if any(mtime > settled for _name, _size, mtime in files):
        return None
    return tuple(sorted(files))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, reusing the schema inferred for the
    same files under the same inference confs (module docstring)."""
    files = _file_signature(path)
    if files is None:
        return spark.read.parquet(path)
    key = (path, files, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
    schema = _recall_schema(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _remember_schema(key, df.schema)
    return df


def _recall_schema(key: tuple) -> StructType | None:
    with _schema_memo_lock:
        schema = _schema_memo.get(key)
        if schema is not None:
            _schema_memo.move_to_end(key)
        return schema


def _remember_schema(key: tuple, schema: StructType) -> None:
    with _schema_memo_lock:
        _schema_memo[key] = schema
        _schema_memo.move_to_end(key)
        while len(_schema_memo) > _SCHEMA_MEMO_SIZE:
            _schema_memo.popitem(last=False)


def _nano_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), read from the footer."""
    try:
        import pyarrow as pa
        import pyarrow.dataset as ds

        schema = ds.dataset(path, format="parquet").schema
    except Exception:
        return []
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TimestampType (UTC session)."""
    ntz_cols = [f.name for f in df.schema.fields
                if f.dataType.typeName() == "timestamp_ntz"]
    if not ntz_cols:
        return df
    return df.withColumns(
        {c: F.col(c).cast("timestamp") for c in ntz_cols}
    )


def load_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet, normalizing TIMESTAMP(NANOS) columns (which Spark
    otherwise rejects with PARQUET_TYPE_ILLEGAL) to micro-precision
    timestamps — the same truncation DuckDB applies — and naive micro
    timestamps to TimestampType rather than TIMESTAMP_NTZ.

    Runtime conf (not builder conf) because callers — notably the
    correctness driver — hand us their own SparkSession. The conf is
    deliberately left set (not restored): schema inference happens at
    DataFrame creation but type conversion consults the conf again at
    scan time, and flipping it between the two would corrupt the read.
    Callers that want NTZ elsewhere re-set it per-read; every column
    this loader returns is additionally normalized by
    :func:`_normalize_ntz`, which is conf-independent."""
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    nano_cols = _nano_ts_columns(path)
    if not nano_cols:
        return _normalize_ntz(_read_parquet(spark, path))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, path)
    dtypes = dict(df.dtypes)
    for c in nano_cols:
        # Arrow also reports Spark-written INT96 timestamps as ns, but
        # Spark reads those as TimestampType directly — only columns
        # that actually surfaced as nanosAsLong longs need converting.
        if dtypes.get(c) != "bigint":
            continue
        # integer division: `/` would go through double and lose precision
        # (nanos-since-epoch ~1.7e18 > 2^53)
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return _normalize_ntz(df)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table, normalizing nano-timestamps."""
    return load_parquet(spark, f"{sf_dir.rstrip('/')}/{name}.parquet")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for ``spark.sql`` use."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
