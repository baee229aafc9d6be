"""Query-suite plumbing: registry + oracle-matching helpers.

Every operator the engine claims is registered here as a
:class:`QuerySpec` — a Spark implementation plus (where expressible)
an ANSI-SQL oracle string DuckDB can run on the same parquet files.
The driver compares the two (row count + schema + order-insensitive
value hash with columns sorted by name), so:

- every computed column is aliased identically on both sides;
- double-typed aggregates go through an **exact decimal sum** then one
  cast to double, making the result bit-identical regardless of
  partitioning/aggregation order (float addition is not associative;
  decimal addition is);
- timestamps are exchanged at micro precision in a UTC session.
"""

from __future__ import annotations

import math
import os
import urllib.parse
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table

__all__ = ["QuerySpec", "REGISTRY", "register", "t", "fanout", "dec_sum", "hash64_expr", "HASH64_SQL", "ngram_array"]


@dataclass
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; set for every registered query
    headline: bool = False  # include in bench.py
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    headline: bool = False,
    tags: tuple[str, ...] = (),
):
    """Decorator: register a Spark query implementation."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name, fn, oracle, headline, tags)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand table loader."""
    return load_table(spark, sf_dir, name)


def _parse_bytes(conf_val: str) -> int:
    """Parse a Spark byte-size conf string ("134217728b", "128m")."""
    s = conf_val.strip().lower()
    for suffix, mult in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1),
    ):
        if s.endswith(suffix):
            return int(s[: -len(suffix)]) * mult
    return int(s)


def fanout(df: DataFrame) -> DataFrame:
    """Repartition to full parallelism ONLY when the input is an
    under-partitioned file scan (small single-file corpora arrive as
    one partition and per-row-expensive work — explode/hash —
    serializes on one core; measured 10x). At scale a raw scan already
    has more splits than cores and this is a no-op.

    Intended for scan projections (every call site applies it directly
    to a loaded table). The decision uses only public, job-free driver
    APIs — ``df.inputFiles()`` plus a file-size estimate of scan
    splits using Spark's own ``FilePartition.maxSplitBytes`` formula
    (``min(maxPartitionBytes, max(openCostInBytes, paddedTotal /
    minPartitionNum))``) — never
    ``df.rdd`` (eagerly materializes shuffle stages under AQE) or the
    version-brittle ``_jdf`` plan probe. Non-file inputs (local
    relations, views over streams) and remote storage schemes pass
    through untouched: the former are trivial, and at the scale where
    data lives on remote storage the split count covers the cores. An
    input that was already explicitly repartitioned collapses with
    this one (Catalyst's CollapseRepartition) into a single exchange.
    """
    spark = df.sparkSession
    try:
        files = df.inputFiles()
    except Exception:
        return df
    parallelism = spark.sparkContext.defaultParallelism
    if not files or len(files) >= parallelism:
        return df
    paths = []
    for uri in files:
        if not uri.startswith("file:"):
            return df
        paths.append(urllib.parse.unquote(urllib.parse.urlparse(uri).path))
    try:
        max_part = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        open_cost = _parse_bytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
        )
        min_parts = int(
            spark.conf.get("spark.sql.files.minPartitionNum", None)
            or spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
            or parallelism
        )
        splits = _estimate_scan_splits(
            [os.path.getsize(p) for p in paths], min_parts, max_part, open_cost
        )
    except (OSError, TypeError, ValueError):
        return df
    if splits >= parallelism:
        return df
    return df.repartition(parallelism)


def _estimate_scan_splits(
    sizes: list, min_parts: int, max_part: int, open_cost: int
) -> int:
    """Estimate file-scan split count with Spark's own
    ``FilePartition.maxSplitBytes`` formula. Spark targets
    ~minPartitionNum splits whenever bytesPerCore is below
    maxPartitionBytes, so a scan is genuinely under-split ONLY in the
    openCostInBytes-floor regime (total padded bytes < parallelism *
    openCost) — which also bounds the rows fanout ships to ~4 MB/core.
    Estimating with maxPartitionBytes alone (the pre-r13 form)
    undercounted a 140 MB file as 2 splits when the real scan already
    had ~32, adding a pure-cost full-table exchange at 10x scale.
    """
    padded_total = sum(sizes) + open_cost * len(sizes)
    max_split = min(
        max_part, max(open_cost, math.ceil(padded_total / max(min_parts, 1)))
    )
    return sum(max(1, math.ceil(s / max_split)) for s in sizes)


def dec_sum(col: Column, alias: str) -> Column:
    """Order-independent double sum: per-row cast to DECIMAL(38,6)
    (exact, associative addition) -> one final cast to double.

    Oracle twin: ``CAST(CAST(SUM(CAST(expr AS DECIMAL(38,6))) AS
    VARCHAR) AS DOUBLE)``. Doubles are dyadic rationals so the 6-dp
    rounding has no decimal ties — both engines round identically.

    The oracle's VARCHAR hop exists because DuckDB's direct
    DECIMAL -> DOUBLE cast converts the int128 representation to
    double and then divides by 10^scale — two roundings — so once the
    scaled integer exceeds 2^53 (sums above ~9e9 at scale 6) the
    result can be 1 ulp off the correctly-rounded value that Spark's
    BigDecimal.doubleValue() produces. DuckDB's VARCHAR -> DOUBLE
    parse IS correctly rounded, so the hop restores bit-parity at any
    magnitude. Found by the round-9 10x-scale sweep: tpch_q1's
    sum_charge diverged in its last ulp at 6M rows while every
    smaller scale was bit-identical.
    """
    return F.sum(col.cast("decimal(38,6)")).cast("double").alias(alias)


def o_dec_sum(expr: str, alias: str) -> str:
    """Oracle-side twin of :func:`dec_sum` (module-level helper for
    building SQL strings)."""
    return (
        f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS VARCHAR)"
        f" AS DOUBLE) AS {alias}"
    )


# ---------------------------------------------------------------------------
# Portable deterministic 60-bit hash — identical in Spark and DuckDB.
# Spark:  conv(substr(md5(s),1,15),16,10) cast to bigint
# DuckDB: ('0x' || substr(md5(s),1,15))::BIGINT
# 15 hex digits = 60 bits, fits bigint; md5 is available in both engines.
# This is the foundation for MinHash/SimHash parity with the oracle.
# ---------------------------------------------------------------------------


def hash64_expr(col: Column) -> Column:
    """60-bit deterministic hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def hash64_sql(expr: str) -> str:
    """60-bit deterministic hash (DuckDB side)."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


HASH64_SQL = hash64_sql


def ngram_array(arr: Column, n: int) -> Column:
    """Word n-gram strings from a token array via n zipped shifted
    slices — empty array for inputs shorter than n.

    NOT equivalent in cost to the obvious
    ``transform(sequence(0, sz-n), i -> concat_ws(' ', slice(arr,
    i+1, n)))``: that lambda re-evaluates ``arr`` — typically a
    split() over the whole document — for EVERY element, O(tokens^2)
    work per document (measured 9.6 s for 64 docs x 4k tokens at
    n=3; this form: O(n*tokens), sub-second). Each slice here
    evaluates ``arr`` a constant number of times per ROW, and the
    zip_with lambdas touch only their own arguments."""
    sz = F.size(arr)
    cnt = sz - n + 1
    parts = [F.slice(arr, i + 1, cnt) for i in range(n)]
    out = parts[0]
    for p in parts[1:]:
        out = F.zip_with(out, p, lambda x, y: F.concat_ws(" ", x, y))
    return F.when(sz >= n, out).otherwise(F.array().cast("array<string>"))
