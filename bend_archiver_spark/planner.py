"""Partition planning: key ranges, time windows, adaptive batch sizing.

This is the heart of the reference engine — it turns ``(min, max,
batch_size, row_count)`` statistics into disjoint SQL range predicates
that shard a table scan. In Spark those predicates feed
``spark.read.jdbc(url, table, predicates=[...])`` (one predicate = one
partition), or equivalently ``partitionColumn/lowerBound/
upperBound/numPartitions``; the archive write packs neighbouring
partitions into at most ``defaultParallelism`` tasks
(``job.JdbcArchiveJob._read``), so the predicates and the SQL they
send do not depend on the cluster's size.

Capability parity (reference file:line):
- split_condition            <- source/source.go:66-77   (A6)
- split_time_windows         <- source/source.go:130-162 (A8)
- parse_time_dynamic         <- source/source.go:218-236
- coerce_key                 <- source/source.go:238-259
- adjust_batch_size          <- source/mysql.go:43-65    (A18)

The reference's fan-out machinery has no counterpart: its coarse
per-goroutine ranges (A5), per-worker streaming splitter (A7),
condition chunking (A9) and fan-out decision (A19) become one
predicate per partition, packed into one wave of write tasks.

Edge semantics preserved exactly (pinned by golden tests, see
tests/test_planner.py): half-open ``[a, a+batch)`` ranges with a final
inclusive range. These goldens make the planner a drop-in for configs
tuned against the reference.

Scale note: predicate generation is O(range/batch) driver-side work and
produces one Spark partition per predicate. For 100 TB tables prefer
``plan_jdbc_partitions`` which caps partition count: millions of tiny
predicates would swamp the driver, exactly like millions of goroutine
batches would in the reference. A packed write task writes one file of
all its predicates' rows, so files grow with predicates per slot.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from .config import TIME_SPLIT_STRIDES

__all__ = [
    "split_condition",
    "split_time_windows",
    "parse_time_dynamic",
    "coerce_key",
    "adjust_batch_size",
    "plan_jdbc_partitions",
    "JdbcPartitionPlan",
    "MAX_PARTITIONS",
]

_TIME_FMT = "%Y-%m-%d %H:%M:%S"

# the most partitions (tasks) one archive plan may fan out to
MAX_PARTITIONS = 10_000


def split_condition(
    split_key: str, batch_size: int, min_key: int, max_key: int
) -> list[str]:
    """Sequential batch splitter: half-open ``[a, a+batch)`` predicates;
    when ``min >= max`` emits one final inclusive predicate.

    Parity: source/source.go:66-77 (stride = batch_size).
    """
    conditions: list[str] = []
    while True:
        if min_key >= max_key:
            conditions.append(
                f"({split_key} >= {min_key} and {split_key} <= {max_key})"
            )
            break
        conditions.append(
            f"({split_key} >= {min_key} and {split_key} < {min_key + batch_size})"
        )
        min_key += batch_size
    return conditions


def parse_time_dynamic(time_str: str) -> datetime:
    """Multi-layout timestamp parser. Parity: source/source.go:218-236.

    Accepted layouts: ``YYYY-MM-DD H:M:S`` (single-digit fields ok, as
    Go's flexible parse allows e.g. '2024-06-30 2:00:00'),
    ``YYYY-MM-DDTH:M:S[.fff]``, ISO with offset, and fractional /
    date-only forms (a DATE-typed split key stringifies as
    ``YYYY-MM-DD``).
    """
    fmts = [
        "%Y-%m-%d %H:%M:%S",
        "%Y-%m-%d %H:%M:%S.%f",
        "%Y-%m-%dT%H:%M:%S.%f",
        "%Y-%m-%dT%H:%M:%S",
        "%Y-%m-%dT%H:%M:%S.%f%z",
        "%Y-%m-%dT%H:%M:%S%z",
        "%Y-%m-%d",
    ]
    last_err: Exception | None = None
    for fmt in fmts:
        try:
            return datetime.strptime(time_str, fmt)
        except ValueError as e:  # noqa: PERF203
            last_err = e
    raise ValueError(f"failed to parse time: {time_str!r}") from last_err


def split_time_windows(
    time_key: str,
    unit: str,
    min_time: str | datetime,
    max_time: str | datetime,
) -> list[str]:
    """Tumbling time-window predicates: half-open windows stepped by the
    unit stride, final window inclusive; ``min == max`` -> one inclusive
    window; inverted -> [].

    Parity: source/source.go:130-162 with stride map
    config/config.go:147-160 (minute->10m, quarter->15m, hour->2h,
    day->24h). Golden: hour unit over 18h span -> 10 windows.

    This is the batch analog of a streaming tumbling window — the
    Structured Streaming path uses ``F.window`` with the same stride.
    """
    lo = parse_time_dynamic(min_time) if isinstance(min_time, str) else min_time
    hi = parse_time_dynamic(max_time) if isinstance(max_time, str) else max_time
    step = TIME_SPLIT_STRIDES[unit]
    conditions: list[str] = []
    if lo > hi:
        return conditions
    while True:
        if lo >= hi:
            conditions.append(
                f"({time_key} >= '{lo.strftime(_TIME_FMT)}' and "
                f"{time_key} <= '{hi.strftime(_TIME_FMT)}')"
            )
            break
        conditions.append(
            f"({time_key} >= '{lo.strftime(_TIME_FMT)}' and "
            f"{time_key} < '{(lo + step).strftime(_TIME_FMT)}')"
        )
        lo = lo + step
    return conditions


def coerce_key(val: object) -> int:
    """Coerce a min/max split-key scan result to a non-negative int.
    Parity: source/source.go:238-259 (toUint64). Also accepts
    ``Decimal`` — the Catalyst type for unsigned 64-bit keys is
    DecimalType(20,0) (SURVEY §1.2), so bounds probes on such keys
    return decimals."""
    from decimal import Decimal

    if isinstance(val, bool):
        raise TypeError(f"unexpected type: {type(val).__name__}")
    if isinstance(val, Decimal):
        if val < 0:
            raise ValueError(f"negative value: {val}")
        return int(val)
    if isinstance(val, int):
        if val < 0:
            raise ValueError(f"negative value: {val}")
        return val
    if isinstance(val, (bytes, str)):
        s = val.decode() if isinstance(val, bytes) else val
        iv = int(s)
        if iv < 0:
            raise ValueError(f"negative value: {iv}")
        return iv
    if isinstance(val, float):
        if val < 0:
            raise ValueError(f"negative float value: {val}")
        return int(val)
    raise TypeError(f"unexpected type: {type(val).__name__}")


def adjust_batch_size(
    batch_size: int, min_key: int, max_key: int, row_count: int
) -> int:
    """Density-adaptive batch size. ``s = (max-min+1)/row_count`` — s≈1
    means dense keys; large s means sparse keys so each range predicate
    matches few rows and the batch can widen.

    Parity: source/mysql.go:43-65, including the reference's shadowed
    ``>= 100`` branch (unreachable because ``>= 10`` matches first) —
    preserved for exact behavioral parity rather than "fixed" silently.
    """
    if row_count == 0:
        return batch_size
    range_size = max_key - min_key + 1
    if row_count <= batch_size:
        return range_size
    if range_size // row_count >= 10:
        return batch_size * 5
    if range_size // row_count >= 100:  # pragma: no cover - shadowed branch
        return batch_size * 20
    return batch_size


# ---------------------------------------------------------------------------
# Spark-native planning
# ---------------------------------------------------------------------------


@dataclass
class JdbcPartitionPlan:
    """A concrete partitioned-read plan for ``spark.read.jdbc``."""

    predicates: list[str]
    batch_size: int
    num_partitions: int


def plan_jdbc_partitions(
    split_key: str,
    min_key: int,
    max_key: int,
    row_count: int,
    batch_size: int = 1000,
    where_condition: str = "",
    max_partitions: int = MAX_PARTITIONS,
) -> JdbcPartitionPlan:
    """Spark-native partition plan: density-adjusted batch size ->
    disjoint range predicates -> capped partition count. The one
    split-sizing policy: a JDBC source reads one predicate per task, a
    file source range-partitions into as many partitions, and both
    report this batch.

    The cap matters at 100 TB: a 10^12-key range with batch 1000 would
    emit 10^9 predicates and kill the driver; instead we widen the batch
    so the plan stays under ``max_partitions`` tasks and let AQE deal
    with residual skew. Empty tables (the reference's min==max==0
    sentinel, worker/worker.go:92-95) produce an empty plan.
    """
    if row_count == 0 and min_key == 0 and max_key == 0:
        return JdbcPartitionPlan([], batch_size, 0)
    batch = adjust_batch_size(batch_size, min_key, max_key, row_count)
    span = max_key - min_key + 1
    n_parts = (span + batch - 1) // batch
    if n_parts > max_partitions:
        batch = (span + max_partitions - 1) // max_partitions
    conds = split_condition(split_key, batch, min_key, max_key)
    if where_condition:
        conds = [f"{c} and ({where_condition})" for c in conds]
    return JdbcPartitionPlan(conds, batch, len(conds))
