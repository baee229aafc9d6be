"""Archive verification protocol.

Parity with the reference's correctness contract:
- count verification (A31, IsWorkerCorrect, worker/worker.go:230-242):
  archive is correct iff filtered source count == target count;
- pre-flight idempotency gate (A32, cmd/main.go:74-82): refuse to run
  when the target already holds rows matching the predicate;
- checksum upgrade: order-insensitive content fingerprints (sum of
  per-row xxhash64) — a strictly stronger check than counts that still
  aggregates distributively (no sort, scales to any partition count).
  The count and the fingerprint of one side come from the same pass, so
  fingerprinting the target costs no scan beyond its count;
  :func:`verify_aggregate` adds the aggregates a run manifest records
  (column ranges over every row) to that one pass.

Every global aggregate on the archive path goes through
:func:`observe_aggregates`: the aggregates ride on the frame as observed
metrics (``DataFrame.observe``) of one ``noop`` write, so each is one
Spark job with no exchange, where ``agg(...).first()`` is a partial
aggregate, a shuffle and a final aggregate (two jobs under AQE). Spark
collects the metrics in the result stage, so a retried task's rows
count once.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

__all__ = [
    "VerifyResult",
    "observe_aggregates",
    "idempotency_gate",
    "count_and_fingerprint",
    "content_fingerprint",
    "verify_aggregate",
]


@dataclass
class VerifyResult:
    source_rows: int
    target_rows: int
    # optional checksum upgrade (populated when the job runs with
    # verify_fingerprint): order-insensitive content fingerprints of
    # the filtered source and target — value corruption shows up even
    # when cardinality matches
    source_fingerprint: int | None = None
    target_fingerprint: int | None = None

    @property
    def fingerprints_match(self) -> bool:
        if self.source_fingerprint is None or self.target_fingerprint is None:
            return True  # not requested — counts are the contract
        return self.source_fingerprint == self.target_fingerprint

    @property
    def is_correct(self) -> bool:
        return self.source_rows == self.target_rows and self.fingerprints_match


def observe_aggregates(df: DataFrame, **aggregates: Column) -> dict:
    """The values of the named global ``aggregates`` over ``df``, as
    ``df.agg(...).first()`` gives them, in one Spark job with no
    exchange: observed metrics of a ``noop`` write of no columns (Spark
    prunes the scan to the columns the aggregates read). A fresh
    ``Observation`` per call: one only records its first action. An
    aggregate ``df`` cannot analyze raises ``AnalysisException`` before
    any job runs."""
    observation = Observation()
    observed = df.observe(
        observation, *(agg.alias(name) for name, agg in aggregates.items())
    )
    observed.select().write.format("noop").mode("overwrite").save()
    return observation.get


def idempotency_gate(target_df: DataFrame, predicate: str | None = None) -> int:
    """Pre-flight check (A32): returns the number of rows already in
    the target for this predicate. Caller aborts when > 0, exactly as
    cmd/main.go:74-82 does."""
    tgt = target_df.filter(predicate) if predicate else target_df
    return observe_aggregates(tgt, n=F.count(F.lit(1)))["n"]


def _fingerprint(columns: list[str]) -> Column:
    """Per-row xxhash64 over ``columns``, as the decimal the fingerprint
    sums (no int64 overflow under ANSI)."""
    return F.xxhash64(*columns).cast("decimal(38,0)")


def count_and_fingerprint(df: DataFrame) -> tuple[int, int]:
    """Row count and order-insensitive content fingerprint in ONE
    pass over ``df``: the fingerprint is xxhash64 per row (all
    columns), summed distributively; an empty frame gives (0, 0)."""
    row = observe_aggregates(
        df, n=F.count(F.lit(1)), fp=F.sum(_fingerprint(df.columns))
    )
    return int(row["n"]), (int(row["fp"]) if row["fp"] is not None else 0)


def content_fingerprint(df: DataFrame) -> int:
    """Order-insensitive content hash (see :func:`count_and_fingerprint`).
    Upgrade over the reference's count-only check — detects value
    corruption, not just cardinality drift."""
    return count_and_fingerprint(df)[1]


def verify_aggregate(
    df: DataFrame,
    predicate: str | None,
    columns: list[str],
    fingerprint: bool,
    extra: list[Column] = (),
) -> tuple[int, int | None, list]:
    """ONE pass over ``df``: the number of rows matching
    ``predicate``, with ``fingerprint`` their fingerprint over
    ``columns`` (as :func:`count_and_fingerprint` of the filtered rows;
    ``None`` without), and the values of the ``extra`` aggregates over
    every row. A predicate ``df`` cannot analyze (columns degraded by
    ``reference_compat``) scopes nothing, so every row counts."""

    def aggregate(cond):
        def scoped(value):
            return value if cond is None else F.when(cond, value)

        aggs = {"n": F.count(scoped(F.lit(1)))}
        if fingerprint:
            aggs["fp"] = F.sum(scoped(_fingerprint(columns)))
        aggs.update((f"x{i}", agg) for i, agg in enumerate(extra))
        return observe_aggregates(df, **aggs)

    try:
        row = aggregate(F.expr(predicate) if predicate else None)
    except AnalysisException:
        row = aggregate(None)
    fp = (int(row["fp"]) if row["fp"] is not None else 0) if fingerprint else None
    return int(row["n"]), fp, [row[f"x{i}"] for i in range(len(extra))]
