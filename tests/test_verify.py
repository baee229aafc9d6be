"""The verification aggregates run as observed metrics of one ``noop``
write (``verify.observe_aggregates``): the same values as the
``df.agg(...).first()`` they replace, in one Spark job that writes no
shuffle."""

from datetime import date

import pytest
from pyspark.sql import functions as F

from bend_archiver_spark.manifest import range_aggregates
from bend_archiver_spark.sink import write_batch
from bend_archiver_spark.verify import (
    count_and_fingerprint,
    idempotency_gate,
    verify_aggregate,
)

SCHEMA = "k bigint, d date, s string, x double"
PREDICATE = "k > 2"
ROWS = [
    (1, date(2024, 1, 1), "a", 0.5),
    (2, None, None, None),
    (3, date(1999, 12, 31), "c", -1.25),
    (4, None, "d", None),
    (5, date(2030, 6, 15), None, 2.0),
]


def _rows(spark, tmp_path):
    """Five rows in three parquet files: three scan tasks."""
    path = str(tmp_path / "rows")
    spark.createDataFrame(ROWS, SCHEMA).repartition(3).write.parquet(path)
    return spark.read.schema(SCHEMA).parquet(path)


def _all_null(spark, tmp_path):
    return spark.createDataFrame([(None,) * 4] * 3, SCHEMA)


def _zero_partitions(spark, tmp_path):
    df = spark.createDataFrame(spark.sparkContext.emptyRDD(), SCHEMA)
    assert df.rdd.getNumPartitions() == 0
    return df


def _empty_staged(spark, tmp_path):
    """A staged run that wrote no rows, read back with its schema."""
    staged = str(tmp_path / "_staging" / "run")
    write_batch(spark.createDataFrame([], SCHEMA), staged)
    return spark.read.schema(SCHEMA).parquet(staged)


FRAMES = [_rows, _all_null, _zero_partitions, _empty_staged]


def _aggregated(df, predicate, columns, extra):
    """What ``verify_aggregate`` returned when it ran as one
    ``df.agg(...).first()``."""
    cond = F.expr(predicate) if predicate else None

    def scoped(value):
        return value if cond is None else F.when(cond, value)

    fp = F.xxhash64(*columns).cast("decimal(38,0)")
    row = df.agg(F.count(scoped(F.lit(1))), F.sum(scoped(fp)), *extra).first()
    return int(row[0]), int(row[1] or 0), list(row[2:])


def _shuffle_written(spark) -> int:
    """Shuffle bytes written by every executor so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    executors = sc._jsc.sc().statusStore().executorList(False).iterator()  # noqa: SLF001
    total = 0
    while executors.hasNext():
        total += executors.next().totalShuffleWrite()
    return total


@pytest.mark.parametrize("frame", FRAMES, ids=lambda f: f.__name__[1:])
class TestSameValuesAsAgg:
    def test_verify_aggregate(self, spark, tmp_path, frame):
        df = frame(spark, tmp_path)
        _, extra = range_aggregates(df.schema)
        assert verify_aggregate(df, PREDICATE, df.columns, True, extra) == (
            _aggregated(df, PREDICATE, df.columns, extra)
        )
        assert verify_aggregate(df, None, df.columns, False) == (
            _aggregated(df, None, df.columns, [])[0], None, []
        )

    def test_count_and_fingerprint(self, spark, tmp_path, frame):
        df = frame(spark, tmp_path)
        rows, fp, _ = _aggregated(df, None, df.columns, [])
        assert count_and_fingerprint(df) == (rows, fp)

    def test_idempotency_gate(self, spark, tmp_path, frame):
        df = frame(spark, tmp_path)
        assert idempotency_gate(df, PREDICATE) == df.filter(PREDICATE).count()
        assert idempotency_gate(df) == df.count()


class TestObservedPass:
    def test_unanalyzable_predicate_counts_every_row(self, spark, tmp_path):
        """The ``reference_compat`` fallback: a predicate the frame
        cannot analyze scopes nothing."""
        df = _rows(spark, tmp_path)
        _, extra = range_aggregates(df.schema)
        got = verify_aggregate(df, "no_such_column > 2", df.columns, True, extra)
        assert got == _aggregated(df, None, df.columns, extra)
        assert got[0] == len(ROWS)

    def test_one_job_and_no_shuffle(self, spark, tmp_path, spark_jobs):
        df = _rows(spark, tmp_path)
        _, extra = range_aggregates(df.schema)
        before = _shuffle_written(spark)
        _, jobs = spark_jobs(
            lambda: verify_aggregate(df, PREDICATE, df.columns, True, extra)
        )
        assert jobs == 1
        assert _shuffle_written(spark) == before
        # the aggregate it replaced: a partial aggregate, an exchange
        # and a final aggregate
        _, jobs = spark_jobs(
            lambda: _aggregated(df, PREDICATE, df.columns, extra)
        )
        assert jobs == 2
        assert _shuffle_written(spark) > before
