"""Golden tests for the partition planner — exact-output parity with the
reference's unit tests (source/source_test.go, config/config_test.go)."""

import pytest

from bend_archiver_spark.planner import (
    adjust_batch_size,
    coerce_key,
    parse_time_dynamic,
    plan_jdbc_partitions,
    split_condition,
    split_time_windows,
)


class TestSplitCondition:
    # source/source.go:66-77 semantics (stride = batch_size, final inclusive)
    def test_half_open_plus_final_inclusive(self):
        conds = split_condition("id", 10, 0, 100)
        assert conds[0] == "(id >= 0 and id < 10)"
        assert conds[-1] == "(id >= 100 and id <= 100)"
        assert len(conds) == 11

    def test_equal_bounds(self):
        assert split_condition("id", 10, 5, 5) == ["(id >= 5 and id <= 5)"]


class TestSplitTimeWindows:
    # source/source_test.go:104-137
    def test_hour_unit_18h_span(self):
        conds = split_time_windows(
            "t1", "hour", "2024-06-30 2:00:00", "2024-06-30 20:00:00"
        )
        assert len(conds) == 10
        assert conds[0] == (
            "(t1 >= '2024-06-30 02:00:00' and t1 < '2024-06-30 04:00:00')"
        )
        assert conds[-1] == (
            "(t1 >= '2024-06-30 20:00:00' and t1 <= '2024-06-30 20:00:00')"
        )

    def test_equal_bounds_one_window(self):
        conds = split_time_windows(
            "t1", "hour", "2024-06-30 2:00:00", "2024-06-30 2:00:00"
        )
        assert len(conds) == 1
        assert "<=" in conds[0]

    def test_inverted_empty(self):
        assert (
            split_time_windows(
                "t1", "hour", "2024-06-30 20:00:00", "2024-06-30 2:00:00"
            )
            == []
        )

    def test_strides(self):
        # minute->10m, quarter->15m, day->24h (config/config.go:147-160)
        assert (
            len(split_time_windows("t", "minute", "2024-01-01 00:00:00", "2024-01-01 01:00:00"))
            == 7
        )
        assert (
            len(split_time_windows("t", "quarter", "2024-01-01 00:00:00", "2024-01-01 01:00:00"))
            == 5
        )
        assert (
            len(split_time_windows("t", "day", "2024-01-01 00:00:00", "2024-01-03 00:00:00"))
            == 3
        )


class TestParseTimeDynamic:
    def test_layouts(self):
        assert parse_time_dynamic("2024-06-30 2:00:00").hour == 2
        assert parse_time_dynamic("2024-06-30T15:04:05").minute == 4
        assert parse_time_dynamic("2024-06-30T15:04:05.123").microsecond == 123000

    def test_date_only_layout(self):
        # a DATE-typed split key stringifies as YYYY-MM-DD
        t = parse_time_dynamic("2024-06-30")
        assert (t.year, t.month, t.day, t.hour) == (2024, 6, 30, 0)

    def test_invalid(self):
        with pytest.raises(ValueError):
            parse_time_dynamic("30/06/2024")


class TestTimeSplitBounds:
    """Probed JDBC time bounds -> window bound strings: the upper
    bound must never truncate away sub-second rows."""

    def test_ceil_rounds_up_fractional_max(self):
        from datetime import datetime

        from bend_archiver_spark.sources.jdbc import _ceil_bound

        assert (
            _ceil_bound(datetime(2024, 6, 30, 23, 59, 59, 500000))
            == "2024-07-01 00:00:00"
        )
        assert _ceil_bound("2024-06-30 10:00:00.000001") == "2024-06-30 10:00:01"

    def test_ceil_keeps_whole_seconds_and_dates(self):
        from datetime import date, datetime

        from bend_archiver_spark.sources.jdbc import _ceil_bound, _floor_bound

        assert _ceil_bound(datetime(2024, 6, 30, 10, 0, 0)) == "2024-06-30 10:00:00"
        assert _ceil_bound("2024-06-30 10:00:00.000") == "2024-06-30 10:00:00"
        assert _ceil_bound(date(2024, 6, 30)) == "2024-06-30"
        assert _floor_bound(datetime(2024, 6, 30, 10, 0, 0, 700000)) == "2024-06-30 10:00:00"


class TestCoerceKey:
    # source/source.go:238-259
    def test_ints_strings_bytes_floats(self):
        assert coerce_key(5) == 5
        assert coerce_key("42") == 42
        assert coerce_key(b"42") == 42
        assert coerce_key(3.9) == 3

    def test_decimal_unsigned_bigint(self):
        # DecimalType(20,0) is Catalyst's unsigned-bigint mapping;
        # values above int64 max must survive coercion
        from decimal import Decimal
        assert coerce_key(Decimal(2**63 + 5)) == 2**63 + 5
        import pytest as _pt
        with _pt.raises(ValueError):
            coerce_key(Decimal(-1))

    def test_negatives_rejected(self):
        with pytest.raises(ValueError):
            coerce_key(-1)
        with pytest.raises(ValueError):
            coerce_key(-0.5)

    def test_unexpected_type(self):
        with pytest.raises(TypeError):
            coerce_key(object())


class TestAdjustBatchSize:
    # source/mysql.go:43-65; postgres_test.go:170-175 (rows<=batch -> range)
    def test_small_table_returns_whole_range(self):
        assert adjust_batch_size(1000, 1, 2, 2) == 2

    def test_dense_keys_keep_batch(self):
        assert adjust_batch_size(1000, 0, 9999, 9000) == 1000

    def test_sparse_keys_widen(self):
        assert adjust_batch_size(1000, 0, 1_000_000, 10_000) == 5000


class TestPlanJdbcPartitions:
    def test_empty_sentinel(self):
        plan = plan_jdbc_partitions("id", 0, 0, 0)
        assert plan.predicates == []

    def test_predicates_cover_and_compose_where(self):
        plan = plan_jdbc_partitions(
            "id", 0, 100, 101, batch_size=50, where_condition="x > 3"
        )
        assert all(c.endswith("and (x > 3)") for c in plan.predicates)

    def test_partition_cap(self):
        plan = plan_jdbc_partitions(
            "id", 0, 10_000_000, 10_000_000, batch_size=10, max_partitions=100
        )
        assert plan.num_partitions <= 101
