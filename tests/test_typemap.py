"""Type-fidelity tests incl. the F1/F1a canonical 9-column fixture and
NULL round-trip (FIXTURES.md; reference cmd/main_test.go:477-509)."""

import datetime
from decimal import Decimal

from pyspark.sql import types as T

from bend_archiver_spark.sources.typemap import apply_reference_compat
from bend_archiver_spark.verify import content_fingerprint

F1_SCHEMA = T.StructType(
    [
        T.StructField("id", T.DecimalType(20, 0), False),  # BIGINT UNSIGNED
        T.StructField("int_col", T.IntegerType(), True),
        T.StructField("varchar_col", T.StringType(), True),
        T.StructField("float_col", T.FloatType(), True),
        T.StructField("bool_col", T.BooleanType(), True),
        T.StructField("de", T.DecimalType(18, 6), True),
        T.StructField("date_col", T.DateType(), True),
        T.StructField("datetime_col", T.TimestampType(), True),
        T.StructField("timestamp_col", T.TimestampType(), True),
    ]
)


def _f1_rows():
    """Reference row generator (cmd/main_test.go:477-486) + the F1a
    NULL-pattern sub-fixture (:488-509): ids i*11, odd i carry NULLs in
    int_col / varchar_col / timestamp_col."""
    rows = []
    for i in range(1, 11):
        rows.append(
            (
                Decimal(i),
                i,
                f"varchar {i}",
                float(i),
                i % 2 == 0,
                Decimal("1.100000"),
                datetime.date(2022, 1, 1),
                datetime.datetime(2022, 1, 1, 0, 0, 0),
                datetime.datetime(2024, 6, 30, 20, 0, 0),
            )
        )
    for i in range(1, 11):
        null = i % 2 == 1
        rows.append(
            (
                Decimal(i * 11 + 1000),
                None if null else i,
                None if null else f"varchar {i}",
                float(i),
                i % 2 == 0,
                Decimal("1.100000"),
                datetime.date(2022, 1, 1),
                datetime.datetime(2022, 1, 1, 0, 0, 0),
                None if null else datetime.datetime(2024, 6, 30, 20, 0, 0),
            )
        )
    return rows


class TestNullRoundTrip:
    def test_f1a_null_pattern_survives_write_read(self, spark, tmp_path):
        df = spark.createDataFrame(_f1_rows(), schema=F1_SCHEMA)
        path = str(tmp_path / "f1")
        df.write.parquet(path)
        back = spark.read.parquet(path)
        assert back.count() == 20
        # NULL pattern intact: 5 odd-i rows carry NULLs
        assert back.filter("int_col IS NULL").count() == 5
        assert back.filter("varchar_col IS NULL").count() == 5
        assert back.filter("timestamp_col IS NULL").count() == 5
        # content identical, not just counts
        assert content_fingerprint(df) == content_fingerprint(
            back.select(*[f.name for f in F1_SCHEMA.fields])
        )

    def test_reference_compat_degradations(self, spark):
        df = spark.createDataFrame(_f1_rows(), schema=F1_SCHEMA)
        compat = apply_reference_compat(df)
        types = dict((f.name, f.dataType) for f in compat.schema.fields)
        assert types["bool_col"] == T.ByteType()  # bool -> tinyint 0/1
        assert types["datetime_col"] == T.StringType()  # temporal -> string
        assert types["de"] == T.DoubleType()  # decimal -> float64
        row = compat.filter("int_col = 2").first()
        assert row["bool_col"] == 1
        assert row["datetime_col"] == "2022-01-01 00:00:00"
        # NULLs stay NULL through the degradation
        assert compat.filter("timestamp_col IS NULL").count() == 5
