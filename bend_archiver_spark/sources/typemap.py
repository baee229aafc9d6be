"""Type fidelity, with the reference's degradations as an opt-in.

The reference degrades types at scan time (SURVEY §1.2): DECIMAL ->
float64, temporals -> strings, bool -> 0/1 tinyint, and needs a custom
NullUint64 for MySQL ``BIGINT UNSIGNED`` (source/mysql.go:410-458).
Spark's JDBC dialects already map ``BIGINT UNSIGNED`` to
``DecimalType(20,0)`` and keep decimals/temporals exact, so the
default here is *fidelity*; the reference's degradations are available
as an explicit opt-in (``reference_compat``) for byte-compatible
output against an existing Databend target
(bool->tinyint: source/sql_server.go:351-360 "target databend bool is
int8"; temporal format '2006-01-02 15:04:05': source/source.go:221).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["apply_reference_compat", "TEMPORAL_FORMAT"]

TEMPORAL_FORMAT = "yyyy-MM-dd HH:mm:ss"


def apply_reference_compat(df: DataFrame) -> DataFrame:
    """Opt-in degradation to the reference's wire shape: booleans ->
    tinyint 0/1, timestamps -> '2006-01-02 15:04:05'-format strings,
    dates -> 'yyyy-MM-dd' strings, decimals -> double. Only for
    byte-compatible output against targets provisioned for the
    reference; the engine's native path keeps exact types."""
    out = df
    for field in df.schema.fields:
        c = field.name
        if isinstance(field.dataType, T.BooleanType):
            out = out.withColumn(c, F.col(c).cast("tinyint"))
        elif isinstance(
            field.dataType, (T.TimestampType, T.TimestampNTZType)
        ):
            # NTZ covers parquet timestamps with isAdjustedToUTC=false,
            # which Spark 4 surfaces as timestamp_ntz
            out = out.withColumn(c, F.date_format(c, TEMPORAL_FORMAT))
        elif isinstance(field.dataType, T.DateType):
            out = out.withColumn(c, F.date_format(c, "yyyy-MM-dd"))
        elif isinstance(field.dataType, T.DecimalType):
            out = out.withColumn(c, F.col(c).cast("double"))
    return out
