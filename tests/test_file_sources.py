"""CSV / NDJSON source round-trips (the reference's 'coming soon'
source formats) and IVF operator shape."""

import shutil

import pytest

from pyspark.sql import functions as F

from bend_archiver_spark.sink import write_batch
from bend_archiver_spark.sources.files import read_source
from bend_archiver_spark.tables import load_table
from bend_archiver_spark.verify import content_fingerprint


class TestFileSources:
    def test_ndjson_round_trip_with_nulls(self, spark, sf_dir, tmp_path):
        ev = load_table(spark, sf_dir, "events").withColumn(
            "props", F.when(F.col("event_id") % 3 == 0, F.col("props"))
        )
        path = str(tmp_path / "nd")
        write_batch(ev, path, fmt="ndjson")
        back = read_source(spark, path, fmt="ndjson", schema=ev.schema)
        assert back.count() == ev.count()
        assert (
            back.filter("props IS NULL").count()
            == ev.filter("props IS NULL").count()
        )
        cols = ev.columns
        assert content_fingerprint(ev.select(cols)) == content_fingerprint(
            back.select(cols)
        )
        shutil.rmtree(path, ignore_errors=True)

    def test_csv_round_trip_with_schema(self, spark, sf_dir, tmp_path):
        cust = load_table(spark, sf_dir, "customer")
        path = str(tmp_path / "csv")
        cust.write.option("header", "true").csv(path)
        back = read_source(spark, path, fmt="csv", schema=cust.schema)
        assert back.count() == cust.count()
        assert content_fingerprint(cust) == content_fingerprint(
            back.select(*cust.columns)
        )
        shutil.rmtree(path, ignore_errors=True)

    def test_csv_inference_fallback(self, spark, sf_dir, tmp_path):
        cust = load_table(spark, sf_dir, "customer")
        path = str(tmp_path / "csv2")
        cust.write.option("header", "true").csv(path)
        back = read_source(spark, path, fmt="csv")
        assert back.count() == cust.count()

    def test_orc_round_trip(self, spark, sf_dir, tmp_path):
        """ORC write -> read preserves content exactly (nulls included);
        both columnar formats share the pushdown/pruning path."""
        ev = load_table(spark, sf_dir, "events").withColumn(
            "props", F.when(F.col("event_id") % 3 == 0, F.col("props"))
        )
        path = str(tmp_path / "orc")
        write_batch(ev, path, fmt="orc")
        back = read_source(spark, path, fmt="orc", schema=ev.schema)
        assert back.count() == ev.count()
        assert content_fingerprint(ev) == content_fingerprint(back)
        shutil.rmtree(path, ignore_errors=True)

    def test_unknown_format_rejected(self, spark):
        with pytest.raises(ValueError, match="unsupported source format"):
            read_source(spark, "/tmp/x", fmt="avro")
