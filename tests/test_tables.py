"""The parquet schema memo in ``tables.load_parquet``.

A load infers the schema with a Spark job the first time it sees a
file set, and reuses it while the files and the inference confs stay
the same. These tests pin that the reuse saves the job, that any
change to the files or confs infers afresh, and that a memoised schema
gives the same rows, types and optimized plans as inference does.
"""

import os
import random
import sys
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bend_archiver_spark import tables
from bend_archiver_spark.queries import REGISTRY
from bend_archiver_spark.tables import load_parquet, load_table
from perfbench.oracle import MIX
from tools.plan_fingerprints import plan_text


@pytest.fixture()
def cold():
    """Start from an empty memo; put the entries back afterwards."""
    saved = dict(tables._schema_memo)
    tables._schema_memo.clear()
    yield
    tables._schema_memo.clear()
    tables._schema_memo.update(saved)


def _write_aged(path, table: pa.Table, age_s: float) -> None:
    """Write *table* and date its mtime *age_s* seconds back, past the
    window in which fresh files are not memoised."""
    pq.write_table(table, str(path))
    past = time.time_ns() - int(age_s * 1e9)
    os.utime(path, ns=(past, past))


def _columns(spark, spark_jobs, path) -> tuple[list, int]:
    df, jobs = spark_jobs(lambda: load_parquet(spark, str(path)))
    return df.columns, jobs


class TestSchemaMemo:
    def test_cold_load_infers_and_repeat_load_does_not(self, spark, sf_dir, spark_jobs, cold):
        _, jobs = spark_jobs(lambda: load_table(spark, sf_dir, "orders"))
        assert jobs == 1
        _, jobs = spark_jobs(lambda: load_table(spark, sf_dir, "orders"))
        assert jobs == 0

    def test_rewritten_file_is_inferred_again(self, spark, spark_jobs, tmp_path, cold):
        path = tmp_path / "t.parquet"
        _write_aged(path, pa.table({"a": [1, 2], "b": ["x", "y"]}), 60)
        assert _columns(spark, spark_jobs, path) == (["a", "b"], 1)
        assert _columns(spark, spark_jobs, path) == (["a", "b"], 0)
        _write_aged(path, pa.table({"a": [1, 2], "b": ["x", "y"], "c": [0.5, 1.5]}), 50)
        assert _columns(spark, spark_jobs, path) == (["a", "b", "c"], 1)
        _write_aged(path, pa.table({"a": [1, 2], "renamed": ["x", "y"], "c": [0.5, 1.5]}), 40)
        assert _columns(spark, spark_jobs, path) == (["a", "renamed", "c"], 1)
        assert load_parquet(spark, str(path)).orderBy("a").first()["renamed"] == "x"

    def test_added_file_is_inferred_again(self, spark, spark_jobs, tmp_path, cold):
        _write_aged(tmp_path / "part-0.parquet", pa.table({"a": [1, 2]}), 60)
        df, jobs = spark_jobs(lambda: load_parquet(spark, str(tmp_path)))
        assert (df.count(), jobs) == (2, 1)
        _write_aged(tmp_path / "part-1.parquet", pa.table({"a": [3]}), 60)
        df, jobs = spark_jobs(lambda: load_parquet(spark, str(tmp_path)))
        assert (df.count(), jobs) == (3, 1)

    def test_fresh_file_is_not_memoised(self, spark, spark_jobs, tmp_path, cold):
        path = tmp_path / "fresh.parquet"
        pq.write_table(pa.table({"a": [1]}), str(path))
        assert _columns(spark, spark_jobs, path) == (["a"], 1)
        assert _columns(spark, spark_jobs, path) == (["a"], 1)

    def test_binary_as_string_conf_is_part_of_the_key(self, spark, tmp_path, cold):
        path = tmp_path / "bin.parquet"
        _write_aged(path, pa.table({"blob": pa.array([b"ab", b"cd"], pa.binary())}), 60)
        conf = "spark.sql.parquet.binaryAsString"
        before = spark.conf.get(conf, None)
        try:
            seen = []
            for flag in ("false", "true", "false", "true"):
                spark.conf.set(conf, flag)
                seen.append(dict(load_parquet(spark, str(path)).dtypes)["blob"])
        finally:
            if before is None:
                spark.conf.unset(conf)
            else:
                spark.conf.set(conf, before)
        assert seen == ["binary", "string", "binary", "string"]

    def test_nano_timestamps_cold_and_warm_agree(self, spark, sf_dir, spark_jobs, tmp_path, cold):
        events = pq.read_table(f"{sf_dir}/events.parquet")
        nanos = events.set_column(
            events.schema.get_field_index("ts"), "ts", events["ts"].cast(pa.timestamp("ns"))
        )
        _write_aged(tmp_path / "events.parquet", nanos, 60)
        loads = [spark_jobs(lambda: load_table(spark, str(tmp_path), "events")) for _ in range(2)]
        (cold_df, cold_jobs), (warm_df, warm_jobs) = loads
        assert (cold_jobs, warm_jobs) == (1, 0)
        assert dict(cold_df.dtypes)["ts"] == "timestamp"
        assert cold_df.dtypes == warm_df.dtypes
        assert cold_df.orderBy("event_id").collect() == warm_df.orderBy("event_id").collect()

    @pytest.mark.parametrize("name", MIX)
    def test_mix_plans_identical_cold_and_warm(self, spark, sf_dir, name, cold):
        plans = []
        for _ in range(2):  # cold (the fixture emptied the memo), then warm
            try:
                plans.append(plan_text(REGISTRY[name].spark(spark, sf_dir)))
            finally:
                spark.catalog.clearCache()  # cached relations change plans
        assert plans[0] == plans[1]

    def test_memo_is_bounded_lru(self, cold):
        keys = [("p", (), (i,)) for i in range(tables._SCHEMA_MEMO_SIZE + 10)]
        for key in keys:
            tables._remember_schema(key, None)
            assert len(tables._schema_memo) <= tables._SCHEMA_MEMO_SIZE
        assert list(tables._schema_memo) == keys[10:]

    def test_memo_survives_concurrent_use(self, cold):
        keys = [("p", (), (i,)) for i in range(tables._SCHEMA_MEMO_SIZE + 50)]
        errors = []

        def hammer(seed):
            rng = random.Random(seed)
            try:
                for _ in range(10000):
                    key = rng.choice(keys)
                    if tables._recall_schema(key) is None:
                        tables._remember_schema(key, key)
            except Exception as e:  # noqa: BLE001
                errors.append(e)

        switch = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=hammer, args=(i,)) for i in range(16)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=60)
        finally:
            sys.setswitchinterval(switch)
        assert not any(th.is_alive() for th in threads)
        assert errors == []
        assert len(tables._schema_memo) == tables._SCHEMA_MEMO_SIZE
        assert all(tables._schema_memo[k] == k for k in tables._schema_memo)

    def test_remote_and_glob_paths_are_not_memoised(self, tmp_path):
        _write_aged(tmp_path / "t.parquet", pa.table({"a": [1]}), 60)
        assert tables._file_signature(str(tmp_path / "t.parquet")) is not None
        assert tables._file_signature(f"file://{tmp_path}/t.parquet") is not None
        assert tables._file_signature("s3a://bucket/t.parquet") is None
        assert tables._file_signature("hdfs://nn:8020/t.parquet") is None
        assert tables._file_signature(f"{tmp_path}/*.parquet") is None
        assert tables._file_signature(f"{tmp_path}/missing.parquet") is None
