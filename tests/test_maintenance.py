"""Compaction tests."""

import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bend_archiver_spark import maintenance
from bend_archiver_spark.job import FileArchiveJob
from bend_archiver_spark.maintenance import compact_files
from bend_archiver_spark.sink import listed_files
from bend_archiver_spark.tables import load_table
from bend_archiver_spark.verify import content_fingerprint

from .test_job import _files, _gate, _keyed, _keyed_cfg, _slice

# Spark jobs of a compaction of a 10-run, 50-file target, with or
# without a clustering key: schema inference, one job for the input's
# count and fingerprint, the write (its shuffle and the write job), one
# job for the staged files' count, fingerprint and ranges
PINNED_COMPACT_JOBS = 5


class TestCompaction:
    def test_many_small_files_become_few(self, spark, sf_dir, tmp_path):
        tgt = str(tmp_path / "frag")
        ev = load_table(spark, sf_dir, "events")
        # fragment: 50 tiny appends, like 50 streaming micro-batches
        ev.repartition(50).write.mode("append").parquet(tgt)
        before = listed_files(spark, tgt)
        before_files, before_bytes = len(before), sum(before.values())
        assert before_files >= 50
        fp_before = content_fingerprint(spark.read.parquet(tgt))

        res = compact_files(spark, tgt, target_file_bytes=before_bytes)
        assert res.files_after < before_files
        assert res.files_after <= 2
        assert res.rows == ev.count()
        after = spark.read.parquet(tgt)
        assert after.count() == res.rows
        assert content_fingerprint(after) == fp_before

    def test_key_clustered_compaction_preserves_pruning(
        self, spark, sf_dir, tmp_path
    ):
        tgt = str(tmp_path / "fragk")
        li = load_table(spark, sf_dir, "lineitem")
        li.repartition(40).write.mode("append").parquet(tgt)
        nbytes = sum(listed_files(spark, tgt).values())
        compact_files(
            spark, tgt, target_file_bytes=max(1, nbytes // 4), key="l_orderkey"
        )
        ranges = []
        for f in glob.glob(tgt + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(0).statistics
                ranges.append((st.min, st.max))
        ranges.sort()
        assert len(ranges) >= 2
        assert all(a[1] <= b[0] for a, b in zip(ranges, ranges[1:]))


def _archive(spark, tgt, lo, hi, **kw):
    report = FileArchiveJob(
        spark, _keyed_cfg(tgt, _slice(lo, hi), **kw), _keyed(spark)
    ).run()
    assert report.verify.is_correct and report.source_rows == hi - lo


class TestStagedCompaction:
    """Compaction is a staged, verified run on the target: its manifest
    replaces those of the runs it rewrote, and it is published, or
    finished after a crash, the way an archive run is."""

    def test_pending_publish_is_compacted_once(
        self, spark, tmp_path, monkeypatch
    ):
        """A verified run whose publish was cut short waits under
        ``_staging``: compaction publishes it first and compacts it with
        the rest, so its rows are there exactly once."""
        from bend_archiver_spark import job as job_mod

        tgt = str(tmp_path / "pending")
        _archive(spark, tgt, 0, 100)

        def cut_short(*a):
            raise RuntimeError("publish cut short")

        monkeypatch.setattr(job_mod, "publish_staged", cut_short)
        with pytest.raises(RuntimeError, match="cut short"):
            _archive(spark, tgt, 100, 200)
        monkeypatch.undo()
        assert glob.glob(f"{tgt}/_staging/*/_PUBLISHING")
        assert spark.read.parquet(tgt).count() == 100

        res = compact_files(spark, tgt)
        assert res.rows == 200 and res.files_after == 1
        back = spark.read.parquet(tgt)
        assert back.count() == back.select("k").distinct().count() == 200
        assert not os.path.exists(f"{tgt}/_staging")
        assert len(glob.glob(f"{tgt}/_manifests/*.json")) == 1
        with pytest.raises(RuntimeError, match="idempotency"):
            _gate(spark, tgt, _slice(150, 250))

    def test_partitioned_layout_is_kept(self, spark, tmp_path):
        """The rewrite keeps the ``p=`` directories it read, so a later
        partitioned run lands beside it and every row reads back."""
        tgt = str(tmp_path / "parts")
        for lo in (0, 100):
            _archive(spark, tgt, lo, lo + 100, target_partition_by=["p"])
        compact_files(spark, tgt)
        files = [f for f in _files(tgt) if f.endswith(".parquet")]
        assert files and all(f.startswith("p=") for f in files)
        assert len(files) == 3  # one per partition value
        _archive(spark, tgt, 200, 300, target_partition_by=["p"])
        back = spark.read.parquet(tgt)
        assert back.count() == back.select("k").distinct().count() == 300
        assert back.filter("p = 1").count() == 100

    def test_fingerprint_mismatch_publishes_nothing(
        self, spark, tmp_path, monkeypatch
    ):
        """A rewrite with one value changed has the input's row count but
        not its fingerprint: compaction raises and the target is left
        byte for byte as it was."""
        tgt = str(tmp_path / "mismatch")
        for lo in (0, 100):
            _archive(spark, tgt, lo, lo + 100)

        def snapshot():
            return {f: open(os.path.join(tgt, f), "rb").read() for f in _files(tgt)}

        before = snapshot()
        real_write = maintenance.write_batch

        def corrupt(df, *a, **kw):
            x = F.when(F.col("k") == 42, F.col("x") + 1).otherwise(F.col("x"))
            return real_write(df.withColumn("x", x), *a, **kw)

        monkeypatch.setattr(maintenance, "write_batch", corrupt)
        with pytest.raises(RuntimeError, match="compaction mismatch"):
            compact_files(spark, tgt)
        assert snapshot() == before

    @pytest.fixture(scope="class")
    def ten_runs(self, spark, tmp_path_factory):
        """A target of 10 runs of 100 rows, 5 files each."""
        tgt = str(tmp_path_factory.mktemp("compact") / "ten_runs")
        for n in range(10):
            _archive(spark, tgt, 100 * n, 100 * (n + 1), batch_size=25)
        assert len(listed_files(spark, tgt)) == 50
        return tgt

    @pytest.mark.parametrize("key", [None, "k"])
    def test_spark_jobs(self, spark, tmp_path, ten_runs, spark_jobs, key):
        tgt = str(tmp_path / "copy")
        shutil.copytree(ten_runs, tgt)
        res, jobs = spark_jobs(lambda: compact_files(spark, tgt, key=key))
        assert res.files_before == 50 and res.files_after == 1
        assert res.rows == 1000
        assert jobs == PINNED_COMPACT_JOBS
        # one manifest covers the rewrite with exact ranges: a
        # key-disjoint gate skips it
        stats = _gate(spark, tgt, _slice(1000, 1100))
        assert stats["manifests"] == stats["runs_skipped"] == 1
        assert stats["scanned"] == 0


class TestZorder:
    def test_morton_query_matches_layout_expr(self, spark, sf_dir):
        """The registered zorder_bucket_stats query and
        zorder_value agree (same bit interleave)."""
        from bend_archiver_spark.maintenance import zorder_value
        from bend_archiver_spark.queries import REGISTRY

        li = load_table(spark, sf_dir, "lineitem")
        direct = (
            li.select(
                zorder_value(F.col("l_orderkey"), F.col("l_partkey")).alias(
                    "z"
                )
            )
            .agg(F.sum("z"))
            .collect()[0][0]
        )
        assert direct > 0
        buckets = REGISTRY["zorder_bucket_stats"].spark(spark, sf_dir)
        assert buckets.agg(F.sum("n_rows")).collect()[0][0] == li.count()
