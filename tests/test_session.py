"""The session factory in ``session.get_spark``."""

from bend_archiver_spark.queries import REGISTRY
from bend_archiver_spark.session import get_spark
from perfbench.oracle import MIX


class TestCodegenCache:
    def test_warm_pass_does_not_recompile(self, spark, sf_dir, codegen_compiles):
        """A repeated pass over the ``query_mix`` queries finds its
        generated classes in the codegen cache. With Spark's default
        100-entry LRU every lookup of the cyclic 171-class working set
        missed, and a warm pass recompiled 168-170 classes of the ~205 a
        cold pass compiles. A warm pass still compiles 0-18: AQE numbers
        the whole-stage codegen stages in the order their inputs finish,
        and a known stage under a new number is a new class."""

        def one_pass():
            for name in MIX:
                REGISTRY[name].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()

        assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
        _, cold = codegen_compiles(one_pass)
        _, warm = codegen_compiles(one_pass)
        assert warm <= 40, (cold, warm)


class TestShufflePartitions:
    def test_default_follows_cpus_set_after_import(self, spark, monkeypatch):
        """``SPARK_GRAFT_CPUS`` is read when ``get_spark`` is called, for
        the shuffle partitions as for ``local[N]``, not when ``session``
        is imported."""
        saved = spark.conf.getAll
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
        try:
            # on the running session only the runtime confs take effect
            assert get_spark("tests").conf.get("spark.sql.shuffle.partitions") == "3"
        finally:
            for key in set(spark.conf.getAll) - set(saved):
                spark.conf.unset(key)
            for key, value in saved.items():
                if spark.conf.get(key, None) != value:
                    spark.conf.set(key, value)
        assert spark.conf.getAll == saved
