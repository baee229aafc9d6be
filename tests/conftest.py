import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The session JVM's heap grows towards its cap over a suite run, and
# with get_spark's 24g default it reached 13.6 GB RSS on a 15 GB host
# (plus the second JVMs some tests start). An 8g cap keeps the suite
# clear of that; an environment that sets its own value keeps it.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")

from bend_archiver_spark.session import get_spark  # noqa: E402

try:  # pure-function property tests share cores with the Spark suite;
    # wall-clock-per-example is load, not a correctness signal, and the
    # default 200 ms deadline flakes under a 32-thread full run
    from hypothesis import settings as _hyp_settings

    _hyp_settings.register_profile("suite", deadline=None)
    _hyp_settings.load_profile("suite")
except ImportError:  # pragma: no cover
    pass

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn`` under a fresh job group and returns
    ``(result, number of Spark jobs it launched)``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job-start events reach the status store through the
        # asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture()
def codegen_compiles(spark):
    """``codegen_compiles(fn)`` runs ``fn`` and returns ``(result, number
    of Janino compilations it caused)``. In local mode the executors
    share the driver's JVM, so the count covers task-side code too."""
    timer = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()  # noqa: SLF001

    def run(fn):
        before = timer.getCount()
        result = fn()
        return result, timer.getCount() - before

    return run


@pytest.fixture()
def release_heap(spark):
    """For a test that starts a second Spark JVM: a full GC hands the
    session JVM's garbage back to the OS first. Its heap grows towards
    the driver-memory cap over a suite run (~12 GB RSS measured, ~3 GB
    after the GC), and the two JVMs must fit in the host's memory
    together."""
    spark._jvm.java.lang.System.gc()  # noqa: SLF001
