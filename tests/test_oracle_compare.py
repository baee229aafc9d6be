"""``oracle_compare.root_cause``: the one-line failure detail that the
FAIL lines (and so the sweep artifacts) carry."""

from tests.oracle_compare import ROOT_CAUSE_CHARS, root_cause

_PY4J_TRACE = """An error occurred while calling o412.localCheckpoint.
: org.apache.spark.SparkException: Job aborted due to stage failure: Task 3 in stage 9.0 failed 1 times
\tat org.apache.spark.scheduler.DAGScheduler.failJobAndIndependentStages(DAGScheduler.scala:2898)
\tat org.apache.spark.rdd.RDD.localCheckpoint(RDD.scala:1712)
Caused by: org.apache.spark.storage.BlockSavingException: could not store rdd_57_3
\tat org.apache.spark.storage.BlockManager.doPut(BlockManager.scala:1610)
\t... 12 more
Caused by: java.io.IOException: No space left on device
\tat java.base/java.io.FileOutputStream.writeBytes(Native Method)
\t... 20 more
"""


class _StubJavaError(Exception):
    """Stands in for a ``Py4JJavaError``, whose ``str()`` asks the JVM."""

    def __init__(self, text: str):
        super().__init__()
        self.text = text

    def __str__(self) -> str:
        return self.text


class TestRootCause:
    def test_deepest_caused_by_wins(self):
        assert root_cause(_StubJavaError(_PY4J_TRACE)) == (
            "java.io.IOException: No space left on device"
        )

    def test_wrapped_java_exception_without_cause(self):
        text = _PY4J_TRACE.split("Caused by")[0]
        assert root_cause(_StubJavaError(text)) == (
            "org.apache.spark.SparkException: Job aborted due to stage failure:"
            " Task 3 in stage 9.0 failed 1 times"
        )

    def test_plain_exception_gives_first_line(self):
        err = ValueError("Binder Error: column x not found\nLINE 1: SELECT x")
        assert root_cause(err) == "Binder Error: column x not found"
        assert root_cause(RuntimeError()) == "RuntimeError"

    def test_capped_to_one_bounded_line(self):
        long = _StubJavaError("boom\nCaused by: java.lang.Error: " + "x" * 1000)
        got = root_cause(long)
        assert len(got) == ROOT_CAUSE_CHARS and "\n" not in got
