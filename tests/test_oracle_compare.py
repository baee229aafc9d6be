"""``oracle_compare``: the one-line failure detail that the FAIL lines
(and so the sweep artifacts) carry, and the shape of a run's output."""

import io
import os
import sys

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


class _FlushRecorder(io.StringIO):
    """A stdout that remembers how much had been written at each flush."""

    def __init__(self):
        super().__init__()
        self.flushed_at: list[int] = []

    def flush(self):
        self.flushed_at.append(len(self.getvalue()))


class TestRunOutput:
    def test_verdicts_are_flushed_and_a_summary_ends_the_run(
        self, spark, sf_dir, monkeypatch
    ):
        """Every verdict line is flushed as it is printed, and the last
        line counts the run without matching any verdict pattern the
        100x sweep parses."""
        from bend_archiver_spark.queries import REGISTRY, QuerySpec
        from tests import oracle_compare

        sys.path.insert(
            0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
        )
        import x100_sweep

        def ids(s, _d):
            return s.range(3)

        monkeypatch.setitem(REGISTRY, "fake_ok", QuerySpec(
            "fake_ok", ids, "SELECT range AS id FROM range(3)"))
        monkeypatch.setitem(REGISTRY, "fake_fail", QuerySpec(
            "fake_fail", ids, "SELECT range + 1 AS id FROM range(3)"))
        monkeypatch.setenv("SF_DIR", sf_dir)
        out = _FlushRecorder()
        monkeypatch.setattr(sys, "stdout", out)
        assert oracle_compare.run(["fake_ok", "fake_fail"]) is False
        text = out.getvalue()
        lines = text.splitlines()
        assert [l.split()[0] for l in lines] == ["OK", "FAIL", "summary"]
        assert lines[-1] == "summary  2 queries: 1 ok, 1 failed"
        ends = [text.index(l) + len(l) + 1 for l in lines]
        assert all(e in out.flushed_at for e in ends)
        verdicts = [m.group(1, 2) for m in x100_sweep._LINE.finditer(text)]
        assert verdicts == [("OK", "fake_ok"), ("FAIL", "fake_fail")]
        for pattern in (x100_sweep._LINE, x100_sweep._ORACLE_ERR,
                        x100_sweep._SUB_LINE):
            assert not pattern.search(lines[-1])
