"""Property-based planner tests (Hypothesis) — the upgrade over the
reference's example-only test suite (SURVEY §5: no property testing).

The invariants that make partitioned extraction *correct* regardless
of configuration: every key in [min, max] falls in exactly one split
predicate (coverage + disjointness), and time windows tile the range.
"""

import re
from datetime import datetime, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st

from bend_archiver_spark.planner import (
    plan_jdbc_partitions,
    split_condition,
    split_time_windows,
)

_COND_RE = re.compile(
    r"\(k >= (\d+) and k (<|<=) (\d+)\)"
)


def _covering_count(conditions: list[str], key: int) -> int:
    """How many predicates match a given key."""
    n = 0
    for c in conditions:
        m = _COND_RE.fullmatch(c)
        lo, op, hi = int(m.group(1)), m.group(2), int(m.group(3))
        if key >= lo and (key < hi if op == "<" else key <= hi):
            n += 1
    return n


class TestSplitConditionProperties:
    @given(
        batch=st.integers(1, 1000),
        lo=st.integers(0, 10_000),
        span=st.integers(0, 10_000),
        probe=st.data(),
    )
    @settings(max_examples=200, deadline=None)
    def test_every_key_covered_exactly_once(self, batch, lo, span, probe):
        hi = lo + span
        conds = split_condition("k", batch, lo, hi)
        key = probe.draw(st.integers(lo, hi))
        assert _covering_count(conds, key) == 1


class TestTimeWindowProperties:
    @given(
        start=st.datetimes(
            min_value=datetime(2000, 1, 1), max_value=datetime(2030, 1, 1)
        ).map(lambda d: d.replace(microsecond=0)),
        span_min=st.integers(0, 60 * 24 * 40),
        unit=st.sampled_from(["minute", "quarter", "hour", "day"]),
    )
    @settings(max_examples=100, deadline=None)
    def test_windows_tile_the_range(self, start, span_min, unit):
        end = start + timedelta(minutes=span_min)
        conds = split_time_windows("t", unit, start, end)
        assert len(conds) >= 1
        # first window starts at start; last closes inclusively at end
        fmt = "%Y-%m-%d %H:%M:%S"
        assert start.strftime(fmt) in conds[0]
        assert conds[-1].endswith(f"<= '{end.strftime(fmt)}')")
        # adjacent windows share boundaries (half-open tiling)
        bounds = [
            re.findall(r"'([^']+)'", c) for c in conds
        ]
        for (a_lo, a_hi), (b_lo, b_hi) in zip(bounds, bounds[1:]):
            assert a_hi == b_lo


class TestPlanProperties:
    @given(
        lo=st.integers(0, 10_000),
        span=st.integers(0, 10_000_000),
        rows=st.integers(1, 1_000_000),
        batch=st.integers(1, 100_000),
        cap=st.integers(1, 500),
    )
    @settings(max_examples=100, deadline=None)
    def test_partition_cap_always_respected(self, lo, span, rows, batch, cap):
        plan = plan_jdbc_partitions(
            "k", lo, lo + span, rows, batch_size=batch, max_partitions=cap
        )
        assert plan.num_partitions <= cap + 1
