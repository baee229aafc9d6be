"""Bench regression gate — pure-Python checks, no SparkSession.

The round-2/3 minhash regression survived two rounds because the only
perf gate was a human diffing BENCH_r0N JSON files; bench.py now flags
any headline query >2x an anchor in the emitted JSON line. Two anchor
sets gate an sf0.1 run: the r01/r07 best-of-N anchors (the
round-1-anchored baseline ratio) and the r11 idle-machine MEDIAN
anchors (median-on-median — symmetric statistics, noise-robust in
both directions). These tests pin the gate's semantics.
"""

import bench
from bend_archiver_spark.queries import REGISTRY


def test_gate_green_on_current_median_timings():
    assert (
        bench.find_regressions(dict(bench._SF01_R11_MEDIAN_ANCHOR), 0.1)
        == {}
    )


def test_regressing_to_r01_speed_trips_the_median_gate():
    """The engine got ~4.8x faster on dedup_minhash_lsh since r01;
    sliding back to r01 speed IS a regression and the median gate
    must say so even though the r01 gate (by construction) cannot."""
    timings = dict(bench._SF01_R11_MEDIAN_ANCHOR)
    timings["dedup_minhash_lsh"] = bench._R01_ANCHOR["dedup_minhash_lsh"]
    out = bench.find_regressions(timings, 0.1)
    assert "dedup_minhash_lsh" in out
    gates = out["dedup_minhash_lsh"]["gates"]
    assert "r11_median_anchor" in gates and "r01_anchor" not in gates


def test_gate_flags_doubled_query():
    timings = dict(bench._SF01_R11_MEDIAN_ANCHOR)
    timings["tpch_q1"] = bench._SF01_R11_MEDIAN_ANCHOR["tpch_q1"] * 3
    out = bench.find_regressions(timings, 0.1)
    assert set(out) == {"tpch_q1"}
    gates = out["tpch_q1"]["gates"]
    assert gates["r11_median_anchor"]["ratio"] == 3.0
    assert gates["r11_median_anchor"]["anchor_sec"] == (
        bench._SF01_R11_MEDIAN_ANCHOR["tpch_q1"]
    )
    # 3x the r11 median is also past 2x the (slower) r01 anchor here
    assert gates["r01_anchor"]["anchor_sec"] == bench._R01_ANCHOR["tpch_q1"]


def test_gate_ignores_unanchored_and_offscale():
    # queries added after r01 have no anchor — never flagged
    assert bench.find_regressions({"brand_new_query": 99.0}, 0.1) == {}
    # anchors are sf0.1 wall-clock; other scales are incomparable
    slow = {n: v * 10 for n, v in bench._R01_ANCHOR.items()}
    assert bench.find_regressions(slow, 0.01) == {}


def test_every_anchor_is_still_a_headline_query():
    """An anchor naming a de-registered query would silently shrink the
    gate's coverage."""
    headline = {n for n, s in REGISTRY.items() if s.headline}
    anchored = set(bench._R01_ANCHOR) - {"archive_sync"}  # pipeline, not a query
    assert anchored <= headline, anchored - headline


def test_sample_stats_median_and_spread():
    s = bench._sample_stats([3.0, 1.0, 2.0])
    assert s == {"best": 1.0, "median": 2.0, "spread": 2.0}
    s1 = bench._sample_stats([0.5])
    assert s1 == {"best": 0.5, "median": 0.5, "spread": 0.0}


def test_gate_uses_median_not_best():
    """A lucky best under 2x must not mask a median regression — and a
    noisy single worst iteration must not trip the gate either."""
    timings = dict(bench._SF01_R11_MEDIAN_ANCHOR)
    anchor = bench._SF01_R11_MEDIAN_ANCHOR["tpch_q1"]
    # best fine, median 3x: flagged
    stats = {"tpch_q1": bench._sample_stats([anchor, anchor * 3, anchor * 3])}
    out = bench.find_regressions(timings, 0.1, stats)
    assert set(out) == {"tpch_q1"}
    assert out["tpch_q1"]["gates"]["r11_median_anchor"]["ratio"] == 3.0
    # one bad iteration, median fine: green
    stats = {"tpch_q1": bench._sample_stats([anchor, anchor, anchor * 5])}
    assert bench.find_regressions(timings, 0.1, stats) == {}


def test_every_headline_query_is_anchored():
    """Every headline query must gate against SOME anchor (r01 or the
    r07 medians) — an unanchored headliner can regress silently."""
    headline = {n for n, s in REGISTRY.items() if s.headline}
    assert headline <= set(bench._GATE_ANCHOR)


def test_median_anchor_covers_every_headliner():
    """The median gate must cover the same suite as the r01/r07 gate."""
    assert set(bench._SF01_R11_MEDIAN_ANCHOR) == set(bench._GATE_ANCHOR)


def test_r07_anchor_gates_too():
    t = dict(bench._SF01_R11_MEDIAN_ANCHOR)
    t["pipeline_curate_v2"] = bench._R07_ANCHOR["pipeline_curate_v2"] * 3
    out = bench.find_regressions(t, 0.1)
    assert set(out) == {"pipeline_curate_v2"}
    gates = out["pipeline_curate_v2"]["gates"]
    assert gates["r01_anchor"]["ratio"] == 3.0
    assert gates["r01_anchor"]["anchor_sec"] == (
        bench._R07_ANCHOR["pipeline_curate_v2"]
    )


def test_sf1_gate_green_on_anchor_timings():
    assert bench.find_regressions(dict(bench._SF1_R10_ANCHOR), 1.0) == {}


def test_sf1_gate_flags_doubled_query():
    timings = dict(bench._SF1_R10_ANCHOR)
    timings["tpch_q1"] = bench._SF1_R10_ANCHOR["tpch_q1"] * 3
    out = bench.find_regressions(timings, 1.0)
    assert set(out) == {"tpch_q1"}
    gates = out["tpch_q1"]["gates"]
    assert gates["sf1_r10_anchor"]["anchor_sec"] == (
        bench._SF1_R10_ANCHOR["tpch_q1"]
    )


def test_sf1_anchor_covers_every_headliner():
    """The sf1 gate must cover the same suite as the sf0.1 gate —
    a headliner missing from the sf1 anchors would silently escape
    the 10x-scale regression fence."""
    assert set(bench._SF1_R10_ANCHOR) == set(bench._GATE_ANCHOR)


def test_sf1_anchors_do_not_gate_sf01():
    """An sf0.1 run must never be compared against sf1 anchors (and
    vice versa): timings at different scales are incomparable."""
    slow_sf01 = {n: v * 10 for n, v in bench._SF1_R10_ANCHOR.items()}
    out = bench.find_regressions(slow_sf01, 0.1)
    # gated against the sf0.1 anchor sets, never the sf1 one
    for info in out.values():
        assert "sf1_r10_anchor" not in info["gates"]
        assert set(info["gates"]) <= {"r01_anchor", "r11_median_anchor"}


def test_scale_parsed_only_from_sf_directories():
    """Only an ``.../sf<N>`` directory names a scale; any other corpus
    (the rehearsal's ``.../x3``) runs ungated instead of crashing the
    bench."""
    assert bench.scale_of("/data/sf0.1") == 0.1
    assert bench.scale_of("/data/sf1/") == 1.0
    assert bench.scale_of("sf0.01") == 0.01
    assert bench.scale_of("/tmp/scale_rehearsal/x3") is None
    assert bench.scale_of("/data/sf0.1_copy") is None
    slow = {n: v * 10 for n, v in bench._R01_ANCHOR.items()}
    assert bench.find_regressions(slow, None) == {}
