"""Bench regression gate — pure-Python checks, no SparkSession.

The round-2/3 minhash regression survived two rounds because the only
perf gate was a human diffing result files; bench.py now flags any
headline query whose median is >2x its anchor in the emitted JSON
line. One table, ``bench.ANCHORS``, keyed by (CPU count, scale), holds
the anchors; a run gates only against its own key's entry. These tests
pin the gate's semantics and tie each recorded entry to its committed
result lines.
"""

import json
import os
import statistics
from types import SimpleNamespace

import pytest

import bench
from bend_archiver_spark.queries import REGISTRY

HEADLINE = {n for n, s in REGISTRY.items() if s.headline}
KEYS = sorted(bench.ANCHORS)


def _key_id(key) -> str:
    return f"cpus{key[0]}-sf{key[1]:g}"


# the hosts recorded from committed result lines: three plain
# `python bench.py` runs per scale, one JSON line each
RECORDED = {(4, 0.1): "BENCH_cpus4_sf0.1.jsonl", (4, 1.0): "BENCH_cpus4_sf1.jsonl"}


def _recorded_runs(key) -> list[dict]:
    with open(os.path.join(bench.REPO, RECORDED[key])) as f:
        return [json.loads(line) for line in f if line.strip()]


@pytest.mark.parametrize("key", KEYS, ids=_key_id)
def test_gate_green_on_the_entrys_own_values(key):
    assert bench.find_regressions(dict(bench.ANCHORS[key]), *key) == {}


@pytest.mark.parametrize("key", KEYS, ids=_key_id)
def test_every_entry_covers_exactly_the_headliners(key):
    """An entry missing a headliner lets it regress silently; one
    naming a de-registered query silently shrinks the gate."""
    assert set(bench.ANCHORS[key]) == HEADLINE | {"archive_sync"}


@pytest.mark.parametrize("key", KEYS, ids=_key_id)
@pytest.mark.parametrize("name", ["tpch_q1", "pipeline_curate_v2"])
def test_gate_flags_a_tripled_query(key, name):
    timings = dict(bench.ANCHORS[key])
    timings[name] = bench.ANCHORS[key][name] * 3
    out = bench.find_regressions(timings, *key)
    assert set(out) == {name}
    assert out[name]["anchor_sec"] == bench.ANCHORS[key][name]
    assert out[name]["ratio"] == 3.0


def test_regressing_to_r01_speed_is_flagged():
    """The engine got ~4.8x faster on dedup_minhash_lsh since round 1;
    sliding back to round-1 speed IS a regression."""
    with open(bench.R01_RESULT) as f:
        r01 = json.load(f)["parsed"]["queries"]
    timings = dict(bench.ANCHORS[(32, 0.1)])
    timings["dedup_minhash_lsh"] = r01["dedup_minhash_lsh"]
    assert set(bench.find_regressions(timings, 32, 0.1)) == {
        "dedup_minhash_lsh"
    }


def test_every_r01_query_is_still_a_headliner():
    """anchored_total sums the round-1 queries; one de-registered would
    silently drop out of the baseline ratio."""
    with open(bench.R01_RESULT) as f:
        r01 = json.load(f)["parsed"]["queries"]
    assert set(r01) - {"archive_sync"} <= HEADLINE


def test_sample_stats_median_and_spread():
    s = bench._sample_stats([3.0, 1.0, 2.0])
    assert s == {"best": 1.0, "median": 2.0, "spread": 2.0}
    s1 = bench._sample_stats([0.5])
    assert s1 == {"best": 0.5, "median": 0.5, "spread": 0.0}


@pytest.mark.parametrize("key", KEYS, ids=_key_id)
def test_gate_uses_median_not_best(key):
    """A lucky best under 2x must not mask a median regression — and a
    noisy single worst iteration must not trip the gate either."""
    timings = dict(bench.ANCHORS[key])
    anchor = timings["tpch_q1"]
    # best fine, median 3x: flagged
    stats = {"tpch_q1": bench._sample_stats([anchor, anchor * 3, anchor * 3])}
    out = bench.find_regressions(timings, *key, stats)
    assert set(out) == {"tpch_q1"}
    assert out["tpch_q1"]["ratio"] == 3.0
    # one bad iteration, median fine: green
    stats = {"tpch_q1": bench._sample_stats([anchor, anchor, anchor * 5])}
    assert bench.find_regressions(timings, *key, stats) == {}


def test_gate_ignores_unanchored_offscale_and_unknown_hosts():
    slow = {n: v * 10 for n, v in bench.ANCHORS[(32, 0.1)].items()}
    # a query with no anchor is never flagged
    assert bench.find_regressions({"brand_new_query": 99.0}, 32, 0.1) == {}
    # another scale, or a host with no entry: incomparable wall times
    assert bench.find_regressions(slow, 32, 0.01) == {}
    assert bench.find_regressions(slow, 8, 0.1) == {}
    assert bench.find_regressions(slow, None, 0.1) == {}


def test_sf1_anchors_do_not_gate_sf01():
    """An sf0.1 run is compared only against its own scale's entry:
    10x the sf1 anchors at sf0.1 flags against the sf0.1 values."""
    slow_sf01 = {n: v * 10 for n, v in bench.ANCHORS[(32, 1.0)].items()}
    out = bench.find_regressions(slow_sf01, 32, 0.1)
    assert out
    for name, row in out.items():
        assert row["anchor_sec"] == bench.ANCHORS[(32, 0.1)][name]


def test_scale_parsed_only_from_sf_directories():
    """Only an ``.../sf<N>`` directory names a scale; any other corpus
    (the rehearsal's ``.../x3``) runs ungated instead of crashing the
    bench."""
    assert bench.scale_of("/data/sf0.1") == 0.1
    assert bench.scale_of("/data/sf1/") == 1.0
    assert bench.scale_of("sf0.01") == 0.01
    assert bench.scale_of("/tmp/scale_rehearsal/x3") is None
    assert bench.scale_of("/data/sf0.1_copy") is None
    slow = {n: v * 10 for n, v in bench.ANCHORS[(32, 0.1)].items()}
    assert bench.find_regressions(slow, 32, None) == {}


@pytest.mark.parametrize("key", sorted(RECORDED), ids=_key_id)
def test_recorded_entry_is_the_median_of_its_committed_runs(key):
    """No entry is typed by hand: each is, per query, the median over
    the committed idle runs of that run's median."""
    runs = _recorded_runs(key)
    assert len(runs) == 3
    for run in runs:
        assert run["complete"] and run["sf"] == key[1]
        assert run["machine"]["cpus"] == key[0]
        assert run["machine"]["start"]["loadavg"][0] < 1
    medians = {
        name: statistics.median(r["query_stats"][name]["median"] for r in runs)
        for name in runs[0]["query_stats"]
    }
    assert medians == bench.ANCHORS[key]


@pytest.mark.parametrize("cpus", [32, 8])
def test_result_line_names_its_anchor_and_host(cpus, monkeypatch):
    """The JSON line carries the key it gated against (null when the
    table has no entry for this host), the host's CPU count and the
    local[N] the session ran on; the round-1 ratio reads BENCH_r01."""
    with open(bench.R01_RESULT) as f:
        r01 = json.load(f)["parsed"]
    # round-1 speed on its queries: ratio 1, and dedup_minhash_lsh is
    # over 2x its 32-CPU anchor (test_regressing_to_r01_speed...)
    timings = {**bench.ANCHORS[(32, 0.1)], **r01["queries"]}
    monkeypatch.setattr(bench.os, "cpu_count", lambda: cpus)
    monkeypatch.setattr(
        bench,
        "time_one",
        lambda spark, name, sf_dir: {"best": timings[name], "samples": [timings[name]]},
    )
    spark = SimpleNamespace(sparkContext=SimpleNamespace(master="local[32]"))
    line = bench.run_suite(spark, "/data/sf0.1", {"loadavg": [0.0, 0.0, 0.0]})
    assert line["machine"]["cpus"] == cpus
    assert line["machine"]["master"] == "local[32]"
    assert line["anchored_total"] == r01["value"]
    assert line["anchored_ratio_r01"] == 1.0
    if cpus == 32:
        assert line["anchor"] == {"cpus": 32, "sf": 0.1}
        assert set(line["regressions"]) == {"dedup_minhash_lsh"}
    else:
        assert line["anchor"] is None
        assert line["regressions"] == {}
