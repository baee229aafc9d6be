#!/usr/bin/env python
"""Headline benchmark and the one timer for registry queries and the
archive-sync job. Runs at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS].

    python bench.py                # headline suite + archive_sync: one JSON line
    python bench.py NAME ...       # registry names or archive_sync: one
                                   # {name: {best, samples, compiles}} row
                                   # each, then a TOTAL line

Baseline protocol (BASELINE.md): archive_sync mirrors the reference's
production-sample shape — partitioned extract of lineitem with
batchSize=40000-equivalent partitions — and the headline queries cover
the relational/split surface.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bend_archiver_spark.config import Config
from bend_archiver_spark.job import ArchiveReport, FileArchiveJob
from bend_archiver_spark.queries import REGISTRY
from bend_archiver_spark.session import get_spark
from bend_archiver_spark.tables import load_table


def force(df) -> int:
    """Materialize a DataFrame fully without driver-side collect."""
    return df.write.format("noop").mode("overwrite").save() or 0


# Round-1 anchor (BENCH_r01.json, sf0.1, 32 cpus) — the self-relative
# baseline BASELINE.md gates against (stay within 2x). The regression
# gate below flags any headline query slower than 2x its anchor in the
# JSON line so a perf regression fails loudly in the recorded artifact
# instead of waiting for a human to diff BENCH_r0N files (the round-2/3
# minhash regression survived two rounds that way).
_R01_ANCHOR = {
    "split_key_buckets": 0.432,
    "split_time_buckets": 0.479,
    "tpch_q1": 1.354,
    "tpch_q3_topk": 0.8299,
    "tpch_q5_region_revenue": 0.5909,
    "tpch_q6_revenue": 0.2124,
    "window_top_orders_per_customer": 0.3463,
    "sessionize_events": 0.5177,
    "text_token_stats": 0.2405,
    "dedup_minhash_lsh": 3.5573,
    "ann_topk_bruteforce": 0.5517,
    "pipeline_curate_documents": 0.5253,
    "archive_sync": 3.7274,
}

# Headline queries promoted after r01 gate against their round-7
# idle-machine MEDIANS (the r01 run predates them). Same 2x factor;
# `anchored_total` stays the r01-only subset so the round-over-round
# baseline comparison is unaffected.
_R07_ANCHOR = {
    "dedup_cross_corpus_minhash": 0.5618,
    # re-anchored round 12 (was 1.0511, recorded in the round-7 bench
    # context): that number is NOT reproducible by the r07 code on the
    # current environment — a bench-protocol replica on the 548c729
    # checkout measures best 2.41 / median 3.49 s idle, while the
    # current plan measures 1.2-1.4x FASTER side-by-side. Anchor = the
    # r12 idle full-suite best (after the LM single-pass + DSIR
    # histogram-totals rewrites); COVERAGE.md "Round 12 notes" has the
    # full attribution.
    "pipeline_curate_v2": 1.4526,
    "pipeline_cdc_chunks": 0.4129,
    "graph_pagerank_event_types": 0.4114,
    "graph_triangle_count": 0.1855,
    "agg_histogram_quantile": 0.4093,
    "profile_ks_drift": 0.1113,
    "verify_block_fingerprints": 0.9192,
    "agg_gini_revenue": 0.4055,
}

_GATE_ANCHOR = {**_R01_ANCHOR, **_R07_ANCHOR}
_REGRESSION_FACTOR = 2.0

# sf1 anchors (round-10 idle-machine MEDIANS against the 10x
# scale-correctness corpus, symlinked so the sf parser reads 1.0;
# BENCH_sf1_r09 had numbers but no gate). Same 2x factor, applied
# when the suite runs at sf=1.0 — a 10x-data constant-factor cliff
# now fails loudly in the artifact exactly like an sf0.1 regression.
# archive_sync is single-iteration (it writes real data), so its
# anchor carries the full run-to-run spread; the others are
# 3-iteration medians.
_SF1_R10_ANCHOR = {
    "split_key_buckets": 0.425,
    "split_time_buckets": 0.574,
    "tpch_q1": 0.888,
    "tpch_q3_topk": 0.666,
    "tpch_q5_region_revenue": 0.858,
    "tpch_q6_revenue": 0.122,
    "window_top_orders_per_customer": 0.535,
    "sessionize_events": 0.650,
    "text_token_stats": 0.907,
    "dedup_minhash_lsh": 2.843,
    "dedup_cross_corpus_minhash": 0.690,
    "ann_topk_bruteforce": 0.360,
    "pipeline_curate_documents": 1.415,
    "pipeline_curate_v2": 3.063,
    "pipeline_cdc_chunks": 0.756,
    "graph_pagerank_event_types": 0.404,
    "graph_triangle_count": 0.175,
    "agg_histogram_quantile": 0.764,
    "profile_ks_drift": 0.122,
    "verify_block_fingerprints": 0.797,
    "agg_gini_revenue": 1.026,
    "archive_sync": 5.655,
}


# sf0.1 MEDIAN anchors (round-11 idle-machine suite run — 3-iteration
# medians; archive_sync single-iteration). The r01 anchor stays the
# BASELINE ratio (it is the only number anchored to round 1's code),
# but it holds best-of-N values, and best-vs-best gating is
# noise-sensitive in both directions (the r9->r10 "drift" was machine
# state: a contended r11 run measured 12.4s anchored where the idle
# re-run gave 7.9s). This set gates median-on-median, like
# _SF1_R10_ANCHOR does at sf1; both gates apply at sf0.1.
_SF01_R11_MEDIAN_ANCHOR = {
    "split_key_buckets": 0.3217,
    "split_time_buckets": 0.4508,
    "tpch_q1": 1.1601,
    "tpch_q3_topk": 0.5903,
    "tpch_q5_region_revenue": 0.5111,
    "tpch_q6_revenue": 0.1628,
    "window_top_orders_per_customer": 0.3611,
    "sessionize_events": 0.5478,
    "text_token_stats": 0.2617,
    "dedup_minhash_lsh": 0.7452,
    "dedup_cross_corpus_minhash": 0.4321,
    "ann_topk_bruteforce": 0.3137,
    "pipeline_curate_documents": 0.3922,
    "pipeline_curate_v2": 1.9293,
    "pipeline_cdc_chunks": 0.543,
    "graph_pagerank_event_types": 0.622,
    "graph_triangle_count": 0.3452,
    "agg_histogram_quantile": 0.5407,
    "profile_ks_drift": 0.176,
    "verify_block_fingerprints": 0.9626,
    "agg_gini_revenue": 0.6513,
    "archive_sync": 2.8748,
}


def _machine_state() -> dict:
    """Self-labeling for the artifact: three rounds of verdicts burned
    tokens re-litigating contended runs (r11: 12.38 s anchored
    contended vs 7.88 s idle on the same code) because the JSON line
    carried no evidence of machine state. Loadavg is sampled at both
    ends of the run; 1-min load >~1 at start, or a large free-memory
    swing, means the numbers are NOT comparable to idle anchors."""
    state: dict = {}
    try:
        la1, la5, la15 = os.getloadavg()
        state["loadavg"] = [round(la1, 2), round(la5, 2), round(la15, 2)]
    except OSError:  # pragma: no cover
        pass
    try:
        mem: dict[str, int] = {}
        with open("/proc/meminfo") as f:
            for line in f:
                k, v = line.split(":", 1)
                if k in ("MemAvailable", "Cached", "MemFree"):
                    mem[k] = int(v.strip().split()[0]) // 1024
        state["mem_available_mb"] = mem.get("MemAvailable")
        state["page_cache_mb"] = mem.get("Cached")
    except OSError:  # pragma: no cover
        pass
    return state


def _sample_stats(samples: list[float]) -> dict[str, float]:
    """(best, median, spread) over the run's iterations. The spread
    (max - min) is what lets a round-over-round drift be attributed to
    noise vs a real change without a fresh isolated re-measure — the
    r5->r6 +10.8% drift was unattributable from single best-of-N
    numbers."""
    ordered = sorted(samples)
    n = len(ordered)
    median = (
        ordered[n // 2]
        if n % 2
        else (ordered[n // 2 - 1] + ordered[n // 2]) / 2
    )
    return {
        "best": round(ordered[0], 4),
        "median": round(median, 4),
        "spread": round(ordered[-1] - ordered[0], 4),
    }


def find_regressions(
    timings: dict[str, float],
    sf: float,
    stats: dict[str, dict[str, float]] | None = None,
) -> dict:
    """Headline queries slower than 2x their anchor. Empty dict =
    gate green. Only meaningful at an anchor's own scale: sf0.1
    gates against the r01/r07 anchors, sf1 against the r10 sf1
    anchors (the 10x scale-correctness corpus). When per-query stats
    are available the gate compares the MEDIAN — a lucky best-of-3
    must not mask a real 2x regression that two of three iterations
    show."""
    if sf == 0.1:
        # two gates: the r01/r07 anchors keep the round-1-anchored
        # baseline ratio honest, and the r11 median anchors gate
        # median-on-median (symmetric statistics on both sides)
        gate_sets = [
            ("r01_anchor", _GATE_ANCHOR),
            ("r11_median_anchor", _SF01_R11_MEDIAN_ANCHOR),
        ]
    elif sf == 1.0:
        gate_sets = [("sf1_r10_anchor", _SF1_R10_ANCHOR)]
    else:
        return {}
    gate_value = {
        name: (stats or {}).get(name, {}).get("median", sec)
        for name, sec in timings.items()
    }
    out: dict = {}
    for gate_name, anchors in gate_sets:
        for name in timings:
            if (
                name in anchors
                and gate_value[name] > _REGRESSION_FACTOR * anchors[name]
            ):
                row = out.setdefault(
                    name,
                    {
                        "sec": timings[name],
                        "median_sec": round(gate_value[name], 4),
                        "gates": {},
                    },
                )
                row["gates"][gate_name] = {
                    "anchor_sec": anchors[name],
                    "ratio": round(gate_value[name] / anchors[name], 2),
                }
    return out


def scale_of(sf_dir: str) -> float | None:
    """The scale factor an ``.../sf<N>`` corpus directory names; None
    for any other directory (e.g. a rehearsal corpus ``.../x3``),
    which no anchor set gates."""
    m = re.fullmatch(r"(?:.*/)?sf(\d+(?:\.\d+)?)/?", sf_dir)
    return float(m.group(1)) if m else None


# archive-sync pipeline (reference production shape: ~40k rows per
# partition over the split key, extract -> write -> verify)
ARCHIVE_SYNC = dict(
    source_table="lineitem",
    source_split_key="l_orderkey",
    source_where_condition="l_quantity > 0",
    batch_size=40000,
    target_format="parquet",
)


def _compilations(spark) -> int:
    """Janino compilations so far. In local mode the executors share
    the driver JVM, so this counts task-side compilations too."""
    metrics = spark._jvm.org.apache.spark.metrics.source  # noqa: SLF001
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def run_archive_sync(spark, sf_dir: str) -> tuple[float, ArchiveReport]:
    """One archive_sync run into a fresh target (a reused one already
    holds the predicate's rows, so its gate would refuse the run);
    returns (wall, report) and fails unless the archive verifies."""
    target = tempfile.mkdtemp(prefix="bench_archive_")
    shutil.rmtree(target, ignore_errors=True)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        cfg = Config(**ARCHIVE_SYNC, target_path=target)
        job = FileArchiveJob(spark, cfg, li)
        t0 = time.monotonic()
        report = job.run()
        wall = time.monotonic() - t0
    finally:
        shutil.rmtree(target, ignore_errors=True)
    if not report.verify.is_correct:
        raise RuntimeError(f"archive_sync verify mismatch: {report.verify}")
    return wall, report


def time_archive_sync(spark, sf_dir: str) -> dict:
    """One iteration: the job writes real data."""
    c0 = _compilations(spark)
    wall, _ = run_archive_sync(spark, sf_dir)
    sample = round(wall, 4)
    compiles = _compilations(spark) - c0
    return {"best": sample, "samples": [sample], "compiles": compiles}


def time_query(spark, name: str, sf_dir: str) -> dict:
    """Best-of-3 into the noop sink; ``compiles`` covers the builds too.
    Three iterations, not one: single-shot numbers at this scale are
    noise-dominated (+-1.5s observed), and sub-300ms queries ran
    0.75x-1.9x their suite numbers in fresh isolated sessions (the
    r05->r06 isolation audit) — scheduler/JIT noise a third iteration
    largely averages out of the min."""
    spec = REGISTRY[name]
    spark.sparkContext.setJobDescription(f"bench:{name}")
    samples: list[float] = []
    c0 = _compilations(spark)
    try:
        for _ in range(3):
            df = spec.spark(spark, sf_dir)
            t0 = time.monotonic()
            force(df)
            samples.append(round(time.monotonic() - t0, 4))
    finally:
        # queries persist intermediates (minhash signatures, BM25
        # postings); clear between queries so cached blocks from one
        # query never skew another's timing or accumulate across the
        # suite. Not between iterations: the anchors were measured
        # with a query's own blocks kept across its iterations.
        spark.catalog.clearCache()
    compiles = _compilations(spark) - c0
    return {"best": min(samples), "samples": samples, "compiles": compiles}


def time_one(spark, name: str, sf_dir: str) -> dict:
    if name == "archive_sync":
        return time_archive_sync(spark, sf_dir)
    return time_query(spark, name, sf_dir)


def run_suite(spark, sf_dir: str, machine_start: dict) -> dict:
    """The headline suite plus archive_sync as the one JSON result."""
    sf = scale_of(sf_dir)
    timings: dict[str, float] = {}
    stats: dict[str, dict[str, float]] = {}
    errors: dict[str, str] = {}

    # Per-query isolation: one failing query must never blind the whole
    # perf signal (rounds 2-3 had rc=1 and no numbers at all because a
    # single AnalysisException escaped) — record the error and keep
    # going; the JSON line always prints.
    names = [n for n, s in REGISTRY.items() if s.headline] + ["archive_sync"]
    for name in names:
        try:
            row = time_one(spark, name, sf_dir)
        except Exception as exc:  # noqa: BLE001 — perf harness must survive
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"ERR {name}: {errors[name]}", file=sys.stderr)
            continue
        timings[name] = row["best"]
        stats[name] = _sample_stats(row["samples"])

    total = round(sum(timings.values()), 4)
    regressions = find_regressions(timings, sf, stats)
    if regressions:
        # every flagged row carries the run's own machine evidence, so
        # a contended-run artifact indicts itself instead of burning a
        # verdict cycle (r11: 8 spurious flags at loadavg ~30)
        for row in regressions.values():
            row["machine_start"] = machine_start
    # round-over-round comparisons must use the r01-anchored subset:
    # `value` grows whenever a round promotes new queries to headline
    # status (r05 added dedup_cross_corpus_minhash, pipeline_curate_v2)
    anchored_total = round(
        sum(v for k, v in timings.items() if k in _R01_ANCHOR), 4
    )
    result = {
        "metric": "headline_suite_total",
        "value": total,
        "anchored_total": anchored_total,
        "unit": "sec",
        "queries": timings,
        # per-query (best, median, spread) over the 3 iterations —
        # spread attributes round-over-round drift to noise vs change
        "query_stats": stats,
        "sf": sf,
        # consumers MUST check this: when false, `value` sums only the
        # queries that ran, so it is NOT comparable round-over-round
        "complete": not errors,
        # non-empty => a headline query is >2x an anchor (per-query
        # `gates` names which anchor set tripped); treat like a
        # failing test, not a footnote
        "regressions": regressions,
        # machine state at start/end: numbers are only comparable to
        # the idle-machine anchors when start 1-min loadavg is ~0 —
        # check this BEFORE reading a drift as real
        "machine": {"start": machine_start, "end": _machine_state()},
    }
    if sf == 0.1:
        # both suite-level ratios, so the artifact shows the
        # round-1-anchored baseline AND the noise-symmetric median
        # comparison side by side
        result["anchored_ratio_r01"] = round(
            anchored_total / sum(_R01_ANCHOR.values()), 3
        )
        med_common = [
            k for k in _SF01_R11_MEDIAN_ANCHOR if k in stats
        ]
        if med_common:
            result["median_ratio_r11"] = round(
                sum(stats[k]["median"] for k in med_common)
                / sum(_SF01_R11_MEDIAN_ANCHOR[k] for k in med_common),
                3,
            )
    if errors:
        result["errors"] = errors
    return result


def main(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    machine_start = _machine_state()
    spark = get_spark("bench")
    # JVM/codegen warmup so the first timed query isn't charged for it
    force(load_table(spark, sf_dir, "lineitem").limit(1000))
    if names:
        best = {}
        for name in names:
            row = time_one(spark, name, sf_dir)
            best[name] = row["best"]
            print(json.dumps({name: row}), flush=True)
        print("TOTAL", json.dumps(best))
    else:
        print(json.dumps(run_suite(spark, sf_dir, machine_start)))
    try:
        spark.stop()
    except Exception:
        pass


if __name__ == "__main__":
    main(sys.argv[1:])
