#!/usr/bin/env python
"""Measured scale rehearsal: do the five operators that claim
linear(ish) scaling actually scale, beyond sf0.1?

Times each scale-claiming query on the 1x (sf0.1) tree and on the
scaled corpora of tools/scale_corpus.py (the same 10-table replica
corpus the 10x/100x correctness sweeps check), with `python bench.py
NAME` in a FRESH subprocess per (query, scale) point (bench's
protocol: best-of-3 for queries, one run for archive_sync), and
prints a JSON scaling table — the measurement SCALE.md's "corpus
touched once" / m^1.5-wedge claims were missing (they were argued
from plan shape only through round 5). Each replica is a disjoint
isomorphic copy, so the measured factor is attributable to the
engine, not to changed data shape.

Usage:
    python tools/scale_rehearsal.py            # full 1x/3x/10x table
    python tools/scale_rehearsal.py --scales 1,10 --queries graph_triangle_count
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.scale_corpus import SF01, corpus_dir  # noqa: E402

QUERIES = [
    "graph_triangle_count",
    "pipeline_curate_v2",
    "pipeline_cdc_chunks",
    "dedup_cross_corpus_minhash",
    "agg_kmv_distinct_sketch",
    "archive_sync",
    # round 9: the two most production-shaped curation DAGs (quality
    # gate -> banded near-dup -> keep/drop funnel; near-dup components
    # -> component-atomic train/val/test split)
    "pipeline_curate_near_dedup",
    "pipeline_leakage_safe_split",
]

# archive_sync at an arbitrary corpus (the 100x row): bench.py's job,
# run ONCE (60M rows write ~2 GB), with
#  * the batch and partition count ASSERTED against the planner's
#    plan for the probed key range (plan_jdbc_partitions — the one
#    split-sizing policy the job itself uses; the 100x key range is
#    ~16x sparser than the rows, so the x5 widening branch fires) —
#    so a silent cap hit or a degenerate single-partition plan fails
#    loudly instead of shipping a wrong-shaped rehearsal row;
#  * spill + peak execution memory read from the UI REST API
#    (per-stage memoryBytesSpilled / diskBytesSpilled /
#    peakExecutionMemory), the numbers SCALE.md's "spills, doesn't
#    OOM" claim was missing at this scale.
_ARCHIVE_AT_SCALE = """
import json, sys, urllib.request
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from bench import ARCHIVE_SYNC, run_archive_sync
from bend_archiver_spark.planner import plan_jdbc_partitions
from bend_archiver_spark.session import get_spark
from bend_archiver_spark.tables import load_table
# sessions default to spark.ui.enabled=false; the REST metrics
# endpoint IS the UI server, so turn it on for this one-shot process
spark = get_spark(
    "rehearsal_archive", extra_conf={{"spark.ui.enabled": "true"}}
)
key = ARCHIVE_SYNC["source_split_key"]
row = load_table(spark, {sf_dir!r}, "lineitem").filter(
    ARCHIVE_SYNC["source_where_condition"]).agg(
    F.min(key).alias("mn"), F.max(key).alias("mx"),
    F.count(F.lit(1)).alias("cnt")).first()
mn, mx, cnt = int(row["mn"]), int(row["mx"]), int(row["cnt"])
plan = plan_jdbc_partitions(key, mn, mx, cnt, ARCHIVE_SYNC["batch_size"])
wall, report = run_archive_sync(spark, {sf_dir!r})
assert report.num_partitions == plan.num_partitions, (
    report.num_partitions, plan.num_partitions)
assert report.batch_size == plan.batch_size, (
    report.batch_size, plan.batch_size)
ui = spark.sparkContext.uiWebUrl
spill_mem = spill_disk = peak = 0
if ui:
    apps = json.load(urllib.request.urlopen(f"{{ui}}/api/v1/applications"))
    app_id = apps[0]["id"]
    stages = json.load(urllib.request.urlopen(
        f"{{ui}}/api/v1/applications/{{app_id}}/stages?status=complete"))
    spill_mem = sum(s.get("memoryBytesSpilled", 0) for s in stages)
    spill_disk = sum(s.get("diskBytesSpilled", 0) for s in stages)
    peak = max((s.get("peakExecutionMemory", 0) for s in stages), default=0)
print("ARCHIVE_AT_SCALE", json.dumps({{
    "rows": cnt, "key_range": mx - mn + 1, "batch_size": plan.batch_size,
    "num_partitions": report.num_partitions,
    "expected_partitions": plan.num_partitions,
    "wall_sec": round(wall, 1),
    "memory_spill_bytes": spill_mem, "disk_spill_bytes": spill_disk,
    "peak_execution_memory_bytes": peak,
}}))
spark.stop()
"""


# Streaming rehearsal at an arbitrary corpus (the 100x row): the
# availableNow incremental archive drains the corpus's lineitem as
# paced micro-batches (maxFilesPerTrigger) through an idempotent
# foreachBatch writer, with a REAL process kill mid-run — attempt 1
# injects a failure AFTER batch 1's write but BEFORE its checkpoint
# commit (the worst crash point) and the whole JVM exits; attempt 2
# is a fresh process on the same checkpoint that must replay exactly
# the uncommitted batch id and drain the rest. The parent then
# asserts counts AND order-insensitive content fingerprints
# (verify.content_fingerprint) between source and target — the
# at-scale twin of tests/test_streaming.py::TestFailureInjection,
# which proves the same contract at 300 rows. Reference analog: the
# paged time-split loop + per-run verification, worker/worker.go:
# 176-228,244-259.
_STREAM_ATTEMPT = """
import json, os, sys, time
sys.path.insert(0, {repo!r})
from bend_archiver_spark.session import get_spark
from bend_archiver_spark.streaming.archive import incremental_archive
from bend_archiver_spark.verify import content_fingerprint
spark = get_spark("stream_rehearsal")
src, tgt, ckpt, logd = {src!r}, {tgt!r}, {ckpt!r}, {logd!r}
inject = {inject!r}
attempt = "a1" if inject else "a2"
os.makedirs(logd, exist_ok=True)
schema = spark.read.parquet(src).schema

def write_batch(df, batch_id):
    df.write.mode("overwrite").parquet(f"{{tgt}}/batch={{batch_id}}")
    with open(f"{{logd}}/{{attempt}}_{{batch_id}}_{{time.time_ns()}}", "w"):
        pass
    if inject and batch_id >= 1:
        raise RuntimeError("injected mid-batch failure at scale")

t0 = time.monotonic()
q = incremental_archive(
    spark, src, tgt, schema, ckpt, foreach_batch=write_batch,
    reader_options={{"maxFilesPerTrigger": "2"}},
)
try:
    q.awaitTermination()
except Exception as exc:
    ok = inject and "injected" in str(exc)
    print("STREAM_FAIL", "expected" if ok else f"UNEXPECTED: {{exc}}")
    spark.stop()
    sys.exit(0 if ok else 1)
wall = time.monotonic() - t0
src_df = spark.read.parquet(src)
cols = src_df.columns
tgt_df = spark.read.parquet(tgt).select(*cols)
print("STREAM_RESULT", json.dumps({{
    "rows_source": src_df.count(),
    "rows_target": tgt_df.count(),
    "fp_source": content_fingerprint(src_df.select(*cols)),
    "fp_target": content_fingerprint(tgt_df),
    "resume_wall_sec": round(wall, 1),
}}))
spark.stop()
"""


def streaming_at_scale(sf_dir: str, timeout: int = 3600) -> dict:
    """Kill/restart exactly-once rehearsal of the incremental archive
    over *sf_dir*'s lineitem (see _STREAM_ATTEMPT)."""
    import glob
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="stream_rehearsal_")
    src = f"{work}/src"
    tgt, ckpt, logd = f"{work}/tgt", f"{work}/ckpt", f"{work}/log"
    try:
        # land the corpus as an 8-file backlog (the "files arriving"
        # production shape; 2 files per trigger -> 4 micro-batches)
        prep = (
            "import sys; sys.path.insert(0, {repo!r})\n"
            "from bend_archiver_spark.session import get_spark\n"
            "spark = get_spark('stream_prep')\n"
            "spark.read.parquet({lineitem!r}).repartition(8)"
            ".write.parquet({src!r})\n"
            "spark.stop()\n"
        ).format(
            repo=REPO, lineitem=f"{sf_dir}/lineitem.parquet", src=src
        )
        subprocess.run(
            [sys.executable, "-c", prep],
            check=True,
            capture_output=True,
            timeout=timeout,
        )
        walls = {}
        for inject in (True, False):
            t0 = time.monotonic()
            proc = subprocess.run(
                [
                    sys.executable,
                    "-c",
                    _STREAM_ATTEMPT.format(
                        repo=REPO, src=src, tgt=tgt, ckpt=ckpt,
                        logd=logd, inject=inject,
                    ),
                ],
                capture_output=True,
                text=True,
                timeout=timeout,
            )
            walls["a1" if inject else "a2"] = round(
                time.monotonic() - t0, 1
            )
            if proc.returncode != 0:
                raise RuntimeError(
                    f"attempt inject={inject} rc={proc.returncode}:\n"
                    f"{proc.stdout[-1000:]}\n{proc.stderr[-2000:]}"
                )
            if not inject:
                line = next(
                    ln
                    for ln in proc.stdout.splitlines()
                    if ln.startswith("STREAM_RESULT ")
                )
                res = json.loads(line.split(" ", 1)[1])
        # the invocation log is the replay proof: attempt 1 must have
        # died on batch 1 (after batch 0 committed), attempt 2 must
        # have REPLAYED that same uncommitted batch id, and together
        # they drained all 4 paced batches exactly once per commit
        a1 = sorted(
            int(os.path.basename(p).split("_")[1])
            for p in glob.glob(f"{logd}/a1_*")
        )
        a2 = sorted(
            int(os.path.basename(p).split("_")[1])
            for p in glob.glob(f"{logd}/a2_*")
        )
        assert a1 == [0, 1], a1
        assert a2 and a2[0] == 1, (a1, a2)
        assert sorted(set(a1) | set(a2)) == [0, 1, 2, 3], (a1, a2)
        assert res["rows_source"] == res["rows_target"], res
        assert res["fp_source"] == res["fp_target"], res
        return {
            "rows": res["rows_source"],
            "batches_attempt1": a1,
            "batches_attempt2_replayed_then_drained": a2,
            "wall_sec_to_crash": walls["a1"],
            "wall_sec_resume": walls["a2"],
            "resume_wall_sec": res["resume_wall_sec"],
            "counts_match": True,
            "fingerprints_match": True,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def archive_at_scale(sf_dir: str, timeout: int = 3600) -> dict:
    """Run the archive job once against *sf_dir*'s lineitem with the
    partition-count assertion + spill/peak-memory capture."""
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            _ARCHIVE_AT_SCALE.format(repo=REPO, sf_dir=sf_dir),
        ],
        capture_output=True,
        text=True,
        timeout=timeout,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("ARCHIVE_AT_SCALE "):
            return json.loads(line.split(" ", 1)[1])
    raise RuntimeError(
        f"archive_at_scale @ {sf_dir} failed:\n{proc.stderr[-2000:]}"
    )


def bench_row(name: str, sf_dir: str) -> dict:
    """``python bench.py NAME`` at *sf_dir* in a fresh subprocess
    (isolation: no shared JIT/cache state between scale points);
    returns its {best, samples, compiles} row."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), name],
        env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
        capture_output=True,
        text=True,
        timeout=1800,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("{"):
            return json.loads(line)[name]
    raise RuntimeError(
        f"{name} @ {sf_dir} failed:\n{proc.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,3,10")
    ap.add_argument("--queries", default=",".join(QUERIES))
    ap.add_argument(
        "--archive-at",
        default=None,
        metavar="SF_DIR",
        help="run ONLY the asserted archive job against this corpus "
        "(e.g. /tmp/scale_correctness/x100) and print its JSON row",
    )
    ap.add_argument(
        "--streaming-at",
        default=None,
        metavar="SF_DIR",
        help="run ONLY the kill/restart exactly-once streaming "
        "rehearsal against this corpus's lineitem and print its "
        "JSON row",
    )
    args = ap.parse_args()
    if args.streaming_at:
        print(json.dumps(streaming_at_scale(args.streaming_at)))
        return
    if args.archive_at:
        print(json.dumps(archive_at_scale(args.archive_at)))
        return
    scales = [int(s) for s in args.scales.split(",")]
    queries = args.queries.split(",")

    dirs = {s: SF01 if s == 1 else corpus_dir(s) for s in scales}

    table = {}
    for name in queries:
        table[name] = {}
        for s in scales:
            sec = bench_row(name, dirs[s])["best"]
            table[name][f"x{s}"] = round(sec, 3)
            print(f"{name} x{s}: {sec:.3f}s", file=sys.stderr)
        base = table[name].get("x1")
        if base:
            for s in scales[1:]:
                table[name][f"factor_x{s}"] = round(
                    table[name][f"x{s}"] / base, 2
                )
    print(json.dumps({"scales": scales, "timings": table}))


if __name__ == "__main__":
    main()
