#!/usr/bin/env python
"""Measured scale rehearsal: do the five operators that claim
linear(ish) scaling actually scale, beyond sf0.1?

Builds 3x and 10x variants of the sf0.1 `documents` and `lineitem`
tables in /tmp (the /root/testdata tree is read-only and tops out at
sf0.1), times each scale-claiming query with `python bench.py NAME`
in a FRESH subprocess per (query, scale) point (bench's protocol:
best-of-3 for queries, one run for archive_sync), and prints a JSON
scaling table —
the measurement SCALE.md's "corpus touched once" / m^1.5-wedge claims
were missing (they were argued from plan shape only through round 5).

Corpus construction (replica r = 0..n-1, r=0 the original):

- `documents`: doc_id += r * 1_000_000; every word NOT in the Gopher
  stopword list is caesar-shifted by r. This preserves each replica's
  internal statistics (word counts, stopword ratio, alpha ratio, doc
  lengths — so funnel-stage selectivity is identical per replica) and
  each replica's internal near-dup structure (one transform applied
  uniformly), while cross-replica 5-gram/shingle collisions stay
  negligible — replicating text VERBATIM would put every surviving
  doc in a 10-member LSH bucket cluster and blow candidate pairs up
  QUADRATICALLY, which no real 10x corpus does. The benchmark side of
  the decontamination query (doc_id < 10) exists only in replica 0,
  so the bench stays fixed while the corpus scales — the production
  shape.
- `lineitem`: l_orderkey += r * 10_000_000, l_partkey += r * 1_000_000
  — each replica is a DISJOINT isomorphic copy of the part
  co-occurrence graph, so edges, wedges, and triangles all scale
  exactly linearly and the measured factor is attributable to the
  engine, not to changed graph topology.

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
SF01 = "/root/testdata/sf0.1"
WORK = "/tmp/scale_rehearsal"

QUERIES = [
    "graph_triangle_count",
    "pipeline_curate_v2",
    "pipeline_cdc_chunks",
    "dedup_cross_corpus_minhash",
    "agg_kmv_distinct_sketch",
    "archive_sync",
    # round 9: the two most production-shaped curation DAGs (quality
    # gate -> banded near-dup -> keep/drop funnel; near-dup components
    # -> component-atomic train/val/test split) — documents-only, so
    # the 4-table rehearsal corpus covers them
    "pipeline_curate_near_dedup",
    "pipeline_leakage_safe_split",
]

# must match queries/text.py _STOPWORDS — the funnel's stopword rule
STOPWORDS = frozenset(("the", "a", "of", "and", "to", "in"))


# Multiplicative units mod 26 — UNITS[0] = 1 so every replica r < 26
# reduces to the plain caesar shift (corpora at scale <= 26 stay
# byte-identical to what rounds 7-9 measured and hash-proved).
_AFFINE_UNITS = (1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)


def _caesar(word: str, r: int) -> str:
    """Per-replica letter bijection: affine cipher x -> a*x + b mod 26
    with a = UNITS[r // 26], b = r % 26. A pure caesar shift wraps at
    r = 26, so past 26 replicas texts clone verbatim across replicas
    and near-dup density grows QUADRATICALLY in shift-class size (the
    100x-rehearsal artifact). Distinct (a, b) pairs give distinct
    bijections for every r < 312, each preserving intra-replica edit
    distances and shingle structure exactly — same reasons the shift
    was chosen, now without the wrap."""
    if word.lower() in STOPWORDS:
        return word
    # the (a, b) family is bijective only for r < 26*12 = 312; past
    # that the `% len(_AFFINE_UNITS)` would silently re-clone text
    # across replicas — the exact artifact this cipher replaced at
    # r = 26. Fail loudly instead of wrapping.
    assert r < 26 * len(_AFFINE_UNITS), (
        f"replica {r} exceeds the 312 distinct affine bijections; "
        "extend _AFFINE_UNITS (e.g. a second alphabet transform) "
        "before building corpora past 312x"
    )
    a = _AFFINE_UNITS[(r // 26) % len(_AFFINE_UNITS)]
    b = r % 26
    out = []
    for ch in word:
        if "a" <= ch <= "z":
            out.append(chr((a * (ord(ch) - 97) + b) % 26 + 97))
        elif "A" <= ch <= "Z":
            out.append(chr((a * (ord(ch) - 65) + b) % 26 + 65))
        else:
            out.append(ch)
    return "".join(out)


def write_scaled_documents(n_replicas: int, out_dir: str) -> None:
    """Write the n-replica documents.parquet: doc_id offset by 1M per
    replica, non-stopword words caesar-shifted by the replica index.

    SHARED between the perf rehearsal and tools/scale_correctness.py —
    the two 10x corpora must have byte-identical text statistics, so
    there is exactly one copy of this transform."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text, lang, source, n_chars "
        f"FROM '{SF01}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    # stream one replica per row group instead of materializing every
    # replica in driver lists — memory stays bounded at one replica
    # regardless of the scale factor
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    with pq.ParquetWriter(f"{out_dir}/documents.parquet", schema) as w:
        for r in range(n_replicas):
            w.write_table(
                pa.table(
                    {
                        "doc_id": pa.array(
                            [d[0] + r * 1_000_000 for d in docs], pa.int64()
                        ),
                        "text": pa.array(
                            [
                                d[1]
                                if r == 0
                                else " ".join(
                                    _caesar(wd, r) for wd in d[1].split(" ")
                                )
                                for d in docs
                            ]
                        ),
                        "lang": pa.array([d[2] for d in docs]),
                        "source": pa.array([d[3] for d in docs]),
                        "n_chars": pa.array(
                            [d[4] for d in docs], pa.int64()
                        ),
                    },
                    schema=schema,
                )
            )
    con.close()


def build_corpus(n_replicas: int, out_dir: str) -> None:
    """Write scaled documents.parquet + lineitem.parquet to out_dir."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()

    write_scaled_documents(n_replicas, out_dir)

    con.execute(
        f"""
        COPY (
          SELECT li.* REPLACE (
                   l_orderkey + r * 10_000_000 AS l_orderkey,
                   l_partkey + r * 1_000_000 AS l_partkey)
          FROM '{SF01}/lineitem.parquet' li, range({n_replicas}) t(r)
        ) TO '{out_dir}/lineitem.parquet' (FORMAT parquet)
        """
    )
    # orders/customer: disjoint key-offset replicas (the per-customer
    # rollups and segment Gini then scale linearly by construction)
    con.execute(
        f"""
        COPY (
          SELECT o.* REPLACE (
                   o_orderkey + r * 10_000_000 AS o_orderkey,
                   o_custkey + r * 1_000_000 AS o_custkey)
          FROM '{SF01}/orders.parquet' o, range({n_replicas}) t(r)
        ) TO '{out_dir}/orders.parquet' (FORMAT parquet)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT c.* REPLACE (c_custkey + r * 1_000_000 AS c_custkey)
          FROM '{SF01}/customer.parquet' c, range({n_replicas}) t(r)
        ) TO '{out_dir}/customer.parquet' (FORMAT parquet)
        """
    )


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

    dirs = {}
    for s in scales:
        if s == 1:
            dirs[s] = SF01
            continue
        d = f"{WORK}/x{s}"
        needed = ["documents", "lineitem", "orders", "customer"]
        if not all(
            os.path.exists(f"{d}/{t}.parquet") for t in needed
        ):
            print(f"building {s}x corpus at {d} ...", file=sys.stderr)
            build_corpus(s, d)
        dirs[s] = d

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
