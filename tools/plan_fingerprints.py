#!/usr/bin/env python
"""Recorded plan fingerprints — the mechanized re-tier ledger.

Replaces the hand-maintained ``_CHANGED_R{N}`` frozensets in
``__spark_entry__.py`` (which produced a real process bug in round 10:
three MinHash consumers whose plans changed were omitted by hand). The
rule being mechanized: **a query whose optimized Spark plan changed
must re-earn a hash-checked driver row and a fresh 100x-sweep row.**

Mechanism:
- Every registry query's OPTIMIZED logical plan (canonicalized — the
  engine's own exprId-normalized form — plus a volatile-token scrub for
  temp paths and object addresses) is hashed and recorded in
  ``PLANS.json`` with the round in which that hash last changed.
- ``--update --round N`` recomputes all fingerprints, rolls changed /
  new queries' ``round`` forward to N, and records them in the
  artifact's ``changed`` list (accumulating across reruns within the
  same round, resetting when the round advances).
- ``__spark_entry__`` derives its re-tier set from ``changed`` — the
  set is GENERATED, never hand-written.
- ``tests/test_registry.py::TestPlanFingerprints`` recomputes the live
  fingerprints and fails if any differ from PLANS.json — so a plan
  change that skipped the ledger cannot land.
- Staleness lint: queries whose plan round is newer than their newest
  green 100x-sweep row (X100_SWEEP_r*.json verdicts) are listed under
  ``x100_stale`` — the machine-checked version of the "123 queries
  carry r10 100x rows because their plans did not change" claim.

Build-time cost: constructing the DataFrames only (Catalyst analysis +
optimization; a handful of queries run driver-side sizing probes or
iterative closures during construction) — ~2-4 min at sf0.001.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS_PATH = os.path.join(REPO, "PLANS.json")
DEFAULT_SF_DIR = "/root/testdata/sf0.001"
# fanout() and its peers size partition counts to the core count
# (RoundRobinPartitioning(local[N])), so plans differ between hosts;
# the ledger is recorded and checked at this one pinned count
LEDGER_CPUS = 32

_VOLATILE = (
    (re.compile(r"plan_id=\d+"), "plan_id=x"),
    # temp dirs some archiver queries plan over
    (re.compile(r"/tmp/[\w./-]+"), "/tmp/X"),
    # JVM object identity hashes (e.g. functional interface lambdas)
    (re.compile(r"@[0-9a-f]{6,}"), "@x"),
    # FileScan nodes (inside InMemoryRelation renderings of persisted
    # subtrees) print DataFilters/Location metadata CHARACTER-truncated
    # at a budget fixed when the cached physical plan was CREATED —
    # exprId digit widths shift the cut point, so the same plan
    # truncates differently depending on session age. The metadata
    # duplicates the logical Filter/Relation nodes above it; keep only
    # the node head + column list.
    (re.compile(r"(FileScan \w+ \[[^\]]*\]).*"), r"\1"),
)

_EXPR_ID = re.compile(r"#\d+")
# lambda variables of higher-order functions (x_1 in a fresh session,
# x_400 deep into a pytest run) and common-subexpression aliases
# (_common_expr_0 vs _common_expr_9) print as <name>_<n>#id, where n
# is a SESSION-global counter — renumbered by first appearance like
# exprIds. The base name is kept, so genuinely numbered columns
# (qty_99, rev_7d) stay distinguishable from other columns; only
# their literal digits are normalized, which no plan-change class we
# care about hides behind.
_LAMBDA_VAR = re.compile(r"\b([A-Za-z_]\w*?)_(\d+)(?=#)")


def _renumber_expr_ids(p: str) -> str:
    """ExprIds and lambda-variable counters are process/session-global
    counters; renumber both by order of first appearance so the same
    plan built in any JVM — or at any point in a long session — reads
    identically, while distinct attributes (self-join sides) stay
    distinguishable."""
    lam_seen: dict[str, str] = {}

    def lam_sub(m: re.Match) -> str:
        k = m.group(0)
        if k not in lam_seen:
            lam_seen[k] = f"{m.group(1)}_l{len(lam_seen)}"
        return lam_seen[k]

    p = _LAMBDA_VAR.sub(lam_sub, p)
    seen: dict[str, str] = {}

    def sub(m: re.Match) -> str:
        k = m.group(0)
        if k not in seen:
            seen[k] = f"#e{len(seen)}"
        return seen[k]

    return _EXPR_ID.sub(sub, p)


def plan_text(df) -> str:
    """The normalized optimized-plan text that gets hashed.

    Deliberately NOT the engine's ``canonicalized()`` form: the
    canonicalizer reorders commutative operand lists
    (``multicommutativeop``, ``least``/``greatest``) by child hashCode,
    which is NOT stable across JVM processes — measured flipping
    `least(100, x)` <-> `least(x, 100)` between two fresh runs on
    identical code, which would re-tier untouched queries every
    regeneration. The plain optimized plan preserves the optimizer's
    deterministic output order; exprId churn (the thing canonicalized()
    exists to remove) is handled by the first-appearance renumbering."""
    spark = df.sparkSession
    # scan-node metadata (DataFilters/Location) renders through a
    # fixed CHARACTER budget (spark.sql.maxMetadataStringLength=100),
    # and exprId digit WIDTHS shift the truncation point — a plan
    # printed early in a session truncates at a different spot than
    # the same plan printed after the id counter grows. Lift the
    # budget while rendering so nothing truncates.
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        p = df._jdf.queryExecution().optimizedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    for rx, sub in _VOLATILE:
        p = rx.sub(sub, p)
    return _renumber_expr_ids(p)


def plan_fingerprint(df) -> str:
    """sha256 (truncated) of :func:`plan_text`."""
    return hashlib.sha256(plan_text(df).encode()).hexdigest()[:16]


def fingerprint_all(spark, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, str]:
    from bend_archiver_spark.queries import REGISTRY

    out: dict[str, str] = {}
    for name, spec in REGISTRY.items():
        try:
            df = spec.spark(spark, sf_dir)
            out[name] = plan_fingerprint(df)
        finally:
            # sizing probes persist intermediates during construction
            spark.catalog.clearCache()
    return out


def fingerprint_all_pinned(sf_dir: str = DEFAULT_SF_DIR) -> dict[str, str]:
    """:func:`fingerprint_all` in a fresh process on
    ``local[LEDGER_CPUS]``: the same plans on any host."""
    code = (
        "import json\n"
        "from bend_archiver_spark.session import get_spark\n"
        "from tools.plan_fingerprints import fingerprint_all\n"
        "spark = get_spark('plan_fingerprints', shuffle_partitions=8)\n"
        f"print('FINGERPRINTS', json.dumps(fingerprint_all(spark, {sf_dir!r})))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_CPUS": str(LEDGER_CPUS)},
        capture_output=True,
        text=True,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("FINGERPRINTS "):
            return json.loads(line.split(" ", 1)[1])
    raise RuntimeError(f"fingerprinting failed:\n{proc.stderr[-2000:]}")


def load_ledger() -> dict:
    if not os.path.exists(PLANS_PATH):
        return {"round": 0, "changed": [], "x100_stale": [], "queries": {}}
    with open(PLANS_PATH) as f:
        return json.load(f)


def newest_green_x100_round() -> dict[str, int]:
    """Per query: the newest sweep round with an OK verdict, scanned
    from X100_SWEEP_r*.json artifacts. ``OK-substitute`` counts — it
    is a full independent recomputation with the same compare contract
    (tools/x100_sweep.py X100_SUBSTITUTES), recorded distinctly only
    so the artifact shows WHICH verifier ran."""
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "X100_SWEEP_r*.json")):
        m = re.search(r"r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            families = json.load(f)
        for fam in families.values():
            for q, verdict in fam.get("verdicts", {}).items():
                if verdict in ("OK", "OK-substitute") and rnd > newest.get(q, 0):
                    newest[q] = rnd
    return newest


def seed(baseline_round: int, sf_dir: str) -> dict:
    """Record the CURRENT code's fingerprints as the pre-existing
    baseline (round = ``baseline_round``, changed = []). Used once, on
    the last committed round's code, to initialize the ledger without
    declaring the whole registry 'changed'."""
    fresh = fingerprint_all_pinned(sf_dir)
    ledger = {
        "round": baseline_round,
        "changed": [],
        "x100_stale": [],
        "queries": {
            name: {"hash": h, "round": baseline_round}
            for name, h in sorted(fresh.items())
        },
    }
    with open(PLANS_PATH, "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)
        f.write("\n")
    return ledger


def update(
    current_round: int, sf_dir: str, force_changed: set[str] | None = None
) -> dict:
    """``force_changed`` covers the ledger's one known blind spot:
    queries whose returned plan is a checkpoint barrier (the iterative
    CC family materializes through localCheckpoint, so the fingerprint
    sees only a LogicalRDD scan and cannot observe upstream operator
    changes). When an operator feeding such a query changes, name the
    query here explicitly — the flag exists so the blindness is an
    explicit declaration in the round's command, never silence."""
    fresh = fingerprint_all_pinned(sf_dir)

    # a typo'd force-changed name would previously be silently dropped
    # by the `changed &= set(fresh)` prune below — no error, no re-tier,
    # defeating the "explicit declaration, never silence" contract this
    # flag exists for (the ledger's one acknowledged blind spot is
    # checkpoint-opaque CC plans, where ONLY this flag re-tiers)
    unknown = (force_changed or set()) - set(fresh)
    if unknown:
        raise ValueError(
            f"--force-changed names not in the live registry: "
            f"{sorted(unknown)}"
        )

    ledger = load_ledger()
    old = ledger.get("queries", {})
    prev_changed = (
        set(ledger.get("changed", []))
        if ledger.get("round") == current_round
        else set()
    )
    changed = set(prev_changed) | (force_changed or set())
    for name in force_changed or ():
        if name in old:
            old = {**old, name: {**old[name], "hash": "<forced>"}}
    queries: dict[str, dict] = {}
    for name, h in sorted(fresh.items()):
        prev = old.get(name)
        if prev is None or prev["hash"] != h:
            changed.add(name)
            queries[name] = {"hash": h, "round": current_round}
        else:
            queries[name] = prev
    # dropped queries vanish from the ledger (and from `changed`)
    changed &= set(fresh)

    x100 = newest_green_x100_round()
    stale = sorted(
        q for q, ent in queries.items() if ent["round"] > x100.get(q, 0)
    )
    ledger = {
        "round": current_round,
        "changed": sorted(changed),
        "x100_stale": stale,
        "queries": queries,
    }
    with open(PLANS_PATH, "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)
        f.write("\n")
    return ledger


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--update", action="store_true")
    ap.add_argument("--seed", action="store_true")
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument(
        "--force-changed",
        default=None,
        help="comma-separated query names to re-tier even though "
        "their fingerprints are checkpoint-opaque (see update())",
    )
    args = ap.parse_args()
    if args.seed:
        ledger = seed(args.round, args.sf_dir)
    elif args.update:
        ledger = update(
            args.round,
            args.sf_dir,
            force_changed=set(args.force_changed.split(","))
            if args.force_changed
            else None,
        )
    else:
        ap.error("pass --update or --seed")
    print(
        json.dumps(
            {
                "round": ledger["round"],
                "n_queries": len(ledger["queries"]),
                "changed": ledger["changed"],
                "x100_stale_count": len(ledger["x100_stale"]),
            }
        )
    )


if __name__ == "__main__":
    main()
