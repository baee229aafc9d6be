#!/usr/bin/env python
"""AQE skew-join rehearsal: does runtime skew splitting actually fire,
and what does it buy, on a deliberately skewed large join?

The suite's skew story has three layers: stats-elected plans (no
forced hints), AQE's ``skewJoin`` (on in session.py), and explicit
salting (``operators/skew.py``) for when one key dominates so heavily
that even split partitions bottleneck. SCALE.md measured the salted
path in round 6; this rehearsal measures the AQE path — the one that
needs no query rewrite — against the same join with splitting
disabled, and against ``salted_join``.

Workload: the 10x-scale lineitem (6M rows; tools/scale_corpus.py's
corpus, built first if missing) with a synthetic hot key — ~30% of
rows remapped to join key 0, the rest keep l_partkey — joined to the
10x part table (200k rows) and aggregated. autoBroadcastJoinThreshold is
-1: at 100 TB the dim side of a skewed fact join routinely exceeds
the broadcast limit, and a broadcast join would sidestep the very
mechanism under test.

Two scale-down knobs, both documented production-vs-rehearsal deltas:

- ``skewedPartitionThresholdInBytes`` is lowered from the 256 MB
  default to 4 MB (with 2 MB advisory splits) so the mechanism
  triggers at 6M-row scale; the FACTOR (hot > 2x median) is the same
  decision rule production uses.
- ``forceOptimizeSkewedJoin=true``: the measured query aggregates
  after the join, and OptimizeSkewedJoin otherwise declines any plan
  where splitting introduces an extra shuffle. At 100 TB the extra
  shuffle of pre-aggregated output is exactly the trade you want
  against a straggler task holding 30% of the fact table.

Each (mode) point runs in a fresh subprocess session, best-of-2.
The skew-on run additionally asserts ``skew=true`` is present in the
final adaptive plan — a rehearsal that silently measured the
unsplit join would be worse than no rehearsal.

Usage:
    python tools/skew_rehearsal.py               # all three modes
    python tools/skew_rehearsal.py --modes aqe_on,aqe_off
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUNNER = """
import sys, time
sys.path.insert(0, {repo!r})
from bend_archiver_spark.session import get_spark
from pyspark.sql import functions as F

mode = {mode!r}
conf = {{
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.enabled": "false",
}}
if mode == "aqe_on":
    conf.update({{
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }})
spark = get_spark("skew_rehearsal", shuffle_partitions=32, extra_conf=conf)

from bend_archiver_spark.tables import load_table

li = load_table(spark, {x10!r}, "lineitem")
part = load_table(spark, {x10!r}, "part")
# ~30% of rows onto one hot key (key 0 exists in part), deterministic
fact = li.select(
    F.when(
        F.abs(F.xxhash64("l_orderkey", "l_linenumber")) % 10 < 3, F.lit(0)
    ).otherwise(F.col("l_partkey")).alias("p_partkey"),
    "l_extendedprice", "l_quantity",
)

def build():
    if mode == "salted":
        from bend_archiver_spark.operators.skew import salted_join
        j = salted_join(fact, part, "p_partkey", salt_buckets=32)
    else:
        j = fact.join(part, "p_partkey")
    # per-row cast to DECIMAL before summing (the repo's dec_sum
    # pattern): l_extendedprice is a double, and a double sum is
    # order-DEPENDENT — three modes with three partitionings would
    # legitimately disagree in the last bits, making the cross-mode
    # identity check below impossible. Decimal addition is exact and
    # associative, so identical answers give identical strings.
    return j.groupBy().agg(
        F.sum(
            (F.col("l_extendedprice") * F.length("p_name"))
            .cast("decimal(38,6)")
        ).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )

best, result, plan = float("inf"), None, ""
for _ in range(2):
    df = build()
    t0 = time.monotonic()
    result = df.collect()[0]
    best = min(best, time.monotonic() - t0)
    plan = df._jdf.queryExecution().executedPlan().toString()
print("ROWS", result["n"])
print("SUM", result["s"])
print("SKEWED", "skew=true" in plan)
print("RESULT", best)
spark.stop()
"""


def run_mode(mode: str, x10: str) -> dict:
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            _RUNNER.format(repo=REPO, mode=mode, x10=x10),
        ],
        capture_output=True,
        text=True,
        timeout=1800,
    )
    out = {}
    for line in proc.stdout.splitlines():
        for key, cast in (
            ("ROWS", int),
            # exact decimal string, NOT float: the sum is a Decimal and
            # the cross-mode identity check below compares it verbatim
            ("SUM", str),
            ("SKEWED", lambda s: s == "True"),
            ("RESULT", float),
        ):
            if line.startswith(key + " "):
                out[key.lower()] = cast(line.split(" ", 1)[1])
    if "result" not in out:
        raise RuntimeError(f"{mode} failed:\n{proc.stderr[-2000:]}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--modes", default="aqe_on,aqe_off,salted")
    args = ap.parse_args()

    from tools.scale_corpus import corpus_dir

    x10 = corpus_dir(10)
    table = {}
    for mode in args.modes.split(","):
        r = run_mode(mode, x10)
        table[mode] = {
            "sec": round(r["result"], 3),
            "skew_split_fired": r["skewed"],
            "rows": r["rows"],
            "sum": r["sum"],
        }
        print(f"{mode}: {table[mode]}", file=sys.stderr)

    ok = True
    if "aqe_on" in table and not table["aqe_on"]["skew_split_fired"]:
        ok = False
    # all modes must agree on the ANSWER, not just its cardinality:
    # same row count AND the exact decimal sum string — a mode that
    # preserves join cardinality but mis-assigns dim payloads would
    # pass a rows-only check
    rows = {m: t["rows"] for m, t in table.items()}
    if len(set(rows.values())) > 1:
        ok = False
    sums = {m: t["sum"] for m, t in table.items()}
    if len(set(sums.values())) > 1:
        ok = False
    print(json.dumps({"modes": table, "ok": ok}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    sys.exit(main())
