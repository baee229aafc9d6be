#!/usr/bin/env python
"""Per-query isolation profiler (guide §1: measure first).

Runs named registry queries (or --headline for the bench set) in a
fresh bench-identical session, times N noop-sink iterations each, and
optionally writes ``.explain("formatted")`` to plans/<tag>/<name>_<suffix>.txt.
Each query's JSON row holds its best time, the samples, and ``compiles``:
the Janino compilations over its iterations, builds included. The first
iteration compiles the query's generated classes; later ones should
find them in the session's codegen cache.

Usage:
  python tools/profile_query.py tpch_q1 pipeline_curate_v2 --iters 3
  python tools/profile_query.py --headline --plans r13 --suffix before
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--headline", action="store_true")
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--plans", default=None, help="plans/<tag> dir to write explain output")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from bend_archiver_spark.queries import REGISTRY
    from bend_archiver_spark.session import get_spark
    from bend_archiver_spark.tables import load_table

    names = list(args.names)
    if args.headline:
        names += [n for n, s in REGISTRY.items() if s.headline and n not in names]

    spark = get_spark("profile")
    # warmup, as bench.py does
    load_table(spark, args.sf_dir, "lineitem").limit(1000).write.format(
        "noop"
    ).mode("overwrite").save()

    # in local mode the executors share the driver JVM, so this counts
    # task-side compilations too
    compile_timer = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    out: dict[str, dict] = {}
    for name in names:
        spec = REGISTRY[name]
        samples = []
        compiles = 0
        spark.sparkContext.setJobDescription(f"profile:{name}")
        for _ in range(args.iters):
            c0 = compile_timer.getCount()
            df = spec.spark(spark, args.sf_dir)
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.monotonic() - t0, 4))
            compiles += compile_timer.getCount() - c0
            spark.catalog.clearCache()
        if args.plans:
            d = os.path.join(REPO, "plans", args.plans)
            os.makedirs(d, exist_ok=True)
            df = spec.spark(spark, args.sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            with open(os.path.join(d, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
            spark.catalog.clearCache()
        out[name] = {"best": min(samples), "samples": samples, "compiles": compiles}
        print(json.dumps({name: out[name]}), flush=True)
    print("TOTAL", json.dumps({n: v["best"] for n, v in out.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
