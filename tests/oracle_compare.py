"""Local replica of the driver's correctness gate.

Runs each registered query on Spark and its oracle SQL on DuckDB over
the same parquet files, then compares row count, schema shape, and an
order-insensitive value hash with columns sorted by name — the same
contract the driver applies at sf0.01.

It is the one verification runner: the 10x/100x sweeps run it over
a scaled corpus (tools/scale_corpus.py) and the full-registry
partition-invariance check is two runs at different shuffle widths.
Every query has an exact oracle (test_every_query_has_an_oracle), so
"equal to the oracle at 7 and at 29 partitions" implies "equal at 7
and 29"; each run is its own process, so no cached block or query
memo carries over from one width to the other.

Usage:
    python -m tests.oracle_compare            # all queries, sf0.001
    python -m tests.oracle_compare tpch_q1    # subset
    SF_DIR=/root/testdata/sf0.01 python -m tests.oracle_compare
    SHUFFLE_PARTITIONS=7 python -m tests.oracle_compare    # default 8
    SHUFFLE_PARTITIONS=29 python -m tests.oracle_compare

Each verdict line (``OK``/``FAIL``/``oracle-error``) is flushed as it is
printed, and the run ends with ``summary  N queries: K ok, F failed``,
which no verdict pattern matches: with stdout and stderr sent to one
file, a verdict can land after a Spark progress bar and not start its
line, so count by the summary rather than by ``grep -c '^OK'``.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

# the CLI's one-line failure detail; ROOT_CAUSE_CHARS is its bound
from bend_archiver_spark.cli import ROOT_CAUSE_CHARS, root_cause  # noqa: F401

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def duck_con(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    # Bound the oracle's memory and let it SPILL instead of ballooning:
    # DuckDB's default limit is 80% of RAM (~100 GB here), and a heavy
    # oracle (recursive CC over a 100x corpus) rides right up to it —
    # the kernel OOM-killed the whole compare harness at 103 GB anon
    # RSS twice during the 100x sweeps. 48 GB leaves room for the
    # Spark driver JVM (24 GB heap) plus executor overhead on one box.
    con.execute("SET memory_limit = '48GB'")
    con.execute("SET temp_directory = '/tmp/duckdb_oracle_spill'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # floats should be bit-identical by construction; repr keeps
        # full precision so any drift is caught, not hidden
        return repr(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalars
        return _norm_cell(v.item())
    return v


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_norm_cell(v) for v in row))
    out.sort(key=repr)
    return out


def compare_frames(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> dict:
    res = {
        "rows_spark": len(spark_pdf),
        "rows_duck": len(duck_pdf),
        "cols_spark": sorted(spark_pdf.columns),
        "cols_duck": sorted(duck_pdf.columns),
    }
    res["rows_match"] = res["rows_spark"] == res["rows_duck"]
    res["cols_match"] = res["cols_spark"] == res["cols_duck"]
    if not (res["rows_match"] and res["cols_match"]):
        res["values_match"] = False
        return res
    a, b = canonical_rows(spark_pdf), canonical_rows(duck_pdf)
    res["values_match"] = a == b
    if not res["values_match"]:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
        res["first_diffs"] = diffs
    return res


def run(names: list[str] | None = None) -> bool:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bend_archiver_spark.queries import REGISTRY
    from bend_archiver_spark.session import get_spark

    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    # the compare contract COLLECTS both sides (toPandas); at the 100x
    # rehearsal a multi-million-row result trips the 1g default
    # maxResultSize inside the harness — a collection limit of the
    # comparison itself, not of any registered plan (no registered
    # query collects; they all write/aggregate). 8g is safe under the
    # 24g driver heap.
    spark = get_spark(
        "oracle_compare",
        shuffle_partitions=int(os.environ.get("SHUFFLE_PARTITIONS", "8")),
        extra_conf={"spark.driver.maxResultSize": "8g"},
    )
    con = duck_con(sf_dir)
    selected = names or list(REGISTRY)
    failed = 0
    import time as _time

    for name in selected:
        spec = REGISTRY[name]
        # oracle FIRST, Spark second: a heavy oracle spills to the
        # same disk that holds the Spark session's shuffle files, and
        # Spark only releases those when shuffle dependencies are
        # GC'd — at the 100x rehearsal the CC-family oracles hit "No
        # space left on device" purely because ~30 GB of the just-run
        # Spark pass was still resident. Running the oracle before
        # its Spark twin keeps the two disk peaks disjoint.
        duck_pdf, duck_err = None, None
        t1 = _time.monotonic()
        try:
            duck_pdf = con.execute(spec.oracle).df()
        except Exception as e:  # noqa: BLE001
            # record but DON'T skip the Spark twin: an oracle
            # failure must not be able to hide a Spark-side
            # regression behind it (the comparison still fails).
            # Surface the error NOW, flushed: the Spark twin can
            # run for many minutes, and a harness timeout in that
            # window used to discard the oracle's failure detail
            # (the final FAIL line only prints after both sides)
            print(f"oracle-error  {name}: {e}", flush=True)
            duck_err = e
        t_duck = _time.monotonic() - t1
        t0 = _time.monotonic()
        try:
            spark_pdf = spec.spark(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            # surface BOTH failures: a compound crash used to print
            # only the spark error, hiding the oracle's (found when a
            # 100x run reported a bare spark error after the oracle
            # had also died)
            duck_part = (
                f"  [duckdb ALSO failed: {root_cause(duck_err)}]" if duck_err else ""
            )
            print(
                f"FAIL  {name}: spark error: {root_cause(e)}{duck_part}",
                flush=True,
            )
            failed += 1
            continue
        finally:
            # queries persist intermediates (minhash signatures, BM25
            # postings, PQ distances); drop them between queries so a
            # 142-query sweep doesn't accumulate cached blocks and the
            # per-query timings stay independent (same policy as
            # bench.py)
            spark.catalog.clearCache()
        t_spark = _time.monotonic() - t0
        if duck_err is not None:
            print(
                f"FAIL  {name}: duckdb error: {root_cause(duck_err)}  "
                f"[spark side OK, {len(spark_pdf)} rows, {t_spark:.1f}s]",
                flush=True,
            )
            failed += 1
            continue
        res = compare_frames(spark_pdf, duck_pdf)
        status = "OK  " if (res["rows_match"] and res["cols_match"] and res["values_match"]) else "FAIL"
        if status == "FAIL":
            failed += 1
            print(f"{status}  {name}: {res}", flush=True)
        else:
            print(
                f"{status}  {name}: {res['rows_spark']} rows  "
                f"[spark {t_spark:.1f}s, duck {t_duck:.1f}s]",
                flush=True,
            )
    print(
        f"summary  {len(selected)} queries: {len(selected) - failed} ok, "
        f"{failed} failed",
        flush=True,
    )
    return failed == 0


if __name__ == "__main__":
    sys.exit(0 if run(sys.argv[1:] or None) else 1)
