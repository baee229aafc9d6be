"""Expected outputs of the ``query_mix`` workload.

``oracle_values.json`` holds, for each query of the mix, the row
count and an order-insensitive digest of its DuckDB oracle's output on
the generated tables. The digest hashes the canonical rows of
``tests/oracle_compare.py`` (columns sorted by name, cells normalized,
rows sorted), so a Spark result matches exactly when the repository's
own oracle comparison would pass.

Re-record after changing the generator (``datagen.DATA_VERSION``) or
the mix::

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
VALUES = os.path.join(HERE, "oracle_values.json")
MIX_SF = 0.01
# The headline registry queries in the mix: joins (q3, q5), aggregates
# (q1, q6, histogram quantiles), a window, MinHash LSH and iterative
# graph rank, four of them leaving persisted blocks behind. The other
# headline queries are left out so that one run, a cold checked pass
# plus a timed pass in a fresh JVM, stays near half a minute.
MIX = ("agg_histogram_quantile", "dedup_minhash_lsh", "graph_pagerank_event_types",
       "tpch_q1", "tpch_q3_topk", "tpch_q5_region_revenue", "tpch_q6_revenue",
       "window_top_orders_per_customer")


def digest(pdf) -> dict:
    """Row count and sha256 of the canonical rows of a pandas frame."""
    from tests.oracle_compare import canonical_rows

    rows = canonical_rows(pdf)
    return {"rows": len(rows), "sha256": hashlib.sha256(repr(rows).encode()).hexdigest()}


def load() -> dict:
    with open(VALUES) as f:
        return json.load(f)


def record(cache_root: str) -> dict:
    import duckdb

    from bend_archiver_spark.queries import REGISTRY

    from perfbench import datagen

    data = datagen.ensure_tables(cache_root, MIX_SF)
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    queries = {name: digest(con.execute(REGISTRY[name].oracle).df()) for name in MIX}
    return {"data_version": datagen.DATA_VERSION, "sf": MIX_SF, "queries": queries}


def main() -> int:
    sys.path.insert(0, ROOT)
    values = record(os.path.join(ROOT, ".bench_build", "perfbench"))
    with open(VALUES, "w") as f:
        json.dump(values, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(values['queries'])} queries to {VALUES}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
