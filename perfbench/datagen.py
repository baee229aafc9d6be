"""Deterministic synthetic input tables for the benchmark.

The tables have the same names, columns and types as the repository's
TPC-H-like test corpus (``region`` .. ``embeddings``), so every registry
query and both archive jobs run on them unchanged. Values come from a
fixed NumPy PCG64 stream, so the same ``(version, sf)`` always yields
the same rows; the recorded DuckDB oracle values in
``oracle_values.json`` depend on that. Bump ``DATA_VERSION`` whenever a
generator changes, then re-record the oracle values.

Each table is written as one parquet file with one row group, like the
test corpus.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_VERSION = "v1"
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "red", "small", "old",
             "green", "dark", "light", "bright", "tiny"]
_PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
          "value", "data", "small", "join", "filter", "big", "group", "hash",
          "customer", "sort", "order", "slow", "line", "part", "fast", "row",
          "the", "agg", "key", "query", "a", "scan", "batch"]
_EMBED_DIM = 64

_US_PER_DAY = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng, n: int, lo: tuple, hi: tuple) -> pa.Array:
    """Midnight timestamps drawn uniformly from the day range [lo, hi]."""
    a, b = _epoch_us(*lo) // _US_PER_DAY, _epoch_us(*hi) // _US_PER_DAY
    day = rng.integers(a, b + 1, n)
    return pa.array(day * _US_PER_DAY, type=pa.timestamp("us"))


def _pick(rng, choices: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices)[rng.choice(len(choices), n, p=p)])


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (the corpus's own ratios;
    the text and vector tables have a 500-row floor)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def build_table(name: str, sf: float) -> pa.Table:
    """One table at scale ``sf``; each table draws from its own stream,
    so adding a table never changes another's rows."""
    n = row_counts(sf)
    rng = np.random.default_rng([TABLES.index(name), int(sf * 1_000_000)])
    rows = n[name]
    ids = np.arange(rows, dtype=np.int64)
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if name == "customer":
        return pa.table({
            "c_custkey": ids,
            "c_name": [f"Customer#{i:09d}" for i in range(rows)],
            "c_nationkey": rng.integers(0, 25, rows, dtype=np.int32),
            "c_acctbal": _money(rng, rows, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, _SEGMENTS, rows),
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": ids,
            "s_name": [f"Supplier#{i:09d}" for i in range(rows)],
            "s_nationkey": rng.integers(0, 25, rows, dtype=np.int32),
            "s_acctbal": _money(rng, rows, -999.99, 9999.99),
        })
    if name == "part":
        adj = rng.integers(0, len(_PART_ADJ), rows)
        noun = rng.integers(0, len(_PART_NOUN), rows)
        return pa.table({
            "p_partkey": ids,
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, rows)],
            "p_type": _pick(rng, _PART_TYPES, rows),
            "p_size": rng.integers(1, 51, rows, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (ids % 1000) / 10.0, 1),
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": ids,
            "o_custkey": rng.integers(0, n["customer"], rows),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], rows),
            "o_totalprice": _money(rng, rows, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, rows, (1995, 1, 1), (2001, 8, 1)),
            "o_orderpriority": _pick(rng, _PRIORITIES, rows),
        })
    if name == "lineitem":
        return pa.table({
            "l_orderkey": rng.integers(0, n["orders"], rows),
            "l_partkey": rng.integers(0, n["part"], rows),
            "l_suppkey": rng.integers(0, n["supplier"], rows),
            "l_linenumber": rng.integers(1, 8, rows, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
            "l_extendedprice": _money(rng, rows, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, rows) / 100.0,
            "l_tax": rng.integers(0, 9, rows) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], rows),
            "l_linestatus": _pick(rng, ["F", "O"], rows),
            "l_shipdate": _days(rng, rows, (1995, 1, 2), (2001, 11, 4)),
        })
    if name == "events":
        start = _epoch_us(2024, 1, 1)
        ts = np.sort(rng.integers(start, start + 30 * _US_PER_DAY, rows))
        return pa.table({
            "event_id": ids,
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, int(15_000 * sf)), rows),
            "event_type": _pick(rng, _EVENT_TYPES, rows),
            "value": np.round(rng.exponential(50.0, rows), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
        })
    if name == "documents":
        texts: list[str] = []
        for i in range(rows):
            if i > 10 and rng.random() < 0.05:
                # a near-duplicate of an earlier document
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            else:
                words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
                texts.append(" ".join(_VOCAB[w] for w in words))
        return pa.table({
            "doc_id": ids,
            "text": texts,
            "lang": _pick(rng, _LANGS, rows, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(rows)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
    if name == "embeddings":
        label = rng.integers(0, 10, rows, dtype=np.int32)
        centers = rng.normal(0.0, 1.0, (10, _EMBED_DIM))
        vec = centers[label] + rng.normal(0.0, 1.5, (rows, _EMBED_DIM))
        vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
        return pa.table({
            "vec_id": ids,
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": label,
        })
    raise ValueError(f"unknown table: {name}")


def ensure_tables(cache_root: str, sf: float, names=TABLES) -> str:
    """Write the tables for ``sf`` under ``cache_root`` once and return
    their directory. A partly written directory is never reused: tables
    go to a temporary directory that is renamed into place at the end."""
    out = os.path.join(cache_root, f"data-{DATA_VERSION}", f"sf{sf}")
    missing = [t for t in names if not os.path.exists(os.path.join(out, f"{t}.parquet"))]
    if not missing:
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for t in missing:
        table = build_table(t, sf)
        pq.write_table(table, os.path.join(tmp, f"{t}.parquet"),
                       row_group_size=max(1, table.num_rows))
    os.makedirs(out, exist_ok=True)
    for t in missing:
        os.replace(os.path.join(tmp, f"{t}.parquet"), os.path.join(out, f"{t}.parquet"))
    shutil.rmtree(tmp, ignore_errors=True)
    return out
