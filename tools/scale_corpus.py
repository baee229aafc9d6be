#!/usr/bin/env python
"""The scaled corpus: n replicas of the sf0.1 tree, all 10 tables.

/root/testdata tops out at sf0.1 (~600k lineitem rows); the 10x/100x
correctness sweeps, the scale rehearsal and the skew rehearsal all read
this one corpus. Replica r = 0..n-1, r=0 verbatim:

- dims (region, nation): copied unchanged — corpus tables scale,
  dimensions don't, exactly like production.
- customer/supplier/part: key + r*1M; orders/lineitem: orderkey +
  r*10M with cust/part/supp keys + r*1M — every FK lands inside its
  own replica, so joins stay exact disjoint isomorphic copies (the
  part co-occurrence graph's edges, wedges and triangles scale exactly
  linearly) and the expected output is linear by construction.
- events: event_id/user_id + r*1M, ts/props verbatim — replicas
  overlay in time but users are disjoint, so sessionization and
  per-user funnels scale linearly.
- documents: doc_id + r*1M, every word NOT in the Gopher stopword list
  letter-bijected by r (``_caesar``). This preserves each replica's
  internal statistics (word counts, stopword ratio, alpha ratio, doc
  lengths — so funnel-stage selectivity is identical per replica) and
  its internal near-dup structure, while cross-replica 5-gram/shingle
  collisions stay negligible — replicating text VERBATIM would put
  every surviving doc in an n-member LSH bucket cluster and blow
  candidate pairs up QUADRATICALLY, which no real 10x corpus does.
  The benchmark side of the decontamination query (doc_id < 10) exists
  only in replica 0: fixed queries, scaled corpus — the production
  shape.
- part.p_name: letter-bijected by r the same way (a bijection
  preserves every intra-replica edit distance, so fuzzy-match /
  SymSpell structure is identical per replica; verbatim names blew
  cross-replica fuzzy pairs up quadratically at the 10x sweep).
- embeddings: vec_id + r*100k, components rotated left by r — a
  rotation preserves every intra-replica norm and dot product exactly
  (both vectors rotate identically) while cross-replica cosine
  structure decorrelates, so ANN/dedup outputs stay linear instead of
  exploding into cross-replica duplicate clusters. The probe sets
  (vec_id < K) live only in replica 0.

Every transform is exact integer/string manipulation — no floats are
recomputed — so Spark and DuckDB read bit-identical inputs and the
sf0.01 oracle-parity rules apply unchanged.

Usage:
    python tools/scale_corpus.py 10    # builds /tmp/scale_correctness/x10
                                       # unless present; delete it to rebuild
    python tools/scale_corpus.py 10 --sf-root /data
                                       # builds /data/sf1 (10 x sf0.1), the
                                       # name bench.py reads its scale from
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time
from decimal import Decimal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tests.oracle_compare import TABLES  # noqa: E402

SF01 = "/root/testdata/sf0.1"
WORK = "/tmp/scale_correctness"

EMB_DIM = 64  # embeddings.embedding is FLOAT[64] in every sf tree

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
    replica, non-stopword words letter-bijected by the replica index."""
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


def build_full_corpus(n: int, out_dir: str) -> None:
    """All 10 tables, replica-offset keys, into *out_dir*."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()

    def copy(sql: str, table: str) -> None:
        con.execute(
            f"COPY ({sql}) TO '{out_dir}/{table}.parquet' (FORMAT parquet)"
        )

    for dim in ("region", "nation"):
        shutil.copyfile(f"{SF01}/{dim}.parquet", f"{out_dir}/{dim}.parquet")

    copy(
        f"""SELECT c.* REPLACE (c_custkey + r * 1_000_000 AS c_custkey)
            FROM '{SF01}/customer.parquet' c, range({n}) t(r)""",
        "customer",
    )
    copy(
        f"""SELECT s.* REPLACE (s_suppkey + r * 1_000_000 AS s_suppkey)
            FROM '{SF01}/supplier.parquet' s, range({n}) t(r)""",
        "supplier",
    )
    # p_name: translate() with replica r's image of the alphabet
    lower = "abcdefghijklmnopqrstuvwxyz"
    upper = lower.upper()
    name_case = " ".join(
        f"WHEN r = {r} THEN translate(p_name, "
        f"'{lower + upper}', '{_caesar(lower, r) + _caesar(upper, r)}')"
        for r in range(1, n)
    )
    name_expr = f"CASE WHEN r = 0 THEN p_name {name_case} END" if n > 1 else "p_name"
    copy(
        f"""SELECT p.* REPLACE (
                 p_partkey + r * 1_000_000 AS p_partkey,
                 {name_expr} AS p_name)
            FROM '{SF01}/part.parquet' p, range({n}) t(r)""",
        "part",
    )
    copy(
        f"""SELECT o.* REPLACE (
                 o_orderkey + r * 10_000_000 AS o_orderkey,
                 o_custkey + r * 1_000_000 AS o_custkey)
            FROM '{SF01}/orders.parquet' o, range({n}) t(r)""",
        "orders",
    )
    copy(
        f"""SELECT li.* REPLACE (
                 l_orderkey + r * 10_000_000 AS l_orderkey,
                 l_partkey + r * 1_000_000 AS l_partkey,
                 l_suppkey + r * 1_000_000 AS l_suppkey)
            FROM '{SF01}/lineitem.parquet' li, range({n}) t(r)""",
        "lineitem",
    )
    copy(
        f"""SELECT e.* REPLACE (
                 event_id + r * 1_000_000 AS event_id,
                 user_id + r * 1_000_000 AS user_id)
            FROM '{SF01}/events.parquet' e, range({n}) t(r)""",
        "events",
    )
    # rotate-left by r: slice indices are 1-based inclusive in DuckDB
    copy(
        f"""SELECT vec_id + r * 100_000 AS vec_id,
                 CASE WHEN (r % {EMB_DIM}) = 0 THEN embedding
                      ELSE embedding[(r % {EMB_DIM}) + 1 :]
                           || embedding[1 : (r % {EMB_DIM})]
                 END AS embedding,
                 label
            FROM '{SF01}/embeddings.parquet', range({n}) t(r)""",
        "embeddings",
    )
    write_scaled_documents(n, out_dir)


def sf_name(n: int) -> str:
    """The ``sf<N>`` name of n replicas of sf0.1: 10 -> ``sf1``."""
    return f"sf{Decimal(n) / 10:f}"


def corpus_dir(n: int, sf_root: str | None = None) -> str:
    """The n-replica corpus directory, built first if any table is
    missing from it: ``<WORK>/x<n>``, or ``<sf_root>/sf<N>`` (N = n/10,
    the scale factor ``bench.scale_of`` reads from the name)."""
    out_dir = f"{WORK}/x{n}" if sf_root is None else os.path.join(sf_root, sf_name(n))
    if not all(os.path.exists(f"{out_dir}/{t}.parquet") for t in TABLES):
        print(f"building {n}x corpus at {out_dir} ...", file=sys.stderr)
        t0 = time.monotonic()
        build_full_corpus(n, out_dir)
        print(f"built in {time.monotonic() - t0:.1f}s", file=sys.stderr)
    return out_dir


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("replicas", type=int, help="replicas of sf0.1")
    ap.add_argument(
        "--sf-root",
        help=f"build into <SF_ROOT>/sf<replicas/10> instead of {WORK}/x<replicas>",
    )
    args = ap.parse_args()
    print(corpus_dir(args.replicas, args.sf_root))
