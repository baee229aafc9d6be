"""Similarity search over embedding vectors.

- ``ann_topk_bruteforce``: exact cosine top-k for a query set — the
  correctness baseline.
- ``ann_lsh_bucketed``: random-hyperplane LSH — each vector lands in a
  sign-pattern bucket; the search only compares vectors sharing the
  query's bucket. Hyperplanes are pseudo-random ±1 vectors derived
  from the portable md5 hash, so bucketing + rerank are deterministic
  and exactly oracle-checkable.
- ``embedding_label_stats``: the profiling pass before indexing.

Numeric determinism: float components are quantized to integers
(``round(x * 1e6)`` as int64) before any accumulation, so every dot
product and norm is **exact int64 arithmetic** — bit-identical across
engines and partitionings. (Accumulating doubles via decimal casts is
NOT portable: Spark converts double->decimal exactly via BigDecimal
while DuckDB scales through a double multiply, and the two disagree
near rounding boundaries.) The ~1e-6 quantization is far below any
meaningful cosine-similarity resolution.

Scale design: brute-force is O(|Q| * N); the LSH variant cuts the
candidate set by ~2^planes and turns the search into a bucket-equality
join — broadcastable for small query sets, shuffle-on-bucket for large
ones. An IVF variant would replace the hash bucket with a trained
centroid assignment; the plumbing (bucket -> join -> rerank) is
identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import similarity as ops
from .base import hash64_sql, register, t

_TOP_K = 5
_N_QUERIES = 10  # vec_id < 10 is the query set
_N_PLANES = 4  # 2^4 = 16 buckets over 500 vectors
_QSCALE = 1_000_000  # component quantization: round(x * 1e6) -> int64

# exploded + quantized components; unnest and generate_subscripts must
# sit in the SAME select for DuckDB to align them positionally, and
# generate_subscripts is 1-based vs posexplode's 0-based (hence -1)
_E_SQL = f"""
      SELECT vec_id,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * {_QSCALE}, 0) AS BIGINT) AS xq,
             generate_subscripts(embedding, 1) - 1 AS i
      FROM embeddings
"""
_NORMS_SQL = """
      SELECT vec_id, SUM(xq * xq) AS nrm
      FROM e GROUP BY vec_id
"""

_COSINE_SQL = (
    "CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nrm AS DOUBLE)) * sqrt(CAST(nc.nrm AS DOUBLE)))"
)


@register(
    "ann_topk_bruteforce",
    oracle=f"""
    WITH e AS ({_E_SQL}),
    norms AS ({_NORMS_SQL}),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             SUM(q.xq * c.xq) AS dot
      FROM e q JOIN e c ON q.i = c.i
      WHERE q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             {_COSINE_SQL} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY {_COSINE_SQL} DESC, neighbor_id
             ) AS rank
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nc ON nc.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, rank, cosine
    FROM scored WHERE rank <= {_TOP_K}
    """,
    headline=True,
    tags=("similarity", "ann"),
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the query set (vec_id < 10):
    brute-force scan over quantized components (exact int64 dots),
    deterministic (cosine desc, neighbor_id) ranking. Delegates to
    operators.similarity.cosine_topk."""
    emb = t(spark, sf_dir, "embeddings")
    return ops.cosine_topk(
        emb, "vec_id", "embedding", F.col("vec_id") < _N_QUERIES, k=_TOP_K
    )


# sign_{plane,dim} = +1/-1 from the portable hash of "plane_dim"
_SIGNS_SQL = f"""
      SELECT p.j, d.i,
             CASE WHEN {hash64_sql("concat(p.j, '_', d.i)")} % 2 = 1
                  THEN 1 ELSE -1 END AS sgn
      FROM (SELECT unnest(range(0, {_N_PLANES})) AS j) p,
           (SELECT unnest(range(0, 64)) AS i) d
"""


@register(
    "ann_lsh_bucketed",
    oracle=f"""
    WITH e AS ({_E_SQL}),
    norms AS ({_NORMS_SQL}),
    signs AS ({_SIGNS_SQL}),
    proj AS (
      SELECT e.vec_id, s.j, SUM(e.xq * s.sgn) AS dot_j
      FROM e JOIN signs s ON s.i = e.i
      GROUP BY e.vec_id, s.j
    ),
    buckets AS (
      SELECT vec_id,
             SUM(CASE WHEN dot_j > 0 THEN (1::BIGINT << j) ELSE 0 END) AS bucket
      FROM proj GROUP BY vec_id
    ),
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM buckets q JOIN buckets c ON q.bucket = c.bucket
      WHERE q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
    ),
    dots AS (
      SELECT cd.query_id, cd.neighbor_id, SUM(a.xq * b.xq) AS dot
      FROM cand cd
      JOIN e a ON a.vec_id = cd.query_id
      JOIN e b ON b.vec_id = cd.neighbor_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             {_COSINE_SQL} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY {_COSINE_SQL} DESC, neighbor_id
             ) AS rank
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nc ON nc.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, rank, cosine
    FROM scored WHERE rank <= {_TOP_K}
    """,
    tags=("similarity", "ann", "lsh"),
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: 4 random-hyperplane sign bits -> 16 buckets;
    candidates share the query's bucket; exact cosine rerank + top-5.
    Sign projections are integer sums — no floating-point boundary
    ambiguity. Delegates to operators.similarity.lsh_buckets +
    cosine_topk(candidates=...)."""
    emb = t(spark, sf_dir, "embeddings")
    # query-side buckets from a predicate-pushed scan of the query
    # rows: bucketing is deterministic per vector, so hashing the
    # filtered scan is identical to filtering the full bucket table —
    # and saves re-deriving a full corpus bucket pass for 10 rows
    bq = ops.lsh_buckets(
        spark, emb.filter(F.col("vec_id") < _N_QUERIES),
        "vec_id", "embedding", n_planes=_N_PLANES,
    ).select(F.col("vec_id").alias("query_id"), "bucket")
    bc = ops.lsh_buckets(
        spark, emb, "vec_id", "embedding", n_planes=_N_PLANES
    ).select(F.col("vec_id").alias("neighbor_id"), "bucket")
    cand = (
        F.broadcast(bq)
        .join(bc, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    return ops.cosine_topk(
        emb, "vec_id", "embedding", F.col("vec_id") < _N_QUERIES,
        k=_TOP_K, candidates=cand,
    )


@register(
    "embedding_label_stats",
    oracle=f"""
    WITH e AS ({_E_SQL}),
    norms AS ({_NORMS_SQL})
    SELECT em.label,
           COUNT(*) AS n_vectors,
           CAST(SUM(n.nrm) AS DOUBLE) / (COUNT(*) * {_QSCALE}.0 * {_QSCALE}.0)
             AS avg_sq_norm,
           MIN(sqrt(CAST(n.nrm AS DOUBLE)) / {_QSCALE}.0) AS min_l2,
           MAX(sqrt(CAST(n.nrm AS DOUBLE)) / {_QSCALE}.0) AS max_l2
    FROM norms n JOIN embeddings em ON em.vec_id = n.vec_id
    GROUP BY em.label
    """,
    tags=("similarity", "stats"),
)
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector statistics (count, mean squared norm, L2
    range) — the sanity profile before any ANN indexing job. All sums
    exact int64; sqrt/division once per output row.

    Scan-fused (round 9): ``label`` rides THROUGH the explode via
    ``extra_cols`` so the per-vector norm stream never joins back to
    its own source table — previously this force-broadcast the full
    (vec_id, label) projection, which is corpus-proportional (one row
    per vector) and dies on the 8 GB broadcast limit at 100 TB. Now:
    one scan, two aggregations, zero joins."""
    emb = t(spark, sf_dir, "embeddings")
    e = ops.explode_quantized(emb, "vec_id", "embedding", extra_cols=("label",))
    norms = e.groupBy("vec_id", "label").agg(
        F.sum(F.col("xq") * F.col("xq")).alias("nrm")
    )
    scale2 = float(_QSCALE) * float(_QSCALE)
    return (
        norms.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (F.sum("nrm").cast("double") / (F.count(F.lit(1)) * F.lit(scale2))).alias(
                "avg_sq_norm"
            ),
            F.min(F.sqrt(F.col("nrm").cast("double")) / _QSCALE).alias("min_l2"),
            F.max(F.sqrt(F.col("nrm").cast("double")) / _QSCALE).alias("max_l2"),
        )
    )


_N_CELLS = 16
_N_PROBE = 2

# One deterministic Lloyd iteration: init centroids = vectors with
# vec_id < 16; assign (exact int64 distance, ties to smaller cid);
# update = per-component rounded-integer mean (round of an exact-int
# sum divided as double — both engines' round() is half-away-from-zero
# and the IEEE quotient is identical); re-assign + probe under the
# updated codebook; exact cosine rerank.
_IVF_TRAINED_ORACLE = f"""
WITH e AS ({_E_SQL}),
norms AS ({_NORMS_SQL}),
cent0 AS (SELECT vec_id AS cid, i, xq AS cq FROM e WHERE vec_id < {_N_CELLS}),
d2a AS (
  SELECT v.vec_id, c.cid,
         SUM((v.xq - c.cq) * (v.xq - c.cq)) AS dist
  FROM e v JOIN cent0 c ON c.i = v.i
  GROUP BY 1, 2),
a0 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2a) WHERE rn = 1),
cent1 AS (
  SELECT a0.cid, e.i,
         CAST(round(CAST(SUM(e.xq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
  FROM a0 JOIN e ON e.vec_id = a0.vec_id
  GROUP BY a0.cid, e.i),
d2b AS (
  SELECT v.vec_id, c.cid,
         SUM((v.xq - c.cq) * (v.xq - c.cq)) AS dist
  FROM e v JOIN cent1 c ON c.i = v.i
  GROUP BY 1, 2),
ranked AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM d2b),
assigned AS (SELECT vec_id, cid FROM ranked WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, cid FROM ranked
  WHERE vec_id < {_N_QUERIES} AND rn <= {_N_PROBE}),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assigned a ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id),
dots AS (
  SELECT cd.query_id, cd.neighbor_id, SUM(a.xq * b.xq) AS dot
  FROM cand cd
  JOIN e a ON a.vec_id = cd.query_id
  JOIN e b ON b.vec_id = cd.neighbor_id AND b.i = a.i
  GROUP BY 1, 2),
scored AS (
  SELECT query_id, neighbor_id,
         {_COSINE_SQL} AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY {_COSINE_SQL} DESC, neighbor_id
         ) AS rank
  FROM dots
  JOIN norms nq ON nq.vec_id = query_id
  JOIN norms nc ON nc.vec_id = neighbor_id)
SELECT query_id, neighbor_id, rank, cosine
FROM scored WHERE rank <= {_TOP_K}
"""


@register(
    "ann_ivf_topk",
    oracle=_IVF_TRAINED_ORACLE,
    tags=("similarity", "ann", "ivf"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED codebook: one deterministic Lloyd
    iteration (init = vectors with vec_id < 16, exact int64 E-step,
    M-step centroids re-quantized to rounded-integer component means),
    then queries probe their 2 nearest updated cells and candidates
    are exactly cosine-reranked to top-5. The data-adaptive
    alternative to hyperplane LSH.

    Deterministic training makes this fully hash-checkable against the
    SQL oracle (it was rows-only while it used MLlib KMeans, whose
    kmeans|| init is not cross-engine reproducible). Integer-mean
    centroids lose <1e-6 precision per component — far below cosine
    resolution — and keep every distance exact int64. Scale shape is
    unchanged from ann_ivf_fixed_codebook: broadcast codebook both
    passes, combinable groupBys, candidates shuffled only on probed
    cells."""
    emb = t(spark, sf_dir, "embeddings")
    # persist barrier: the quantized explode has five consumers here
    # (init filter, both E-step joins, the M-step join, and the rerank
    # dots); without it CollapseProject re-inlines the round/cast HOF
    # into each consumer (the minhash round-2 regression shape)
    e = ops.explode_quantized(emb, "vec_id", "embedding").persist()
    cent0 = e.filter(F.col("vec_id") < _N_CELLS).select(
        F.col("vec_id").alias("cid"), "i", F.col("xq").alias("cq")
    )
    diff = F.col("xq") - F.col("cq")
    d2a = (
        e.join(F.broadcast(cent0), "i")
        .groupBy("vec_id", "cid")
        .agg(F.sum(diff * diff).alias("dist"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    a0 = (
        d2a.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    cent1 = (
        a0.join(e, "vec_id")
        .groupBy("cid", "i")
        .agg(
            F.round(F.sum("xq").cast("double") / F.count(F.lit(1)), 0)
            .cast("bigint")
            .alias("cq")
        )
    )
    d2b = (
        e.join(F.broadcast(cent1), "i")
        .groupBy("vec_id", "cid")
        .agg(F.sum(diff * diff).alias("dist"))
    )
    # persist barrier on the <= n_probe rows per vector: `assigned`
    # and `probes` both consume the second E-step's ranking, and
    # without it Catalyst re-runs the ENTIRE training iteration —
    # E-step 1 window, M-step centroid join, E-step 2 join + groupBy
    # + window — once per consumer (the persisted `e` only stops the
    # explode from re-running, not the stages above it). Ranking ties
    # break deterministically by cid, so the barrier cannot change
    # rows. Callers clear cache between queries.
    ranked = (
        d2b.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _N_PROBE)
        .persist()
    )
    assigned = ranked.filter(F.col("rn") == 1).select("vec_id", "cid")
    probes = ranked.filter(
        (F.col("vec_id") < _N_QUERIES) & (F.col("rn") <= _N_PROBE)
    ).select(F.col("vec_id").alias("query_id"), "cid")
    cand = (
        F.broadcast(probes)
        .join(assigned, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    return ops.cosine_topk(
        emb,
        "vec_id",
        "embedding",
        F.col("vec_id") < _N_QUERIES,
        k=_TOP_K,
        candidates=cand,
    )


# ---------------------------------------------------------------------
# Diversified top-k
# ---------------------------------------------------------------------


@register(
    "ann_topk_diversified",
    oracle=f"""
    WITH e AS ({_E_SQL}),
    norms AS ({_NORMS_SQL}),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             SUM(q.xq * c.xq) AS dot
      FROM e q JOIN e c ON q.i = c.i
      WHERE q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id, lbl.label,
             {_COSINE_SQL} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY query_id, lbl.label
               ORDER BY {_COSINE_SQL} DESC, neighbor_id
             ) AS rep_rank
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nc ON nc.vec_id = neighbor_id
      JOIN embeddings lbl ON lbl.vec_id = neighbor_id
    ),
    diverse AS (
      SELECT query_id, neighbor_id, label, cosine,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id
             ) AS rank
      FROM scored WHERE rep_rank = 1
    )
    SELECT query_id, neighbor_id, CAST(label AS INT) AS label,
           rank, cosine
    FROM diverse WHERE rank <= {_TOP_K}
    """,
    tags=("similarity", "ann", "diversity"),
)
def ann_topk_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified exact top-k (the EDBT'20 "diversified top-k search"
    contract): at most ONE neighbor per label class, then the k best
    class representatives — what a retrieval layer returns when raw
    top-k would be k near-copies of the same cluster. Two windows:
    best-per-(query, class), then top-k across classes; both orders
    are total (cosine desc, neighbor_id), so results are deterministic
    on both engines.

    Scale shape: same broadcast-query brute-force front end as
    ann_topk_bruteforce (each corpus row computes one int64 dot, no
    positional explode); the diversity pass adds one window keyed by
    (query_id, label) — cardinality queries x classes, far below the
    corpus — and the final window sees at most one row per class.
    With an LSH/IVF candidate stage in front, the same two windows
    apply unchanged to the candidate set.

    r13: the query side is a predicate-pushed scan of the query rows
    (not a broadcast-id join against a second full quantized corpus
    projection) and the label rides the corpus projection itself
    (``quantized_vectors(..., extra_cols)``) instead of a join back to
    the source table — embeddings is scanned twice (pruned query side
    + corpus side), down from four times."""
    emb = t(spark, sf_dir, "embeddings")
    q = ops.quantized_vectors(
        emb.filter(F.col("vec_id") < _N_QUERIES), "vec_id", "embedding"
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("vq").alias("qv"),
        F.col("nrm").alias("nrm_q"),
    )
    c = ops.quantized_vectors(
        emb, "vec_id", "embedding", extra_cols=("label",)
    ).select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.col("vq").alias("cv"),
        F.col("nrm").alias("nrm_c"),
    )
    pairs = F.broadcast(q).crossJoin(c).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = ops._cosine_from(
        ops._dot(F.col("qv"), F.col("cv")),
        F.col("nrm_q"),
        F.col("nrm_c"),
    )
    scored = pairs.select(
        "query_id", "neighbor_id",
        F.col("label").cast("int").alias("label"),
        cos.alias("cosine"),
    )
    w_rep = Window.partitionBy("query_id", "label").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    w_top = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rep_rank", F.row_number().over(w_rep))
        .filter(F.col("rep_rank") == 1)
        .withColumn("rank", F.row_number().over(w_top))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "label", "rank", "cosine")
    )


# ---------------------------------------------------------------------
# Incremental top-k (decomposable merge)
# ---------------------------------------------------------------------

_BASE_SPLIT = 400  # vec_id < 400 = already-indexed base; rest = delta


@register(
    "ann_topk_incremental",
    oracle=f"""
    WITH e AS ({_E_SQL}),
    norms AS ({_NORMS_SQL}),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             SUM(q.xq * c.xq) AS dot
      FROM e q JOIN e c ON q.i = c.i
      WHERE q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             {_COSINE_SQL} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY {_COSINE_SQL} DESC, neighbor_id
             ) AS rank
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nc ON nc.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, rank, cosine
    FROM scored WHERE rank <= {_TOP_K}
    """,
    tags=("similarity", "ann", "incremental"),
)
def ann_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k (the EDBT'20 interactive-session contract):
    when a delta of new vectors lands, merge the k best from the
    already-indexed BASE with the k best from the DELTA instead of
    rescanning everything — exact because top-k is decomposable
    (any global top-k row is a top-k row of its own part). The oracle
    is the GLOBAL brute-force query, so the driver proves the
    decomposition loses nothing, bit for bit.

    Scale shape: the base-side top-k is what an index/previous session
    already holds (here recomputed for the proof); the delta side
    scans only new rows — at 100 TB with a daily delta this turns a
    full-corpus scan into a delta scan plus a 2k-row-per-query merge.
    The merge window sees at most 2k rows per query."""
    emb = t(spark, sf_dir, "embeddings")
    base = ops.cosine_topk(
        emb.filter(F.col("vec_id") < _BASE_SPLIT),
        "vec_id", "embedding",
        F.col("vec_id") < _N_QUERIES, k=_TOP_K,
    )
    # delta part: queries still come from the query set; corpus rows
    # are only the new arrivals
    delta = ops.cosine_topk(
        emb.filter(
            (F.col("vec_id") >= _BASE_SPLIT)
            | (F.col("vec_id") < _N_QUERIES)
        ),
        "vec_id", "embedding",
        F.col("vec_id") < _N_QUERIES, k=_TOP_K,
    ).filter(F.col("neighbor_id") >= _BASE_SPLIT)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        base.unionByName(delta)
        .select("query_id", "neighbor_id", "cosine")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# ---------------------------------------------------------------------
# MMR diversified reranking (greedy, unrolled, exactly oracled)
# ---------------------------------------------------------------------

_MMR_POOL = 20  # candidate pool = top-20 by pure relevance
_MMR_K = 5  # final reranked size
_MMR_QUERY = 0  # the reranked query vector


def _mmr_oracle() -> str:
    rounds = []
    for r in range(2, _MMR_K + 1):
        rounds.append(f"""
    cand{r} AS (
      SELECT p.cid, p.rel, MAX(ps.cos) AS ms
      FROM pool p
      JOIN psim ps ON ps.a = p.cid
      JOIN sel{r - 1} s ON ps.b = s.cid
      WHERE p.cid NOT IN (SELECT cid FROM sel{r - 1})
      GROUP BY 1, 2),
    pick{r} AS (
      SELECT cid, rel, {r} AS rank, 0.5 * rel - 0.5 * ms AS mmr
      FROM cand{r} ORDER BY mmr DESC, cid LIMIT 1),
    sel{r} AS MATERIALIZED (SELECT * FROM sel{r - 1} UNION ALL SELECT * FROM pick{r})""")
    return f"""
    WITH e AS ({_E_SQL}),
    norms AS ({_NORMS_SQL}),
    qd AS (
      SELECT c.vec_id AS cid, SUM(q.xq * c.xq) AS dot
      FROM e q JOIN e c ON q.i = c.i
      WHERE q.vec_id = {_MMR_QUERY} AND c.vec_id <> {_MMR_QUERY}
      GROUP BY 1),
    poolr AS (
      SELECT cid, {_COSINE_SQL} AS rel,
             ROW_NUMBER() OVER (ORDER BY {_COSINE_SQL} DESC, cid) AS rk
      FROM qd
      JOIN norms nq ON nq.vec_id = {_MMR_QUERY}
      JOIN norms nc ON nc.vec_id = cid),
    pool AS MATERIALIZED (SELECT cid, rel FROM poolr WHERE rk <= {_MMR_POOL}),
    pp AS (
      SELECT pa.cid AS a, pb.cid AS b, SUM(ea.xq * eb.xq) AS dot
      FROM pool pa JOIN pool pb ON pa.cid <> pb.cid
      JOIN e ea ON ea.vec_id = pa.cid
      JOIN e eb ON eb.vec_id = pb.cid AND eb.i = ea.i
      GROUP BY 1, 2),
    psim AS MATERIALIZED (
      SELECT a, b,
             CAST(dot AS DOUBLE) / (sqrt(CAST(na.nrm AS DOUBLE))
                                    * sqrt(CAST(nb.nrm AS DOUBLE))) AS cos
      FROM pp
      JOIN norms na ON na.vec_id = a
      JOIN norms nb ON nb.vec_id = b),
    sel1 AS MATERIALIZED (
      SELECT cid, rel, 1 AS rank, 0.5 * rel AS mmr
      FROM pool ORDER BY rel DESC, cid LIMIT 1),{",".join(rounds)}
    SELECT CAST(rank AS BIGINT) AS rank, cid AS vec_id,
           rel AS relevance, mmr AS mmr_score
    FROM sel{_MMR_K}
    """


@register(
    "ann_topk_mmr",
    oracle=None,  # assigned below (builder needs module constants)
    tags=("similarity", "ann", "rerank", "iterative"),
)
def ann_topk_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein
    1998): greedily pick k results maximizing
    ``0.5·sim(q,c) − 0.5·max_{s∈S} sim(c,s)`` — relevance traded
    against redundancy with what is already selected. Unlike
    ``ann_topk_diversified`` (one per label class), MMR needs no
    class column: diversity comes from the PAIRWISE similarities
    inside the candidate pool.

    Scale shape: the corpus is touched once, by the relevance top-20
    (broadcast query, per-partition heap). Everything after is
    pool-bounded: the pool's pairwise cosines are a 20x20 broadcast
    product of persisted quantized vectors, and each greedy round is
    a constant-size argmax over <= pool rows — the selection loop
    never sees the corpus. All similarity arithmetic is the exact
    int64 dot machinery, so the greedy trajectory is bit-identical
    to the DuckDB oracle's unrolled rounds."""
    emb = t(spark, sf_dir, "embeddings")
    pool = (
        ops.cosine_topk(
            emb,
            "vec_id",
            "embedding",
            F.col("vec_id") == _MMR_QUERY,
            k=_MMR_POOL,
        )
        .select(F.col("neighbor_id").alias("cid"), F.col("cosine").alias("rel"))
        .coalesce(1)  # bounded: <= pool rows — kill per-round stage fan
        .persist()
    )
    v = ops.quantized_vectors(emb, "vec_id", "embedding")
    pv = (
        v.join(F.broadcast(pool.select("cid")), v.vec_id == F.col("cid"))
        .select("cid", "vq", "nrm")
        .coalesce(1)
        .persist()
    )
    pa = pv.select(
        F.col("cid").alias("a"), F.col("vq").alias("va"), F.col("nrm").alias("na")
    )
    pb = pv.select(
        F.col("cid").alias("b"), F.col("vq").alias("vb"), F.col("nrm").alias("nb")
    )
    psim = (
        F.broadcast(pa)
        .crossJoin(pb)
        .filter(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            ops._cosine_from(
                ops._dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")
            ).alias("cos"),
        )
        .persist()
    )
    # Each round references the previous selection three times
    # (remaining anti-join, max-sim join, union); persisting the <= k
    # row selection per round keeps the executed plan linear in k —
    # without it lineage re-evaluation is 3^k limit-1 subplans
    # (measured 30 s -> 4 s at sf0.001).
    sel = (
        pool.orderBy(F.desc("rel"), F.asc("cid"))
        .limit(1)
        .select(
            "cid",
            "rel",
            F.lit(1).alias("rank"),
            (F.lit(0.5) * F.col("rel")).alias("mmr"),
        )
        .persist()
    )
    for r in range(2, _MMR_K + 1):
        remaining = pool.join(sel.select("cid"), "cid", "left_anti")
        ms = (
            psim.join(sel.select(F.col("cid").alias("b")), "b")
            .groupBy("a")
            .agg(F.max("cos").alias("ms"))
        )
        pick = (
            remaining.join(ms, remaining.cid == ms.a)
            .select(
                "cid",
                "rel",
                F.lit(r).alias("rank"),
                (
                    F.lit(0.5) * F.col("rel") - F.lit(0.5) * F.col("ms")
                ).alias("mmr"),
            )
            .orderBy(F.desc("mmr"), F.asc("cid"))
            .limit(1)
        )
        sel = sel.unionByName(pick).persist()
    return sel.select(
        F.col("rank").cast("bigint").alias("rank"),
        F.col("cid").alias("vec_id"),
        F.col("rel").alias("relevance"),
        F.col("mmr").alias("mmr_score"),
    )


# --- ANN recall curve -------------------------------------------------

_RC_TABLES = 8
_RC_PLANES = 6
_RC_CONFIGS = (1, 2, 4, 8)

_RC_ORACLE = f"""
WITH e AS ({_E_SQL}),
norms AS ({_NORMS_SQL}),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         SUM(q.xq * c.xq) AS dot
  FROM e q JOIN e c ON q.i = c.i
  WHERE q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
  GROUP BY 1, 2),
scored AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY {_COSINE_SQL} DESC, neighbor_id) AS rank
  FROM dots
  JOIN norms nq ON nq.vec_id = query_id
  JOIN norms nc ON nc.vec_id = neighbor_id),
truth AS (SELECT query_id, neighbor_id FROM scored WHERE rank <= {_TOP_K}),
signs AS (
  SELECT p.g, d.i,
         CASE WHEN {hash64_sql("concat(p.g, '_', d.i)")} % 2 = 1
              THEN 1 ELSE -1 END AS sgn
  FROM (SELECT unnest(range(0, {_RC_TABLES * _RC_PLANES})) AS g) p,
       (SELECT unnest(range(0, 64)) AS i) d),
proj AS (
  SELECT e.vec_id, s.g, SUM(e.xq * s.sgn) AS dot_g
  FROM e JOIN signs s ON s.i = e.i GROUP BY 1, 2),
buckets AS (
  SELECT vec_id, g // {_RC_PLANES} AS tbl,
         SUM(CASE WHEN dot_g > 0
                  THEN (1::BIGINT << (g % {_RC_PLANES})) ELSE 0 END) AS bucket
  FROM proj GROUP BY 1, 2),
coll AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         MIN(q.tbl) AS first_tbl
  FROM buckets q
  JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
  GROUP BY 1, 2),
joined AS (
  SELECT t.query_id, t.neighbor_id, coll.first_tbl
  FROM truth t
  LEFT JOIN coll ON coll.query_id = t.query_id
              AND coll.neighbor_id = t.neighbor_id)
SELECT CAST(c.n_tables AS BIGINT) AS n_tables,
       CAST({_RC_PLANES} AS BIGINT) AS n_planes,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(SUM(CASE WHEN j.first_tbl < c.n_tables
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN j.first_tbl < c.n_tables
                     THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS recall
FROM joined j, (SELECT unnest([{", ".join(map(str, _RC_CONFIGS))}])
                AS n_tables) c
GROUP BY c.n_tables
"""


@register(
    "ann_recall_curve",
    oracle=_RC_ORACLE,
    tags=("similarity", "ann", "lsh", "evaluation"),
)
def ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-cost sweep of the multi-table LSH candidate
    generator against exact brute-force ground truth — the
    ``dedup_lsh_eval`` audit pattern applied to ANN. For each config
    "first T of 8 six-plane tables" (T = 1, 2, 4, 8), recall@k is the
    fraction of true top-{_TOP_K} neighbor pairs that collide with
    their query in at least one of the first T tables. One row per
    config of exact int64 counts plus the derived recall double —
    the sweep that answers "how many tables does THIS corpus need"
    before committing an index build to a configuration.

    Scale: the 8x6 sign projections are ONE narrow map-side pass over
    the corpus (``lsh_table_buckets``: signs broadcast as a one-row
    literal matrix, no join); collisions are a (tbl, bucket) equi-join
    with the query side broadcast; every config is answered from the
    SAME per-pair min-table aggregate (the sweep costs one conditional
    sum per config, never a re-hash or re-join of the corpus). Ground
    truth is |Q| x N brute force — at 100 TB you'd run the audit on a
    hash-sampled slice, composing with ``pipeline_hash_sample``, same
    note as ``dedup_lsh_eval``."""
    emb = t(spark, sf_dir, "embeddings")
    truth = ops.cosine_topk(
        emb, "vec_id", "embedding", F.col("vec_id") < _N_QUERIES, k=_TOP_K
    ).select("query_id", "neighbor_id")
    # query-side buckets from a predicate-pushed scan (hashing is
    # deterministic per vector — identical to filtering the corpus
    # bucket table, without re-deriving a full corpus pass for it)
    bq = ops.lsh_table_buckets(
        ops.quantized_vectors(
            emb.filter(F.col("vec_id") < _N_QUERIES), "vec_id", "embedding"
        ),
        n_tables=_RC_TABLES, n_planes=_RC_PLANES,
    ).select(F.col("vec_id").alias("query_id"), "tbl", "bucket")
    bc = ops.lsh_table_buckets(
        ops.quantized_vectors(emb, "vec_id", "embedding"),
        n_tables=_RC_TABLES, n_planes=_RC_PLANES,
    ).select(F.col("vec_id").alias("neighbor_id"), "tbl", "bucket")
    coll = (
        F.broadcast(bq)
        .join(bc, ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("tbl").alias("first_tbl"))
    )
    joined = truth.join(coll, ["query_id", "neighbor_id"], "left")
    confs = spark.createDataFrame(
        [(c,) for c in _RC_CONFIGS], "n_tables int"
    )
    hit = F.when(F.col("first_tbl") < F.col("n_tables"), 1).otherwise(0)
    return (
        joined.crossJoin(F.broadcast(confs))
        .groupBy("n_tables")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_truth"),
            F.sum(hit).cast("bigint").alias("n_hits"),
        )
        .select(
            F.col("n_tables").cast("bigint").alias("n_tables"),
            F.lit(_RC_PLANES).cast("bigint").alias("n_planes"),
            "n_truth",
            "n_hits",
            (
                F.col("n_hits").cast("double")
                / F.col("n_truth").cast("double")
            ).alias("recall"),
        )
    )


from .base import REGISTRY as _REG  # noqa: E402

_REG["ann_topk_mmr"].oracle = _mmr_oracle()
