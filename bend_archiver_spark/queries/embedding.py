"""Embedding compression / clustering passes for training-data
pipelines: fixed-codebook k-means assignment (the E-step every IVF /
balanced-shard builder runs) and per-vector int8 quantization with
reconstruction-error audit (the storage format embedding stores
actually ship).

Numeric determinism (memory: oracle-portability): components quantize
to int64 (``round(x * 1e6)``) so every distance is exact integer
arithmetic; quantization error is re-quantized at 1e-9 before squaring
so the error sums are exact too. The only float ops are IEEE
correctly-rounded (sub/div/sqrt/round) applied identically per-row in
both engines — no accumulation-order dependence anywhere.

Scale design: the codebook (centroid components) is broadcast — the
scan is a single pass with an 8-way per-component fan-out and one
map-side-combinable groupBy; int8 quantization is per-row only (no
shuffle until the final per-vector rollup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.similarity import QSCALE, explode_quantized
from .base import fanout, register, t

_K = 8  # codebook size: centroids are the vectors with vec_id < _K

# quantized components, shared CTE (see queries/similarity.py for the
# unnest/generate_subscripts alignment + 1-based note)
_E_SQL = f"""
      SELECT vec_id,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * {QSCALE}, 0) AS BIGINT) AS xq,
             generate_subscripts(embedding, 1) - 1 AS i
      FROM embeddings
"""

_KMEANS_ORACLE = f"""
WITH e AS ({_E_SQL}),
cent AS (SELECT vec_id AS cid, i, xq FROM e WHERE vec_id < {_K}),
d2 AS (
  SELECT v.vec_id, c.cid,
         SUM((v.xq - c.xq) * (v.xq - c.xq)) AS dist
  FROM e v JOIN cent c ON c.i = v.i
  GROUP BY 1, 2),
assigned AS (
  SELECT vec_id, cid, dist,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist, cid) AS rn
  FROM d2)
SELECT cid AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_assigned,
       CAST(SUM(dist) AS DOUBLE)
         / (CAST(COUNT(*) AS DOUBLE) * {QSCALE}.0 * {QSCALE}.0)
         AS avg_sq_dist
FROM assigned WHERE rn = 1
GROUP BY cid
"""


@register(
    "embedding_kmeans_assign",
    oracle=_KMEANS_ORACLE,
    tags=("embedding", "clustering"),
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means assignment step against a fixed 8-vector codebook
    (vec_id < 8): every vector goes to its nearest centroid by exact
    int64 squared L2 distance, ties to the smaller centroid id; the
    rollup reports cluster sizes and mean squared distance (rescaled
    to float units). This is the building block IVF index
    construction and balanced embedding sharding repeat per
    iteration — with a trained codebook swapped in, the plan is
    unchanged. The codebook explodes to 512 component rows and
    broadcasts; distances come from one fan-out join plus a map-side-
    combinable groupBy, so the pass over N vectors never shuffles
    more than N*K distance rows."""
    emb = t(spark, sf_dir, "embeddings")
    e = explode_quantized(emb, "vec_id", "embedding")
    cent = (
        e.filter(F.col("vec_id") < _K)
        .select(F.col("vec_id").alias("cid"), "i", F.col("xq").alias("cq"))
    )
    diff = F.col("xq") - F.col("cq")
    d2 = (
        e.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "cid")
        .agg(F.sum(diff * diff).alias("dist"))
    )
    win = Window.partitionBy("vec_id").orderBy("dist", "cid")
    assigned = d2.withColumn("rn", F.row_number().over(win)).filter(
        F.col("rn") == 1
    )
    scale2 = float(QSCALE) * float(QSCALE)
    return assigned.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assigned"),
        (
            F.sum(F.col("dist").cast("decimal(38,0)")).cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(scale2))
        ).alias("avg_sq_dist"),
    )


_ESCALE = 1_000_000_000  # error re-quantization: round(err * 1e9) -> int64

_INT8_ORACLE = f"""
WITH v AS (
  SELECT vec_id,
         CAST(list_min(embedding) AS DOUBLE) AS mn,
         CAST(list_max(embedding) AS DOUBLE) AS mx
  FROM embeddings),
e AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
q AS (
  SELECT e.vec_id, v.mn, v.mx,
         CAST(round((e.x - v.mn) / ((v.mx - v.mn) / 255)) AS BIGINT) AS qi,
         e.x, (v.mx - v.mn) / 255 AS scl
  FROM e JOIN v USING (vec_id)),
err AS (
  SELECT vec_id, mn, mx,
         CAST(round((x - (mn + qi * scl)) * {_ESCALE}) AS BIGINT) AS eq
  FROM q)
SELECT vec_id, mn AS mn_comp, mx AS mx_comp,
       CAST(SUM(eq * eq) AS BIGINT) AS sq_err_q
FROM err
GROUP BY vec_id, mn, mx
"""


@register(
    "embedding_int8_quantize",
    oracle=_INT8_ORACLE,
    tags=("embedding", "quantization"),
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector affine int8 quantization audit: each vector maps its
    components onto 256 levels between its own min and max
    (``q = round((x - mn) / ((mx - mn) / 255))``), then reports the
    squared reconstruction error (re-quantized at 1e-9 so the sum is
    exact int64, order-independent). This is the compression format
    + quality check for embedding storage at scale — 4x smaller than
    float32 with measured loss. Entirely per-row math: min/max come
    from the array itself (no shuffle), the only exchange is the
    per-vector error rollup."""
    emb = fanout(t(spark, sf_dir, "embeddings"))
    v = emb.select(
        "vec_id",
        F.array_min("embedding").cast("double").alias("mn"),
        F.array_max("embedding").cast("double").alias("mx"),
        F.posexplode("embedding").alias("i", "xf"),
    ).select(
        "vec_id",
        "mn",
        "mx",
        F.col("xf").cast("double").alias("x"),
        ((F.col("mx") - F.col("mn")) / 255).alias("scl"),
    )
    qi = (
        F.round((F.col("x") - F.col("mn")) / F.col("scl"), 0)
        .cast("bigint")
        .alias("qi")
    )
    q = v.select("vec_id", "mn", "mx", "x", "scl", qi)
    eq = (
        F.round(
            (F.col("x") - (F.col("mn") + F.col("qi") * F.col("scl")))
            * _ESCALE,
            0,
        )
        .cast("bigint")
        .alias("eq")
    )
    return (
        q.select("vec_id", "mn", "mx", eq)
        .groupBy(
            "vec_id",
            F.col("mn").alias("mn_comp"),
            F.col("mx").alias("mx_comp"),
        )
        .agg(F.sum(F.col("eq") * F.col("eq")).cast("bigint").alias("sq_err_q"))
    )


_N_CELLS = 16  # fixed codebook: vec_id < 16
_N_PROBE = 2
_N_QUERIES = 10  # vec_id < 10 is the query set (as in queries/similarity.py)
_TOP_K = 5

_COSINE_SQL = (
    "CAST(dot AS DOUBLE)"
    " / (sqrt(CAST(nq.nrm AS DOUBLE)) * sqrt(CAST(nc.nrm AS DOUBLE)))"
)

_IVF_FIXED_ORACLE = f"""
WITH e AS ({_E_SQL}),
norms AS (SELECT vec_id, SUM(xq * xq) AS nrm FROM e GROUP BY vec_id),
cent AS (SELECT vec_id AS cid, i, xq FROM e WHERE vec_id < {_N_CELLS}),
d2 AS (
  SELECT v.vec_id, c.cid,
         SUM((v.xq - c.xq) * (v.xq - c.xq)) AS dist
  FROM e v JOIN cent c ON c.i = v.i
  GROUP BY 1, 2),
ranked AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM d2),
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
    "ann_ivf_fixed_codebook",
    oracle=_IVF_FIXED_ORACLE,
    tags=("embedding", "ann", "ivf"),
)
def ann_ivf_fixed_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF search path — cell assignment, n_probe cell
    selection, candidate gather, exact cosine rerank — with a FIXED
    16-vector codebook (vec_id < 16) instead of a trained one, which
    makes every stage exact int64 arithmetic and therefore driver-
    checkable end-to-end (ann_ivf_topk trains its codebook with one
    deterministic Lloyd iteration, also checked exactly). Plan
    shape is identical to production IVF: broadcast codebook, one
    combinable groupBy for assignments, candidates shuffled only on
    probed cells — never an all-pairs product."""
    from ..operators.similarity import cosine_topk

    emb = t(spark, sf_dir, "embeddings")
    e = explode_quantized(emb, "vec_id", "embedding")
    cent = e.filter(F.col("vec_id") < _N_CELLS).select(
        F.col("vec_id").alias("cid"), "i", F.col("xq").alias("cq")
    )
    diff = F.col("xq") - F.col("cq")
    d2 = (
        e.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "cid")
        .agg(F.sum(diff * diff).alias("dist"))
    )
    win = Window.partitionBy("vec_id").orderBy("dist", "cid")
    # persist barrier on the <= n_probe rows per vector (3 int64
    # columns): `assigned` and `probes` both consume the ranking, and
    # without it Catalyst re-derives the whole cell-assignment stage —
    # corpus explode + broadcast E-step join + groupBy + window, the
    # heaviest pass here — once per consumer. The ranking is
    # deterministic (ties broken by cid), so the barrier cannot
    # change rows. Callers clear cache between queries.
    ranked = (
        d2.withColumn("rn", F.row_number().over(win))
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
    return cosine_topk(
        emb,
        "vec_id",
        "embedding",
        F.col("vec_id") < _N_QUERIES,
        k=_TOP_K,
        candidates=cand,
    )
