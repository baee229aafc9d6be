"""IVF-style ANN: trained-centroid coarse quantization + exact rerank.

The third point on the search-cost curve after brute force and
hyperplane LSH (operators/similarity.py): a KMeans codebook partitions
the corpus into cells; a query probes its ``n_probe`` nearest cells and
reranks those candidates exactly. Unlike the hash-based LSH bucketing,
the codebook adapts to the data distribution — fewer empty cells,
better recall per candidate.

MLlib's distributed KMeans (kmeans||) trains the codebook; training is
iterative and seed-deterministic but not cross-engine reproducible, so
no registry query calls this operator. The registry's ``ann_ivf_topk``
trains its codebook with one deterministic Lloyd iteration instead and
is checked against an exact oracle (queries/similarity.py).

Scale: training samples the corpus (no need for all 100 TB); cell
assignment is one broadcast-model pass; the search shuffles only the
probed cells' rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import cosine_topk

__all__ = ["train_ivf_assignments", "ivf_topk"]


def train_ivf_assignments(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    seed: int = 42,
    max_iter: int = 20,
):
    """Train a KMeans codebook and assign every vector to a cell.
    Returns (assignments_df[id, cell], model). The model's
    ``clusterCenters()`` is the codebook used to route queries."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(
        F.col(id_col).alias("vec_id"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(feats)
    assigned = model.transform(feats).select(
        "vec_id", F.col("prediction").alias("cell")
    )
    return assigned, model


def ivf_topk(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    query_filter,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k via IVF: queries probe their ``n_probe`` nearest cells
    (by exact distance to the broadcast codebook), candidates are the
    vectors assigned to those cells, reranked exactly. ``n_probe``
    trades recall for cost exactly like IVF nprobe in vector DBs."""
    assigned, model = train_ivf_assignments(
        corpus, id_col, vec_col, n_cells=n_cells, seed=seed
    )
    spark = corpus.sparkSession
    centers = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        ["cell", "center"],
    )
    # route each query to its n_probe nearest centroids (tiny cross join:
    # |Q| x n_cells, fully broadcast)
    queries = corpus.filter(query_filter).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    dist = (
        queries.crossJoin(F.broadcast(centers))
        .select(
            "query_id",
            "cell",
            F.aggregate(
                F.zip_with(
                    F.col("qv").cast("array<double>"),
                    F.col("center"),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d2"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("d2"), F.col("cell"))
    probed = dist.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= n_probe
    ).select("query_id", "cell")
    candidates = probed.join(assigned, "cell").select(
        "query_id", F.col("vec_id").alias("neighbor_id")
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    return cosine_topk(
        corpus, id_col, vec_col, query_filter, k=k, candidates=candidates
    )
