"""IVF (inverted-file) ANN index with k-means-lite training.

The scale path for similarity search beyond LSH: train k coarse
centroids, assign every corpus vector to its nearest cell (the inverted
file), and at query time probe only the n_probe nearest cells.

Spark-first + deterministic:
  * Training is driver-coordinated Lloyd iterations (the standard way —
    each iteration is one distributed assign + one grouped mean).
  * Initialization = first k vectors by id (pinned, no RNG).
  * Cell means are computed with QUANTIZED-INTEGER sums per (cell,
    dimension) (operators/clustering.QMEAN_SCALE) — bit-identical at any
    partitioning AND across engines, so the trained index has an exact
    DuckDB oracle since round 6 (queries/similarity.ann_ivf_trained),
    plus a recall test against brute force.
  * Assignment ties break toward the lower cell id.

At 100 TB: centroids broadcast (k×dim doubles); assignment is map-only;
the per-cell search is an equi-join on cell id, exactly like the LSH
bucket join but with trained, data-adaptive cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import dot_sql


def _dist_sql(a: str, b: str) -> str:
    """Squared L2 distance, sequential double sum (deterministic)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, embedding, cell): nearest centroid per vector, ties to the
    lower cell id. Centroids are broadcast (k rows)."""
    scored = vectors.crossJoin(F.broadcast(centroids)).withColumn(
        "__dist", F.expr(_dist_sql("embedding", "centroid"))
    )
    best = scored.groupBy("vec_id").agg(
        F.min(F.struct(F.col("__dist"), F.col("cell"))).alias("b"),
        F.first("embedding").alias("embedding"),
    )
    return best.select("vec_id", "embedding", F.col("b.cell").alias("cell"))


def train_ivf_centroids(
    corpus: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell, centroid array<double>) after `iterations` Lloyd steps from
    a pinned initialization (first k vectors by id)."""
    vectors = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    centroids = (
        vectors.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cell"),
            F.col("embedding").cast("array<double>").alias("centroid"),
        )
    )
    for _ in range(iterations):
        assigned = _assign(vectors, centroids)
        exploded = assigned.select(
            "cell", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
        )
        # quantized-integer component means: exact int64 sums ->
        # partitioning-independent AND cross-engine portable (round 6 —
        # the previous decimal(28,12) sums were only the former: DuckDB
        # rounds double->decimal half-way values differently than Java
        # BigDecimal). See operators/clustering.QMEAN_SCALE.
        from .clustering import quantized_mean

        means = exploded.groupBy("cell", "dim").agg(
            quantized_mean(F.col("v")).alias("m")
        )
        centroids = means.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda x: x["m"]
            ).alias("centroid")
        )
    return centroids


def build_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The inverted file: (vec_id, embedding, cell, nrm) — every corpus
    vector assigned to its nearest centroid, zero-norm vectors dropped
    (cosine undefined). This frame IS the persistable index: write it
    partitioned by ``cell`` and probes read only the probed cells'
    partitions. Assignment is per-vector and independent of the rest of
    the corpus, so index rows for new vectors, assigned against the frozen
    centroids and appended to the persisted index, give an index
    bit-identical to one rebuilt from scratch with the same centroids.
    """
    from .similarity import norm_sql

    return (
        _assign(
            corpus.select(
                F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
            ),
            centroids,
        )
        .withColumn("nrm", F.expr(norm_sql("embedding")))
        .filter(F.col("nrm") > 0)
    )


def ivf_topk_on_index(
    inv: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k over a prebuilt (possibly reloaded-from-
    parquet, possibly incrementally-appended) inverted file."""
    from .similarity import norm_sql

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    q_cells = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("__dist", F.expr(_dist_sql("qv", "centroid")))
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("__dist", "cell")
            ),
        )
        .filter(F.col("__rk") <= n_probe)
        .select("query_id", "qv", "cell")
        .withColumn("qnrm", F.expr(norm_sql("qv")))
        # zero-norm queries: cosine undefined
        .filter(F.col("qnrm") > 0)
    )
    scored = (
        inv.join(F.broadcast(q_cells), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos_sim", F.expr(dot_sql("qv", "embedding")) / (F.col("qnrm") * F.col("nrm"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_sim", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k probing the n_probe nearest cells
    (builds the inverted file inline; use build_ivf_index +
    ivf_topk_on_index to persist/append the index across queries)."""
    inv = build_ivf_index(corpus, centroids, id_col, vec_col)
    return ivf_topk_on_index(inv, queries, centroids, k, n_probe, id_col, vec_col)
