"""PCA projection / whitening queries — closing the linalg module's
stated purpose end-to-end (round-8 VERDICT directive #1): fit the
quantized PCA model on the corpus, project every embedding onto the
top-k eigenvectors, whiten, and feed the projection into an IVF-style
coarse-quantizer build.

Cross-engine exactness: the eigensolve is driver-side float-iterative
(power_iteration_topk — numpy-verified in tests, the graph_pagerank
exemption class), but the PROJECTION is oracle-exact at fixed
eigenvectors: the fitted eigenvectors quantize to int64 literals
(floor(v*2^20+0.5)), and each projected component is
sum_i floor(x_i * qe_di + 0.5) / 2^20 — one correctly-rounded product
of exact inputs per term, exact int64 sums, one exact power-of-two
division. The oracle CALLABLE re-derives the same quantized model from
the raw parquet with an INDEPENDENT numpy Gram pass
(operators/linalg.numpy_gram_int) — the distributed reduction is the
piece under cross-engine test; the shared fixed-spec iteration is the
contract (bit-identical on the bit-identical integer Gram).

Scale posture: the fit's distributed work is one Gram pass (map-only
partial Grams above GRAM_FOLD_MAX_N, data moved = partitions x dim^2
longs); the projection is map-only (mapInPandas matmul above
PROJECT_FOLD_MAX_N — the corpus is scanned once, never shuffled); the
IVF assignment broadcasts k centroid rows. Nothing here shuffles the
corpus at any scale. 100x probe in SCALE_r8.md.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession

from ..operators.clustering import (
    K_CLUSTERS,
    QMEAN_SCALE,
    assign_clusters,
    duck_sqdist,
    initial_centroids,
)
from ..operators.linalg import (
    PCA_K,
    PCA_N_ITER,
    numpy_gram_int,
    pca_fit,
    pca_project,
    pca_project_array,
    power_iteration_topk,
    quantize_components,
    whitening_factors,
)
from ..sources.catalog import load_table
from .registry import query

_EMB_DIM = 64  # embeddings fixture dimensionality (all SFs)

# Spark-side fit memo: the three PCA queries share one model per
# corpus — re-running the Gram pass + eigensolve per query would triple
# the fit cost for bit-identical output (the result is deterministic,
# so caching cannot change any value). The memo key includes a corpus
# FINGERPRINT (embeddings.parquet mtime+size), so a long-lived driver
# that regenerates the corpus under the same path gets a fresh model
# instead of a silently stale one (ADVICE r8).
_FIT_MEMO: dict[tuple, tuple] = {}


def _corpus_fingerprint(sf_dir: str) -> tuple:
    """(mtime_ns, size) of the embeddings parquet — cheap invalidation
    token for the fit memos. Directories (multi-file parquet) hash the
    sorted per-file stats."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    if os.path.isdir(path):
        stats = []
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                stats.append((f, st.st_mtime_ns, st.st_size))
        return tuple(stats)
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size)


def _fit_spark(spark: SparkSession, sf_dir: str):
    key = (sf_dir, _corpus_fingerprint(sf_dir))
    if key not in _FIT_MEMO:
        emb = load_table(spark, sf_dir, "embeddings")
        qe, qw, _ = pca_fit(emb)
        _FIT_MEMO[key] = (qe, qw)
    return _FIT_MEMO[key]


def _fit_from_parquet(sf_dir: str):
    return _fit_from_parquet_fp(sf_dir, _corpus_fingerprint(sf_dir))


@lru_cache(maxsize=8)
def _fit_from_parquet_fp(sf_dir: str, _fingerprint: tuple):
    """(qe tuple-of-tuples, qw tuple): the quantized PCA model derived
    INDEPENDENTLY of Spark — numpy Gram straight off the parquet file,
    then the shared fixed-spec eigensolve. Bit-identical to pca_fit's
    result because the integer Grams are identical by construction."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"])
    X = np.stack(t["embedding"].to_pylist()).astype(np.float64)
    G = numpy_gram_int(X).astype(np.float64) / QMEAN_SCALE
    eigvals, V = power_iteration_topk(G, PCA_K, PCA_N_ITER)
    qe = quantize_components(V)
    qw = whitening_factors(eigvals)
    return (
        tuple(tuple(int(v) for v in row) for row in qe),
        tuple(int(v) for v in qw),
    )


def _duck_list_literal(qe) -> str:
    return "[" + ",".join(
        "[" + ",".join(str(int(v)) for v in row) + "]" for row in qe
    ) + "]"


def _pca_project_oracle(sf_dir: str) -> str:
    qe, qw = _fit_from_parquet(sf_dir)
    k, dim = len(qe), len(qe[0])
    qe_lit = _duck_list_literal(qe)
    qw_lit = "[" + ",".join(str(int(v)) for v in qw) + "]"
    return f"""
WITH qs AS (
  SELECT vec_id, pd AS component,
    SUM(CAST(floor(CAST(embedding[pi] AS DOUBLE)
        * CAST(({qe_lit})[pd][pi] AS DOUBLE) + 0.5) AS BIGINT)) AS qsum
  FROM embeddings,
       unnest(range(1, {k + 1})) AS u(pd),
       unnest(range(1, {dim + 1})) AS w(pi)
  GROUP BY vec_id, pd
)
SELECT vec_id, CAST(component AS BIGINT) AS component,
  CAST(qsum AS DOUBLE) / {QMEAN_SCALE!r} AS proj,
  (CAST(qsum AS DOUBLE) / {QMEAN_SCALE!r})
    * (CAST(({qw_lit})[component] AS DOUBLE) / {QMEAN_SCALE!r}) AS whitened
FROM qs
"""


@query(
    "pca_project_whiten",
    oracle=_pca_project_oracle,
    doc=(
        "PCA projection + whitening of the embedding corpus onto the "
        "top-8 eigenvectors of its quantized-exact Gram matrix. The "
        "fit's distributed work is one Gram pass; the eigensolve runs "
        "driver-side on the dim x dim reduction (fixed-spec power "
        "iteration, numpy-verified); the projection is map-only with "
        "the quantized eigenvectors as broadcast-free literals. Every "
        "projected/whitened value is bit-portable (quantized-integer "
        "device), so the query is ORACLE-EXACT at the fitted "
        "eigenvectors — the oracle re-derives the identical model from "
        "the raw parquet via an independent numpy Gram."
    ),
)
def pca_project_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qe, qw = _fit_spark(spark, sf_dir)
    return pca_project(emb, qe, qw)


def _pca_ivf_oracle(sf_dir: str) -> str:
    qe, _qw = _fit_from_parquet(sf_dir)
    k, dim = len(qe), len(qe[0])
    qe_lit = _duck_list_literal(qe)
    return f"""
WITH pe AS MATERIALIZED (
  SELECT vec_id, list_transform(range(1, {k + 1}), pd ->
    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, {dim + 1}), pi ->
        CAST(floor(CAST(embedding[pi] AS DOUBLE)
             * CAST(({qe_lit})[pd][pi] AS DOUBLE) + 0.5) AS BIGINT))),
      (acc, x) -> acc + x) AS DOUBLE) / {QMEAN_SCALE!r}) AS pvec
  FROM embeddings
),
c AS MATERIALIZED (
  SELECT vec_id AS cid, pvec AS cvec FROM pe ORDER BY vec_id LIMIT {K_CLUSTERS}
),
d AS (
  SELECT pe.vec_id, c.cid, {duck_sqdist('pe.pvec', 'c.cvec')} AS sqdist
  FROM pe CROSS JOIN c
)
SELECT vec_id, cid AS cluster_id, sqdist FROM d
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sqdist, cid) = 1
"""


@query(
    "pca_ivf_cells",
    oracle=_pca_ivf_oracle,
    doc=(
        "The composition the linalg module exists for: project the "
        "corpus to 8 PCA dims (map-only, quantized-exact), then build "
        "an IVF-style coarse quantizer OVER THE PROJECTION — "
        "deterministic seed centroids + broadcast nested-loop nearest-"
        "cell assignment. An 8-dim cell probe costs 8x less distance "
        "arithmetic than the raw 64-dim build while the Gram fit reuses "
        "the same single corpus pass; at 100 TB the projection and "
        "assignment stay map-only (the corpus never shuffles)."
    ),
)
def pca_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qe, _qw = _fit_spark(spark, sf_dir)
    parr = pca_project_array(emb, qe)
    cents = initial_centroids(parr, k=K_CLUSTERS, id_col="vec_id", vec_col="pvec")
    return assign_clusters(parr, cents, id_col="vec_id", vec_col="pvec")


def _pca_semdedup_oracle(sf_dir: str) -> str:
    from .semdedup import KEEP_TAIL, _semdedup_ctes

    qe, _qw = _fit_from_parquet(sf_dir)
    k, dim = len(qe), len(qe[0])
    qe_lit = _duck_list_literal(qe)
    pe = f"""pe AS MATERIALIZED (
  SELECT vec_id, list_transform(range(1, {k + 1}), pd ->
    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, {dim + 1}), pi ->
        CAST(floor(CAST(embedding[pi] AS DOUBLE)
             * CAST(({qe_lit})[pd][pi] AS DOUBLE) + 0.5) AS BIGINT))),
      (acc, x) -> acc + x) AS DOUBLE) / {QMEAN_SCALE!r}) AS pvec
  FROM embeddings
)"""
    return (
        f"WITH {pe}, "
        f"{_semdedup_ctes(src='pe', vec_col='pvec')}, {KEEP_TAIL}"
    )


@query(
    "pca_semdedup_prune",
    oracle=_pca_semdedup_oracle,
    doc=(
        "SemDeDup keep decision computed IN THE PCA SUBSPACE: project "
        "the corpus to 8 dims (map-only, quantized-exact), then run the "
        "full semdedup_prune policy (deterministic seed clustering, "
        "within-cluster cosine pairs, argmin-centroid-cos domination) "
        "over the projected vectors — every pairwise cosine costs 8 "
        "multiplies instead of 64, the practical reason SemDeDup "
        "deployments dedup in a reduced space. Exact oracle over the "
        "whole composition (projection literals + the source-"
        "parameterized semdedup CTE chain)."
    ),
)
def pca_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import semdedup_keep

    emb = load_table(spark, sf_dir, "embeddings")
    qe, _qw = _fit_spark(spark, sf_dir)
    parr = pca_project_array(emb, qe)
    return semdedup_keep(parr, id_col="vec_id", vec_col="pvec")


_PCA_IVF_TOP_K = 5
# Default probe width, chosen from the round-9 recall ledger
# (SCALE_r9.md §1: 200k Gaussian corpus, recall@5 = 0.40/0.55/0.71/0.80/
# 0.91/1.0/1.0/1.0 for n_probe 1..8): 3-of-8 is the claimed-recall knee
# (0.707, pinned >= 0.6 in tests) — candidate volume grows linearly with
# n_probe and at scale the candidate scan is the cost, so the default
# does not chase the plateau. Recall is monotone non-decreasing in
# n_probe by construction (nested cell sets; tests/test_ann_recall.py).
_PCA_IVF_N_PROBE = 3
_PCA_IVF_N_QUERY = 15


def _pca_ivf_topk_oracle(sf_dir: str) -> str:
    from ..operators.similarity import duck_dot, duck_norm

    qe, _qw = _fit_from_parquet(sf_dir)
    k, dim = len(qe), len(qe[0])
    qe_lit = _duck_list_literal(qe)
    cos = f"{duck_dot('e.embedding', 'q.qv')} / (e.nrm * q.qnrm)"
    return f"""
WITH pe AS MATERIALIZED (
  SELECT vec_id, list_transform(range(1, {k + 1}), pd ->
    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, {dim + 1}), pi ->
        CAST(floor(CAST(embedding[pi] AS DOUBLE)
             * CAST(({qe_lit})[pd][pi] AS DOUBLE) + 0.5) AS BIGINT))),
      (acc, x) -> acc + x) AS DOUBLE) / {QMEAN_SCALE!r}) AS pvec
  FROM embeddings
),
c AS MATERIALIZED (
  SELECT vec_id AS cid, pvec AS cvec FROM pe ORDER BY vec_id LIMIT {K_CLUSTERS}
),
assign AS MATERIALIZED (
  SELECT pe.vec_id, c.cid AS cell
  FROM pe CROSS JOIN c
  QUALIFY row_number() OVER (PARTITION BY pe.vec_id
          ORDER BY {duck_sqdist('pe.pvec', 'c.cvec')}, c.cid) = 1
),
e0 AS MATERIALIZED (
  SELECT vec_id, embedding, {duck_norm('embedding')} AS nrm FROM embeddings
),
qc AS MATERIALIZED (
  SELECT pe.vec_id AS query_id, e0.embedding AS qv, e0.nrm AS qnrm, c.cid AS cell
  FROM pe JOIN e0 USING (vec_id) CROSS JOIN c
  WHERE pe.vec_id < {_PCA_IVF_N_QUERY} AND e0.nrm > 0
  QUALIFY row_number() OVER (PARTITION BY pe.vec_id
          ORDER BY {duck_sqdist('pe.pvec', 'c.cvec')}, c.cid) <= {_PCA_IVF_N_PROBE}
),
cand AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {cos} AS cos_sim
  FROM qc q
  JOIN assign a ON a.cell = q.cell AND a.vec_id <> q.query_id
  JOIN e0 e ON e.vec_id = a.vec_id
  WHERE e.nrm > 0
)
SELECT query_id, neighbor_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
FROM cand
QUALIFY row_number() OVER (PARTITION BY query_id
        ORDER BY cos_sim DESC, neighbor_id) <= {_PCA_IVF_TOP_K}
"""


@query(
    "pca_ivf_topk",
    oracle=_pca_ivf_topk_oracle,
    doc=(
        "End-to-end ANN search over the PCA-reduced index — the "
        "production IVF recipe (coarse-search cheap, re-rank exact): "
        "cells are assigned and probed in the 8-dim PCA subspace "
        "(8x cheaper distance arithmetic for both the index build and "
        "the query routing), then candidates re-rank by EXACT cosine "
        "in the original 64-dim space, so reduced-space error can "
        "reorder only the candidate set, never the scores. Map-only "
        "projection + broadcast centroid routing + cell-pruned "
        "candidate join; exact oracle over the full composition."
    ),
)
def pca_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qe, _qw = _fit_spark(spark, sf_dir)
    return pca_ivf_topk_frame(emb, qe)


def pca_ivf_topk_frame(
    emb: DataFrame,
    qe,
    n_query: int = _PCA_IVF_N_QUERY,
    n_probe: int = _PCA_IVF_N_PROBE,
    top_k: int = _PCA_IVF_TOP_K,
) -> DataFrame:
    """The reusable composition behind pca_ivf_topk (probes call it on
    arbitrary corpora): reduced-space routing, exact re-rank."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.clustering import sqdist_sql
    from ..operators.similarity import dot_sql, norm_sql

    parr = pca_project_array(emb, qe)
    cents = initial_centroids(parr, k=K_CLUSTERS, id_col="vec_id", vec_col="pvec")
    assign = assign_clusters(parr, cents, id_col="vec_id", vec_col="pvec").select(
        "vec_id", F.col("cluster_id").alias("cell")
    )
    e0 = emb.select(
        "vec_id", "embedding", F.expr(norm_sql("embedding")).alias("nrm")
    )
    # query routing: nearest n_probe cells in the projected space
    qr = (
        parr.filter(F.col("vec_id") < n_query)
        .join(e0.filter(F.col("nrm") > 0), "vec_id")
        .crossJoin(F.broadcast(cents))
        .withColumn("__d", F.expr(sqdist_sql("pvec", "cvec")))
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy("__d", "cid")
            ),
        )
        .filter(F.col("__rk") <= n_probe)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("nrm").alias("qnrm"),
            F.col("cid").alias("cell"),
        )
    )
    # Broadcast the query-routing side: it is n_query x n_probe rows BY
    # CONSTRUCTION (small in any ANN search), while `assign` is the full
    # corpus cell assignment. Without the hint Catalyst plans a
    # SortMergeJoin and shuffles every (vec_id, cell) corpus row to meet
    # ~45 routing rows — pure waste at 100 TB (VERDICT r8 #1). With it
    # the candidate join is a map-side BroadcastHashJoin and the corpus
    # assignment never moves (plan asserted in tests/test_pca_plans.py).
    cand = (
        F.broadcast(qr).join(assign, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(
            e0.filter(F.col("nrm") > 0).select(
                F.col("vec_id"), F.col("embedding").alias("nv"),
                F.col("nrm").alias("nnrm"),
            ),
            "vec_id",
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.expr(dot_sql("nv", "qv"))
                / (F.col("nnrm") * F.col("qnrm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_k)
    )
