"""IVF ANN index: training determinism, recall vs brute force."""

from __future__ import annotations

from pyspark.sql import functions as F

from event_data_etl_gcs_spark.operators.ivf import ivf_topk, train_ivf_centroids
from event_data_etl_gcs_spark.operators.similarity import brute_force_topk
from event_data_etl_gcs_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def test_centroid_training_is_deterministic(spark):
    emb = load_table(spark, SF, "embeddings")
    c1 = train_ivf_centroids(emb, k=8, iterations=2).collect()
    c2 = train_ivf_centroids(emb.repartition(7), k=8, iterations=2).collect()
    m1 = {r.cell: list(r.centroid) for r in c1}
    m2 = {r.cell: list(r.centroid) for r in c2}
    assert m1.keys() == m2.keys()
    for cell in m1:
        assert m1[cell] == m2[cell]  # bit-identical despite repartition


def test_ivf_recall_vs_brute_force(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    cents = train_ivf_centroids(emb, k=8, iterations=2)

    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, queries, cents, k=5, n_probe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    # random 64-d gaussian vectors are a worst case for coarse cells;
    # the structural guarantee is bounded candidate sets + deterministic
    # results, with recall well above chance (8 cells, 3 probed).
    assert recall >= 0.4, recall
    # every approx neighbor's cosine must equal the exact computation
    bf = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in brute_force_topk(emb, queries, k=500).collect()
    }
    for r in ivf_topk(emb, queries, cents, k=5, n_probe=3).collect():
        assert bf[(r.query_id, r.neighbor_id)] == r.cos_sim


def test_ivf_multiprobe_recall_tradeoff_sf01(spark):
    """Recall@5 vs brute force at sf0.1 (2,000 vectors) as n_probe grows.

    Documents the recall/probe tradeoff the IVF index trades on: each
    additional probed cell widens the candidate set (cost ~ n_probe/k of
    the corpus per query) and recall rises monotonically toward the
    brute-force ceiling. Gate: probing 4 of 16 cells (1/4 of the corpus)
    must reach recall@5 >= 0.6 on random gaussians — the structural
    worst case for coarse quantization — and recall must not decrease
    as probes are added.
    """
    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    queries = emb.filter(F.col("vec_id") < 30)
    cents = train_ivf_centroids(emb, k=16, iterations=2)

    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    recalls = {}
    for n_probe in (1, 2, 4):
        approx = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(emb, queries, cents, k=5, n_probe=n_probe).collect()
        }
        recalls[n_probe] = len(exact & approx) / len(exact)
    assert recalls[1] <= recalls[2] <= recalls[4], recalls
    assert recalls[4] >= 0.6, recalls


def test_incremental_index_append_equals_rebuild(spark, tmp_path):
    """Persisted inverted file + map-only append of a new vector batch
    must answer queries bit-identically to an index rebuilt from scratch
    over the full corpus (same frozen centroids)."""
    from event_data_etl_gcs_spark.operators.ivf import (
        build_ivf_index,
        ivf_topk_on_index,
    )

    emb = load_table(spark, SF, "embeddings")
    n = emb.count()
    old = emb.filter(F.col("vec_id") < n * 4 // 5)
    new = emb.filter(F.col("vec_id") >= n * 4 // 5)
    cents = train_ivf_centroids(old, k=8, iterations=2)  # trained BEFORE the batch

    idx_path = str(tmp_path / "ivf_index")
    build_ivf_index(old, cents).write.partitionBy("cell").parquet(idx_path)
    build_ivf_index(new, cents).write.mode("append").partitionBy("cell").parquet(idx_path)

    queries = emb.filter(F.col("vec_id") < 20)
    reloaded = spark.read.parquet(idx_path)
    got = {
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in ivf_topk_on_index(reloaded, queries, cents, k=5, n_probe=3).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in ivf_topk(emb, queries, cents, k=5, n_probe=3).collect()
    }
    assert got == want  # bit-identical, cos_sim doubles included
    # the persisted layout serves cell-pruned probes: one dir per cell
    import glob

    assert len(glob.glob(idx_path + "/cell=*")) >= 2
