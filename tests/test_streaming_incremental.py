"""Streaming kNN-graph maintenance: batch-split invariance, equality
with the batch build, idempotent replay and crash-atomic state commits.
The Sparkify incremental drain's tests are in
test_sparkify_incremental.py, in the default tier."""

from __future__ import annotations


def test_streaming_knn_maintenance_equals_batch_build(spark, tmp_path):
    """Streaming kNN-graph maintenance: (a) the final directed top-k
    state is IDENTICAL however the corpus is split into batches (1 file
    vs 4 files); (b) its u<v edge derivation equals the uncapped batch
    build (fold scoring, same pinned band geometry); (c) a replayed
    increment leaves the state unchanged (idempotence)."""
    from pyspark.sql import functions as F

    from event_data_etl_gcs_spark.operators.graph import (
        knn_edges_ann,
        knn_topk_to_edges,
    )
    from event_data_etl_gcs_spark.streaming.neardedup import (
        knn_maintain_batch,
        read_knn_topk,
        run_streaming_knn_maintenance,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )

    def state(split_dir: str, index_dir: str, n_files: int):
        emb.repartition(n_files).write.mode("overwrite").parquet(split_dir)
        run_streaming_knn_maintenance(
            spark,
            split_dir,
            index_dir,
            str(tmp_path / (index_dir.rsplit("/", 1)[-1] + "_ckpt")),
            k=3,
            band_bits=4,
            max_files_per_trigger=1,
        )
        return read_knn_topk(spark, index_dir)

    one = state(str(tmp_path / "src1"), str(tmp_path / "idx1"), 1)
    four = state(str(tmp_path / "src4"), str(tmp_path / "idx4"), 4)

    def rows(df):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["cos_sim"]) for r in df.collect()
        )

    assert rows(one) == rows(four) and len(rows(one)) > 0

    streamed_edges = sorted(map(tuple, knn_topk_to_edges(four).collect()))
    batch_edges = sorted(
        map(
            tuple,
            knn_edges_ann(
                spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
                k=3,
                band_bits=4,
                max_bucket=None,
                ring_cap=None,
                scoring="fold",
            ).collect(),
        )
    )
    assert streamed_edges == batch_edges

    # replay the LAST batch id against the committed state: overwrite of
    # the same vectors/batch_id partition + functional topk rewrite ->
    # state unchanged
    idx = str(tmp_path / "idx4")
    vecs = spark.read.parquet(f"{idx}/vectors")
    last_bid = vecs.agg(F.max("batch_id")).collect()[0][0]
    replay_batch = vecs.filter(F.col("batch_id") == last_bid).select(
        F.col("id").alias("vec_id"), "embedding"
    )
    before = rows(read_knn_topk(spark, idx))
    knn_maintain_batch(replay_batch, int(last_bid), idx, k=3, band_bits=4)
    assert rows(read_knn_topk(spark, idx)) == before


def test_knn_topk_state_survives_crash_mid_commit(spark, tmp_path):
    """ADVICE r6: the topk state commit must be crash-atomic. Simulate a
    crash between the new generation's data write and the manifest
    pointer advance (an uncommitted gen dir on disk, pointer still on
    the old gen): the reader must return the OLD state — not silently
    reset to empty — and a foreachBatch replay of the crashed batch
    must recommit and converge to the same state as a clean run."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from event_data_etl_gcs_spark.streaming.neardedup import (
        knn_maintain_batch,
        read_knn_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    b0 = emb.filter(F.col("vec_id") % 2 == 0)
    b1 = emb.filter(F.col("vec_id") % 2 == 1)

    def rows(df):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["cos_sim"]) for r in df.collect()
        )

    # clean two-batch run -> reference final state
    ref_idx = str(tmp_path / "ref_idx")
    knn_maintain_batch(b0, 0, ref_idx, k=3, band_bits=4)
    knn_maintain_batch(b1, 1, ref_idx, k=3, band_bits=4)
    ref = rows(read_knn_topk(spark, ref_idx))

    # crashed run: batch 1's gen-2 data lands but the pointer never moves
    idx = str(tmp_path / "crash_idx")
    knn_maintain_batch(b0, 0, idx, k=3, band_bits=4)
    state_after_b0 = rows(read_knn_topk(spark, idx))
    knn_maintain_batch(b1, 1, idx, k=3, band_bits=4)
    topk_dir = os.path.join(idx, "topk")
    # roll the pointer back to gen 1, leaving gen=2 as orphaned data —
    # byte-for-byte the on-disk state of a crash before os.replace
    import json

    with open(os.path.join(topk_dir, "_state_manifest.json"), "w") as f:
        json.dump({"current": 1}, f)
    assert os.path.isdir(os.path.join(topk_dir, "gen=2"))

    # reader sees the old complete generation, not empty state
    assert rows(read_knn_topk(spark, idx)) == state_after_b0

    # checkpoint replay of batch 1: clears the orphaned gen, recommits,
    # and the final state equals the clean run's
    knn_maintain_batch(b1, 1, idx, k=3, band_bits=4)
    assert rows(read_knn_topk(spark, idx)) == ref
    shutil.rmtree(str(tmp_path / "ref_idx"), ignore_errors=True)
