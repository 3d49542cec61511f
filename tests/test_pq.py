"""PQ quality evidence: Lloyd training must not worsen reconstruction
error (it provably cannot), and ADC search must recall a healthy
fraction of the exact L2 top-k despite 64x compression."""

from __future__ import annotations

from pyspark.sql import functions as F

from event_data_etl_gcs_spark.operators.pq import (
    adc_topk,
    build_codebook,
    encode_codes,
    reconstruction_error,
    train_codebook,
)
from event_data_etl_gcs_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"
K = 5
N_QUERY = 10


def _exact_l2_topk(emb, queries):
    from event_data_etl_gcs_spark.operators.clustering import sqdist_sql
    from pyspark.sql import Window

    cand = (
        emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("v"))
        .crossJoin(
            F.broadcast(
                queries.select(
                    F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
                )
            )
        )
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("d", F.expr(sqdist_sql("v", "qv")))
    )
    w = Window.partitionBy("qid").orderBy("d", "nid")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .select("qid", "nid")
    )


def _recall(spark, emb, codebook) -> float:
    queries = emb.filter(F.col("vec_id") < N_QUERY)
    codes = encode_codes(emb, codebook)
    got = adc_topk(emb, codebook, codes, queries, k=K).select(
        F.col("query_id").alias("qid"), F.col("neighbor_id").alias("nid")
    )
    want = _exact_l2_topk(emb, queries)
    hits = got.join(want, ["qid", "nid"]).count()
    return hits / (N_QUERY * K)


def test_training_reduces_reconstruction_error(spark):
    emb = load_table(spark, SF, "embeddings")
    seeded = build_codebook(emb)
    trained = train_codebook(emb, n_iter=3)
    e_seeded = reconstruction_error(emb, seeded)
    e_trained = reconstruction_error(emb, trained)
    # Lloyd never increases SSE from its starting assignment
    assert e_trained <= e_seeded
    # and on clustered data the improvement is substantial, not epsilon
    assert e_trained < 0.9 * e_seeded


def test_adc_recall_floors(spark):
    """Direct ADC recall floors (observed 0.22 seeded / 0.16 trained;
    floors sit below to absorb data drift). NOTE the measured nuance:
    Lloyd training cuts reconstruction MSE ~2x yet LOWERS direct
    recall@5 here — on tightly clustered data the refined centroids
    collapse many vectors onto identical codes, erasing within-cluster
    distinctions that the (worse-MSE) seed codebook happened to keep.
    MSE is the trained objective, not ranking quality; production PQ
    therefore always re-ranks a shortlist (next test)."""
    emb = load_table(spark, SF, "embeddings")
    assert _recall(spark, emb, build_codebook(emb)) >= 0.15
    assert _recall(spark, emb, train_codebook(emb, n_iter=3)) >= 0.10


def test_shortlist_rerank_recovers_recall(spark):
    """The production two-stage shape: ADC shortlist (top-50 of 500 =
    10% of the corpus scanned at full precision) + exact re-rank. The
    shortlist must contain most true neighbors — observed 0.88 with the
    seeded codebook; floor 0.75."""
    emb = load_table(spark, SF, "embeddings")
    cb = build_codebook(emb)
    codes = encode_codes(emb, cb)
    queries = emb.filter(F.col("vec_id") < N_QUERY)
    shortlist = adc_topk(emb, cb, codes, queries, k=50).select(
        F.col("query_id").alias("qid"), F.col("neighbor_id").alias("nid")
    )
    want = _exact_l2_topk(emb, queries)
    recall = shortlist.join(want, ["qid", "nid"]).count() / (N_QUERY * K)
    assert recall >= 0.75


def test_pq_index_persist_append_rebuild_equivalence(spark, tmp_path):
    """Parquet round-trip of the PQ index is lossless; appending a new
    batch against the frozen codebook is bit-identical to a from-scratch
    rebuild; ADC over the reloaded index equals ADC over the in-memory
    one."""
    from event_data_etl_gcs_spark.operators.pq import (
        load_pq_index,
        pack_codes,
        save_pq_index,
    )

    emb = load_table(spark, SF, "embeddings")
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    cb = build_codebook(emb)  # codebook frozen over the full id range

    save_pq_index(cb, encode_codes(old, cb), str(tmp_path / "idx"))
    cb_loaded, codes_loaded = load_pq_index(spark, str(tmp_path / "idx"))

    # round-trip losslessness (codebook and unpacked codes)
    assert cb_loaded.exceptAll(cb).count() == 0
    assert cb.exceptAll(cb_loaded).count() == 0
    want_old = encode_codes(old, cb)
    assert codes_loaded.exceptAll(want_old).count() == 0
    assert want_old.exceptAll(codes_loaded).count() == 0

    # append == rebuild, bit-exact (packed form compared)
    appended = pack_codes(
        want_old.unionByName(encode_codes(new, cb))
    )
    rebuilt = pack_codes(encode_codes(emb, cb))
    assert appended.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(appended).count() == 0

    # search on the reloaded+appended index == search on in-memory codes
    queries = emb.filter(F.col("vec_id") < N_QUERY)
    all_codes = want_old.unionByName(encode_codes(new, cb))
    got = adc_topk(emb, cb_loaded, all_codes, queries, k=K)
    want = adc_topk(emb, cb, encode_codes(emb, cb), queries, k=K)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
