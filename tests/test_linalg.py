"""Gram matrix path equivalence and power-iteration PCA verification."""

from __future__ import annotations

import numpy as np
import pytest

from event_data_etl_gcs_spark.operators.linalg import (
    gram_matrix,
    top_principal_component,
)
from event_data_etl_gcs_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted((r["i"], r["j"], r["gram"]) for r in df.collect())


def test_partial_path_bit_identical_to_fold(spark):
    emb = load_table(spark, SF, "embeddings")
    fold = _rows(gram_matrix(emb, scoring="fold"))
    part = _rows(gram_matrix(emb, scoring="partial"))
    assert fold == part  # exact int64 sums -> identical doubles


def test_gram_matches_numpy_quantized(spark):
    emb = load_table(spark, SF, "embeddings")
    X = np.stack(
        [np.array(r["embedding"], np.float64) for r in emb.collect()]
    )
    got = {(r["i"], r["j"]): r["gram"] for r in gram_matrix(emb).collect()}
    S = float(1 << 20)
    dim = X.shape[1]
    for i in range(1, dim + 1, 17):  # spot-check a stride of entries
        for j in range(i, dim + 1, 13):
            q = np.floor(X[:, i - 1] * X[:, j - 1] * S + 0.5).astype(np.int64)
            assert got[(i, j)] == int(q.sum()) / S


def test_top_pc_matches_eigh(spark):
    # fixture eigengap is ~0.932, so Rayleigh error ~ 0.932^(2k):
    # 200 iterations puts it far below the tolerance
    emb = load_table(spark, SF, "embeddings")
    v, lam = top_principal_component(emb, n_iter=200)
    # reference: eigh of the QUANTIZED Gram (the matrix actually
    # iterated — quantization is a property of gram_matrix, not of the
    # power iteration under test)
    rows = gram_matrix(emb).collect()
    dim = max(r["j"] for r in rows)
    G = np.zeros((dim, dim), np.float64)
    for r in rows:
        G[r["i"] - 1, r["j"] - 1] = r["gram"]
        G[r["j"] - 1, r["i"] - 1] = r["gram"]
    vals, vecs = np.linalg.eigh(G)
    lam_true, v_true = vals[-1], vecs[:, -1]
    assert abs(lam - lam_true) / lam_true < 1e-9
    # eigenvector up to sign
    assert min(
        float(np.linalg.norm(v - v_true)), float(np.linalg.norm(v + v_true))
    ) < 1e-4
    # and the quantized Gram is within quantization noise of the true one
    X = np.stack([np.array(r["embedding"], np.float64) for r in emb.collect()])
    assert np.abs(G - X.T @ X).max() < len(X) * 2 ** -20


def test_gram_matrix_empty_corpus_raises_value_error(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        gram_matrix(empty)
    allnull = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="non-null"):
        gram_matrix(allnull)
