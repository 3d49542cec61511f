"""Semantics of the LM-based curation scores (beyond the exact oracle):
bounds, pool exclusion, the selection fraction, and the DSIR scorer's
running-window form."""

from __future__ import annotations

from pyspark.sql import functions as F

from event_data_etl_gcs_spark.operators.dsir import (
    bucket_counts,
    ratio_table,
    score_docs,
    token_buckets,
)
from event_data_etl_gcs_spark.queries.lm_quality import (
    _dsir_weights,
    dsir_select_topfrac,
    unigram_surprisal_scores,
)
from event_data_etl_gcs_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def test_unigram_mean_inv_p_lower_bound(spark):
    """Every term N/c >= 1 (c <= N), so the mean is >= 1; equality only
    if every token of the doc is the whole corpus."""
    out = unigram_surprisal_scores(spark, SF)
    assert out.filter(F.col("mean_inv_p") < 1.0).count() == 0
    # rare-token-heavy docs must score above common-token docs on average
    assert out.count() > 0


def test_unigram_single_token_doc_identity(spark):
    """For a doc, mean_inv_p >= N / (n * harmonic-bound) sanity: spot-check
    one doc against a direct python recompute."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    toks = {r["doc_id"]: r["text"].split() for r in docs}
    from collections import Counter

    counts = Counter(t for ts in toks.values() for t in ts)
    n_total = sum(counts.values())
    out = {r["doc_id"]: r for r in unigram_surprisal_scores(spark, SF).collect()}
    did = next(d for d, ts in toks.items() if ts)
    ts = toks[did]
    vals = [n_total / counts[t] for t in ts]
    acc = 0.0
    for v in vals:  # same left-to-right fold
        acc += v
    assert abs(out[did]["mean_inv_p"] - acc / len(ts)) < 1e-9
    assert out[did]["n_tokens"] == len(ts)
    assert out[did]["min_tok_count"] == min(counts[t] for t in ts)


def test_dsir_excludes_target_pool(spark):
    w = _dsir_weights(spark, SF)
    assert w.filter(F.col("doc_id") % 97 == 0).count() == 0


def test_dsir_topfrac_counts(spark):
    w = _dsir_weights(spark, SF)
    per_src = {r["source"]: r["n"] for r in
               w.groupBy("source").agg(F.count("*").alias("n")).collect()}
    sel = dsir_select_topfrac(spark, SF)
    got = {r["source"]: r["n"] for r in
           sel.groupBy("source").agg(F.count("*").alias("n")).collect()}
    for src, n in per_src.items():
        assert got.get(src, 0) == (n + 4) // 5


def test_dsir_weights_positive(spark):
    w = _dsir_weights(spark, SF)
    assert w.filter(F.col("mean_lr") <= 0.0).count() == 0


def test_score_docs_window_form(spark):
    """Round-13 restructure pin: the running-window score_docs must be
    BIT-IDENTICAL to the original sort_array(collect_list) + fold form
    (pos is unique per doc, ratios strictly positive, so the running
    double sum visits the same order the array fold pinned)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tk = token_buckets(docs)
    ratios = ratio_table(bucket_counts(tk))
    got = {
        (r["doc_id"], r["source"]): (r["n_tokens"], r["mean_lr"])
        for r in score_docs(tk, ratios).collect()
    }
    legacy = (
        tk.filter(~F.col("is_target"))
        .join(F.broadcast(ratios), "h")
        .select("doc_id", "source", "pos", "ratio")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sort_array(F.collect_list(F.struct("pos", "ratio"))).alias("pr"),
        )
        .select(
            "doc_id",
            "source",
            "n_tokens",
            (
                F.expr(
                    "aggregate(transform(pr, p -> p.ratio), "
                    "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
                )
                / F.col("n_tokens").cast("double")
            ).alias("mean_lr"),
        )
    )
    want = {
        (r["doc_id"], r["source"]): (r["n_tokens"], r["mean_lr"])
        for r in legacy.collect()
    }
    assert got == want  # exact doubles, not approx
