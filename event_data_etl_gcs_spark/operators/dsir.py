"""DSIR building blocks (Data Selection via Importance Resampling, Xie
et al. 2023, arXiv:2302.03169) for the batch queries
(queries/lm_quality.py).

The model is a hashed-unigram bucket-count table: 4096 rows however big
the corpus — the whole point of hashed features is that the model stays
broadcastable forever. Scoring is the engine's libm-free power-mean
spelling (see queries/lm_quality.py for the rationale); every helper
here returns the exact same doubles whichever engine mirrors it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import char_hash_sql, tokens_sql

DSIR_BUCKETS = 4096


def token_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, source, is_target, pos, h): one row per token, bucketed
    by the portable polynomial hash. Map-only (explode fused with the
    scan). Target pool = ``doc_id % 97 = 0`` (the benchmark-split
    convention shared with decontaminate_against_benchmark)."""
    return docs.select(
        "doc_id",
        "source",
        (F.col("doc_id") % 97 == 0).alias("is_target"),
        F.expr(tokens_sql("text")).alias("toks"),
    ).select(
        "doc_id",
        "source",
        "is_target",
        F.posexplode(
            F.expr(
                f"transform(toks, t -> {char_hash_sql('t')} % {DSIR_BUCKETS})"
            )
        ).alias("pos", "h"),
    )


def bucket_counts(tk: DataFrame) -> DataFrame:
    """(h, ct, cs): per-bucket token counts under the target / source
    pools — the DSIR model's sufficient statistics. Exact integers, so
    partials from any batch decomposition SUM to the full-corpus model
    (the property the streaming maintenance relies on)."""
    return tk.groupBy("h").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("cs"),
    )


def ratio_table(bc: DataFrame) -> DataFrame:
    """(h, ratio): smoothed target/source probability ratio per bucket.
    Totals are derived from the count table itself (4096 rows), so the
    ratio table is a pure function of the model state."""
    tot = bc.agg(
        F.sum("ct").cast("bigint").alias("nt"),
        F.sum("cs").cast("bigint").alias("ns"),
    )
    return bc.crossJoin(F.broadcast(tot)).select(
        "h",
        (
            ((F.col("ct") + 1).cast("double") / (F.col("cs") + 1).cast("double"))
            * (
                (F.col("ns") + DSIR_BUCKETS).cast("double")
                / (F.col("nt") + DSIR_BUCKETS).cast("double")
            )
        ).alias("ratio"),
    )


def score_docs(
    tk: DataFrame, ratios: DataFrame, exclude_target: bool = True
) -> DataFrame:
    """(doc_id, source, n_tokens, mean_lr): order-pinned mean likelihood
    ratio per document, against a (possibly separately-maintained) ratio
    table. The ratio table broadcasts (<= 4096 rows by construction);
    the corpus sees one join and one doc-keyed window.

    Round 13 (VERDICT r12 #7): the per-doc summation runs as a RUNNING
    window sum ordered by token position instead of
    ``sort_array(collect_list(struct(pos, ratio)))`` + an interpreted
    array fold. Bit-identity: ``pos`` is unique per doc (posexplode), so
    ORDER BY pos visits exactly the order sort_array pinned, and a
    running double sum accumulates left-to-right exactly like the fold
    (ratios are strictly positive, so the fold's 0.0 seed is a no-op);
    pinned in tests/test_streaming_dsir.py::test_score_docs_window_form.
    Memory: the old form buffered every doc's full (pos, ratio) array in
    the aggregate — unbounded per-doc state at 100 TB; the window
    carries one running double per row."""
    from pyspark.sql import Window

    if exclude_target:
        tk = tk.filter(~F.col("is_target"))
    j = tk.join(F.broadcast(ratios), "h").select(
        "doc_id", "source", "pos", "ratio"
    )
    word = Window.partitionBy("doc_id", "source").orderBy("pos")
    run = word.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("doc_id", "source")
    return (
        j.withColumn("running", F.sum("ratio").over(run))
        .withColumn("rn", F.row_number().over(word))
        .withColumn("cnt", F.count("*").over(wall))
        .filter(F.col("rn") == F.col("cnt"))
        .select(
            "doc_id",
            "source",
            F.col("cnt").alias("n_tokens"),
            (F.col("running") / F.col("cnt").cast("double")).alias("mean_lr"),
        )
    )
