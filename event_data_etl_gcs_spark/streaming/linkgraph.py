"""Incremental link-graph maintenance (VERDICT r10 directive #4): fold
each crawl delivery's anchor harvest into a persisted domain-level
edge-count state WITHOUT rescanning prior deliveries, and recompute
domain authority over the merged graph on demand.

State algebra: the batch edge list (queries/linkgraph.link_graph_edges)
is ``(src_host, dst_host, n_links, n_docs)`` — both counters exact
integers that SUM across any delivery decomposition, provided each
document arrives in exactly one delivery (the crawl contract: a
delivery is a set of NEW pages; redelivery of the same batch_id is a
replay, handled below, not a second occurrence). The merged state is
therefore BIT-IDENTICAL to the batch aggregate over the union of
deliveries (pinned in tests/test_streaming_linkgraph.py), the same
exactly-mergeable-counts pattern as the bigram-LM tables
(streaming/lm_bigram.py).

Replay safety: per-delivery partials land in their own ``batch_id=N``
partition via dynamic overwrite (streaming/corpus._append_state) — a
redelivered batch REWRITES its own partition instead of double-counting.
Compaction: sum-merged, so the state folds with
``streaming/compaction.compact_batch_state`` + :func:`edges_merge`
(checkpoint-scoped, like the Gram/LM states); every merge-read runs
``recover_compaction`` first (the torn-compaction replay window,
ADVICE r9 #1 convention).

Scale shape: each increment is the batch pipeline's map-only anchor
harvest over ONLY the delivery's pages plus one groupBy at domain-pair
cardinality; the state is domain-pair-bound, never document-bound.
Authority recompute runs entirely on the merged DOMAIN graph
(queries/linkgraph.authority_from_pairs — deterministic dense ids,
scaled-integer PageRank), so streamed authority == batch authority
bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.linkgraph import (
    authority_from_pairs,
    canonical_links_frame,
    links_frame,
)
from .compaction import recover_compaction
from .corpus import _append_state

EDGE_STATE_SCHEMA = (
    "src_host STRING, dst_host STRING, n_links LONG, n_docs LONG, "
    "batch_id LONG"
)
FRONTIER_STATE_SCHEMA = (
    "canonical_url STRING, dst_host STRING, n_refs LONG, n_docs LONG, "
    "first_doc LONG, batch_id LONG"
)


def linkgraph_ingest_batch(
    batch_df: DataFrame, batch_id: int, state_dir: str
) -> None:
    """One increment: the delivery's external-anchor edge aggregate AND
    its canonical-URL frontier partial, each appended under its own
    batch_id partition (two writes — the crash between them is the
    chaos matrix's territory; replay rewrites both deterministically).
    ``batch_df`` is a documents-shaped frame (doc_id, text, source)."""
    canon = canonical_links_frame(batch_df).localCheckpoint(eager=True)
    edges = (
        canon.filter(F.col("is_external") & (F.col("host") != ""))
        .select(
            F.concat(F.col("source"), F.lit(".example.com")).alias("src_host"),
            F.col("host").alias("dst_host"),
            "doc_id",
        )
        .groupBy("src_host", "dst_host")
        .agg(
            F.count("*").cast("long").alias("n_links"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
    )
    _append_state(edges, os.path.join(state_dir, "edges"), batch_id)
    from ..operators.html import href_host_sql

    frontier = (
        canon.filter(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("long").alias("n_refs"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .withColumn("dst_host", F.expr(href_host_sql("canonical_url")))
        .select("canonical_url", "dst_host", "n_refs", "n_docs", "first_doc")
    )
    _append_state(frontier, os.path.join(state_dir, "frontier"), batch_id)


def edges_merge(df: DataFrame) -> DataFrame:
    """Canned compaction reduction for the edge state: SUM both counters
    per (src_host, dst_host) — the same fold the merge-read applies.
    Sum-merged, so NOT replay-idempotent: compact only with
    ``checkpoint_dir`` (see streaming/compaction.counts_merge)."""
    return df.groupBy("src_host", "dst_host").agg(
        F.sum("n_links").cast("long").alias("n_links"),
        F.sum("n_docs").cast("long").alias("n_docs"),
    )


def read_crawl_frontier(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained frontier, batch partials folded — column-identical
    to the batch ``crawl_frontier`` over the union of deliveries."""
    path = os.path.join(state_dir, "frontier")
    recover_compaction(path)
    if not (
        os.path.exists(path)
        and any(n.startswith("batch_id=") for n in os.listdir(path))
    ):
        return spark.createDataFrame([], FRONTIER_STATE_SCHEMA).drop("batch_id")
    return (
        spark.read.schema(FRONTIER_STATE_SCHEMA)
        .parquet(path)
        .groupBy("canonical_url", "dst_host")
        .agg(
            F.sum("n_refs").cast("long").alias("n_refs"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.min("first_doc").alias("first_doc"),
        )
        .select("canonical_url", "dst_host", "n_refs", "n_docs", "first_doc")
    )


def read_link_graph_edges(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained domain edge list, batch partials folded —
    column-identical to the batch ``link_graph_edges`` over the union
    of deliveries. Empty state reads as a typed empty frame."""
    path = os.path.join(state_dir, "edges")
    recover_compaction(path)  # torn compaction repairs before EVERY merge-read
    if not (
        os.path.exists(path)
        and any(n.startswith("batch_id=") for n in os.listdir(path))
    ):
        return spark.createDataFrame([], EDGE_STATE_SCHEMA).drop("batch_id")
    return (
        spark.read.schema(EDGE_STATE_SCHEMA)
        .parquet(path)
        .groupBy("src_host", "dst_host")
        .agg(
            F.sum("n_links").cast("long").alias("n_links"),
            F.sum("n_docs").cast("long").alias("n_docs"),
        )
    )


def streamed_domain_authority(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Domain authority over the MERGED streamed graph: the maintained
    edge state's distinct (src_host, dst_host) pairs through the exact
    composition the batch ``domain_authority`` registers. All shuffles
    at domain cardinality; bit-identical to the batch recompute."""
    pairs = read_link_graph_edges(spark, state_dir).select(
        "src_host", "dst_host"
    )
    return authority_from_pairs(pairs.distinct())


def run_streaming_linkgraph(
    spark: SparkSession, stream: DataFrame, state_dir: str
) -> None:
    """Drain a documents stream (Available-Now), maintaining the domain
    edge-count state at ``state_dir``."""

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        linkgraph_ingest_batch(batch_df, batch_id, state_dir)

    q = (
        stream.writeStream.trigger(availableNow=True)
        .foreachBatch(on_batch)
        .option("checkpointLocation", os.path.join(state_dir, "_checkpoint"))
        .start()
    )
    q.awaitTermination()
