"""End-to-end training-data corpus pipeline: the composition the engine
exists for at 100 TB — quality-filter -> exact-dedup -> near-dedup.

Stages (each deterministic, so the whole pipeline has an exact oracle):
  1. quality gate — token/stopword/punctuation thresholds (map-only,
     pushes down past nothing: it IS the scan projection).
  2. exact dedup — keep the min-id copy of each identical text
     (one shuffle on the content hash).
  3. near-dup removal — MinHash/LSH pairs at jaccard >= threshold; every
     doc that appears as the LARGER id of a surviving pair is dropped
     (keep-smallest policy; greedy but deterministic and one pass —
     transitive chains collapse to their minimum representative across
     reruns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import minhash_lsh_pairs
from ..operators.text import quality_columns, tokens_sql

MIN_TOKENS = 20
MAX_STOPWORD_RATIO = 0.6
MAX_PUNCT_RATIO = 0.2
NEAR_DUP_THRESHOLD = 0.5


def quality_gate(docs: DataFrame) -> DataFrame:
    q = quality_columns()
    staged = docs.withColumn("toks", F.expr(tokens_sql("text"))).withColumns(
        {name: col for name, col in q.items()}
    )
    return staged.filter(
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("stopword_ratio") <= MAX_STOPWORD_RATIO)
        & (F.col("punct_ratio") <= MAX_PUNCT_RATIO)
    ).drop("toks")


def exact_dedup_keep_min(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    keeper = docs.groupBy("text").agg(F.min(id_col).alias(id_col))
    return docs.join(keeper, ["text", id_col], "left_semi")


def near_dedup_keep_min(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    # Texts here are already exact-deduped by the previous stage, so the
    # operator's own collapse-identical pass would be a redundant shuffle.
    pairs = minhash_lsh_pairs(
        docs, id_col=id_col, threshold=NEAR_DUP_THRESHOLD, collapse_identical=False
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(losers, id_col, "left_anti")


def select_training_corpus(docs: DataFrame) -> DataFrame:
    """Surviving corpus: (doc_id, lang, source, n_tokens)."""
    gated = quality_gate(docs)
    unique = exact_dedup_keep_min(gated)
    survivors = near_dedup_keep_min(unique)
    return survivors.select("doc_id", "lang", "source", "n_tokens")


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    min_shared_shingles: int = 4,
) -> DataFrame:
    """Drop docs sharing >= min_shared_shingles distinct 3-token shingle
    hashes with any benchmark doc (eval-set contamination). The eval set
    is small: its exploded shingles broadcast, the corpus side never
    shuffles (see the decontaminate_against_benchmark query for the
    plan-audited shape)."""
    from ..operators.text import shingle_hash_set_sql

    bench = benchmark.select(
        F.explode(F.expr(shingle_hash_set_sql("text"))).alias("h")
    ).distinct()
    doc_sh = docs.select(
        F.col(id_col), F.explode(F.expr(shingle_hash_set_sql("text"))).alias("h")
    )
    contaminated = (
        doc_sh.join(F.broadcast(bench), "h")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared_shingles)
        .select(id_col)
    )
    return docs.join(contaminated, id_col, "left_anti")


def build_training_export(
    docs: DataFrame,
    benchmark: DataFrame,
    output_path: str,
    chunk_tokens: int = 50,
    chunk_stride: int = 40,
) -> DataFrame:
    """The full modern training-data pipeline: quality gate -> exact
    dedup -> near-dedup -> benchmark decontamination -> sliding-window
    chunking -> gzipped JSONL export (the handoff format). Every stage
    is deterministic and map/shuffle-sane; returns the chunk frame that
    was written."""
    from ..operators.text import tokens_sql
    from ..sources.parquet_sink import export_jsonl

    survivors = decontaminate(
        near_dedup_keep_min(exact_dedup_keep_min(quality_gate(docs))), benchmark
    )
    staged = survivors.withColumn("toks", F.expr(tokens_sql("text"))).withColumn(
        "ss",
        F.expr(
            # greatest(n - (chunk - stride), 1): every tail token covered
            f"sequence(1, greatest(size(toks) - {chunk_tokens - chunk_stride},"
            f" 1), {chunk_stride})"
        ),
    )
    ch = staged.select(
        "doc_id", "lang", "source", "toks", F.posexplode("ss").alias("pos", "start")
    )
    chunk = F.expr(f"slice(toks, start, {chunk_tokens})")
    chunks = ch.select(
        "doc_id",
        "lang",
        "source",
        (F.col("pos") + 1).cast("int").alias("chunk_idx"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
    )
    export_jsonl(chunks, output_path, target_partitions=4)
    return chunks


def build_training_corpus_v2(
    docs: DataFrame, benchmark: DataFrame
) -> DataFrame:
    """Pipeline v2 — the round-3 composition: quality gate -> exact
    dedup -> near-dedup (keep-min) -> benchmark decontamination ->
    CLUSTER-AWARE train/valid/test split.

    The split is assigned per near-dup CLUSTER REPRESENTATIVE (computed
    on the pre-dedup corpus), not per row: even though keep-min leaves
    one doc per cluster here, routing the split through the rep makes
    the assignment STABLE under pipeline changes — if the near-dedup
    threshold loosens later, a cluster's survivors still land in the
    same split instead of scattering contamination across train/test.
    Every stage is a deterministic DataFrame op (see each stage's own
    oracle query); invariants are pinned by
    tests/test_training_ops.py::test_corpus_v2_invariants.
    """
    from ..operators.dedup import minhash_lsh_pairs
    from ..operators.graph import dedup_clusters
    from ..queries.sampling import _split_of

    gated = quality_gate(docs)
    unique = exact_dedup_keep_min(gated)
    survivors = near_dedup_keep_min(unique)
    clean = decontaminate(survivors, benchmark)

    pairs = minhash_lsh_pairs(docs, threshold=NEAR_DUP_THRESHOLD)
    clusters = dedup_clusters(pairs)
    out = (
        clean.join(clusters, "doc_id", "left")
        .withColumn("cluster_rep", F.coalesce("cluster_rep", F.col("doc_id")))
        .withColumn("split", F.expr(_split_of("cluster_rep")))
    )
    return out.select(
        "doc_id", "lang", "source", "n_tokens", "cluster_rep", "split"
    )
