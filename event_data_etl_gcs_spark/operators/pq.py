"""Product quantization (PQ) for embedding columns.

The standard memory-bound ANN compression: split each d-dim vector into
M subvectors, quantize each against a per-subspace codebook of K
centroids, and store M small codes instead of d floats — here M=8
subspaces x K=16 codes = one 32-bit word per 64-dim vector (64x smaller
than float32). Search uses Asymmetric Distance Computation (ADC): the
query stays full-precision and its distance to a corpus vector is the
sum over subspaces of distance-to-that-code's-centroid.

Spark-first shape:
  * The codebook is deterministic-seeded (the K smallest-id vectors'
    subvectors), so encode/search are pure DataFrame computations with
    exact DuckDB oracles. Production would refine the codebook with
    per-subspace Lloyd iterations (operators/clustering.py) — the
    operator shapes below don't change, only the codebook rows do.
  * The codebook is M x K tiny rows -> ALWAYS broadcast. Encoding is a
    map-side broadcast join + per-(vector, subspace) argmin: the corpus
    never shuffles to get encoded.
  * ADC partial distances join code rows to broadcast (codebook x query
    subvectors); per-pair totals fold the M=8 partials in subspace
    order (sort_array fold — deterministic double summation), then a
    per-query window keeps the top-k. The only shuffle is the
    per-(query, vector) aggregation — M rows per pair, k queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .clustering import duck_sqdist, sqdist_sql

PQ_M = 8  # subspaces
PQ_K = 16  # centroids per subspace
PQ_SUB = 8  # dims per subspace (64-dim embeddings)
PQ_CODE_BITS = 4  # log2(PQ_K)


def _sub_structs(vec_col: str) -> F.Column:
    """array of (m, sv): the M subvectors of a vector column."""
    return F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.expr(f"slice({vec_col}, {m * PQ_SUB + 1}, {PQ_SUB})").alias("sv"),
            )
            for m in range(PQ_M)
        ]
    )


def build_codebook(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(m, c, cv): K seed centroids per subspace from the K smallest-id
    vectors (code c = rank of the seed). Deterministic; M*K rows."""
    seeds = emb.select(id_col, vec_col).orderBy(id_col).limit(PQ_K)
    # window over PQ_K rows post-limit: trivially small, not a scale risk
    coded = seeds.withColumn(
        "c", F.row_number().over(Window.orderBy(id_col)) - 1
    )
    return coded.select(
        "c", F.explode(_sub_structs(vec_col)).alias("s")
    ).select("s.m", "c", F.col("s.sv").alias("cv"))


def encode_codes(
    emb: DataFrame, codebook: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, m, code): per-subspace nearest-centroid codes.

    Broadcast codebook join + argmin window keyed by (vector, subspace);
    ties toward the smaller code. Map-side except the window's hash
    partition on vec_id."""
    sub = emb.select(
        F.col(id_col).alias("vec_id"), F.explode(_sub_structs(vec_col)).alias("s")
    ).select("vec_id", "s.m", "s.sv")
    cand = sub.join(F.broadcast(codebook), "m").withColumn(
        "d", F.expr(sqdist_sql("sv", "cv"))
    )
    w = Window.partitionBy("vec_id", "m").orderBy("d", "c")
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("vec_id", "m", F.col("c").alias("code"))
    )


def pack_codes(codes: DataFrame) -> DataFrame:
    """(vec_id, pq_code): M 4-bit codes packed into one BIGINT — the
    at-rest representation (integer sum, order-independent)."""
    return codes.groupBy("vec_id").agg(
        F.sum(F.expr(f"shiftleft(CAST(code AS BIGINT), m * {PQ_CODE_BITS})"))
        .cast("bigint")
        .alias("pq_code")
    )


def adc_topk(
    emb: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, adc_dist, rank): ADC top-k.

    Corpus side joins code rows to the broadcast codebook and broadcast
    query subvectors; per-(query, vector) totals fold the M partials in
    subspace order for engine-exact doubles. Self-matches excluded."""
    qsub = queries.select(
        F.col(id_col).alias("qid"), F.explode(_sub_structs(vec_col)).alias("s")
    ).select("qid", "s.m", F.col("s.sv").alias("qsv"))
    # THE ADC trick: precompute the distance lookup table — one sqdist
    # per (query, subspace, code), n_query*M*K rows — so the corpus-side
    # pass is a pure code-table join + lookup, never a per-pair distance
    # computation. Same doubles (each distance computed once, not
    # recomputed per pair).
    lut = (
        qsub.join(F.broadcast(codebook), qsub.m == codebook.m)
        .select(
            "qid",
            codebook.m.alias("m"),
            F.col("c").alias("code"),
            F.expr(sqdist_sql("qsv", "cv")).alias("p"),
        )
    )
    partial = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", "m", "p")
    )
    # Pivot the M partials into fixed columns and add them in subspace
    # order: each conditional sum aggregates exactly ONE value, and the
    # final p0+p1+...+p7 is a fixed-order expression — deterministic
    # doubles without materializing/sorting an array per pair (the
    # collect_list fold this replaces was the hot spot at 100x).
    per_m = [
        F.sum(F.when(F.col("m") == m, F.col("p"))).alias(f"p{m}")
        for m in range(PQ_M)
    ]
    total = F.col("p0")
    for m in range(1, PQ_M):
        total = total + F.col(f"p{m}")
    summed = (
        partial.groupBy("qid", "vec_id")
        .agg(*per_m)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            total.alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        summed.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


# ---------------------------------------------------------------- DuckDB


def duck_pq_ctes(n_query: int) -> str:
    """Shared oracle CTEs: seeds/codebook/subvectors/codes (+ query subs)."""
    subexpr = f"embedding[(m * {PQ_SUB} + 1):(m * {PQ_SUB} + {PQ_SUB})]"
    return (
        "seeds AS (SELECT vec_id, embedding, "
        "CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c "
        f"FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {PQ_K})), "
        f"cbm AS (SELECT m, c, {subexpr} AS cv "
        f"FROM seeds, unnest(range({PQ_M})) AS t(m)), "
        f"sub AS (SELECT vec_id, m, {subexpr} AS sv "
        f"FROM embeddings, unnest(range({PQ_M})) AS t(m)), "
        "cand AS (SELECT vec_id, sub.m AS m, c, "
        f"{duck_sqdist('sv', 'cv')} AS d FROM sub JOIN cbm ON sub.m = cbm.m), "
        "codes AS (SELECT vec_id, m, c AS code FROM cand "
        "QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c) = 1), "
        "qsub AS (SELECT vec_id AS qid, m, sv AS qsv FROM sub "
        f"WHERE vec_id < {n_query})"
    )


def train_codebook(
    emb: DataFrame,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd-refined PQ codebook: per-subspace k-means starting from the
    deterministic seeds. Each iteration is one broadcast-assignment pass
    + one avg-recompute over (m, c, pos); the M*K*PQ_SUB centroid floats
    round-trip the driver between iterations (tiny, like MLlib). Lloyd
    never increases within-cluster SSE, so reconstruction error is
    monotonically <= the seeded codebook's (tested). Returns (m, c, cv).
    """
    spark = emb.sparkSession
    sub = emb.select(
        F.col(id_col).alias("vec_id"), F.explode(_sub_structs(vec_col)).alias("s")
    ).select("vec_id", "s.m", "s.sv")
    sub = sub.cache()
    cb = build_codebook(emb, id_col, vec_col)
    rows = [(r["m"], r["c"], r["cv"]) for r in cb.collect()]
    for _ in range(n_iter):
        cb_df = spark.createDataFrame(rows, "m INT, c INT, cv ARRAY<FLOAT>")
        cand = sub.join(F.broadcast(cb_df), "m").withColumn(
            "d", F.expr(sqdist_sql("sv", "cv"))
        )
        w = Window.partitionBy("vec_id", "m").orderBy("d", "c")
        assign = (
            cand.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("vec_id", "m", "c", "sv")
        )
        from .clustering import quantized_mean

        new = (
            assign.select("m", "c", F.posexplode("sv").alias("pos", "val"))
            .groupBy("m", "c", "pos")
            # quantized-integer mean (round 6): partitioning-independent
            # AND cross-engine portable at plain-avg cost — the device
            # that gives the trained codebook an exact DuckDB oracle
            .agg(quantized_mean(F.col("val")).alias("v"))
            .groupBy("m", "c")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
            .select(
                "m",
                "c",
                F.expr("transform(pv, x -> CAST(x.v AS FLOAT))").alias("cv"),
            )
        )
        got = {(r["m"], r["c"]): r["cv"] for r in new.collect()}
        # empty cells keep their previous centroid (standard practice)
        rows = [(m, c, got.get((m, c), cv)) for m, c, cv in rows]
    sub.unpersist()
    return spark.createDataFrame(rows, "m INT, c INT, cv ARRAY<FLOAT>")


def reconstruction_error(
    emb: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Mean squared reconstruction error of PQ-encoding `emb` with
    `codebook` — the quantization-quality metric Lloyd training drives
    down. One assignment pass; the min distances sum per vector."""
    sub = emb.select(
        F.col(id_col).alias("vec_id"), F.explode(_sub_structs(vec_col)).alias("s")
    ).select("vec_id", "s.m", "s.sv")
    cand = sub.join(F.broadcast(codebook), "m").withColumn(
        "d", F.expr(sqdist_sql("sv", "cv"))
    )
    per_sub = cand.groupBy("vec_id", "m").agg(F.min("d").alias("dmin"))
    row = per_sub.groupBy("vec_id").agg(F.sum("dmin").alias("err")).agg(
        F.avg("err").alias("mse")
    ).collect()[0]
    return float(row["mse"])


def save_pq_index(
    codebook: DataFrame, codes: DataFrame, index_dir: str
) -> None:
    """Persist a PQ index: the codebook (M*K rows) plus the packed code
    table. Codes are the at-rest ANN representation — 8 bytes/vector vs
    256 for the float32 embedding; at 100 TB of embeddings the code
    table is ~1.6 TB and the float corpus is only consulted by a
    re-rank stage over shortlists."""
    codebook.write.mode("overwrite").parquet(f"{index_dir}/codebook")
    pack_codes(codes).write.mode("overwrite").parquet(f"{index_dir}/codes")


def load_pq_index(spark, index_dir: str) -> tuple[DataFrame, DataFrame]:
    """(codebook, codes) reloaded from a persisted index; packed codes
    unpack back to (vec_id, m, code) rows for ADC."""
    codebook = spark.read.parquet(f"{index_dir}/codebook")
    packed = spark.read.parquet(f"{index_dir}/codes")
    m_struct = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.expr(
                    f"CAST((pq_code >> {m * PQ_CODE_BITS}) & {PQ_K - 1} AS INT)"
                ).alias("code"),
            )
            for m in range(PQ_M)
        ]
    )
    codes = packed.select("vec_id", F.explode(m_struct).alias("s")).select(
        "vec_id", "s.m", "s.code"
    )
    return codebook, codes
