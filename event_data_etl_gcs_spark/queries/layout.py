"""Z-order (Morton) layout as an oracle-checked query.

The WRITE path exists in sources/parquet_sink.py write_zordered (n-column
Morton clustering; pruning benefit measured in SCALE_100x.md and pinned
by tests/test_scale_techniques2.py). This query exposes the SAME z-key
math relationally — per coarse z-bucket, both dimensions' min/max spans
tighten together, which is exactly the hyper-rectangle locality parquet
row-group pruning exploits — and value-checks it against DuckDB, closing
the loop on the layout arithmetic itself (the sink test asserts pruning
fractions, not key values).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .registry import query

Z_BITS = 8  # per-dimension rank bits for the query-level rollup

_EPOCH_SPARK = "datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')"
_EPOCH_DUCK = "datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))"


def _scaled(col: str, lo: str, hi: str, div: str) -> str:
    """Range-scaled rank in [0, 2^Z_BITS - 1] — the identical spelling
    (and the identical `(v-mn)*(2^bits-1) intdiv span` formula) the
    write path uses, in either engine's integer-division syntax."""
    return (
        f"((CAST({col} AS BIGINT) - {lo}) * {(1 << Z_BITS) - 1} "
        f"{div} (CASE WHEN {hi} - {lo} > 0 THEN {hi} - {lo} ELSE 1 END))"
    )


def _interleave(a: str, b: str, shift: str) -> str:
    """Morton interleave of two Z_BITS-bit ranks (a even, b odd bits) as
    generated mask/shift literals; `shift` spells right-shift-by-i."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"(({shift.format(v=a, i=i)} % 2) * {1 << (2 * i)})")
        terms.append(f"(({shift.format(v=b, i=i)} % 2) * {1 << (2 * i + 1)})")
    return "(" + " + ".join(terms) + ")"


def _duck_zorder_sql() -> str:
    bck = _scaled("ck", "cklo", "ckhi", "//")
    bdd = _scaled("dd", "ddlo", "ddhi", "//")
    # DuckDB right shift spelled as integer division by 2^i
    zkey = _interleave(bck, bdd, "({v} // POW2_{i})")
    for i in range(Z_BITS):
        zkey = zkey.replace(f"POW2_{i}", str(1 << i))
    return f"""
WITH o AS (
  SELECT o_custkey AS ck, {_EPOCH_DUCK} AS dd FROM orders
), b AS (
  SELECT min(ck) AS cklo, max(ck) AS ckhi, min(dd) AS ddlo, max(dd) AS ddhi
  FROM o
), z AS (
  SELECT ck, dd, {zkey} AS zkey FROM o, b
)
SELECT zkey // {1 << Z_BITS} AS zbucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(ck) AS BIGINT) AS ck_min, CAST(max(ck) AS BIGINT) AS ck_max,
       CAST(min(dd) AS BIGINT) AS dd_min, CAST(max(dd) AS BIGINT) AS dd_max
FROM z GROUP BY zbucket
"""


@query(
    "zorder_layout_stats",
    oracle=_duck_zorder_sql(),
    doc=(
        "Morton-key layout planning over orders on (custkey, orderdate): "
        "the same range-scaled-rank + bit-interleave arithmetic "
        "sources/parquet_sink.py write_zordered clusters writes by, "
        "surfaced as a per-coarse-z-bucket rollup whose ck/dd min-max "
        "spans tighten TOGETHER — the hyper-rectangle locality that "
        "makes 2-D predicates prune row groups. Bounds are one min/max "
        "aggregate (two scalars per dim to the driver); the key is "
        "map-only generated integer literals, no UDF. Integer-exact "
        "DuckDB oracle with correlated bounds."
    ),
)
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.expr(_EPOCH_SPARK).cast("long").alias("dd"),
    )
    b = o.agg(
        F.min("ck").alias("cklo"),
        F.max("ck").alias("ckhi"),
        F.min("dd").alias("ddlo"),
        F.max("dd").alias("ddhi"),
    ).collect()[0]
    bck = _scaled("ck", str(b["cklo"]) + "L", str(b["ckhi"]) + "L", "div")
    bdd = _scaled("dd", str(b["ddlo"]) + "L", str(b["ddhi"]) + "L", "div")
    zkey = _interleave(bck, bdd, "shiftright({v}, {i})")
    return (
        o.withColumn("zkey", F.expr(zkey))
        .select(F.expr(f"zkey div {1 << Z_BITS}").alias("zbucket"), "ck", "dd")
        .groupBy("zbucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("ck").cast("long").alias("ck_min"),
            F.max("ck").cast("long").alias("ck_max"),
            F.min("dd").cast("long").alias("dd_min"),
            F.max("dd").cast("long").alias("dd_max"),
        )
    )


# ---------------------------------------------------------------------------
# Token-balanced training-shard assignment
# ---------------------------------------------------------------------------

N_SHARDS = 16
SHARD_HASH_C = 2654435761  # Knuth multiplicative constant
SHARD_HASH_P = 2147483647  # 2^31 - 1
# Overflow-safe hashing (ADVICE r7): doc_id * C wraps int64 above
# doc_id ~ 3.47e9 (Spark wraps silently, DuckDB errors). Reduce BOTH
# operands mod P first: ((doc_id % P) * (C % P)) % P is the identical
# value by modular arithmetic, and the product is bounded by
# (P-1) * (C % P) < 2^60 — safely inside int64 at any doc_id.
SHARD_HASH_CR = SHARD_HASH_C % SHARD_HASH_P  # 506952114 < P
SHARD_BUCKETS = 64  # distributed prefix-sum granularity

_SHARD_CTES = f"""
t AS (
  SELECT doc_id,
         ((doc_id % {SHARD_HASH_P}) * {SHARD_HASH_CR}) % {SHARD_HASH_P} AS h,
         CAST(len(CASE WHEN length(trim(text)) = 0
                       THEN CAST([] AS VARCHAR[])
                       ELSE string_split_regex(trim(text), '\\s+') END)
              AS BIGINT) AS n_tokens
  FROM documents
), tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM t
), cum AS (
  SELECT doc_id, h, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
                 ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS cum_before
  FROM t
), assigned AS (
  SELECT c.doc_id, c.h, c.n_tokens, c.cum_before,
         CAST(c.cum_before // ((tot.total + {N_SHARDS - 1}) // {N_SHARDS})
              AS BIGINT) AS shard_id
  FROM cum c CROSS JOIN tot
)
"""


def hash_order_prefix_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, cum_before): exclusive running token total in
    the deterministic hash order — the DISTRIBUTED prefix-sum (local
    windows inside SHARD_BUCKETS hash-range buckets + one offsets
    window over bucket totals). Shared by the shard queries."""
    from pyspark.sql import Window

    t = docs.select(
        "doc_id",
        (
            ((F.col("doc_id") % F.lit(SHARD_HASH_P)) * F.lit(SHARD_HASH_CR))
            % F.lit(SHARD_HASH_P)
        ).alias("h"),
        F.expr(
            "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 "
            "ELSE size(split(trim(text), '\\\\s+')) END AS BIGINT)"
        ).alias("n_tokens"),
    )
    bwidth = SHARD_HASH_P // SHARD_BUCKETS + 1
    tb = t.withColumn("__b", (F.col("h") / F.lit(bwidth)).cast("long"))
    wl = (
        Window.partitionBy("__b")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = tb.withColumn(
        "__local", F.coalesce(F.sum("n_tokens").over(wl), F.lit(0)).cast("long")
    )
    wo = (
        Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        tb.groupBy("__b")
        .agg(F.sum("n_tokens").cast("long").alias("__btot"))
        .withColumn(
            "__off", F.coalesce(F.sum("__btot").over(wo), F.lit(0)).cast("long")
        )
        .select("__b", "__off")
    )
    return (
        local.join(F.broadcast(offsets), "__b")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("__local") + F.col("__off")).cast("bigint").alias("cum_before"),
        )
    )


@query(
    "shard_assignment_token_balanced",
    oracle=f"WITH {_SHARD_CTES} "
    "SELECT doc_id, n_tokens, cum_before, shard_id FROM assigned",
    doc=(
        "Token-balanced training-shard assignment: documents are laid "
        "out in a deterministic hash order (a pre-shuffle — neighboring "
        "doc_ids land in different shards), the exclusive running token "
        "total is computed, and each doc goes to shard "
        "floor(cum_before / ceil(total/N)) — shards fill to equal token "
        "budgets, not equal doc counts. The cumulative sum is the "
        "DISTRIBUTED prefix-sum (hash-range buckets: local windows per "
        "bucket, then one tiny offsets window over bucket totals) — "
        "never a single-partition global window. All-integer arithmetic "
        "-> exact at any parallelism and cross-engine."
    ),
)
def shard_assignment_token_balanced(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cum = hash_order_prefix_tokens(docs)
    tot = cum.agg(F.sum("n_tokens").cast("long").alias("total"))
    return cum.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        "cum_before",
        F.expr(
            f"CAST(cum_before div ((total + {N_SHARDS - 1}) "
            f"div {N_SHARDS}) AS BIGINT)"
        ).alias("shard_id"),
    )


@query(
    "shard_balance_stats",
    oracle=f"WITH {_SHARD_CTES} "
    "SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens "
    "FROM assigned GROUP BY shard_id",
    doc=(
        "Per-shard rollup of the token-balanced assignment: every shard "
        "holds ~total/N tokens whatever the document-length distribution "
        "— the property a packing-aware trainer needs from its shards."
    ),
)
def shard_balance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = shard_assignment_token_balanced(spark, sf_dir)
    return a.groupBy("shard_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
    )
