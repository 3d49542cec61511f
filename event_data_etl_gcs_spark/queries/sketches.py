"""KMV distinct-sketch queries (round 3): per-group distinct estimates
and pairwise set-relation estimates (union / Jaccard / intersection)
between event-type user sets — the sketch-level audience-overlap
analysis that HLL alone cannot provide. Deterministic hash, exact
DuckDB oracles (see operators/kmv.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.kmv import (
    KMV_K,
    duck_kmv_estimate,
    duck_kmv_hash,
    kmv_estimate_col,
    kmv_sketch,
)
from ..sources.catalog import load_table
from .registry import query

_DUCK_SK = (
    "sk AS (SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn "
    "FROM (SELECT DISTINCT event_type AS t, "
    f"{duck_kmv_hash('user_id')} AS h FROM events) d "
    f"QUALIFY rn <= {KMV_K})"
)


@query(
    "kmv_distinct_users_by_type",
    oracle=(
        f"WITH {_DUCK_SK}, "
        "agg AS (SELECT t, count(*) AS n_kept, "
        f"max(CASE WHEN rn = {KMV_K} THEN h END) AS h_k FROM sk GROUP BY t), "
        "ex AS (SELECT event_type AS t, "
        "count(DISTINCT user_id) AS exact_distinct FROM events GROUP BY 1) "
        "SELECT ex.t AS event_type, "
        "CAST(exact_distinct AS BIGINT) AS exact_distinct, "
        "CAST(n_kept AS BIGINT) AS n_kept, "
        f"{duck_kmv_estimate('n_kept', 'h_k')} AS kmv_estimate "
        "FROM ex JOIN agg ON ex.t = agg.t"
    ),
    doc=(
        "Per-event-type KMV distinct-user sketch vs the exact count: "
        "build = distinct on (group, hash) + bounded per-group top-k "
        "(k rows survive per group); estimate = (k-1)*P / h_k, a single "
        "portable double division. Groups under k distinct are exact."
    ),
)
def kmv_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sk = kmv_sketch(ev, "event_type", "user_id")
    agg = sk.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.max(F.when(F.col("rn") == KMV_K, F.col("h"))).alias("h_k"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return ex.join(agg, "event_type").select(
        "event_type",
        "exact_distinct",
        "n_kept",
        kmv_estimate_col(F.col("n_kept"), F.col("h_k")).alias("kmv_estimate"),
    )


@query(
    "kmv_set_relations",
    oracle=(
        f"WITH {_DUCK_SK}, "
        "tp AS (SELECT a.t AS t1, b.t AS t2 "
        "FROM (SELECT DISTINCT t FROM sk) a "
        "JOIN (SELECT DISTINCT t FROM sk) b ON a.t < b.t), "
        "tagged AS (SELECT t1, t2, s.h, 1 AS in_a, 0 AS in_b "
        "FROM tp JOIN sk s ON s.t = tp.t1 "
        "UNION ALL SELECT t1, t2, s.h, 0 AS in_a, 1 AS in_b "
        "FROM tp JOIN sk s ON s.t = tp.t2), "
        "merged AS (SELECT t1, t2, h, max(in_a) AS in_a, max(in_b) AS in_b "
        "FROM tagged GROUP BY t1, t2, h), "
        "mr AS (SELECT t1, t2, h, in_a, in_b, "
        "row_number() OVER (PARTITION BY t1, t2 ORDER BY h) AS rn "
        f"FROM merged QUALIFY rn <= {KMV_K}), "
        "agg AS (SELECT t1, t2, count(*) AS k_used, "
        f"max(CASE WHEN rn = {KMV_K} THEN h END) AS h_k, "
        "sum(in_a * in_b) AS matches FROM mr GROUP BY t1, t2) "
        "SELECT t1, t2, CAST(k_used AS BIGINT) AS k_used, "
        "CAST(matches AS BIGINT) AS n_common_minima, "
        f"{duck_kmv_estimate('k_used', 'h_k')} AS union_est, "
        "CAST(matches AS DOUBLE) / k_used AS jaccard_est, "
        "(CAST(matches AS DOUBLE) / k_used) * "
        f"{duck_kmv_estimate('k_used', 'h_k')} AS intersection_est "
        "FROM agg"
    ),
    doc=(
        "Pairwise event-type user-set relations from MERGED KMV "
        "sketches: union estimate from the k smallest hashes of the "
        "merged sketch, Jaccard from the fraction of merged minima "
        "present in both sides, intersection = jaccard * union — the "
        "inclusion-exclusion KMV cannot do is never needed. Only k-row "
        "sketches are compared (O(groups^2 * k)), never the data."
    ),
)
def kmv_set_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    kept = kmv_sketch(ev, "event_type", "user_id").select(
        F.col("event_type").alias("t"), "h"
    )
    types = kept.select("t").distinct()
    tp = (
        types.alias("x")
        .join(types.alias("y"), F.col("x.t") < F.col("y.t"))
        .select(F.col("x.t").alias("t1"), F.col("y.t").alias("t2"))
    )
    tagged = (
        tp.join(kept.alias("l"), F.col("l.t") == F.col("t1"))
        .select(
            "t1", "t2", F.col("l.h").alias("h"),
            F.lit(1).alias("in_a"), F.lit(0).alias("in_b"),
        )
        .union(
            tp.join(kept.alias("r"), F.col("r.t") == F.col("t2")).select(
                "t1", "t2", F.col("r.h").alias("h"),
                F.lit(0).alias("in_a"), F.lit(1).alias("in_b"),
            )
        )
    )
    merged = tagged.groupBy("t1", "t2", "h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    w = Window.partitionBy("t1", "t2").orderBy("h")
    mr = merged.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= KMV_K
    )
    agg = mr.groupBy("t1", "t2").agg(
        F.count("*").cast("long").alias("k_used"),
        F.max(F.when(F.col("rn") == KMV_K, F.col("h"))).alias("h_k"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("matches"),
    )
    union_est = kmv_estimate_col(F.col("k_used"), F.col("h_k"))
    jaccard = F.col("matches").cast("double") / F.col("k_used")
    return agg.select(
        "t1",
        "t2",
        "k_used",
        F.col("matches").alias("n_common_minima"),
        union_est.alias("union_est"),
        jaccard.alias("jaccard_est"),
        (jaccard * union_est).alias("intersection_est"),
    )


@query(
    "bitmap_distinct_users",
    oracle=(
        "SELECT event_type, "
        "CAST(count(DISTINCT user_id) AS BIGINT) AS bitmap_distinct, "
        "CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct "
        "FROM events GROUP BY event_type"
    ),
    doc=(
        "Spark bitmap aggregate family: distinct users per type via "
        "bitmap_count(bitmap_construct_agg(bitmap_bit_position(...))) — "
        "the roaring-bitmap-style exact-distinct representation whose "
        "per-group state is a fixed bitmap instead of a value set; "
        "checked against count(DISTINCT) on both engines (the DuckDB "
        "oracle computes the same exact integer both ways)."
    ),
)
def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # full recipe: ids shard into 32768-bit buckets (bitmap_bucket_number)
    # and per-bucket bitmaps sum — unbounded id domains supported. The
    # +1 shift keeps id 0 in-range (bit_position(x) = (x-1) mod 32768;
    # 0 would map to a negative bit and silently drop).
    per_bucket = ev.groupBy(
        "event_type",
        F.expr("bitmap_bucket_number(user_id + 1)").alias("__bkt"),
    ).agg(
        F.expr(
            "bitmap_count(bitmap_construct_agg("
            "bitmap_bit_position(user_id + 1)))"
        ).alias("cnt"),
        F.expr("count(DISTINCT user_id)").alias("ex"),
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("bitmap_distinct"),
        F.sum("ex").cast("long").alias("exact_distinct"),
    )


from ..operators.histsketch import (  # noqa: E402
    day_histogram_sketch,
    duck_bin_expr,
    duck_lo_cents_expr,
    merged_quantiles,
)


def _duck_hdr_sql() -> str:
    per_p = " UNION ALL ".join(
        f"SELECT CAST({p} AS DOUBLE) AS p, "
        f"{duck_lo_cents_expr('(SELECT min(bin) FROM cum, total WHERE cum >= ceil(' + str(p) + ' * n))')} "
        "AS est_cents, (SELECT CAST(n AS BIGINT) FROM total) AS n_total"
        for p in (0.5, 0.95, 0.99)
    )
    return f"""
WITH cents AS (
  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM events
), b AS (
  SELECT {duck_bin_expr('c')} AS bin, count(*) AS cnt FROM cents GROUP BY 1
), total AS (SELECT sum(cnt) AS n FROM b),
cum AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum FROM b)
{per_p}
"""


@query(
    "hdr_quantile_sketch",
    oracle=_duck_hdr_sql(),
    doc=(
        "Mergeable QUANTILE sketch (DDSketch-style log-linear histogram, "
        "integer-only): per-day (day, bin, cnt) rows — hundreds per day "
        "regardless of event volume — merge by summing, read any range's "
        "p50/p95/p99 as a prefix-sum walk, relative error <= 1/16. The "
        "bucket id uses length(bin(m)) for floor(log2), so unlike a "
        "float t-digest the whole pipeline is engine-exact: the oracle "
        "recomputes sketch, merge, and quantile walk bit-identically. "
        "Completes the sketch family (HLL/KMV/CMS/Bloom/bitmap had no "
        "quantile member)."
    ),
)
def hdr_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return merged_quantiles(day_histogram_sketch(ev))
