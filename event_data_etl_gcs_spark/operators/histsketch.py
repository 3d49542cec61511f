"""Mergeable log-linear histogram sketch for quantiles (DDSketch-style).

The sketch family (HLL distinct, KMV, CMS, Bloom, bitmap) lacked a
QUANTILE sketch: "p95 order value per day, any date range" at 100 TB
cannot re-sort history per ask. This is the DDSketch idea (Masson et
al., VLDB 2019: relative-error quantile sketches from log buckets) in a
fully INTEGER, engine-portable form:

  m   = value_cents + 1                       (>= 1)
  e   = length(bin(m)) - 1                    floor(log2 m) via the
                                              binary-string length —
                                              no libm, bit-exact in
                                              Spark and DuckDB
  sub = (m >> max(e - 4, 0)) & 15             16 linear sub-buckets
  bin = e * 16 + sub                          monotone in m

Relative error is bounded by the sub-bucket width: <= 2^(e-4)/2^e =
1/16 ≈ 6%. One row per (day, bin) — a few hundred rows per day
regardless of event volume; merging days = summing counts; quantile =
prefix-sum walk to the target rank. Everything is integer arithmetic,
so the whole pipeline (sketch, merge, quantile read) has an exact
DuckDB oracle, unlike a float t-digest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SUB_BITS = 4  # 2^4 = 16 linear sub-buckets per octave


def bin_expr(cents_col: str) -> str:
    """Spark SQL: log-linear bucket id of a non-negative integer cents
    column (same text works for deriving the DuckDB twin)."""
    m = f"(greatest({cents_col}, 0L) + 1L)"
    e = f"(length(bin({m})) - 1)"
    sub = f"((CAST({m} AS BIGINT) >> greatest({e} - {SUB_BITS}, 0)) & {(1 << SUB_BITS) - 1})"
    return f"(CAST({e} AS BIGINT) * {1 << SUB_BITS} + {sub})"


def duck_bin_expr(cents_col: str) -> str:
    m = f"(greatest({cents_col}, 0) + 1)"
    e = f"(length(bin({m})) - 1)"
    sub = f"(({m} >> greatest({e} - {SUB_BITS}, 0)) & {(1 << SUB_BITS) - 1})"
    return f"(CAST({e} AS BIGINT) * {1 << SUB_BITS} + {sub})"


def lo_cents_expr(bin_col: str) -> str:
    """Lower value edge of a bucket (the quantile estimate): invert
    (e, sub) -> smallest m in the bucket, minus the +1 shift. Only for
    e STRICTLY below SUB_BITS is the bucket single-valued (sub == m);
    at e == SUB_BITS the shift is 0 but m = 2^e + sub (the general
    form) — the <= spelling mis-estimated values in [15, 30] cents,
    caught by the bucket-math property test."""
    e = f"({bin_col} div {1 << SUB_BITS})"
    sub = f"({bin_col} % {1 << SUB_BITS})"
    return (
        f"(CASE WHEN {e} < {SUB_BITS} THEN {sub} "
        f"ELSE (({1 << SUB_BITS}L + {sub}) << ({e} - {SUB_BITS})) END - 1L)"
    )


def duck_lo_cents_expr(bin_col: str) -> str:
    e = f"({bin_col} // {1 << SUB_BITS})"
    sub = f"({bin_col} % {1 << SUB_BITS})"
    return (
        f"(CASE WHEN {e} < {SUB_BITS} THEN {sub} "
        f"ELSE (({1 << SUB_BITS} + {sub}) << ({e} - {SUB_BITS})) END - 1)"
    )


def day_histogram_sketch(events: DataFrame) -> DataFrame:
    """(day, bin, cnt): the mergeable per-day sketch rows — one shuffle,
    output size = days x occupied buckets (hundreds), never events."""
    from ..functions.time import ensure_tz_timestamp

    ev = ensure_tz_timestamp(events, "ts").withColumn(
        "cents", (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    )
    return (
        ev.groupBy(
            F.date_trunc("DAY", "ts").alias("day"),
            F.expr(bin_expr("cents")).alias("bin"),
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def merged_quantiles(
    sketch: DataFrame, probs: tuple[float, ...] = (0.5, 0.95, 0.99)
) -> DataFrame:
    """(p, est_cents, n_total) from a (possibly multi-day) sketch: merge
    = one sum per bin, quantile = smallest bin whose prefix count
    reaches ceil(p * n). Integer-exact end to end."""
    from pyspark.sql import Window

    merged = sketch.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = merged.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n_total", F.sum("cnt").over(Window.partitionBy())
    )
    out = None
    for p in probs:
        hit = (
            cum.filter(F.col("cum") >= F.ceil(F.lit(p) * F.col("n_total")))
            .orderBy("bin")
            .limit(1)
            .select(
                F.lit(p).alias("p"),
                F.expr(lo_cents_expr("bin")).alias("est_cents"),
                F.col("n_total").cast("long").alias("n_total"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out
