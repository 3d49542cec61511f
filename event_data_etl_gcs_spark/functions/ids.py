"""Surrogate-key functions.

The reference keys its fact table with ``monotonically_increasing_id()``
(``spark-jobs/sparkify_etl.py:206``) — partition-encoded, non-dense,
run-dependent (SURVEY.md §4.3-5). We expose both that (cheap, narrow, fine
when stability doesn't matter) and a deterministic alternative for golden
tests and reproducible pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def stable_row_id(
    df: DataFrame,
    order_by: list[str],
    name: str = "row_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic dense 1-based id by an explicit total order — WITHOUT
    a global single-partition window.

    Shape: range-repartition + sort on the order keys (a distributed sort,
    every task holds one key range), local index = monotonically_increasing_id
    minus its per-partition minimum, global id = local index + the
    cumulative row count of all earlier partitions. The per-partition
    stats frame is one row per partition, so its cumulative-sum window is
    bounded by the partition count, not the data; it is broadcast back.
    The result is independent of where the range boundaries fall, so it is
    stable across runs and cluster sizes as long as ``order_by`` is a
    total order (ties would be numbered in an unspecified order — same
    caveat as ``row_number`` itself).

    ``order_by`` columns should be non-null: Spark sorts nulls first,
    DuckDB/ANSI engines default to nulls last.
    """
    nparts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = (
        df.repartitionByRange(nparts, *[F.col(c) for c in order_by])
        .sortWithinPartitions(*[F.col(c) for c in order_by])
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__mono", F.monotonically_increasing_id())
        # barrier: __pid/__mono must be computed once and reused by both
        # consumers below (stats + final join), not re-evaluated
        .cache()
    )
    stats = parted.groupBy("__pid").agg(
        F.count("*").alias("__n"), F.min("__mono").alias("__base")
    )
    # range partitions are ordered by key, so cumulative count over __pid
    # order = rows before this partition in the global order
    offw = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = stats.select(
        "__pid",
        "__base",
        F.coalesce(F.sum("__n").over(offw), F.lit(0)).alias("__offset"),
    )
    return (
        parted.join(F.broadcast(offsets), "__pid")
        .withColumn(
            name, (F.col("__mono") - F.col("__base") + F.col("__offset") + 1)
        )
        .drop("__pid", "__mono", "__base", "__offset")
    )
