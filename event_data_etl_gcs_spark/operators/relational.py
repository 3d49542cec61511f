"""Core relational operators the reference composes by hand.

Most of SURVEY.md §2's inventory IS the DataFrame API (select / filter /
join / distinct); this module holds the patterns the reference builds
out of primitives, with the reference's semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def argmax_latest(
    df: DataFrame,
    partition_by: list[str],
    ts_col: str,
    extra_filter: Column | None = None,
) -> DataFrame:
    """Reference semantics: window-max + self-filter — keeps ALL rows
    tied at the per-group max timestamp (sparkify_etl.py:125-130).

    One hash exchange on the partition keys; the max is computed with a
    partial aggregate per input partition, so no second shuffle.
    """
    w = Window.partitionBy(*partition_by)
    out = df.withColumn("__max_ts", F.max(ts_col).over(w)).filter(
        F.col(ts_col) == F.col("__max_ts")
    )
    if extra_filter is not None:
        out = out.filter(extra_filter)
    return out.drop("__max_ts")


def enforce_not_null(df: DataFrame, cols: list[str]) -> DataFrame:
    """Optional nullability enforcement — the reference declares non-null
    fields that JSON read does not enforce (SURVEY.md Q6)."""
    cond = None
    for c in cols:
        p = F.col(c).isNotNull()
        cond = p if cond is None else (cond & p)
    return df if cond is None else df.filter(cond)
