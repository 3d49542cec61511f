"""Time functions.

Replaces the reference's single Python UDF ``get_datetime``
(``spark-jobs/sparkify_etl.py:146-150``: epoch-millis double ->
timestamp, microseconds zeroed, local-TZ ``datetime.fromtimestamp``)
with native Catalyst expressions: no Python serialization barrier, no
pushdown blocker, whole-stage-codegen friendly (SURVEY.md §4.3-1).
Session timezone is pinned to UTC in session.py, making the semantics
reproducible where the reference's were cluster-dependent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def epoch_millis_to_timestamp(col: Column | str, truncate_to_second: bool = True) -> Column:
    """Epoch-milliseconds (double or long) -> TimestampType.

    ``truncate_to_second=True`` matches the reference UDF's
    ``.replace(microsecond=0)`` (sparkify_etl.py:147).
    """
    c = F.col(col) if isinstance(col, str) else col
    ts = F.timestamp_millis(c.cast("long"))
    return F.date_trunc("second", ts) if truncate_to_second else ts


def time_dimension_columns(ts: Column | str) -> dict[str, Column]:
    """Calendar attributes of a timestamp — the reference's ``time``
    dimension columns (sparkify_etl.py:155-160).

    ``week`` is ISO week-of-year; ``weekday`` follows Spark's
    ``dayofweek`` (1=Sunday .. 7=Saturday).
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    return {
        "hour": F.hour(c),
        "day": F.dayofmonth(c),
        "week": F.weekofyear(c),
        "month": F.month(c),
        "year": F.year(c),
        "weekday": F.dayofweek(c),
    }


def ensure_tz_timestamp(df: DataFrame, *cols: str) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to TIMESTAMP.

    Parquet written without the isAdjustedToUTC flag reads back as NTZ,
    and ``withWatermark`` and TZ-aware date functions need a TIMESTAMP
    column. With the session TZ pinned UTC the cast relabels the type
    without changing values. Works on batch and streaming frames (pure
    projection).
    """
    dtypes = dict(df.dtypes)
    for col in cols:
        if dtypes.get(col) == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df
