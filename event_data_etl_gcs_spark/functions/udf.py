"""The engine's UDF surface: Arrow-batched pandas UDFs only.

The reference's single UDF (``get_datetime``, spark-jobs/
sparkify_etl.py:146-150) is replaced by native expressions in
functions/time.py — but the engine keeps a pandas-UDF escape hatch for
semantics built-ins can't express (SURVEY.md §2.6). Row-at-a-time Python
UDFs are deliberately NOT offered: at 100 TB a per-row Python round-trip
is the difference between hours and days.

UDFs are built lazily (pandas_udf registration needs an active session);
each factory returns a Column-function.

``epoch_millis_to_timestamp_pudf`` reimplements the reference UDF
vectorized and is pinned equal to the native path in tests — it is the
documented template for custom vectorized logic.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import TimestampType


@lru_cache(maxsize=None)
def epoch_millis_to_timestamp_pudf():
    """Vectorized equivalent of the reference's get_datetime: epoch-millis
    double -> timestamp truncated to seconds (UTC — the session pins UTC,
    where the reference inherited cluster-local time)."""

    def convert(ms: pd.Series) -> pd.Series:
        return pd.to_datetime((ms // 1000).astype("int64"), unit="s")

    return pandas_udf(convert, TimestampType())
