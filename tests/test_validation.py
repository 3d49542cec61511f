"""Partition checksums: partitioning invariance and tamper detection —
the properties that make the digest usable as a migration check."""

from __future__ import annotations

from pyspark.sql import functions as F

from event_data_etl_gcs_spark.queries.quality_audit import (
    _orders_canonical,
    gini_term_decimal,
    orders_partition_checksums,
)
from event_data_etl_gcs_spark.operators.validation import partition_checksums
from event_data_etl_gcs_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"
PART = "date_format(o_orderdate, 'yyyy-MM')"


def _digest(df):
    return {
        r["part"]: (r["n_rows"], r["checksum"], r["checksum2"])
        for r in df.collect()
    }


def test_checksum_partitioning_invariant(spark):
    orders = load_table(spark, SF, "orders")
    a = _digest(partition_checksums(orders, PART, _orders_canonical("spark")))
    b = _digest(
        partition_checksums(
            orders.repartition(3, "o_custkey"), PART, _orders_canonical("spark")
        )
    )
    assert a == b and len(a) > 1


def test_checksum_detects_single_value_change(spark):
    orders = load_table(spark, SF, "orders")
    clean = _digest(orders_partition_checksums(spark, SF))
    tampered = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == 7, F.col("o_totalprice") + 0.01).otherwise(
            F.col("o_totalprice")
        ),
    )
    dirty = _digest(partition_checksums(tampered, PART, _orders_canonical("spark")))
    diffs = [p for p in clean if clean[p] != dirty[p]]
    assert len(diffs) == 1  # exactly the month containing order 7
    p = diffs[0]
    assert clean[p][0] == dirty[p][0]  # same row count, different digests
    assert clean[p][1] != dirty[p][1]


def test_gini_term_exact_beyond_int64(spark):
    """(2i - nk - 1) * c at 100 TB ranks/counts: the decimal form must
    equal the exact python integer where a raw int64 product wraps."""
    i, nk, c = 5_000_000_000, 5_000_000_000, 5_000_000_000
    exact = (2 * i - nk - 1) * c
    assert exact > 2**63  # the scenario the fix targets
    df = spark.createDataFrame(
        [(i, nk, c)], "i long, nk long, c long"
    )
    got = df.select(
        F.sum(gini_term_decimal()).alias("s")
    ).collect()[0]["s"]
    assert int(got) == exact
