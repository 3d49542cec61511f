"""Versioned snapshot tables: time travel, keyed diff, vacuum."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_data_etl_gcs_spark.sources.catalog import load_table
from event_data_etl_gcs_spark.sources.versioned import (
    read_manifest,
    read_snapshot,
    snapshot_diff,
    vacuum_versions,
    write_snapshot,
)

SF = "/root/testdata/sf0.001"
CANON = "concat_ws(chr(31), CAST(o_orderkey AS STRING), o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS STRING))"


def test_snapshot_time_travel_and_diff(spark, tmp_path):
    table = str(tmp_path / "orders_versioned")
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1 = write_snapshot(orders, table, note="initial")

    # v2: change one row, delete one, add one
    changed = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == 1, F.col("o_totalprice") + 1.0).otherwise(
            F.col("o_totalprice")
        ),
    ).filter(F.col("o_orderkey") != 2)
    new_row = spark.createDataFrame(
        [(999_999_999, "N", 1.23)], "o_orderkey long, o_orderstatus string, o_totalprice double"
    )
    v2 = write_snapshot(changed.unionByName(new_row), table, note="edit")
    assert (v1, v2) == (1, 2)

    # time travel: v1 still intact
    assert read_snapshot(spark, table, 1).count() == orders.count()
    assert read_snapshot(spark, table).count() == orders.count()  # -1 +1

    d = {
        (r["change"], r["o_orderkey"])
        for r in snapshot_diff(spark, table, 1, 2, ["o_orderkey"], CANON).collect()
    }
    assert d == {("changed", 1), ("removed", 2), ("added", 999_999_999)}


def test_vacuum_drops_old_data_keeps_history(spark, tmp_path):
    table = str(tmp_path / "vac")
    df = spark.range(10).select(F.col("id").alias("k"))
    for i in range(3):
        write_snapshot(df.withColumn("ver", F.lit(i)), table)
    dropped = vacuum_versions(table, keep_last=1)
    assert dropped == [1, 2]
    assert read_snapshot(spark, table, 3).count() == 10
    with pytest.raises(Exception):
        read_snapshot(spark, table, 1).count()
    m = read_manifest(table)
    assert [e["version"] for e in m["versions"]] == [1, 2, 3]


def test_incremental_view_maintenance_from_diff(spark, tmp_path):
    from event_data_etl_gcs_spark.sources.versioned import (
        maintain_sum_count,
        snapshot_diff_values,
    )

    table = str(tmp_path / "ivm")
    cents = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    orders = (
        load_table(spark, SF, "orders")
        .select("o_orderkey", "o_orderstatus", F.expr(cents).alias("v"))
    )
    write_snapshot(orders, table)

    v2_rows = (
        orders.withColumn(
            "v",
            F.when(F.col("o_orderkey") % 7 == 0, F.col("v") + 100).otherwise(
                F.col("v")
            ),
        )
        .filter(F.col("o_orderkey") % 13 != 0)  # deletions
        .unionByName(
            spark.createDataFrame(
                [(10_000_001, "N", 555), (10_000_002, "N", 444)],
                "o_orderkey long, o_orderstatus string, v long",
            )
        )
    )
    write_snapshot(v2_rows, table)

    def agg(df):
        return df.groupBy("o_orderstatus").agg(
            F.sum("v").alias("sum_v"), F.count("*").alias("n_rows")
        )

    diff = snapshot_diff_values(
        spark, table, 1, 2, ["o_orderkey"], ["o_orderstatus", "v"]
    )
    # group col for deltas: status of whichever side exists
    diff = diff.withColumn(
        "o_orderstatus", F.coalesce("new_o_orderstatus", "old_o_orderstatus")
    )
    got = maintain_sum_count(agg(orders), diff, "o_orderstatus", "old_v", "new_v")
    want = agg(v2_rows)
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(w) > 0


def test_write_audit_publish(spark, tmp_path):
    from event_data_etl_gcs_spark.plans.quality_hooks import (
        assert_quality,
        with_quality_observation,
    )
    from event_data_etl_gcs_spark.sources.versioned import (
        abort_staged,
        publish_snapshot,
        read_staged,
        stage_snapshot,
        write_snapshot,
    )

    table = str(tmp_path / "wap")
    base = spark.range(100).select(F.col("id").alias("k"), F.lit("a").alias("s"))
    write_snapshot(base, table)

    # good batch: stage -> audit (observe rides the audit count) -> publish
    good = base.withColumn("s", F.lit("b"))
    v = stage_snapshot(good, table)
    audited, obs = with_quality_observation(
        read_staged(spark, table, v), null_cols=("s",)
    )
    audited.count()
    assert_quality(obs, min_rows=100)
    publish_snapshot(table, v, note="audited")
    assert read_snapshot(spark, table).filter(F.col("s") == "b").count() == 100

    # bad batch: stage -> audit fails -> abort; readers never saw it
    bad = base.withColumn("s", F.when(F.col("k") < 50, None).otherwise("c"))
    v2 = stage_snapshot(bad, table)
    audited2, obs2 = with_quality_observation(
        read_staged(spark, table, v2), null_cols=("s",)
    )
    audited2.count()
    try:
        assert_quality(obs2, max_null_frac=0.1)
        raise RuntimeError("audit should have failed")
    except AssertionError:
        abort_staged(table, v2)
    assert read_snapshot(spark, table).filter(F.col("s") == "b").count() == 100

    # publishing a never-staged or out-of-order version refuses
    with pytest.raises(ValueError):
        publish_snapshot(table, v2 + 5)


def test_vacuum_never_drops_current_version(spark, tmp_path):
    tdir = str(tmp_path / "tbl")
    for n in (2, 4, 6):
        write_snapshot(spark.range(n).select(F.col("id").alias("v")), tdir)
    dropped = vacuum_versions(tdir, keep_last=0)
    assert 3 not in dropped  # current version survives keep_last=0
    assert read_snapshot(spark, tdir).count() == 6
