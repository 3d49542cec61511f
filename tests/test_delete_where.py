"""Targeted DELETE on a partitioned parquet lake: only touched
partitions may be rewritten; untouched partition files must stay
byte-identical; fully-emptied partitions must disappear."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from event_data_etl_gcs_spark.sources.catalog import load_table
from event_data_etl_gcs_spark.sources.parquet_sink import delete_where

SF = "/root/testdata/sf0.001"


def _snapshot(table_dir):
    out = {}
    for f in glob.glob(os.path.join(table_dir, "day=*", "*.parquet")):
        st = os.stat(f)
        out[f] = (st.st_size, st.st_mtime_ns)
    return out


def _stage(spark, tmp_path):
    d = str(tmp_path / "events_by_day")
    ev = load_table(spark, SF, "events").withColumn(
        "day", F.dayofmonth("ts")
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(d)
    return d, ev


def test_delete_rewrites_only_touched_partitions(spark, tmp_path):
    d, ev = _stage(spark, tmp_path)
    before = _snapshot(d)
    n_day3_purchases = ev.filter(
        (F.col("day") == 3) & (F.col("event_type") == "purchase")
    ).count()
    assert n_day3_purchases > 0

    deleted = delete_where(
        spark, d, "day = 3 AND event_type = 'purchase'", "day"
    )
    assert deleted == n_day3_purchases

    after = _snapshot(d)
    touched = {f for f in before if (f not in after) or before[f] != after[f]}
    assert touched and all("day=3" in f for f in touched)
    new_files = {f for f in after if f not in before}
    assert all("day=3" in f for f in new_files)

    back = spark.read.parquet(d)
    assert back.count() == ev.count() - deleted
    assert back.filter("day = 3 AND event_type = 'purchase'").count() == 0
    # other days untouched row-wise too
    assert back.filter("day <> 3").count() == ev.filter("day <> 3").count()


def test_delete_entire_partition_removes_directory(spark, tmp_path):
    d, ev = _stage(spark, tmp_path)
    deleted = delete_where(spark, d, "day = 5", "day")
    assert deleted == ev.filter("day = 5").count()
    assert not os.path.exists(os.path.join(d, "day=5"))
    back = spark.read.parquet(d)
    assert back.filter("day = 5").count() == 0
    assert back.count() == ev.count() - deleted


def test_delete_no_match_is_noop(spark, tmp_path):
    d, _ = _stage(spark, tmp_path)
    before = _snapshot(d)
    assert delete_where(spark, d, "day = 99", "day") == 0
    assert _snapshot(d) == before


def test_update_rewrites_only_touched_partitions(spark, tmp_path):
    from event_data_etl_gcs_spark.sources.parquet_sink import update_where

    d, ev = _stage(spark, tmp_path)
    before = _snapshot(d)
    n_match = ev.filter("day = 7 AND event_type = 'error'").count()
    assert n_match > 0

    updated = update_where(
        spark,
        d,
        "day = 7 AND event_type = 'error'",
        {"value": "value * 0", "event_type": "'error_voided'"},
        "day",
    )
    assert updated == n_match

    after = _snapshot(d)
    touched = {f for f in before if (f not in after) or before[f] != after[f]}
    assert touched and all("day=7" in f for f in touched)

    back = spark.read.parquet(d)
    assert back.filter("event_type = 'error_voided'").count() == n_match
    assert back.filter("day = 7 AND event_type = 'error'").count() == 0
    assert (
        back.filter("event_type = 'error_voided' AND value <> 0.0").count() == 0
    )
    assert back.count() == ev.count()  # UPDATE never changes cardinality
    # non-matching rows in the touched partition survive verbatim
    assert (
        back.filter("day = 7 AND event_type <> 'error_voided'").count()
        == ev.filter("day = 7 AND event_type <> 'error'").count()
    )


def test_update_partition_column_rejected(spark, tmp_path):
    import pytest

    from event_data_etl_gcs_spark.sources.parquet_sink import update_where

    d, _ = _stage(spark, tmp_path)
    with pytest.raises(ValueError, match="partition column"):
        update_where(spark, d, "day = 1", {"day": "2"}, "day")


def test_merge_upserts_and_prunes_partitions(spark, tmp_path):
    """MERGE: matched keys replaced, new keys inserted, only partitions
    with a match or an insert rewritten; others stay byte-identical."""
    from event_data_etl_gcs_spark.sources.parquet_sink import merge_into

    d, ev = _stage(spark, tmp_path)
    before = _snapshot(d)

    # updates: re-value every day-3 purchase; inserts: brand-new ids on day 3
    upd = (
        ev.filter("day = 3 AND event_type = 'purchase'")
        .withColumn("value", F.lit(123.0))
    )
    n_upd = upd.count()
    assert n_upd > 0
    max_id = ev.agg(F.max("event_id")).collect()[0][0]
    ins = upd.limit(2).withColumn(
        "event_id", F.col("event_id") + F.lit(max_id).cast("long")
    )
    n_ins = ins.count()
    src = upd.unionByName(ins)

    got_upd, got_ins = merge_into(spark, d, src, ["event_id"], "day")
    assert (got_upd, got_ins) == (n_upd, n_ins)

    after = _snapshot(d)
    touched = {f for f in before if (f not in after) or before[f] != after[f]}
    assert touched and all("day=3" in f for f in touched)

    back = spark.read.parquet(d)
    assert back.count() == ev.count() + n_ins
    assert (
        back.filter("day = 3 AND event_type = 'purchase' AND value <> 123.0").count()
        == 0
    )
    # non-matching rows of the touched partition survive
    assert (
        back.filter("day = 3 AND event_type <> 'purchase'").count()
        == ev.filter("day = 3 AND event_type <> 'purchase'").count()
    )


def test_merge_moves_keys_across_partitions(spark, tmp_path):
    """A source row matching a key in another partition relocates it:
    old partition loses the row, new partition gains it, both rewritten."""
    from event_data_etl_gcs_spark.sources.parquet_sink import merge_into

    d, ev = _stage(spark, tmp_path)
    moved = ev.filter("day = 5").limit(3).withColumn("day", F.lit(6))
    n_moved = moved.count()
    moved_ids = [r[0] for r in moved.select("event_id").collect()]

    got_upd, got_ins = merge_into(spark, d, moved, ["event_id"], "day")
    assert (got_upd, got_ins) == (n_moved, 0)

    back = spark.read.parquet(d)
    assert back.count() == ev.count()
    cond = F.col("event_id").isin(moved_ids)
    assert back.filter(cond & (F.col("day") == 5)).count() == 0
    assert back.filter(cond & (F.col("day") == 6)).count() == n_moved


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    import pytest

    from event_data_etl_gcs_spark.sources.parquet_sink import merge_into

    d, ev = _stage(spark, tmp_path)
    dup = ev.filter("day = 3").limit(1)
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_into(spark, d, dup.unionByName(dup), ["event_id"], "day")


def test_delete_vacated_partition_with_escaped_name(spark, tmp_path):
    """ADVICE r5: partition values Spark hive-escapes on disk (here
    'a:b' -> 'day=a%3Ab') must still be removed when fully vacated —
    the raw f-string path missed them, leaving stale rows that
    resurface on the next read."""
    d = str(tmp_path / "esc")
    df = spark.createDataFrame(
        [(1, "a:b"), (2, "a:b"), (3, "plain")], "id long, day string"
    )
    df.write.mode("overwrite").partitionBy("day").parquet(d)
    assert os.path.isdir(os.path.join(d, "day=a%3Ab"))

    deleted = delete_where(spark, d, "day = 'a:b'", "day")
    assert deleted == 2
    assert not os.path.isdir(os.path.join(d, "day=a%3Ab"))
    back = spark.read.parquet(d)
    assert [r["id"] for r in back.collect()] == [3]


def test_merge_counts_with_target_derived_lazy_source(spark, tmp_path):
    """ADVICE r5: a source LAZILY derived from the target (the typical
    MERGE shape) must yield correct counts — before the fix, n_inserted
    re-executed the source against the REWRITTEN table."""
    from event_data_etl_gcs_spark.sources.parquet_sink import merge_into

    d = str(tmp_path / "lazy_merge")
    spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "a"), (3, 30, "b")],
        "event_id long, val long, day string",
    ).write.mode("overwrite").partitionBy("day").parquet(d)

    # source = target rows with val >= 20, bumped, plus one new key —
    # built FROM the live table read, not a materialized frame
    tgt = spark.read.parquet(d)
    src = tgt.filter("val >= 20").withColumn(
        "val", F.col("val") + 100
    ).unionByName(
        spark.createDataFrame([(9, 999, "c")], "event_id long, val long, day string")
    )
    n_upd, n_ins = merge_into(spark, d, src, ["event_id"], "day")
    assert (n_upd, n_ins) == (2, 1)
    back = {r["event_id"]: r["val"] for r in spark.read.parquet(d).collect()}
    assert back == {1: 10, 2: 120, 3: 130, 9: 999}


def test_merge_rejects_duplicate_target_keys(spark, tmp_path):
    from event_data_etl_gcs_spark.sources.parquet_sink import merge_into

    import pytest

    d = str(tmp_path / "dup_target")
    spark.createDataFrame(
        [(1, 10, "a"), (1, 11, "a"), (2, 20, "b")],
        "event_id long, val long, day string",
    ).write.mode("overwrite").partitionBy("day").parquet(d)
    src = spark.createDataFrame(
        [(1, 99, "a")], "event_id long, val long, day string"
    )
    with pytest.raises(ValueError, match="target has duplicate keys"):
        merge_into(spark, d, src, ["event_id"], "day")


def test_delete_null_partition_keeps_nonmatching_null_rows(spark, tmp_path):
    """ADVICE r6 (data loss): when the predicate touches a row in the
    NULL partition, `isin(affected)` never matches NULL, so before the
    fix the null partition's rows were excluded from the rewrite AND
    the survivor set — and the whole __HIVE_DEFAULT_PARTITION__
    directory was rmtree'd, destroying its non-matching rows."""
    d = str(tmp_path / "nullpart")
    spark.createDataFrame(
        [(1, 10, "a"), (2, 20, None), (3, 30, None), (4, 40, None)],
        "id long, val long, day string",
    ).write.mode("overwrite").partitionBy("day").parquet(d)
    assert os.path.isdir(os.path.join(d, "day=__HIVE_DEFAULT_PARTITION__"))

    deleted = delete_where(spark, d, "val = 20", "day")
    assert deleted == 1
    # the null partition survives with its other rows intact
    assert os.path.isdir(os.path.join(d, "day=__HIVE_DEFAULT_PARTITION__"))
    back = spark.read.parquet(d)
    got = {(r["id"], r["day"]) for r in back.collect()}
    assert got == {(1, "a"), (3, None), (4, None)}


def test_delete_fully_vacated_null_partition_removed(spark, tmp_path):
    d = str(tmp_path / "nullpart_vacate")
    spark.createDataFrame(
        [(1, 10, "a"), (2, 20, None), (3, 30, None)],
        "id long, val long, day string",
    ).write.mode("overwrite").partitionBy("day").parquet(d)

    deleted = delete_where(spark, d, "day IS NULL", "day")
    assert deleted == 2
    assert not os.path.isdir(os.path.join(d, "day=__HIVE_DEFAULT_PARTITION__"))
    back = spark.read.parquet(d)
    assert [(r["id"], r["day"]) for r in back.collect()] == [(1, "a")]


def test_update_null_partition_rows(spark, tmp_path):
    from event_data_etl_gcs_spark.sources.parquet_sink import update_where

    d = str(tmp_path / "nullpart_upd")
    spark.createDataFrame(
        [(1, 10, "a"), (2, 20, None), (3, 30, None)],
        "id long, val long, day string",
    ).write.mode("overwrite").partitionBy("day").parquet(d)

    updated = update_where(spark, d, "val >= 20", {"val": "val + 1"}, "day")
    assert updated == 2
    back = {r["id"]: (r["val"], r["day"]) for r in spark.read.parquet(d).collect()}
    assert back == {1: (10, "a"), 2: (21, None), 3: (31, None)}


def test_merge_into_null_partition(spark, tmp_path):
    """MERGE whose source updates a key living in the null partition and
    inserts a new null-partition row: the null partition is rewritten
    (not destroyed) and its unmatched rows survive."""
    from event_data_etl_gcs_spark.sources.parquet_sink import merge_into

    d = str(tmp_path / "nullpart_merge")
    spark.createDataFrame(
        [(1, 10, "a"), (2, 20, None), (3, 30, None)],
        "event_id long, val long, day string",
    ).write.mode("overwrite").partitionBy("day").parquet(d)

    src = spark.createDataFrame(
        [(2, 99, None), (9, 900, None)],
        "event_id long, val long, day string",
    )
    n_upd, n_ins = merge_into(spark, d, src, ["event_id"], "day")
    assert (n_upd, n_ins) == (1, 1)
    back = {r["event_id"]: (r["val"], r["day"]) for r in spark.read.parquet(d).collect()}
    assert back == {1: (10, "a"), 2: (99, None), 3: (30, None), 9: (900, None)}


def test_path_render_boolean_and_null():
    """ADVICE r6: Spark renders a boolean partition value as
    'true'/'false' in the hive path, but str(True) is 'True' — a
    vacated boolean partition dir would never match. (Note: Spark's
    partition-type inference reads bool partitions back as STRING, so
    only source-side collected values — merge_into's src_parts — ever
    surface Python bools here.)"""
    from event_data_etl_gcs_spark.sources.parquet_sink import _path_render

    assert _path_render(True) == "true"
    assert _path_render(False) == "false"
    assert _path_render(None) is None
    assert _path_render(7) == "7"
    assert _path_render("a:b") == "a:b"


def test_delete_where_scientific_float_partition(spark, tmp_path):
    """A float partition value in the scientific range renders as
    '1.0E-5' in the hive path (Java Double.toString) but '1e-05' via
    Python str — string matching misses it, so a fully-vacated dir
    stayed on disk and its stale rows resurfaced (ADVICE r7). Matching
    is now numeric for floats."""
    d = str(tmp_path / "fp")
    spark.createDataFrame(
        [(1, 10, 1e-5), (2, 20, 1e-5), (3, 30, 0.5)],
        "id long, val long, eps double",
    ).write.mode("overwrite").partitionBy("eps").parquet(d)
    def sci_dirs():
        return [
            e for e in os.listdir(d)
            if e.startswith("eps=") and "E" in e[len("eps="):].upper()
        ]

    assert sci_dirs(), f"expected a scientific-notation partition dir, got {os.listdir(d)}"

    deleted = delete_where(spark, d, "eps < 1e-4", "eps")
    assert deleted == 2
    # the vacated scientific dir is actually gone -> no stale resurfacing
    assert not sci_dirs()
    back = [(r["id"], r["eps"]) for r in spark.read.parquet(d).collect()]
    assert back == [(3, 0.5)]
