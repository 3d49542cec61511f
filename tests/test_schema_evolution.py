"""Schema evolution: tables whose columns change across write batches
(read-side mergeSchema + the explicit-superset-schema hot path)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from event_data_etl_gcs_spark.sources.catalog import read_parquet_evolving


def test_added_column_merges_with_null_backfill(spark, tmp_path):
    path = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    ).write.parquet(path)
    spark.createDataFrame(
        [(3, "c", 0.5), (4, "d", 0.9)], "id long, name string, score double"
    ).write.mode("append").parquet(path)

    df = read_parquet_evolving(spark, path)
    assert set(df.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in df.collect()}
    assert rows[1] is None and rows[2] is None  # pre-evolution rows backfill NULL
    assert rows[3] == 0.5 and rows[4] == 0.9

    # without merge, planning reads ONE footer: whichever schema it picks,
    # no error — the documented reason load_table doesn't default to merge
    narrow = read_parquet_evolving(spark, path, merge_schema=False)
    assert set(narrow.columns) <= {"id", "name", "score"}


def test_partitioned_table_evolves_per_partition(spark, tmp_path):
    """Hive-layout table where a later partition introduced a column —
    the common case: daily batches, new pipeline version mid-month."""
    path = str(tmp_path / "by_day")
    spark.createDataFrame([(1, "x")], "id long, payload string").withColumn(
        "day", F.lit("2026-01-01")
    ).write.partitionBy("day").parquet(path)
    spark.createDataFrame(
        [(2, "y", "en")], "id long, payload string, lang string"
    ).withColumn("day", F.lit("2026-01-02")).write.mode("append").partitionBy(
        "day"
    ).parquet(path)

    df = read_parquet_evolving(spark, path)
    assert set(df.columns) == {"id", "payload", "lang", "day"}
    by_id = {r.id: r for r in df.collect()}
    assert by_id[1].lang is None and by_id[2].lang == "en"
    # partition pruning still works on the merged-schema read
    pruned = df.filter(F.col("day") == "2026-01-02")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan, plan
    assert pruned.count() == 1


def test_explicit_superset_schema_hot_path(spark, tmp_path):
    """The cluster-scale pattern the docstring prescribes: resolve the
    merged schema once, then read with .schema(...) — no footer scans,
    old files project into the superset."""
    path = str(tmp_path / "hot")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 7)], "id long, name string, rank long"
    ).write.mode("append").parquet(path)

    superset = read_parquet_evolving(spark, path).schema  # resolved once
    hot = spark.read.schema(superset).parquet(path)  # hot path: no merge
    rows = {r.id: r.rank for r in hot.collect()}
    assert rows == {1: None, 2: 7}


def test_jsonl_export_roundtrip(spark, tmp_path):
    """JSONL training-data handoff: line-delimited JSON, gzipped, value
    round-trip through Spark's JSON reader with an explicit schema."""
    import glob
    import gzip
    import json

    from event_data_etl_gcs_spark.sources.catalog import load_table
    from event_data_etl_gcs_spark.sources.parquet_sink import export_jsonl

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "export")
    export_jsonl(docs.select("doc_id", "text", "lang"), path, target_partitions=4)

    files = glob.glob(path + "/*.json.gz")
    assert len(files) == 4  # sized by target_partitions, not coalesce(1)
    with gzip.open(files[0], "rt") as f:
        rec = json.loads(f.readline())
    assert set(rec) == {"doc_id", "text", "lang"}

    back = spark.read.schema("doc_id long, text string, lang string").json(path)
    assert back.count() == docs.count()
    orig = {r.doc_id: (r.text, r.lang) for r in docs.select("doc_id", "text", "lang").collect()}
    got = {r.doc_id: (r.text, r.lang) for r in back.collect()}
    assert got == orig


def test_compact_parquet_dir(spark, tmp_path):
    """Many tiny files -> few sized files, same data."""
    import glob

    from event_data_etl_gcs_spark.sources.catalog import load_table
    from event_data_etl_gcs_spark.sources.parquet_sink import compact_parquet_dir

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    path = str(tmp_path / "fragmented")
    li.repartition(64).write.parquet(path)  # simulate per-batch dribble
    before_rows = spark.read.parquet(path).count()

    n_before, n_after = compact_parquet_dir(spark, path, target_file_mb=8)
    assert n_before == 64 and n_after < 16
    assert len(glob.glob(path + "/*.parquet")) == n_after
    assert spark.read.parquet(path).count() == before_rows

    # A Hive-partitioned table (the Sparkify songs/time/songplays layout)
    # is sized through its partition levels and keeps them.
    part = str(tmp_path / "partitioned")
    li.withColumn("year", F.year("l_shipdate")).repartition(8).write.partitionBy(
        "year"
    ).parquet(part)
    years = sorted(e for e in os.listdir(part) if e.startswith("year="))
    before = _sorted_rows(spark.read.parquet(part))
    n_files = len(glob.glob(part + "/year=*/*.parquet"))
    assert len(years) > 1 and n_files > len(years)

    n_before, n_after = compact_parquet_dir(spark, part, target_file_mb=8)
    assert n_before == n_files
    assert sorted(e for e in os.listdir(part) if not e.startswith(".")) == ["_SUCCESS", *years]
    assert n_after == len(glob.glob(part + "/year=*/*.parquet")) == len(years)
    assert not glob.glob(part + "/*.parquet")
    one_file = glob.glob(part + "/year=*/*.parquet")[0]
    assert "year" not in spark.read.parquet(one_file).columns
    assert _sorted_rows(spark.read.parquet(part)) == before


def _sorted_rows(df) -> list[tuple]:
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))


def test_compact_rerun_after_crash_between_renames(spark, tmp_path, monkeypatch):
    """A crash after the table was moved aside but before the compacted
    copy took its name leaves nothing at the path. The rerun puts the
    old table back, compacts again and leaves no sibling directory."""
    from event_data_etl_gcs_spark.sources.parquet_sink import compact_parquet_dir

    path = str(tmp_path / "t")
    spark.range(1000).withColumn("k", F.col("id") % 3).repartition(8).write.parquet(path)
    before = _sorted_rows(spark.read.parquet(path))
    real_rename = os.rename

    def crash_once(src, dst):
        if str(src).endswith(".__merge_new__"):
            monkeypatch.setattr(os, "rename", real_rename)
            raise OSError("crash between the renames")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_once)
    with pytest.raises(OSError, match="crash between"):
        compact_parquet_dir(spark, path, target_file_mb=8)
    assert not os.path.exists(path)

    assert compact_parquet_dir(spark, path, target_file_mb=8) == (8, 1)
    assert _sorted_rows(spark.read.parquet(path)) == before
    assert os.listdir(tmp_path) == ["t"]
