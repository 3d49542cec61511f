"""Plan-metrics observability: the reported numbers must reflect what
the plan actually did — scans report files/bytes/rows, shuffles report
bytes, map-only plans report zero shuffle, pruned scans read less. Codegen
counters show whether a repeated workload recompiles its generated code."""

from __future__ import annotations

from pyspark.sql import functions as F

from event_data_etl_gcs_spark.observability import codegen_stats, run_with_metrics
from event_data_etl_gcs_spark.plans.sparkify import run_pipeline
from event_data_etl_gcs_spark.queries import all_queries
from event_data_etl_gcs_spark.sources.catalog import load_table

from .test_sparkify_pipeline import fixture_dir  # noqa: F401  (pytest fixture)

SF = "/root/testdata/sf0.001"

# Registry queries replayed after the Sparkify pipeline in the codegen pin.
REPLAY_QUERIES = (
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_nation_revenue",
    "sessionize",
    "users_latest",
    "tumbling_window_counts",
)


def test_agg_query_reports_scan_and_shuffle(spark):
    li = load_table(spark, SF, "lineitem")
    n, m = run_with_metrics(li.groupBy("l_returnflag").count())
    assert n == 3
    assert m.scan_files >= 1
    assert m.scan_bytes > 0
    assert m.scan_rows == li.count()
    assert m.shuffle_bytes > 0  # the groupBy exchange
    assert m.spill_bytes == 0  # nothing spills at this scale


def test_map_only_plan_reports_zero_shuffle(spark):
    from event_data_etl_gcs_spark.operators.similarity import bucket_sql

    emb = load_table(spark, SF, "embeddings")
    bits = emb.select("vec_id", F.expr(bucket_sql("embedding", 32)).alias("b"))
    _, m = run_with_metrics(bits)
    assert m.shuffle_bytes == 0


def test_partition_pruning_visible_in_scan_metrics(spark, tmp_path):
    ev = load_table(spark, SF, "events").withColumn("day", F.dayofmonth("ts"))
    d = str(tmp_path / "ev_days")
    ev.write.mode("overwrite").partitionBy("day").parquet(d)
    full = spark.read.parquet(d)
    _, m_full = run_with_metrics(full.select("event_id"))
    _, m_pruned = run_with_metrics(
        full.filter(F.col("day") == 3).select("event_id")
    )
    # the pruned scan touches strictly fewer files and bytes — the
    # programmatic check that partition pruning really happened
    assert 0 < m_pruned.scan_files < m_full.scan_files
    assert 0 < m_pruned.scan_bytes < m_full.scan_bytes


def test_observe_quality_metrics_no_extra_scan(spark, tmp_path):
    from pyspark.sql import functions as F

    from event_data_etl_gcs_spark.plans.quality_hooks import (
        assert_quality,
        with_quality_observation,
    )
    from event_data_etl_gcs_spark.sources.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    df, obs = with_quality_observation(
        ev, null_cols=("user_id", "event_type"), bound_col="value"
    )
    out = str(tmp_path / "observed_write")
    df.write.parquet(out)  # the write IS the action; metrics ride along
    m = assert_quality(obs, min_rows=100)
    assert m["n_rows"] == ev.count()
    assert m["null_user_id"] == 0 and m["null_event_type"] == 0
    assert m["min_value"] <= m["max_value"]
    # and the parquet landed with the same rows
    assert spark.read.parquet(out).count() == m["n_rows"]


def test_observe_quality_gate_trips(spark):
    from pyspark.sql import functions as F

    from event_data_etl_gcs_spark.plans.quality_hooks import (
        assert_quality,
        with_quality_observation,
    )

    df = spark.createDataFrame(
        [(1, None), (2, "x")], "id long, s string"
    )
    d2, obs = with_quality_observation(df, null_cols=("s",))
    d2.count()
    try:
        assert_quality(obs, max_null_frac=0.1)
        raise RuntimeError("gate should have tripped")
    except AssertionError as e:
        assert "null_s" in str(e)


def _replay(spark, src, out):
    run_pipeline(
        spark,
        song_data_path=f"{src}/song_data.json",
        log_data_path=f"{src}/log_data.json",
        output_dir=out,
    )
    specs = all_queries()
    for name in REPLAY_QUERIES:
        specs[name].fn(spark, SF).collect()


def test_session_pins_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_repeated_workload_reuses_generated_classes(spark, fixture_dir, tmp_path):  # noqa: F811
    """The Sparkify pipeline plus a few registry queries generate more
    classes than Spark's default codegen cache (100 entries) holds, so a
    second replay under that default recompiles; under the session's pinned
    size it compiles nothing. In a fresh session the first replay compiles
    163 classes, and each later one 159 under the default size."""
    out = str(tmp_path / "wh")
    before = codegen_stats(spark)
    _replay(spark, fixture_dir, out)
    first = codegen_stats(spark)
    _replay(spark, fixture_dir, out)
    second = codegen_stats(spark) - first
    assert second.compiles == 0, (first - before, second)
    assert second.compile_ms == 0 and second.bytecode_bytes == 0
