"""SparkSession factory — the idiomatic replacement of the reference's
driver bootstrap (``spark-jobs/sparkify_etl.py:228-247``: SparkConf /
SparkContext / SQLContext triple + GCS connector flag).

Key choices, pinned for reproducibility and 100 TB posture:
  * ``spark.sql.session.timeZone=UTC`` — the reference's timestamp UDF
    (``sparkify_etl.py:146-150``) used cluster-local time; we pin UTC so
    results are reproducible and DuckDB-oracle-comparable (SURVEY.md §7
    hard-part 1).
  * AQE on (coalesce shuffle partitions + skew-join handling) — replaces
    hand-tuning at every scale factor.
  * Arrow enabled for the pandas-UDF extension surface.
  * Shuffle partitions default to local core count for tests; a real
    cluster deployment overrides via ``extra_conf`` (rule of thumb:
    2-3x total executor cores, or let AQE coalesce from a high initial).
  * ``spark.sql.codegen.cache.maxEntries=1000`` — the JVM-wide cache of
    Janino-compiled generated classes (whole-stage code, projections,
    predicates). Spark's default of 100 entries is smaller than one pass
    of this repo's own pipelines: a fresh session compiles 134 distinct
    classes over one Sparkify batch + incremental ETL pass and 287 over
    the 14-query analytic mix (``perfbench/`` warm-up passes, seed 7,
    4 vCPUs). Under 100 each repeated pass evicts and recompiles what the
    previous one generated (97 and 179-216 Janino compiles per pass); at
    1000, over 3x the larger set, a repeated pass compiles nothing. It is
    a static conf, read once when the cache is first used, so it is set
    on the builder and a session that already exists in the JVM keeps its
    own value. ``observability.codegen_stats`` shows whether a session is
    recompiling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "event-data-etl-gcs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's pinned config.

    Local mode defaults to ``local[$SPARK_GRAFT_CPUS]``; on a cluster pass
    ``master=None`` with spark-submit-provided master and override
    ``shuffle_partitions`` for the data scale.
    """
    cpus = DEFAULT_CPUS
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime bloom-filter pruning: selective join sides inject bloom
        # filters into the probe-side scan — at 100 TB this is the
        # difference between scanning the fact table and scanning the
        # fraction of it that can possibly join.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Object-store-friendly committer (replaces the reference's GCS
        # connector tuning at sparkify_etl.py:232 with the general knob).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Incremental runs overwrite only the partitions they produce
        # (SURVEY.md §2.1 S5).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Parquet TIMESTAMP(NANOS) (e.g. the driver's events.ts) is not a
        # Spark type; read as long and convert in the catalog loader
        # (sources/catalog.py) by truncating to microseconds — matching
        # DuckDB's ns->us read behavior.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Write TZ-aware timestamps as annotated INT64 micros, not the
        # INT96 default: INT96 pages carry NO min/max statistics, which
        # silently disables row-group and whole-file pruning on every
        # time-range predicate — at 100 TB that pruning IS the query plan.
        # Micros also round-trips to DuckDB/Trino/BigQuery losslessly.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Generated-class cache sized over the measured working sets
        # (134 / 287 classes, module docstring) so code generated once is
        # reused by every later op instead of recompiled.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
