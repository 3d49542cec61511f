"""Table catalog over a directory of parquet tables.

The driver testdata layout (TESTDATA.md) is ``{dir}/{name}.parquet``.
Reads are plain ``spark.read.parquet`` — the vectorized Parquet reader
with Catalyst filter pushdown and column pruning; at 100 TB the same call
reads a partitioned table directory and prunes partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..schemas import TESTDATA_TABLES

# Columns stored as parquet TIMESTAMP(NANOS): Spark reads them as long
# (spark.sql.legacy.parquet.nanosAsLong, session.py); we truncate to
# microseconds — the same conversion DuckDB applies on read.
TS_NANO_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


_PACKAGE_SHIPPED: set[str] = set()


def _context_key(spark: SparkSession) -> str:
    """Stable per-SparkContext memo key (ADVICE r12): id() of a stopped
    and GC'd context can be reused by a new allocation, silently
    skipping per-context setup; applicationId + startTime cannot."""
    sc = spark.sparkContext
    return f"{sc.applicationId}:{sc.startTime}"


def _ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Pandas-UDF / mapInPandas closures reference module-level helpers;
    cloudpickle serializes those BY MODULE REFERENCE, so workers must be
    able to import ``event_data_etl_gcs_spark``. When the driver process
    runs from another cwd (sys.path tweaks don't propagate to workers),
    that import fails — shipping a zip of the package makes every
    operator work regardless of the host process's environment."""
    key = _context_key(spark)
    if key in _PACKAGE_SHIPPED:
        return
    import tempfile
    import zipfile

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg_name = os.path.basename(pkg_root)
    zpath = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _, files in os.walk(pkg_root):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            pkg_name, os.path.relpath(full, pkg_root)
                        )
                        z.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    _PACKAGE_SHIPPED.add(key)


def _ensure_runtime_confs(spark: SparkSession) -> None:
    """Pin the runtime confs correctness depends on, whatever session we
    were handed (the driver harness builds its own SparkSession):
      * nanosAsLong — parquet TIMESTAMP(NANOS) is unreadable otherwise;
      * UTC session timezone — reproducible timestamp semantics
        (SURVEY.md §7 hard-part 1).
    Both are runtime-settable SQL confs; no-ops on sessions from
    session.get_spark which already set them. Also ships the package to
    Python workers (see _ensure_package_on_workers)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # INT96 timestamp pages have no min/max stats (kills row-group/file
    # pruning); write annotated INT64 micros instead (see session.py).
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    _ensure_package_on_workers(spark)


def normalize_event_time(df: DataFrame, nano_cols: tuple[str, ...] = ()) -> DataFrame:
    """Normalize timestamp physical encodings to session-TZ TIMESTAMP.

    The driver's testdata has shifted encodings between rounds:
    TIMESTAMP(NANOS) (reads as ``bigint`` under nanosAsLong) in round 1,
    plain ``timestamp[us]`` without UTC adjustment (reads as
    ``TIMESTAMP_NTZ``) in round 2. Every downstream consumer —
    ``unix_millis``/``unix_micros``, streaming ``withWatermark`` — requires
    TIMESTAMP (TZ-aware). With the session TZ pinned to UTC
    (:func:`_ensure_runtime_confs`) the NTZ→TIMESTAMP cast is a pure type
    relabel: wall-clock values are unchanged, so query results are
    identical to DuckDB's reading of the same file.
    """
    dtypes = dict(df.dtypes)
    for col in nano_cols:
        if dtypes.get(col) == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    for col, dtype in dtypes.items():
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# Fan-out floor: single-file tables below this size stay unsplit (tiny
# dimension tables — nation/region/supplier — where a repartition would
# only add scheduling overhead and delay broadcast builds).
FANOUT_MIN_BYTES = 512 * 1024


def _fan_out(df: DataFrame, spark: SparkSession, path: str) -> DataFrame:
    """Round-robin fan-out of an under-parallelized scan (optimization
    guide §2.5 "input skew: one huge unsplittable file ... repartition
    immediately after the read").

    The testdata tables are single parquet files with ONE row group, so
    however small ``spark.sql.files.maxPartitionBytes`` is set, every
    scan yields exactly one non-empty partition and all map-side work
    before the first exchange runs on one core (measured at sf0.1:
    extract_text 4.87 s -> 0.64 s, dedup_simhash 3.44 -> 0.49 under the
    column-forcing action; the round-12 q1 "5.92 -> 1.46" number was a
    cold-vs-warm artifact — the round-13 interleaved steady-state A/B
    puts q1 at raw 1.63-1.78 vs fanned 1.41-1.45, and q3/q5/q6/rollup
    raw-faster or a wash).

    Scale posture: the fan-out triggers ONLY when the scan has fewer
    partitions than the session's default parallelism AND the input is a
    single small file — on a real multi-row-group / multi-file table the
    scan already carries >= parallelism splits and this is a no-op, so no
    keyed shuffle or extra pass is ever added at cluster scale. The
    round-robin exchange is deterministic (sortBeforeRepartition is on by
    default) and every registered query is partitioning-independent
    (determinism audit).

    OPT-IN per load site (round-12 measurement): fan-out pays exactly
    when the per-row map work below the first exchange is heavy (HTML
    extraction 4.9 s -> 0.6 s, simhash 3.4 -> 0.5, split hashing
    3.2 -> 0.45, exact-kNN crossJoin 15.6 -> 6.6); where a query is a
    cascade of many small stages the added exchange and 32-way tiny
    stages cost more than the scan parallelism returns (semdedup_prune
    3.8 -> 7.4, containment 2.1 -> 5.8, asof_join 0.70 -> 1.56 measured
    with it forced on globally). So the default is OFF and the measured
    map-heavy call sites pass fan_out=True."""
    # Single-FILE tables only: a production table is a directory (many
    # files / row groups -> the scan already parallelizes), so the
    # isfile gate alone makes this a no-op at cluster scale. The scan
    # partition count is deliberately NOT probed via df.rdd — that
    # forces full physical planning (and, under AQE, query-stage
    # materialization) per load_table call, which measured as +0.3-0.4 s
    # of driver time per table inside every timed query.
    if not os.path.isfile(path) or os.path.getsize(path) < FANOUT_MIN_BYTES:
        return df
    return df.repartition(spark.sparkContext.defaultParallelism)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    _ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    df = normalize_event_time(df, TS_NANO_COLS.get(name, ()))
    return _fan_out(df, spark, path) if fan_out else df


def read_parquet_evolving(
    spark: SparkSession,
    path: str,
    merge_schema: bool = True,
) -> DataFrame:
    """Read a parquet table whose schema evolved across write batches
    (columns added over time — the normal life of a 100 TB event table).

    ``mergeSchema=true`` unions the footer schemas of every file: rows
    from batches written before a column existed read as NULL for it.
    Spark only widens compatibly (added columns, int->long style
    upcasts); true type conflicts fail the read — loudly, which is what
    you want.

    Scale note: schema merging reads EVERY file footer at planning time.
    On a million-file table that is a real planning cost, so this stays a
    separate entry point instead of the ``load_table`` default: resolve
    the merged schema once (here), persist it, and pass it as an explicit
    ``.schema(...)`` on the hot read path — planning then touches no
    footers and new files simply project into the known superset schema.
    """
    _ensure_runtime_confs(spark)
    return normalize_event_time(
        spark.read.option("mergeSchema", str(merge_schema).lower()).parquet(path)
    )


# context key -> sf_dir the views currently point at. Re-registering
# the same directory into the same session is pure overhead (10 fresh
# parquet file indexes per call, ~0.3 s of driver time inside every
# timed SQL query); views are lazy metadata, so skipping the re-read
# computes nothing early — every action still scans the files.
_VIEWS_REGISTERED: dict[str, str] = {}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    key = _context_key(spark)
    # cheap existence re-check (ADVICE r12): a caller that dropped or
    # replaced a temp view in between invalidates the memo silently —
    # verify one view before skipping.
    if _VIEWS_REGISTERED.get(key) == sf_dir and spark.catalog.tableExists(
        TESTDATA_TABLES[0]
    ):
        return
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    _VIEWS_REGISTERED[key] = sf_dir
