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
  * The local Hadoop file system does ``chmod`` and ``readlink`` in the
    JVM (``jvm/NioLocalFileSystem.java``). Without Hadoop's native
    library, which Spark does not ship, the stock ``RawLocalFileSystem``
    forks ``/bin/chmod`` for every permission it sets (each file and
    directory a parquet write, checkpoint or state store creates) and
    ``readlink`` for every ``getFileLinkStatus`` (FileContext path
    resolution, which the streaming checkpoint and state store use).
    Counted with PATH-shadowing wrappers on the ``perfbench`` ``etl``
    workload (seed 5, 4 vCPUs), one op forked 94 (``batch``), 306
    (``round0``) and 432 (``round1``) processes; the analytic query mix
    forked none. The forked children cost the JVM's process tree 0.3-1.7
    CPU-s per op. The shim forks none of them. It is compiled once with
    the JDK's ``javac`` against Spark's jars and cached by source hash
    under ``~/.cache``; without ``javac``, or when the session joins a JVM
    that was started without it, the stock classes stay, which costs
    speed only. Local masters only: on a cluster the executors would need
    the classes too.
"""

from __future__ import annotations

import hashlib
import logging
import os
import shutil
import subprocess
import tempfile

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

_NIO_FS_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "NioLocalFileSystem.java"
)
NIO_FS_CLASS = "event_data_etl_gcs_spark.jvm.NioLocalFileSystem"
_log = logging.getLogger(__name__)


def _nio_fs_classes() -> str | None:
    """Directory holding the compiled ``NioLocalFileSystem`` classes, or
    None when no JDK compiler is available.

    Compiled once per source hash into ``~/.cache`` (outside any per-run
    ``TMPDIR``) and published with one directory rename, so concurrent
    sessions never see a half-written class directory.
    """
    with open(_NIO_FS_SOURCE, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    root = os.path.join(os.path.expanduser("~"), ".cache", "event_data_etl_gcs_spark")
    out = os.path.join(root, f"jvm-{digest}")
    if os.path.isdir(out):
        return out
    javac = shutil.which("javac")
    if javac is None:
        return None
    from pyspark.find_spark_home import _find_spark_home

    jars = os.path.join(_find_spark_home(), "jars", "*")
    try:
        os.makedirs(root, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".build-", dir=root)
        try:
            proc = subprocess.run(
                [javac, "--release", "17", "-nowarn", "-cp", jars, "-d", tmp, _NIO_FS_SOURCE],
                capture_output=True,
                text=True,
            )
            if proc.returncode != 0:
                _log.warning(
                    "NioLocalFileSystem did not compile; keeping the stock local file system:\n%s",
                    proc.stderr,
                )
                return None
            os.rename(tmp, out)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    except OSError as e:
        if os.path.isdir(out):  # a concurrent session published it first
            return out
        _log.warning("NioLocalFileSystem not built (%s); keeping the stock local file system", e)
        return None
    return out


def _with_nio_fs(master: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """``extra_conf`` plus the confs that register ``NioLocalFileSystem``
    as the ``file`` scheme, when the JVM can load it; the caller's own
    ``fs.*`` settings win.

    A JVM this call launches gets the classes on its classpath, ahead of
    any caller-given ``spark.driver.extraClassPath``. A JVM that is
    already running (an earlier session, or spark-submit's gateway) has a
    fixed classpath, so the classes are registered only if it can
    already load them.
    """
    if not (master == "local" or master.startswith("local[")):
        return extra_conf
    conf = {
        "spark.hadoop.fs.file.impl": NIO_FS_CLASS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": NIO_FS_CLASS + "$Fs",
    }
    if SparkContext._jvm is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()
        try:
            SparkContext._jvm.java.lang.Class.forName(NIO_FS_CLASS)
        except Py4JError:  # ClassNotFoundException
            return extra_conf
        return {**conf, **extra_conf}
    classes = _nio_fs_classes()
    if classes is None:
        return extra_conf
    given = extra_conf.get("spark.driver.extraClassPath")
    conf = {**conf, **extra_conf}
    conf["spark.driver.extraClassPath"] = classes + (os.pathsep + given if given else "")
    return conf


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
    for k, v in _with_nio_fs(master, extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
