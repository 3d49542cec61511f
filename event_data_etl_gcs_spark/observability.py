"""Post-execution plan metrics — the engine's runtime observability.

``collect_plan_metrics`` walks the EXECUTED physical plan (through AQE's
AdaptiveSparkPlan / QueryStage wrappers, which hide the real tree from a
naive traversal) and returns per-node SQL metrics: rows produced, files
and bytes scanned, shuffle bytes/records written, spill. This is the
programmatic form of the Spark UI's SQL tab — what a pipeline uses to
alert on "this run scanned 40 TB instead of 2" or "stage X started
spilling" without a human watching a browser.

Summary numbers worth alerting on:
  * ``scan_bytes`` / ``scan_files`` — did partition pruning/pushdown
    actually happen (a 2-column query reading every column/file is a
    plan regression, visible here before it's a cost regression).
  * ``shuffle_bytes`` — the unit of interconnect pain at 100 TB.
  * ``spill_bytes`` — nonzero means executor memory no longer fits the
    partitions; repartition or bump shuffle partitions.

``codegen_stats`` answers a JVM-side question the plan metrics cannot:
is this session recompiling generated code? Take a snapshot before and
after a piece of work and subtract; a repeated op that still shows
Janino compiles has outgrown ``spark.sql.codegen.cache.maxEntries``
(session.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields

from pyspark.sql import DataFrame, SparkSession

_KEEP = (
    "numOutputRows",
    "numFiles",
    "filesSize",
    "dataSize",
    "shuffleBytesWritten",
    "shuffleRecordsWritten",
    "spillSize",
)


@dataclass
class NodeMetrics:
    depth: int
    node: str
    metrics: dict[str, int] = field(default_factory=dict)


@dataclass
class PlanMetrics:
    nodes: list[NodeMetrics]

    def _total(self, node_filter, key: str) -> int:
        return sum(
            n.metrics.get(key, 0) for n in self.nodes if node_filter(n.node)
        )

    @property
    def scan_files(self) -> int:
        return self._total(lambda s: s.startswith("Scan"), "numFiles")

    @property
    def scan_bytes(self) -> int:
        return self._total(lambda s: s.startswith("Scan"), "filesSize")

    @property
    def scan_rows(self) -> int:
        return self._total(lambda s: s.startswith("Scan"), "numOutputRows")

    @property
    def shuffle_bytes(self) -> int:
        return self._total(lambda s: s == "Exchange", "shuffleBytesWritten")

    @property
    def spill_bytes(self) -> int:
        return self._total(lambda s: True, "spillSize")


def collect_plan_metrics(df: DataFrame) -> PlanMetrics:
    """Metrics of df's EXECUTED plan. Run an action first (count/collect/
    write) — unexecuted accumulators read as zero."""
    out: list[NodeMetrics] = []

    def walk(node, depth: int) -> None:
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan(), depth)
            return
        if name.endswith("QueryStage"):
            walk(node.plan(), depth)
            return
        it = node.metrics().iterator()
        vals: dict[str, int] = {}
        while it.hasNext():
            kv = it.next()
            if kv._1() in _KEEP:
                vals[kv._1()] = kv._2().value()
        out.append(NodeMetrics(depth, name, vals))
        for i in range(node.children().length()):
            walk(node.children().apply(i), depth + 1)

    walk(df._jdf.queryExecution().executedPlan(), 0)
    return PlanMetrics(out)


def run_with_metrics(df: DataFrame) -> tuple[int, PlanMetrics]:
    """Execute df and return (row_count, PlanMetrics).

    Executes via collect() on THIS frame's plan: count() would build a
    different derived plan, leaving this frame's metric accumulators at
    zero. Result rows come to the driver — for huge frames, measure a
    representative aggregate/limit of the pipeline instead of the full
    output."""
    n = len(df.collect())
    return n, collect_plan_metrics(df)


@dataclass(frozen=True)
class CodegenStats:
    """Cumulative code-generation and JIT counters of the driver JVM (in
    local mode executors share it; on a cluster, executor-side compiles
    are not counted). ``after - before`` gives the counts of the work in
    between."""

    compiles: int  # Janino compiles: misses of the generated-class cache
    compile_ms: float  # wall time spent in those compiles
    # bytecode of the classes they produced: class count x the mean of
    # CodegenMetrics' sampled size histogram, an estimate once past its
    # 1028 samples
    bytecode_bytes: int
    jit_ms: int  # HotSpot JIT compile time, all compiler threads
    classes_loaded: int  # classes the JVM has loaded, generated ones included

    def __sub__(self, other: "CodegenStats") -> "CodegenStats":
        return CodegenStats(
            *(getattr(self, f.name) - getattr(other, f.name) for f in fields(self))
        )


def codegen_stats(spark: SparkSession) -> CodegenStats:
    """Snapshot of the JVM's codegen counters (``CodegenMetrics``,
    ``CodeGenerator.compileTime``) and its JIT and class-loading MXBeans."""
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    compile_time = metrics.METRIC_COMPILATION_TIME()
    class_size = metrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE()
    generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    mx = jvm.java.lang.management.ManagementFactory
    return CodegenStats(
        compiles=compile_time.getCount(),
        compile_ms=generator.compileTime() / 1e6,  # kept in nanoseconds
        bytecode_bytes=round(class_size.getCount() * class_size.getSnapshot().getMean()),
        jit_ms=mx.getCompilationMXBean().getTotalCompilationTime(),
        classes_loaded=mx.getClassLoadingMXBean().getTotalLoadedClassCount(),
    )
