#!/usr/bin/env python3
"""Benchmark of the Sparkify ETL engine: the batch and incremental ETL,
and a query mix of analytics and corpus curation; each a closed loop with
one client.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 30 --trace 0

Run from the repository root. One process, ``local[<cpus>]``; each op starts
after the previous one ends. The run generates its inputs from the seed
under ``.bench_work/``, sets up (session, JVM, the workload's untimed
warm-up passes), checks outputs against the generator and DuckDB oracles,
then times as many whole passes of ops as fit in ``--seconds`` at
``PASS_S``, the workload's pass time on a 4-vCPU host. Each op is timed in
wall and in CPU seconds.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
loop with a Spark event log, spans around every layer call on half of the
passes, and prints the per-layer metrics (see ``trace.py``). The last line
of stdout is one JSON object; a full record of the run, spans included, is
written to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace as tr  # noqa: E402
from perfbench.workloads import WORKLOADS, CheckFailed  # noqa: E402

# op_tail_s is this percentile. A 30 s run times 9 ETL ops, too few for a
# percentile with ten ops beyond it.
TAIL_PERCENTILE = 90.0

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _BENCH = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of ``xs``."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def kind_geomean(recs: list[dict], key: str) -> float:
    """Geometric mean, over the op kinds in ``recs``, of each kind's median
    ``key`` (wall or CPU seconds): every kind counts once, however fast."""
    by_op: dict[str, list[float]] = {}
    for r in recs:
        by_op.setdefault(r["op"], []).append(r[key])
    return statistics.geometric_mean(statistics.median(v) for v in by_op.values())


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stat_ticks(path: str) -> tuple[int, int, int]:
    """(ppid, own user+system ticks, reaped children's ticks) from a
    ``/proc`` stat file."""
    with open(path) as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14])


def tree_cpu_s() -> float:
    """CPU time (user + system) of this process and every process under
    it: the driver JVM and any Python workers, with their reaped children."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid, own, reaped = _stat_ticks(f"/proc/{name}/stat")
            except OSError:  # ended while /proc was listed
                continue
            parent[int(name)], ticks[int(name)] = ppid, own + reaped
    me, total = os.getpid(), 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        total += t if p == me else 0
    return total / os.sysconf("SC_CLK_TCK")


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot (all CPUs);
    its growth over a run tells a slow host apart from slow code."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def prepare_env(work: str, cpus: int) -> dict[str, str]:
    """Keep every file Spark and Python write inside ``work``; returns the
    Spark confs the session needs for that."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # The library's 8g default heap is sized for real data; these inputs
    # fit in 2g. The heap is fixed (-Xms = -Xmx), so that how often the
    # collector runs does not depend on how far the heap has grown.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _progress_listener(records: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            records.append(tr.progress_record(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


class OpLoop:
    """Runs ops one after another and records each: the workload's untimed
    preparation, the wall time of the run call, then the untimed trace
    hooks and output check. An op that raises or fails its check is a
    failed op; the loop goes on."""

    def __init__(self, wl, spark, tracer: tr.Tracer) -> None:
        self.wl, self.spark, self.tracer = wl, spark, tracer
        self.ops: list[dict] = []
        self.failures: list[str] = []

    def attempt(self, op: str, k: int, traced: bool, warm: bool) -> dict:
        rec = {"op": op, "pass": k, "traced": traced, "warm": warm, "ok": False}
        rec["rows_in"], rec["bytes_in"] = self.wl.op_input(op)
        self.ops.append(rec)
        tracer = self.tracer
        tracer.op = len(self.ops) - 1
        tracer.enabled = traced
        try:
            self.wl.prepare(op)
            cpu = tree_cpu_s()
            t = time.perf_counter()
            with tracer.span("op", name_op=op):
                result = self.wl.run(self.spark, op, tracer)
            rec["s"] = time.perf_counter() - t
            rec["cpu_s"] = tree_cpu_s() - cpu
            tracer.enabled = False
            tracer.flush()
            rec["rows_out"], rec["out_bytes"] = self.wl.check(result)
            rec["ok"] = True
        except CheckFailed as e:
            self.failures.append(f"{op}: {e}")
        except Exception as e:  # a boundary that must keep running: record and go on
            self.failures.append(f"{op}: {type(e).__name__}: {e}")
        finally:
            tracer.enabled = False
        return rec


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    cpus = cpu_count()
    load_before = os.getloadavg()
    steal_before = cpu_steal_s()
    conf = prepare_env(work, cpus)
    event_dir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(event_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    wl = WORKLOADS[workload]()
    t = time.perf_counter()
    facts = wl.generate(os.path.join(work, "data"), seed)
    input_gen_s = time.perf_counter() - t

    tracer = tr.Tracer()
    if trace:
        import event_data_etl_gcs_spark.plans.sparkify  # noqa: F401
        import event_data_etl_gcs_spark.plans.training_corpus  # noqa: F401
        import event_data_etl_gcs_spark.queries  # noqa: F401
        import event_data_etl_gcs_spark.streaming.incremental  # noqa: F401

        tr.install(tracer)

    progress: list[dict] = []

    # Set-up: session (JVM launch, confs) and the untimed warm-up passes,
    # whose outputs are checked in full and fix the reference checksums.
    # setup_s counts the session and the warm-up runs, not their checks.
    t = time.perf_counter()
    from event_data_etl_gcs_spark.session import get_spark

    g = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=conf)
    get_spark_s = time.perf_counter() - g
    session_s = time.perf_counter() - t
    tracer.sc = spark.sparkContext
    if trace:
        spark.streams.addListener(_progress_listener(progress))
    loop = OpLoop(wl, spark, tracer)
    for k in range(-wl.WARMUP_PASSES, 0):
        for op in wl.passes(k):
            loop.attempt(op, k, False, True)
    setup_s = session_s + sum(r.get("s", 0.0) for r in loop.ops)
    progress.clear()

    # A fixed number of whole passes (see Workload.PASS_S). A traced run
    # traces passes in the order T U U T T U ..., which cancels a linear
    # drift of op times out of trace.overhead_ratio, and runs at least one
    # of each.
    for k in range(max(2 if trace else 1, int(seconds // wl.PASS_S))):
        traced = trace and k % 4 in (0, 3)
        for op in wl.passes(k):
            loop.attempt(op, k, traced, False)
    ops, failures = loop.ops, loop.failures

    gateway = spark.sparkContext._gateway
    rss_mb = jvm_peak_rss_mb(gateway.proc.pid)
    java = spark.sparkContext._jvm.System.getProperty("java.version")
    spark_version = spark.version
    app_id = spark.sparkContext.applicationId
    if trace:  # progress events arrive on the listener bus after the drain returns
        n = -1
        deadline = time.time() + 5
        while n != len(progress) and time.time() < deadline:
            n = len(progress)
            time.sleep(0.5)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)

    ok = [r for r in ops if r["ok"] and not r["warm"]]
    # Untraced ops give the end-to-end numbers; a traced run too short for
    # an untraced pass falls back to its traced ops.
    plain = [r for r in ok if not r["traced"]] or ok
    times = [r["s"] for r in plain]
    if not times:
        raise RuntimeError(f"no op completed: {failures[:5]}")
    in_bytes = sum(r["bytes_in"] for r in ok)
    rows_in = sum(r["rows_in"] for r in plain)
    metrics = {
        "setup_s": setup_s,
        "op_cpu_s": kind_geomean(plain, "cpu_s"),
        "input_rows_per_cpu_s": rows_in / sum(r["cpu_s"] for r in plain),
    }
    # Wall-time figures: reported, not bounded (see the README's design
    # notes: other tenants' load moves them by up to a factor of two).
    wall = {
        "op_geomean_s": kind_geomean(plain, "s"),
        "op_tail_s": percentile(times, TAIL_PERCENTILE),
        "input_rows_per_s": rows_in / sum(times),
    }
    record = {
        "workload": workload,
        "seed": seed,
        "trace": int(trace),
        "ops": ops,
        "failures": failures,
        "tail_percentile": TAIL_PERCENTILE,
        "tail_samples": len(times),
        "context": {
            "nproc": cpus,
            "load_before": load_before,
            "load_after": os.getloadavg(),
            "cpu_steal_s": cpu_steal_s() - steal_before,
            "spark": spark_version,
            "java": java,
            "python": platform.python_version(),
            "git_commit": git_commit(),
            "seed": seed,
            "input_gen_s": input_gen_s,
            "session_s": session_s,
            "input_rows": facts["input_rows"],
            "input_bytes": facts["input_bytes"],
            "jvm_peak_rss_mb": rss_mb,
        },
        "end_to_end": metrics,
        "wall": wall,
    }
    if trace:
        log_path = os.path.join(event_dir, app_id)
        if not os.path.exists(log_path):
            raise RuntimeError(f"no event log at {log_path}: {os.listdir(event_dir)}")
        log = tr.read_event_log(log_path)
        traced_ops = [r for r in ok if r["traced"]]
        layer = tr.layer_metrics(
            tracer.spans,
            log,
            {i: r.get("rows_out", 0) for i, r in enumerate(ops) if r["ok"]},
            cpus,
            progress,
        )
        traced_s = kind_geomean(traced_ops, "s") if traced_ops else 0.0
        layer.update(
            {
                "session.get_spark_s": get_spark_s,
                "output_bytes_per_input_byte": sum(r["out_bytes"] for r in ok) / in_bytes,
                "failed_op_ratio": len(failures) / len(ops),
                "trace.op_geomean_s": traced_s,
                "trace.untraced_op_geomean_s": wall["op_geomean_s"],
                "trace.overhead_ratio": traced_s / wall["op_geomean_s"],
            }
        )
        record["per_layer"] = layer
        record["spans"] = tracer.spans
    record["context"]["output_bytes_per_input_byte"] = sum(r["out_bytes"] for r in ok) / in_bytes
    record["context"]["failed_op_ratio"] = len(failures) / len(ops)
    return record


def result_line(record: dict) -> dict:
    """The one-line result: end-to-end metrics untraced, per-layer metrics
    traced."""
    ops = record["ops"]
    units = PER_LAYER if record["trace"] else END_TO_END
    values = record["per_layer"] if record["trace"] else record["end_to_end"]
    return {
        "correct": not record["failures"],
        "attempted": len(ops),
        "failed": len(record["failures"]),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        record = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    summary = {k: record[k] for k in ("workload", "wall", "tail_percentile", "tail_samples", "context")}
    summary["failures"] = record["failures"][:10]
    print(json.dumps(summary, default=str))
    print(json.dumps(result_line(record)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
