"""Span tracing from outside the package, and per-layer numbers from the
Spark event log.

Spans are recorded around the benchmark's calls into each layer: the
benchmark's own calls (``session.get_spark``, a registry query's ``fn``,
planning, the action) and the package's public functions, which are
wrapped by replacing the attribute in every module that bound them by
name. Each span sets the Spark job description to its id, so the jobs it
fires can be attributed to it; jobs that carry another description (the
streaming engine sets its own per micro-batch) go to the innermost span
open when they were submitted. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time

PKG = "event_data_etl_gcs_spark"
DESC_PREFIX = "perfbench:"
JOB_DESC = "spark.job.description"


class Tracer:
    """Records spans ``{id, name, parent, op, start, end}`` (epoch seconds).

    ``enabled`` switches recording on and off without unwrapping, so one
    session can time passes with and without tracing. Post-call hooks wait
    in ``pending`` until ``flush``, which the op loop calls after the op's
    timing has stopped.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.enabled = False
        self.op: int | None = None
        self.sc = None  # SparkContext whose job description spans set
        self.pending: list[tuple] = []

    def flush(self) -> None:
        for after, rec, args, kwargs in self.pending:
            after(rec, args, kwargs)
        self.pending.clear()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self.stack.append(rec["id"])
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(JOB_DESC)
            self.sc.setLocalProperty(JOB_DESC, f"{DESC_PREFIX}{rec['id']}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(JOB_DESC, prev)


def _wrap(tracer: Tracer, fn, span_name: str, after=None):
    def wrapper(*args, **kwargs):
        with tracer.span(span_name) as rec:
            out = fn(*args, **kwargs)
        if rec is not None and after is not None:
            tracer.pending.append((after, rec, args, kwargs))
        return out

    wrapper.__wrapped__ = fn
    wrapper.__name__ = getattr(fn, "__name__", span_name)
    return wrapper


def _dir_stats(rec: dict, args, kwargs) -> None:
    """parquet_sink.write_parquet_table(df, path, partition_by=...): what
    the call left on disk, read by ``Tracer.flush`` after the op."""
    path = kwargs.get("path", args[1] if len(args) > 1 else None)
    files = nbytes = 0
    parts = set()
    for root, _, names in os.walk(path or ""):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
                rel = os.path.relpath(root, path)
                if rel != ".":
                    parts.add(rel)
    rec.update(files=files, bytes=nbytes, partitions=len(parts))


# (module, attribute, span name, post-call hook)
PATCHES = (
    ("sources.catalog", "load_table", "catalog.load_table", None),
    ("sources.json_source", "read_json_events", "json_source.read_json_events", None),
    ("sources.parquet_sink", "write_parquet_table", "parquet_sink.write", _dir_stats),
    ("operators.dedup", "minhash_lsh_pairs", "operators.minhash_lsh_pairs", None),
    ("operators.similarity", "lsh_bucket_topk", "operators.lsh_bucket_topk", None),
    ("plans.training_corpus", "select_training_corpus", "operators.select_training_corpus", None),
    ("plans.sparkify", "build_users", "sparkify.build_users", None),
    ("plans.sparkify", "build_time", "sparkify.build_time", None),
    ("plans.sparkify", "build_songs", "sparkify.build_songs", None),
    ("plans.sparkify", "build_artists", "sparkify.build_artists", None),
    ("plans.sparkify", "build_songplays", "sparkify.build_songplays", None),
)


def install(tracer: Tracer) -> int:
    """Wrap every PATCHES function in every loaded package module that bound
    it (``from x import f`` copies the reference, so the defining module
    alone is not enough). Returns the number of attributes replaced."""
    import importlib

    n = 0
    for mod_name, attr, span_name, after in PATCHES:
        orig = getattr(importlib.import_module(f"{PKG}.{mod_name}"), attr)
        wrapped = _wrap(tracer, orig, span_name, after)
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            if getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapped)
                n += 1
    return n


# --- span arithmetic -----------------------------------------------------------


def _union_length(intervals) -> float:
    total = 0.0
    end = None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by child spans."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        clipped = [(max(a, lo), min(b, hi)) for a, b in kids.get(s["id"], []) if b > lo and a < hi]
        out[s["id"]] = (hi - lo) - _union_length(clipped)
    return out


def innermost_span(spans: list[dict], t: float) -> dict | None:
    """The deepest span whose interval holds time ``t``."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def ancestors(spans_by_id: dict[int, dict], sid: int):
    while sid is not None:
        yield spans_by_id[sid]
        sid = spans_by_id[sid]["parent"]


# --- Spark event log -------------------------------------------------------------


def _acc_value(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _plan_accumulators(node: dict, scans: dict, joins: set) -> None:
    name = node.get("nodeName", "")
    for m in node.get("metrics", []):
        if name.startswith("Scan ") and m["name"] == "size of files read":
            scans[m["accumulatorId"]] = name.split()[1] if len(name.split()) > 1 else name
        elif "Join" in name and m["name"] == "number of output rows":
            joins.add(m["accumulatorId"])
    for c in node.get("children", []):
        _plan_accumulators(c, scans, joins)


def read_event_log(path: str) -> dict:
    """Jobs, stages and SQL metrics from one application's event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    exec_jobs: dict[int, list[int]] = {}
    scans: dict[int, str] = {}
    joins: set[int] = set()
    driver_acc: list[tuple[int, int, float]] = []  # (execution id, acc id, value)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                exe = props.get("spark.sql.execution.id")
                jobs[jid] = {
                    "id": jid,
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "desc": props.get(JOB_DESC) or "",
                    "execution": int(exe) if exe not in (None, "") else None,
                    "stages": [],
                    "tasks": [],
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
                if exe not in (None, ""):
                    exec_jobs.setdefault(int(exe), []).append(jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                jid = stage_job.get(info["Stage ID"])
                accs = {a["ID"]: _acc_value(a.get("Value")) for a in info.get("Accumulables", [])}
                stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = {"job": jid, "accs": accs}
                if jid in jobs:
                    jobs[jid]["stages"].append(info["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid not in jobs:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                jobs[jid]["tasks"].append(
                    {
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "retry": 1 if info.get("Attempt", 0) > 0 or info.get("Failed") else 0,
                    }
                )
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_accumulators(ev.get("sparkPlanInfo") or {}, scans, joins)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc, val in ev.get("accumUpdates", []):
                    driver_acc.append((ev["executionId"], acc, _acc_value(val)))
    return {
        "jobs": jobs,
        "stages": stages,
        "exec_jobs": exec_jobs,
        "scans": scans,
        "joins": joins,
        "driver_acc": driver_acc,
    }


def attribute_jobs(log: dict, spans: list[dict]) -> dict[int, int]:
    """Job id -> span id: by our job description, else by submission time."""
    by_id = {s["id"] for s in spans}
    out = {}
    for jid, job in log["jobs"].items():
        sid = None
        if job["desc"].startswith(DESC_PREFIX):
            try:
                sid = int(job["desc"][len(DESC_PREFIX):])
            except ValueError:
                sid = None
        if sid not in by_id:
            s = innermost_span(spans, job["submit"])
            sid = s["id"] if s is not None else None
        if sid is not None:
            out[jid] = sid
    return out


# --- per-layer metrics -------------------------------------------------------------


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(
    spans: list[dict],
    log: dict | None,
    op_rows_out: dict[int, int],
    cores: int,
    progress: list[dict],
) -> dict[str, float]:
    """Per-layer numbers as means per traced op (``_s`` values are self
    time; ``_jobs`` count jobs fired inside the span or its children)."""
    ops = sorted({s["op"] for s in spans if s["op"] is not None and s["name"] == "op"})
    n_ops = max(1, len(ops))
    by_id = {s["id"]: s for s in spans}
    selft = self_times(spans)

    def per_op(x: float) -> float:
        return x / n_ops

    def layer_self(prefix: str) -> float:
        return sum(selft[s["id"]] for s in spans if s["name"].startswith(prefix) and s["op"] in ops)

    def top_spans(prefix: str):
        """Spans named ``prefix*`` with no ancestor of the same layer."""
        for s in spans:
            if s["op"] in ops and s["name"].startswith(prefix):
                par = s["parent"]
                if par is None or not any(
                    a["name"].startswith(prefix) for a in ancestors(by_id, par)
                ):
                    yield s

    job_span = attribute_jobs(log, spans) if log else {}
    jobs = log["jobs"] if log else {}

    def jobs_under(roots) -> int:
        root_ids = {s["id"] for s in roots}
        n = 0
        for jid, sid in job_span.items():
            if any(a["id"] in root_ids for a in ancestors(by_id, sid)):
                n += 1
        return n

    op_job = {
        jid: by_id[sid]["op"] for jid, sid in job_span.items() if by_id[sid]["op"] in ops
    }
    tasks = [t for jid in op_job for t in jobs[jid]["tasks"]]
    stage_ids = [sid for jid in op_job for sid in jobs[jid]["stages"]]
    job_iv = [(jobs[j]["submit"], jobs[j]["end"]) for j in op_job if jobs[j]["end"] is not None]
    op_wall = sum(s["end"] - s["start"] for s in spans if s["name"] == "op" and s["op"] in ops)
    run_ms = sum(t["run_ms"] for t in tasks)

    scan_bytes = json_bytes = join_rows = 0.0
    if log:
        exec_op = {}
        for exe, jids in log["exec_jobs"].items():
            for j in jids:
                if j in op_job:
                    exec_op[exe] = op_job[j]
                    break
        for exe, acc, val in log["driver_acc"]:
            if exe in exec_op and acc in log["scans"]:
                scan_bytes += val
                if log["scans"][acc] == "json":
                    json_bytes += val
        for st in log["stages"].values():
            if st["job"] in op_job:
                join_rows += sum(v for a, v in st["accs"].items() if a in log["joins"])

    rows_out = sum(op_rows_out.get(o, 0) for o in ops)
    writes = [s for s in spans if s["name"] == "parquet_sink.write" and s["op"] in ops]
    n_stages = len(stage_ids)

    # Streaming progress, attributed to the op whose span held the batch.
    op_spans = [s for s in spans if s["name"] == "op" and s["op"] in ops]
    per_op_batches: dict[int, list[dict]] = {}
    for p in progress:
        s = innermost_span(op_spans, p["t"])
        if s is not None:
            per_op_batches.setdefault(s["op"], []).append(p)
    batches = [p for bs in per_op_batches.values() for p in bs]

    return {
        "catalog.load_table_calls": per_op(sum(1 for s in spans if s["name"] == "catalog.load_table" and s["op"] in ops)),
        "catalog.load_table_s": per_op(layer_self("catalog.load_table")),
        "catalog.load_table_jobs": per_op(jobs_under(top_spans("catalog.load_table"))),
        "queries.build_s": per_op(layer_self("queries.build")),
        "queries.build_jobs": per_op(jobs_under(top_spans("queries.build"))),
        "operators.build_s": per_op(layer_self("operators.")),
        "operators.build_jobs": per_op(jobs_under(top_spans("operators."))),
        "catalyst.plan_s": per_op(layer_self("catalyst.plan")),
        "exec.s": per_op(_union_length(job_iv)),
        "exec.jobs": per_op(len(op_job)),
        "exec.stages": per_op(n_stages),
        "exec.tasks": per_op(len(tasks)),
        "exec.tasks_per_stage": len(tasks) / n_stages if n_stages else 0.0,
        "exec.task_busy_ratio": (run_ms / 1000.0) / (op_wall * cores) if op_wall else 0.0,
        "exec.shuffle_fetch_wait_s": per_op(sum(t["fetch_wait_ms"] for t in tasks) / 1000.0),
        "exec.gc_s": per_op(sum(t["gc_ms"] for t in tasks) / 1000.0),
        "exec.scan_bytes": per_op(scan_bytes),
        "exec.shuffle_bytes": per_op(sum(t["shuffle_write"] for t in tasks)),
        "exec.spill_bytes": per_op(sum(t["spill"] for t in tasks)),
        "exec.join_rows_out": per_op(join_rows),
        "exec.useful_row_ratio": rows_out / join_rows if join_rows else 0.0,
        "exec.task_retries": per_op(sum(t["retry"] for t in tasks)),
        "sparkify.build_s": per_op(layer_self("sparkify.")),
        "sparkify.rows_out": per_op(rows_out) if any(s["name"] == "sparkify.run_pipeline" for s in spans) else 0.0,
        "json_source.scan_bytes": per_op(json_bytes),
        "parquet_sink.write_calls": per_op(len(writes)),
        "parquet_sink.write_s": per_op(layer_self("parquet_sink.write")),
        "parquet_sink.files_written": per_op(sum(s.get("files", 0) for s in writes)),
        "parquet_sink.bytes_written": per_op(sum(s.get("bytes", 0) for s in writes)),
        "parquet_sink.partitions_written": per_op(sum(s.get("partitions", 0) for s in writes)),
        "incremental.drain_s": per_op(layer_self("incremental.drain")),
        "incremental.batches": per_op(len(batches)),
        "incremental.batch_p50_s": _median([p["duration_s"] for p in batches]),
        "incremental.input_rows": per_op(sum(p["input_rows"] for p in batches)),
        "incremental.state_rows": per_op(sum(max(p["state_rows"] for p in bs) for bs in per_op_batches.values())),
        "incremental.state_bytes": per_op(sum(max(p["state_bytes"] for p in bs) for bs in per_op_batches.values())),
    }


def progress_record(progress_json: str) -> dict:
    """The fields of a StreamingQueryProgress the streaming layer reports."""
    import datetime as dt

    p = json.loads(progress_json)
    states = p.get("stateOperators") or []
    ts = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return {
        "t": ts,
        "batch": p.get("batchId"),
        "duration_s": (p.get("durationMs") or {}).get("triggerExecution", 0) / 1000.0,
        "input_rows": p.get("numInputRows", 0),
        "state_rows": sum(s.get("numRowsTotal", 0) for s in states),
        "state_bytes": sum(s.get("memoryUsedBytes", 0) for s in states),
    }
