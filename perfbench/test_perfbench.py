"""Self-tests of the benchmark at a tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

``test_corrupted_output_counts_as_failed_op`` starts a two-core Spark
session and runs one pass of the ETL (batch and two incremental rounds)
twice, about a minute.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, run, trace  # noqa: E402
from perfbench.workloads import Etl  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


GENERATORS = {
    "sparkify": lambda root, seed: gen.sparkify(root, seed, n_events=600, n_files=3, n_songs=40, n_users=12),
    "tables": lambda root, seed: gen.tables(root, seed, 0.002),
    "corpus": lambda root, seed: gen.corpus(root, seed, n_base_docs=30, n_base_vecs=20, replicas=2),
}


@pytest.mark.parametrize("kind", sorted(GENERATORS))
def test_same_seed_gives_identical_inputs(tmp_path, kind):
    a = GENERATORS[kind](str(tmp_path / "a"), 7)
    b = GENERATORS[kind](str(tmp_path / "b"), 7)
    c = GENERATORS[kind](str(tmp_path / "c"), 8)
    da, db, dc = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b")), _digest(str(tmp_path / "c"))
    assert da and da == db
    assert da != dc
    assert a["input_rows"] == b["input_rows"] > 0
    assert a["input_bytes"] == b["input_bytes"] > 0


def test_sparkify_logs_carry_the_edge_cases(tmp_path):
    f = gen.sparkify(str(tmp_path), 3, n_events=3000, n_files=4, n_songs=100, n_users=40)
    rows = f["_rows"]
    assert any(r["userId"] == "" for r in rows) and any(r["userId"] is None for r in rows)
    assert any(r["page"] == "NextSong" and r["length"] is None for r in rows)
    assert any(r["page"] != "NextSong" for r in rows)
    assert f["time_years"] == [2018, 2019]
    assert 0 < f["matched_plays"] < f["next_song"]
    assert f["users_rows"] > len(f["user_ids"])  # argmax ties keep both rows
    rounds = gen.sparkify_rounds(f, 2)
    assert rounds[-1]["user_ids"] == f["user_ids"]
    assert rounds[-1]["time_rows"] == f["time_rows"]


def test_every_named_metric_is_emitted_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(run.WORKLOADS)
    assert set(run.END_TO_END) == {"setup_s", "op_cpu_s", "input_rows_per_cpu_s"}

    layer = trace.layer_metrics([], None, {}, 4, [])
    extra = {"session.get_spark_s", "output_bytes_per_input_byte", "failed_op_ratio",
             "trace.op_geomean_s", "trace.untraced_op_geomean_s", "trace.overhead_ratio"}
    assert set(layer) | extra == set(run.PER_LAYER)

    ops = [{"ok": True}, {"ok": False}]
    for t, units, key in ((0, run.END_TO_END, "end_to_end"), (1, run.PER_LAYER, "per_layer")):
        record = {"trace": t, "ops": ops, "failures": ["x"], key: {k: 1.5 for k in units}}
        line = run.result_line(record)
        assert line["attempted"] == 2 and line["failed"] == 1 and line["correct"] is False
        assert line["metrics"] == {k: {"value": 1.5, "unit": u} for k, u in units.items()}


def test_self_time_on_a_synthetic_span_tree():
    def span(i, parent, start, end, name="x"):
        return {"id": i, "name": name, "parent": parent, "op": 0, "start": start, "end": end}

    spans = [
        span(0, None, 0.0, 10.0, "op"),
        span(1, 0, 1.0, 4.0),
        span(2, 0, 3.0, 6.0),  # overlaps its sibling: the union counts once
        span(3, 1, 1.5, 2.0),
        span(4, 0, 9.0, 12.0),  # runs past its parent: clipped
    ]
    st = trace.self_times(spans)
    assert st[0] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 9.0))
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(3.0)
    assert trace.innermost_span(spans, 1.7)["id"] == 3
    assert trace.innermost_span(spans, 7.0)["id"] == 0


def test_percentile_interpolates_between_ranks():
    xs = [float(i) for i in range(11)]
    assert run.percentile(xs, run.TAIL_PERCENTILE) == pytest.approx(9.0)
    assert run.percentile(xs[::-1], 50.0) == pytest.approx(5.0)
    assert run.percentile([2.0, 4.0], 90.0) == pytest.approx(3.8)


def test_kind_geomean_weighs_each_kind_once():
    recs = [{"op": "a", "s": s} for s in (1.0, 9.0, 2.0)] + [{"op": "b", "s": 8.0}]
    assert run.kind_geomean(recs, "s") == pytest.approx(4.0)  # sqrt(median(a) * median(b))


def test_tree_cpu_counts_child_processes():
    import subprocess

    before = run.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\ntime.sleep(5)"])
    try:
        time.sleep(1.5)
        assert run.tree_cpu_s() - before >= 0.4
    finally:
        child.kill()
        child.wait()


class _TinyEtl(Etl):
    SIZE = dict(n_events=500, n_files=2, n_songs=30, n_users=10)
    FILES_PER_ROUND = 1


class _CorruptingEtl(_TinyEtl):
    """Overwrites one file of the users table after the batch op wrote it."""

    def run(self, spark, op, tracer):
        out = super().run(spark, op, tracer)
        if op != "batch":
            return out
        users = os.path.join(out, "users")
        victim = sorted(n for n in os.listdir(users) if n.endswith(".parquet"))[0]
        with open(os.path.join(users, victim), "wb") as fh:
            fh.write(b"not a parquet file")
        return out


def test_corrupted_output_counts_as_failed_op(tmp_path):
    from event_data_etl_gcs_spark.session import get_spark

    spark = get_spark(app_name="perfbench-selftest", master="local[2]")
    try:
        loops = []
        for cls in (_TinyEtl, _CorruptingEtl):
            wl = cls()
            wl.generate(str(tmp_path / cls.__name__), 5)
            loop = run.OpLoop(wl, spark, trace.Tracer())
            for op in wl.passes(0):
                loop.attempt(op, 0, False, False)
            loops.append(loop)
    finally:
        spark.stop()
    good, bad = loops
    assert [r["op"] for r in good.ops] == ["batch", "round0", "round1"]
    assert good.failures == [] and all(r["ok"] for r in good.ops)
    assert len(bad.failures) == 1 and [r["ok"] for r in bad.ops] == [False, True, True]


def test_event_log_jobs_are_attributed_to_spans(tmp_path):
    def span(i, name, parent, start, end):
        return {"id": i, "name": name, "parent": parent, "op": 0, "start": start, "end": end}

    spans = [
        span(0, "op", None, 100.0, 110.0),
        span(1, "queries.build", 0, 100.0, 101.0),
        span(2, "catalog.load_table", 1, 100.2, 100.5),
        span(3, "exec", 0, 101.0, 110.0),
    ]
    plan = {"nodeName": "BroadcastHashJoin", "metrics": [
        {"name": "number of output rows", "accumulatorId": 7}], "children": [
        {"nodeName": "Scan json ", "metrics": [{"name": "size of files read", "accumulatorId": 8}],
         "children": []}]}
    events = [
        # schema job fired inside load_table, tagged by its description
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 100300,
         "Stage IDs": [0], "Properties": {"spark.job.description": "perfbench:2"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 100400},
        # untagged job (as a streaming batch would be): attributed by time
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 102000,
         "Stage IDs": [1, 2], "Properties": {"spark.sql.execution.id": "5"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 104000},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 5, "sparkPlanInfo": plan},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 5, "accumUpdates": [[8, 4096]]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Stage Attempt ID": 0, "Accumulables": [{"ID": 7, "Value": "40"}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Attempt": 0},
         "Task Metrics": {"Executor Run Time": 3000, "JVM GC Time": 100,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 512}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Attempt": 1},
         "Task Metrics": {"Executor Run Time": 1000}},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = trace.read_event_log(str(path))
    assert trace.attribute_jobs(log, spans) == {0: 2, 1: 3}

    m = trace.layer_metrics(spans, log, {0: 10}, 4, [])
    assert m["catalog.load_table_calls"] == 1 and m["catalog.load_table_jobs"] == 1
    assert m["queries.build_jobs"] == 1  # the load_table job counts for the build too
    assert m["exec.jobs"] == 2 and m["exec.stages"] == 1 and m["exec.tasks"] == 2
    assert m["exec.s"] == pytest.approx(0.1 + 2.0)
    assert m["exec.task_busy_ratio"] == pytest.approx(4.0 / (10.0 * 4))
    assert m["exec.task_retries"] == 1 and m["exec.shuffle_bytes"] == 512
    assert m["exec.scan_bytes"] == 4096 and m["json_source.scan_bytes"] == 4096
    assert m["exec.join_rows_out"] == 40 and m["exec.useful_row_ratio"] == pytest.approx(10 / 40)
    assert m["queries.build_s"] == pytest.approx(1.0 - 0.3)  # self time
