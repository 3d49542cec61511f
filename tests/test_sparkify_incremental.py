"""Sparkify incremental mode (streaming/incremental.py): the Available-Now
drain, exactly-once file bookkeeping across restarts, cross-batch dedup
within the watermark, per-batch merges into users/time, and what a
no-data micro-batch and a crash mid-merge leave behind."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.errors import StreamingQueryException

from event_data_etl_gcs_spark.plans.sparkify import run_pipeline
from event_data_etl_gcs_spark.streaming import incremental
from event_data_etl_gcs_spark.streaming.incremental import (
    run_incremental_available_now,
)

from .test_sparkify_pipeline import MS, T0, YEAR_2019, _log_row


def _write_file(d, name, rows):
    (d / name).write_text("\n".join(json.dumps(r) for r in rows))


def _committed_batches(ckpt: str) -> list[int]:
    return sorted(int(f) for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit())


def _rows(spark, path: str) -> list[tuple]:
    df = spark.read.parquet(path)
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))


# Two rounds of logs for the equality and crash tests. Round 2 moves u1
# to a later, lower level, gives u2 an argmax tie (both rows kept), adds
# a 2019 event (a second time partition) and repeats a round-1 event.
ROUND1 = [
    _log_row(ts=T0, userId="u1", level="free"),
    _log_row(ts=T0 + 60 * MS, userId="u1", level="paid", itemInSession=1),
    _log_row(ts=T0 + 30 * MS, userId="u2", firstName="Bea", itemInSession=2),
    _log_row(ts=T0, userId=""),
    _log_row(ts=T0, userId=None, itemInSession=3),
    _log_row(ts=T0, userId="u5", page="Home"),
]
ROUND2 = [
    _log_row(ts=T0 + 600 * MS, userId="u1", level="free", itemInSession=4),
    _log_row(ts=T0 + 300 * MS, userId="u2", firstName="Bea", level="free", itemInSession=5),
    _log_row(ts=T0 + 300 * MS, userId="u2", firstName="Bea", level="paid", itemInSession=6),
    _log_row(ts=YEAR_2019, userId="u3", sessionId=2),
    _log_row(ts=T0 + 60 * MS, userId="u1", level="paid", itemInSession=1),
]


def _two_rounds(spark, d, before_round2=None):
    """Drain ROUND1, land ROUND2, run ``before_round2(out, drain)`` (which
    may crash a drain or fake a crash state), then drain ROUND2. Returns
    the output directory."""
    raw = d / "raw"
    raw.mkdir()
    out, ckpt = str(d / "wh"), str(d / "ckpt")
    _write_file(raw, "f1.json", ROUND1)
    run_incremental_available_now(spark, str(raw), out, ckpt)
    _write_file(raw, "f2.json", ROUND2)
    if before_round2 is not None:
        before_round2(out, lambda: run_incremental_available_now(spark, str(raw), out, ckpt))
    run_incremental_available_now(spark, str(raw), out, ckpt)
    return out


@pytest.fixture(scope="module")
def clean_tables(spark, tmp_path_factory):
    out = _two_rounds(spark, tmp_path_factory.mktemp("clean"))
    return {t: _rows(spark, os.path.join(out, t)) for t in ("users", "time")}


def test_two_rounds_equal_batch_pipeline(spark, tmp_path, clean_tables):
    """After both rounds, users and time equal the log-only batch job's on
    the same logs: merges replace by key, keep argmax ties and add the
    new year partition."""
    raw = tmp_path / "raw"
    raw.mkdir()
    _write_file(raw, "f1.json", ROUND1)
    _write_file(raw, "f2.json", ROUND2)
    out = str(tmp_path / "batch")
    run_pipeline(spark, song_data_path=None, log_data_path=str(raw), output_dir=out)
    for t in ("users", "time"):
        assert clean_tables[t] == _rows(spark, os.path.join(out, t)), t
    assert len(clean_tables["users"]) == 4  # u1, u2 twice (tie), u3
    assert {r[-1] for r in clean_tables["time"]} == {2018, 2019}


def test_no_data_batch_writes_nothing(spark, tmp_path, monkeypatch):
    """Each drain runs a data batch and then the watermark's no-data
    batch. Only the data batch writes: users and time once each, straight
    into the table on the first run, through the merge directory after."""
    calls = []
    write = incremental.write_parquet_table

    def counting(df, path, *a, **kw):
        calls.append(os.path.basename(path))
        write(df, path, *a, **kw)

    monkeypatch.setattr(incremental, "write_parquet_table", counting)
    raw = tmp_path / "raw"
    raw.mkdir()
    out, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt")
    _write_file(raw, "f1.json", ROUND1)
    run_incremental_available_now(spark, str(raw), out, ckpt)
    assert _committed_batches(ckpt) == [0, 1]
    assert calls == ["users", "time"]

    _write_file(raw, "f2.json", ROUND2[:1])
    run_incremental_available_now(spark, str(raw), out, ckpt)
    assert _committed_batches(ckpt) == [0, 1, 2, 3]
    assert calls == ["users", "time", "users.__merge_new__", "time.__merge_new__"]
    assert sorted(os.listdir(out)) == ["time", "users"]


def test_skipped_batch_keeps_dedup_state(spark, tmp_path):
    """A run-1 event re-delivered in run 2 is dropped by the dedup state,
    which the no-data batch between the runs committed without writing.
    The event is inside the watermark, so only the state can drop it:
    letting it through would append a fact row and set u1 back to free."""
    raw = tmp_path / "raw"
    raw.mkdir()
    out, ckpt, fact = (str(tmp_path / n) for n in ("wh", "ckpt", "fact"))
    first = _log_row(ts=T0, userId="u1", level="free")
    _write_file(raw, "f1.json", [first, _log_row(ts=T0 + 60 * MS, userId="u1", level="paid", itemInSession=1)])
    run_incremental_available_now(spark, str(raw), out, ckpt, fact_dir=fact)
    assert spark.read.parquet(fact).count() == 2

    _write_file(raw, "f2.json", [first, _log_row(ts=T0 + 120 * MS, userId="u2", itemInSession=2)])
    run_incremental_available_now(spark, str(raw), out, ckpt, fact_dir=fact)
    assert spark.read.parquet(fact).count() == 3
    users = {r.user_id: r.level for r in spark.read.parquet(f"{out}/users").collect()}
    assert users == {"u1": "paid", "u2": "free"}
    assert spark.read.parquet(f"{out}/time").count() == 3


def _fail_on(monkeypatch, module, name: str, suffix: str) -> None:
    """Make ``module.name(path, ...)`` raise for a path ending in ``suffix``."""
    real = getattr(module, name)

    def failing(path, *a, **kw):
        if str(path).endswith(suffix):
            raise OSError(f"crash in {name}({path})")
        return real(path, *a, **kw)

    monkeypatch.setattr(module, name, failing)


@pytest.mark.parametrize("mode", ["between_renames", "before_cleanup", "stale_merge_dir"])
def test_replay_after_crash_mid_merge_equals_clean_run(spark, tmp_path, monkeypatch, mode, clean_tables):
    """A crash inside round 2's merge leaves the table moved aside, the
    old table not yet removed, or a stale merge directory. The replayed
    batch repairs that first and ends with the clean run's tables."""

    def crash(out, drain):
        if mode == "stale_merge_dir":
            # A merge write that died part-way, with a partition the replay
            # does not produce: dynamic partition overwrite would keep it.
            time_dir = os.path.join(out, "time")
            part = next(
                os.path.join(dp, f)
                for dp, _, fs in os.walk(time_dir)
                for f in fs
                if f.endswith(".parquet")
            )
            stale = os.path.join(f"{time_dir}.__merge_new__", "year=1999")
            os.makedirs(stale)
            shutil.copy(part, stale)
            return
        if mode == "between_renames":
            _fail_on(monkeypatch, os, "rename", ".__merge_new__")
        else:
            _fail_on(monkeypatch, shutil, "rmtree", ".__merge_old__")
        with pytest.raises(StreamingQueryException):
            drain()
        monkeypatch.undo()
        users = os.path.join(out, "users")
        assert os.path.isdir(f"{users}.__merge_old__")
        assert os.path.exists(users) == (mode == "before_cleanup")

    out = _two_rounds(spark, tmp_path, crash)
    for t in ("users", "time"):
        assert _rows(spark, os.path.join(out, t)) == clean_tables[t], t
    assert sorted(os.listdir(out)) == ["time", "users"]


def test_available_now_incremental(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    out = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")

    _write_file(
        raw, "f1.json",
        [
            _log_row(ts=T0, userId="u1", level="free"),
            _log_row(ts=T0 + 60 * MS, userId="u1", level="paid", itemInSession=1),
            _log_row(ts=T0, userId="u2", page="Home"),  # filtered
        ],
    )
    run_incremental_available_now(spark, str(raw), out, ckpt)
    users1 = spark.read.parquet(f"{out}/users")
    assert users1.count() == 1  # u1 latest within the batch
    assert users1.collect()[0].level == "paid"
    time1 = spark.read.parquet(f"{out}/time").count()
    assert time1 == 2

    # Second run: one NEW file (plus an exact duplicate event of f1 that
    # the watermarked dropDuplicates must swallow within the run).
    _write_file(
        raw, "f2.json",
        [
            _log_row(ts=T0 + 120 * MS, userId="u3", level="free", itemInSession=2),
            _log_row(ts=T0 + 120 * MS, userId="u3", level="free", itemInSession=2),
        ],
    )
    run_incremental_available_now(spark, str(raw), out, ckpt)
    users2 = spark.read.parquet(f"{out}/users")
    # f1 NOT reprocessed (checkpoint): still one u1 row, plus one u3 row
    assert users2.count() == 2
    assert {r.user_id for r in users2.collect()} == {"u1", "u3"}
    # duplicate event deduped -> exactly one new time row
    assert spark.read.parquet(f"{out}/time").count() == 3


def test_dedup_within_watermark_collapses_resends(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the same logical event re-sent with
    a slightly different timestamp still collapses (keys exclude ts)."""
    raw = tmp_path / "raw2"
    raw.mkdir()
    out = str(tmp_path / "wh2")
    ckpt = str(tmp_path / "ckpt2")
    _write_file(
        raw, "f1.json",
        [
            _log_row(ts=T0, userId="u1", sessionId=1, itemInSession=0),
            # resend of the same (user, session, item) 5s later
            _log_row(ts=T0 + 5 * MS, userId="u1", sessionId=1, itemInSession=0),
        ],
    )
    run_incremental_available_now(
        spark, str(raw), out, ckpt, dedup_within_watermark=True
    )
    # one logical event -> one time row (plain dropDuplicates would keep 2)
    assert spark.read.parquet(f"{out}/time").count() == 1


def test_same_user_across_runs_upserts_not_appends(spark, tmp_path):
    """A user appearing in two separate runs must end with ONE row
    carrying the newest state (per-batch merge into the table), not a
    stale row beside a fresh one; a time row sharing its truncated
    second across runs must not duplicate."""
    raw = tmp_path / "raw3"
    raw.mkdir()
    out = str(tmp_path / "wh3")
    ckpt = str(tmp_path / "ckpt3")

    _write_file(raw, "f1.json", [_log_row(ts=T0, userId="u1", level="free")])
    run_incremental_available_now(spark, str(raw), out, ckpt)

    # run 2: same user upgraded, same truncated second as an f1 event
    _write_file(
        raw, "f2.json",
        [
            _log_row(ts=T0 + 500, userId="u1", level="paid", itemInSession=1),
            # same second as f1's event (ts differs by <1s) -> same time row
        ],
    )
    run_incremental_available_now(spark, str(raw), out, ckpt)

    users = spark.read.parquet(f"{out}/users").collect()
    assert len(users) == 1, users  # no stale 'free' row beside 'paid'
    assert users[0].level == "paid"
    # both events truncate to the same second -> exactly one time row
    assert spark.read.parquet(f"{out}/time").count() == 1


def test_fact_append_is_exactly_once_across_replay(spark, tmp_path):
    """Crash-replay semantics: re-processing the SAME files (checkpoint
    wiped, so the source re-delivers every batch with the same ids) must
    leave the fact table bit-identical — the batch-id partition overwrite
    absorbs the replay instead of appending duplicates."""
    from event_data_etl_gcs_spark.streaming.incremental import idempotent_append

    raw = tmp_path / "raw"
    raw.mkdir()
    out = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")
    fact = str(tmp_path / "fact")

    _write_file(
        raw, "f1.json",
        [
            _log_row(ts=T0, userId="u1", level="free"),
            _log_row(ts=T0 + 60 * MS, userId="u1", level="paid", itemInSession=1),
        ],
    )
    run_incremental_available_now(spark, str(raw), out, ckpt, fact_dir=fact)
    first = spark.read.parquet(fact)
    n1 = first.count()
    assert n1 == 2

    # full replay: same files, fresh checkpoint -> same batch ids again
    shutil.rmtree(ckpt)
    run_incremental_available_now(spark, str(raw), out, ckpt, fact_dir=fact)
    again = spark.read.parquet(fact)
    assert again.count() == n1
    assert {r.userId for r in again.collect()} == {"u1"}

    # a genuinely new file still APPENDS (new batch id -> new partition)
    _write_file(raw, "f2.json", [_log_row(ts=T0 + 7200 * MS, userId="u9")])
    run_incremental_available_now(spark, str(raw), out, ckpt, fact_dir=fact)
    assert spark.read.parquet(fact).count() == n1 + 1

    # unit: double-delivery of one batch id is a no-op on row counts
    df = spark.range(5).withColumnRenamed("id", "v")
    p = str(tmp_path / "unit_fact")
    idempotent_append(df, p, batch_id=0)
    idempotent_append(df, p, batch_id=0)
    assert spark.read.parquet(p).count() == 5
    idempotent_append(df, p, batch_id=1)
    assert spark.read.parquet(p).count() == 10
