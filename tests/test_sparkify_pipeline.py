"""Golden tests for the reference-parity Sparkify pipeline
(plans/sparkify.py) on hand-built JSON fixtures that pin the reference's
edge semantics (FIXTURES.md / SURVEY.md §5.4):
  * argmax ties kept (sparkify_etl.py:125-130)
  * empty + null userId excluded (:128-129)
  * null length join key never matches (:102,187)
  * unmatched plays keep null song_id/artist_id
  * year-partitioned output layout
  * corrupt JSON rows dead-lettered, not dropped
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from event_data_etl_gcs_spark.plans.sparkify import (
    build_songplays,
    build_users,
    load_log_data,
    next_song_events,
    run_pipeline,
)
from event_data_etl_gcs_spark.schemas import LOG_DATA_SCHEMA
from event_data_etl_gcs_spark.sources.json_source import read_json_events, split_corrupt

MS = 1000.0
T0 = 1541000000000.0  # 2018-10-31T15:33:20Z
YEAR_2019 = 1546400000000.0  # 2019-01-02T03:33:20Z


def _log_row(**kw):
    base = {
        "artist": None, "auth": "Logged In", "firstName": "Ada",
        "gender": "F", "itemInSession": 0, "lastName": "L",
        "length": None, "level": "free", "location": "X", "method": "PUT",
        "page": "NextSong", "registration": T0, "sessionId": 1,
        "song": None, "status": 200, "ts": T0, "userAgent": "ua",
        "userId": "u1",
    }
    base.update(kw)
    return base


def _song_row(**kw):
    base = {
        "artist_id": "A1", "artist_latitude": None, "artist_longitude": None,
        "artist_location": "", "artist_name": "ArtistOne", "song_id": "S1",
        "title": "SongOne", "duration": 200.0, "year": 2018,
    }
    base.update(kw)
    return base


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sparkify_fixture")
    logs = [
        # u1: two events, second later -> latest level wins
        _log_row(ts=T0, level="free", userId="u1"),
        _log_row(ts=T0 + 60 * MS, level="paid", userId="u1",
                 song="SongOne", artist="ArtistOne", length=200.0),
        # u2: argmax TIE at same ts with different levels -> BOTH kept
        _log_row(ts=T0, level="free", userId="u2", firstName="Bea"),
        _log_row(ts=T0, level="paid", userId="u2", firstName="Bea"),
        # empty + null userId -> excluded from users
        _log_row(ts=T0, userId=""),
        _log_row(ts=T0, userId=None),
        # non-NextSong row -> filtered everywhere
        _log_row(ts=T0, page="Home", userId="u3"),
        # 2019 event -> second year partition; unmatched song (null length)
        _log_row(ts=YEAR_2019, userId="u4", song="SongOne",
                 artist="ArtistOne", length=None),
    ]
    songs = [
        _song_row(),
        _song_row(song_id="S2", title="SongTwo", duration=185.5, year=0),
        # duplicate artist row -> artists distinct must collapse
        _song_row(song_id="S3", title="SongThree", duration=111.0, year=2019),
    ]
    (d / "log_data.json").write_text("\n".join(json.dumps(r) for r in logs))
    (d / "song_data.json").write_text("\n".join(json.dumps(r) for r in songs))
    return str(d)


def test_users_latest_state_and_ties(spark, fixture_dir):
    events = next_song_events(load_log_data(spark, f"{fixture_dir}/log_data.json"))
    users = build_users(events).collect()
    by_user = {}
    for r in users:
        by_user.setdefault(r.user_id, []).append(r)
    # u1: only the later (paid) row
    assert [r.level for r in by_user["u1"]] == ["paid"]
    # u2: tie at max ts -> both rows kept (reference semantics)
    assert sorted(r.level for r in by_user["u2"]) == ["free", "paid"]
    # empty/null userId excluded; u3 was non-NextSong
    assert set(by_user) == {"u1", "u2", "u4"}


def test_songplays_join_semantics(spark, fixture_dir):
    events = next_song_events(load_log_data(spark, f"{fixture_dir}/log_data.json"))
    song_df = read_json_events(
        spark, f"{fixture_dir}/song_data.json",
        __import__("event_data_etl_gcs_spark.schemas", fromlist=["SONG_DATA_SCHEMA"]).SONG_DATA_SCHEMA,
    )
    from event_data_etl_gcs_spark.plans.sparkify import build_artists, build_songs

    sp = build_songplays(events, build_songs(song_df), build_artists(song_df))
    rows = sp.collect()
    assert len(rows) == 7  # all NextSong events (incl. empty/null userId)
    matched = [r for r in rows if r.song_id is not None]
    # only u1's second event has (song, artist, length) matching the catalog
    assert len(matched) == 1 and matched[0].song_id == "S1"
    # u4's event has null length -> must NOT match despite song+artist equal
    u4 = [r for r in rows if r.user_id == "u4"]
    assert u4[0].song_id is None and u4[0].year == 2019
    # surrogate keys unique
    ids = [r.songplay_id for r in rows]
    assert len(set(ids)) == len(ids)


def test_full_pipeline_writes_partitioned(spark, fixture_dir, tmp_path):
    out = str(tmp_path / "warehouse")
    res = run_pipeline(
        spark,
        song_data_path=f"{fixture_dir}/song_data.json",
        log_data_path=f"{fixture_dir}/log_data.json",
        output_dir=out,
    )
    assert set(res.tables) == {"users", "time", "songs", "artists", "songplays"}
    # Hive partition layout by year
    assert sorted(
        p for p in os.listdir(res.paths["songplays"]) if p.startswith("year=")
    ) == ["year=2018", "year=2019"]
    assert sorted(
        p for p in os.listdir(res.paths["songs"]) if p.startswith("year=")
    ) == ["year=0", "year=2018", "year=2019"]
    # round-trip read preserves rows
    sp = spark.read.parquet(res.paths["songplays"])
    assert sp.count() == 7
    time_df = spark.read.parquet(res.paths["time"])
    # distinct timestamps among NextSong events: T0, T0+60s, YEAR_2019
    assert time_df.count() == 3
    assert {r.weekday for r in time_df.collect()} <= set(range(1, 8))
    # artists distinct collapsed to one artist
    assert spark.read.parquet(res.paths["artists"]).count() == 1


def test_incremental_log_only_mode(spark, fixture_dir, tmp_path):
    out = str(tmp_path / "incr")
    res = run_pipeline(
        spark,
        song_data_path=None,
        log_data_path=f"{fixture_dir}/log_data.json",
        output_dir=out,
    )
    assert set(res.tables) == {"users", "time"}


def test_failed_write_releases_event_cache(spark, fixture_dir, tmp_path, monkeypatch):
    """run_pipeline caches the filtered event frame; a write that raises
    part-way must still unpersist it, or it stays cached for the rest of
    the session."""
    from pyspark import StorageLevel

    from event_data_etl_gcs_spark.plans import sparkify

    written = []

    def fail_second(df, path, partition_by=None):
        if written:
            raise OSError("disk full")
        written.append(path)

    monkeypatch.setattr(sparkify, "write_parquet_table", fail_second)
    log_path = f"{fixture_dir}/log_data.json"
    with pytest.raises(OSError, match="disk full"):
        run_pipeline(
            spark,
            song_data_path=f"{fixture_dir}/song_data.json",
            log_data_path=log_path,
            output_dir=str(tmp_path / "out"),
        )
    assert len(written) == 1
    # the cache manager matches frames by plan: a rebuilt event frame
    # finds no cached entry
    events = next_song_events(load_log_data(spark, log_path))
    assert events.storageLevel == StorageLevel.NONE


def test_corrupt_records_dead_letter(spark, tmp_path):
    p = tmp_path / "bad.json"
    good = json.dumps(_log_row(userId="ok"))
    p.write_text(good + "\n{not json}\n" + good)
    df = read_json_events(spark, str(p), LOG_DATA_SCHEMA, keep_corrupt=True)
    ok, bad = split_corrupt(df)
    assert ok.count() == 2
    assert bad.count() == 1
    assert "{not json}" in bad.collect()[0]._corrupt_record


def test_nullability_is_advisory_and_enforceable(spark, tmp_path):
    """SURVEY.md Q6: declared non-null fields are not enforced on read;
    the engine offers opt-in enforcement."""
    from event_data_etl_gcs_spark.operators.relational import enforce_not_null

    p = tmp_path / "nulls.json"
    row = _log_row()
    row["page"] = None  # declared non-null in the schema
    p.write_text(json.dumps(row))
    df = read_json_events(spark, str(p), LOG_DATA_SCHEMA)
    assert df.count() == 1  # read does not reject
    assert enforce_not_null(df, ["page"]).count() == 0  # enforcement does


def test_case_insensitive_resolution(spark, fixture_dir):
    """SURVEY.md Q1: the reference window-partitions by 'userID' while the
    schema says 'userId'; Spark resolves case-insensitively by default —
    pin that behavior."""
    events = next_song_events(load_log_data(spark, f"{fixture_dir}/log_data.json"))
    n = events.select(F.col("userID")).count()  # wrong-case reference
    assert n == events.count()


def test_training_export_end_to_end(spark, tmp_path):
    """Full modern pipeline: gate -> dedup -> near-dedup -> decontaminate
    -> chunk -> JSONL; chunks reassemble to their source docs, no chunk
    from a contaminated/dropped doc, export round-trips."""
    import glob

    from pyspark.sql import functions as F

    from event_data_etl_gcs_spark.plans.training_corpus import (
        build_training_export,
        decontaminate,
        exact_dedup_keep_min,
        near_dedup_keep_min,
        quality_gate,
    )
    from event_data_etl_gcs_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    out = str(tmp_path / "export")

    chunks = build_training_export(train, bench, out)
    got = chunks.cache()
    surviving = {
        r.doc_id
        for r in decontaminate(
            near_dedup_keep_min(exact_dedup_keep_min(quality_gate(train))), bench
        ).select("doc_id").collect()
    }
    chunk_docs = {r.doc_id for r in got.select("doc_id").distinct().collect()}
    assert chunk_docs == surviving  # every survivor chunked, nothing else

    # chunks overlap by 10 tokens (stride 40, width 50): reassembling
    # chunk k's first 40 tokens in order must rebuild the doc's tokens
    one = got.filter(F.col("doc_id") == min(chunk_docs)).orderBy("chunk_idx").collect()
    toks = []
    for i, r in enumerate(one):
        t = r.chunk_text.split(" ")
        toks.extend(t[:40] if i < len(one) - 1 else t)
    src = {r.doc_id: r.text for r in train.collect()}[min(chunk_docs)]
    assert toks == src.split()

    back = spark.read.schema(
        "doc_id long, lang string, source string, chunk_idx int, "
        "chunk_text string, n_chunk_tokens long"
    ).json(out)
    assert back.count() == got.count()
    got.unpersist()
