"""The reference pipeline, rebuilt Spark-first: JSON event corpora ->
dimensional star schema in partitioned Parquet.

Reference semantics reproduced (with citations into /root/reference):
  * songs dim       — spark-jobs/sparkify_etl.py:47-54 (project, dedup by
    song_id, write partitioned by year)
  * artists dim     — sparkify_etl.py:58-72 (project+rename, distinct)
  * users dim       — sparkify_etl.py:123-143 (NextSong filter, per-user
    latest state via window-max + self-filter — ties kept, empty/null
    userId excluded)
  * time dim        — sparkify_etl.py:146-170 (epoch-millis -> timestamp
    truncated to seconds, calendar attributes, distinct, partitioned by
    year)
  * songplays fact  — sparkify_etl.py:173-214 (3-key left join of events
    to the song catalog, surrogate key, year/month columns, partitioned
    by year)

Idiomatic divergences (same results, better plans — SURVEY.md §4.3):
  * timestamp conversion is native (timestamp_millis + date_trunc), not a
    Python UDF; session TZ pinned UTC makes it reproducible.
  * year/month on the fact are derived from start_time, not re-acquired
    by joining the time dim (the reference's redundant join, Q5).
  * intermediates are reused in-memory instead of being written to and
    re-read from object storage (sparkify_etl.py:173,176).
  * no coalesce(1): writes default to engine parallelism; callers can
    compact via sources.parquet_sink options.
  * the song-catalog join side is broadcast (dimension-sized by contract).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.time import epoch_millis_to_timestamp, time_dimension_columns
from ..operators.relational import argmax_latest
from ..schemas import LOG_DATA_SCHEMA, SONG_DATA_SCHEMA
from ..sources.json_source import read_json_events
from ..sources.parquet_sink import write_parquet_table


def load_song_data(spark: SparkSession, path: str) -> DataFrame:
    """S1: JSON scan with the explicit 9-column song schema
    (ref sparkify_etl.py:30,44)."""
    return read_json_events(spark, path, SONG_DATA_SCHEMA)


def load_log_data(spark: SparkSession, path: str) -> DataFrame:
    """S2/S3: JSON scan with the explicit 18-column log schema; works for
    a glob, directory, or single file (ref sparkify_etl.py:92,115;
    sparkify_etl_2.py:30,54)."""
    return read_json_events(spark, path, LOG_DATA_SCHEMA)


def next_song_events(log_df: DataFrame) -> DataFrame:
    """P3: the page='NextSong' filter feeding every downstream table
    (ref sparkify_etl.py:120) plus the native timestamp column."""
    return log_df.filter(F.col("page") == "NextSong").withColumn(
        "start_time", epoch_millis_to_timestamp("ts")
    )


def build_songs(song_df: DataFrame) -> DataFrame:
    """songs(song_id, title, artist_id, year, duration)
    (ref sparkify_etl.py:47). dropDuplicates on the key for idempotent
    re-ingest (the reference relies on unique input files)."""
    return song_df.select(
        "song_id", "title", "artist_id", "year", "duration"
    ).dropDuplicates(["song_id"])


def build_artists(song_df: DataFrame) -> DataFrame:
    """artists(artist_id, name, location, latitude, longitude), distinct
    (ref sparkify_etl.py:58-67)."""
    return song_df.select(
        "artist_id",
        F.col("artist_name").alias("name"),
        F.col("artist_location").alias("location"),
        F.col("artist_latitude").alias("latitude"),
        F.col("artist_longitude").alias("longitude"),
    ).distinct()


def build_users(events: DataFrame) -> DataFrame:
    """users(user_id, first_name, last_name, gender, level): latest state
    per user, reference tie semantics (window max + self-filter keeps ALL
    rows at the max ts; ref sparkify_etl.py:123-138), empty/null userId
    excluded (ref :128-129)."""
    latest = argmax_latest(
        events,
        partition_by=["userId"],
        ts_col="ts",
        extra_filter=(F.col("userId") != "") & F.col("userId").isNotNull(),
    )
    return latest.select(
        F.col("userId").alias("user_id"),
        F.col("firstName").alias("first_name"),
        F.col("lastName").alias("last_name"),
        "gender",
        "level",
    ).distinct()


def build_time(events: DataFrame) -> DataFrame:
    """time(start_time, hour, day, week, month, year, weekday), distinct
    (ref sparkify_etl.py:146-163) — native functions replace the UDF."""
    cols = time_dimension_columns("start_time")
    return events.select(
        "start_time", *[c.alias(n) for n, c in cols.items()]
    ).distinct()


def build_songplays(events: DataFrame, songs: DataFrame, artists: DataFrame) -> DataFrame:
    """songplays fact (ref sparkify_etl.py:173-206).

    The reference full-outer-joins songs⟗artists then left-joins events on
    (song=title, artist=name, length=duration) — null keys never match, so
    unmatched plays keep null song_id/artist_id (ref :182-190). year/month
    derived directly from start_time (not via the time-dim join, Q5).
    """
    catalog = songs.join(artists, "artist_id", "full").select(
        "song_id", "artist_id", "title", F.col("name").alias("artist_name"), "duration"
    )
    joined = events.join(
        F.broadcast(catalog),
        (events["song"] == catalog["title"])
        & (events["artist"] == catalog["artist_name"])
        & (events["length"] == catalog["duration"]),
        "left",
    )
    return joined.select(
        F.monotonically_increasing_id().alias("songplay_id"),
        "start_time",
        F.col("userId").alias("user_id"),
        "level",
        "song_id",
        "artist_id",
        F.col("sessionId").alias("session_id"),
        "location",
        F.col("userAgent").alias("user_agent"),
        F.year("start_time").alias("year"),
        F.month("start_time").alias("month"),
    )


@dataclass
class PipelineResult:
    tables: dict[str, DataFrame] = field(default_factory=dict)
    paths: dict[str, str] = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    song_data_path: str | None,
    log_data_path: str,
    output_dir: str,
    partitioned: bool = True,
    partition_overrides: dict[str, list[str] | None] | None = None,
) -> PipelineResult:
    """Full-corpus batch (entry point 2 of the reference, SURVEY.md §3.2):
    builds all five tables and writes them as (optionally Hive-partitioned)
    Parquet. With song_data_path=None it runs the log-only incremental
    variant (sparkify_etl_2.py) producing users + time only.

    ``partition_overrides`` replaces the default layout per table — e.g.
    ``{"time": ["year", "month"]}`` reproduces the reference's
    month-partitioned time dim from the incremental job
    (sparkify_etl_1.py:106-110, SURVEY §2.1 S5) instead of the
    year-only layout of the batch job (quirk Q4)."""
    res = PipelineResult()

    log_df = load_log_data(spark, log_data_path)
    events = next_song_events(log_df)
    # The filtered event frame feeds users, time AND the fact build; cache
    # it instead of re-scanning JSON per action (SURVEY.md §4.3-4).
    events = events.cache()

    res.tables["users"] = build_users(events)
    res.tables["time"] = build_time(events)

    if song_data_path is not None:
        song_df = load_song_data(spark, song_data_path)
        res.tables["songs"] = build_songs(song_df)
        res.tables["artists"] = build_artists(song_df)
        res.tables["songplays"] = build_songplays(
            events, res.tables["songs"], res.tables["artists"]
        )

    partitioning: dict[str, list[str] | None] = {
        "songs": ["year"] if partitioned else None,  # ref :53
        "artists": None,  # ref :70-72
        "users": None,  # ref :141-143
        "time": ["year"] if partitioned else None,  # ref :169 (Q4: year only)
        "songplays": ["year"] if partitioned else None,  # ref :213
    }
    if partition_overrides:
        partitioning.update(partition_overrides)
    # A failed write must not leave the event frame cached for the rest
    # of the session.
    try:
        for name, df in res.tables.items():
            path = os.path.join(output_dir, name)
            write_parquet_table(df, path, partition_by=partitioning[name])
            res.paths[name] = path
    finally:
        events.unpersist()
    return res
