"""Incremental ingest, idiomatically: Structured Streaming file source +
Available-Now trigger + foreachBatch multi-table fan-out.

The reference's incremental mode is "re-run the batch job on one new
file" (spark-jobs/sparkify_etl_2.py:30,139-144) with exactly-once-ish
semantics delegated to Airflow (overwrite writes, quarantine on failure,
dags/sparkify_dag.py:137-143). The engine-native equivalent
(SURVEY.md §2.7):

  * ``readStream`` on the raw directory — Spark's file-source bookkeeping
    (checkpointed file index) replaces the DAG's "which file did I pass
    via --raw_file_name" plumbing; new files are discovered, processed
    exactly once, and the job is restart-safe.
  * ``Trigger.AvailableNow`` — drains the current backlog in rate-limited
    micro-batches then stops: the batch-increment semantics the reference
    wanted, with streaming's bookkeeping.
  * watermark + dropDuplicates — cross-batch event dedup bounded in state
    (replaying a backlog can deliver an event twice at-least-once).
  * ``foreachBatch`` — one pass over each micro-batch fans out to all
    dimension tables (the reference re-scanned its input per table,
    SURVEY.md §4.3-4). A batch that yields no rows writes nothing: the
    watermark's no-data batch, which follows every data batch that moves
    the watermark, only runs its plan so the dedup state commits.
  * Each dimension table is merged in one write: the merged frame goes to
    a sibling directory that is then swapped in by rename, so the old
    table stays whole until the new one is complete, and a replay after a
    crash mid-swap first puts the last complete table back.

At scale: state is bounded by the watermark horizon; output uses dynamic
partition overwrite so replays only rewrite touched partitions; file
discovery cost is bounded with maxFilesPerTrigger.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.time import epoch_millis_to_timestamp
from ..operators.upsert import merge_upsert
from ..schemas import LOG_DATA_SCHEMA
from ..sources.parquet_sink import (
    repair_dir_swap,
    swap_in_dir,
    write_parquet_table,
)


def streaming_log_source(
    spark: SparkSession,
    raw_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S3 idiomatic: streaming JSON file source with the explicit log
    schema; each file processed exactly once across restarts."""
    reader = spark.readStream.schema(LOG_DATA_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(raw_dir)


def idempotent_append(
    batch_df: DataFrame,
    path: str,
    batch_id: int,
    partition_by: tuple[str, ...] = (),
) -> None:
    """Exactly-once APPEND under foreachBatch's at-least-once contract.

    foreachBatch may re-deliver a batch after a crash between sinks; a
    plain append would then duplicate fact rows. The batch id becomes a
    physical partition and the write overwrites ONLY that partition
    (dynamic partition overwrite), so a replayed batch rewrites its own
    output in place — append semantics across batches, overwrite
    semantics within one. This is the engine-native analog of the
    reference's DAG-level "quarantine and redo the run" posture
    (dags/sparkify_dag.py:137-143), moved into the sink where it holds
    per micro-batch. At scale replays touch one partition, never the
    table.
    """
    (
        batch_df.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id", *partition_by)
        .parquet(path)
    )


def run_incremental_available_now(
    spark: SparkSession,
    raw_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    dedup_keys: tuple[str, ...] = ("userId", "sessionId", "itemInSession", "start_time"),
    dedup_within_watermark: bool = False,
    fact_dir: str | None = None,
) -> None:
    """Drain the raw-directory backlog into users/time parquet tables.

    Blocks until the Available-Now drain finishes. Re-running after new
    files land processes only the new files (checkpointed source index);
    duplicate events within the watermark horizon are dropped.

    ``dedup_within_watermark=True`` uses dropDuplicatesWithinWatermark:
    dedup keys then need NOT include the event-time column (duplicates
    with slightly different timestamps — e.g. re-sent with a new ingest
    ts — still collapse), and state eviction is driven purely by the
    watermark rather than key-space growth.
    """
    from ..plans.sparkify import build_time, build_users

    raw = streaming_log_source(spark, raw_dir)
    events = (
        raw.filter(F.col("page") == "NextSong")
        .withColumn("start_time", epoch_millis_to_timestamp("ts"))
        .withWatermark("start_time", watermark)
    )
    if dedup_within_watermark:
        keys = [k for k in dedup_keys if k != "start_time"]
        events = events.dropDuplicatesWithinWatermark(keys)
    else:
        events = events.dropDuplicates([*dedup_keys])

    def merge_write(
        new_df: DataFrame,
        path: str,
        keys: list[str],
        partition_by: list[str] | None = None,
    ) -> None:
        """Per-batch MERGE into the existing table: without it, a user
        appearing in two micro-batches (or two runs) would leave both a
        stale and a fresh row in an append-log, and time rows sharing a
        truncated second across batches would duplicate. Late-arriving
        older state still wins for users (updates replace on key), the
        same posture as the reference's overwrite job.

        The merged frame reads ``path`` with the batch's known schema (no
        inference job) and is written once into ``<path>.__merge_new__``,
        which then replaces ``path`` by rename (parquet_sink.swap_in_dir);
        no checkpoint of the merge is needed. On entry, a swap a crash
        interrupted is repaired (parquet_sink.repair_dir_swap), so the
        replayed batch merges into the last complete table."""
        repair_dir_swap(path)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            write_parquet_table(new_df, path, partition_by=partition_by, mode="overwrite")
            return
        existing = new_df.sparkSession.read.schema(new_df.schema).parquet(path)
        merged = merge_upsert(existing, new_df, keys)
        swap_in_dir(
            path,
            lambda new: write_parquet_table(
                merged, new, partition_by=partition_by, mode="overwrite"
            ),
        )

    def fan_out(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.cache()
        try:
            # One action runs the batch plan, so the dedup state commits
            # and the watermark evicts even when no row comes out; an empty
            # batch (the watermark's no-data batch) then touches no table.
            if batch_df.count() == 0:
                return
            merge_write(
                build_users(batch_df),
                os.path.join(output_dir, "users"),
                keys=["user_id"],
            )
            merge_write(
                build_time(batch_df),
                os.path.join(output_dir, "time"),
                keys=["start_time"],
                partition_by=["year"],
            )
            if fact_dir is not None:
                idempotent_append(batch_df, fact_dir, batch_id)
        finally:
            batch_df.unpersist()

    q = (
        events.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(fan_out)
        .start()
    )
    q.awaitTermination()


def run_streaming_merge_into(
    spark: SparkSession,
    stream: DataFrame,
    table_dir: str,
    key_cols: list[str],
    partition_col: str,
    checkpoint_dir: str,
    latest_col: str | None = None,
) -> None:
    """Streaming MERGE INTO a hive-partitioned parquet table: per
    micro-batch the PARTITION-PRUNED upsert (sources/parquet_sink.py
    merge_into) — only partitions holding a matched key or receiving an
    insert rewrite, unlike the full-table merge_write above (which is
    the right shape only for small dimension tables). This is the Delta
    streaming-MERGE pattern without the table format.

    ``latest_col`` picks the deterministic within-batch winner per key
    (largest value survives — the CDC keep-latest contract); merge_into
    itself rejects duplicate keys, so the reduction is mandatory when a
    key can repeat inside one batch. At-least-once replays re-merge the
    same rows; replace-by-key makes that idempotent."""
    from pyspark.sql import Window

    from ..sources.parquet_sink import merge_into

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        src = batch_df
        if latest_col is not None:
            w = Window.partitionBy(*key_cols).orderBy(
                F.desc(latest_col), *[F.desc(c) for c in src.columns]
            )
            src = (
                src.withColumn("__rn", F.row_number().over(w))
                .filter("__rn = 1")
                .drop("__rn")
            )
        # The write rewrites its own input path. Checkpoint first, so the
        # batch plan runs once and the emptiness test reads the checkpoint.
        src = src.localCheckpoint(eager=True)
        if src.isEmpty():
            return
        if os.path.exists(os.path.join(table_dir, "_SUCCESS")) or any(
            p.startswith(f"{partition_col}=")
            for p in (os.listdir(table_dir) if os.path.isdir(table_dir) else [])
        ):
            merge_into(
                spark, table_dir, src, key_cols, partition_col,
                validate_source_keys=latest_col is None,
            )
        else:
            src.write.mode("overwrite").partitionBy(partition_col).parquet(table_dir)

    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(upsert)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
