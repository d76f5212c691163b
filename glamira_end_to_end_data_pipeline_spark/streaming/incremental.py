"""Incremental / streaming ingestion (SURVEY §2.9, §2.1 S9-S11).

The reference's only streaming construct is file-arrival-triggered
append: one GCS object-finalize event → one BigQuery load job, append
disposition, idempotent via a stable job id, with a per-load audit row
(ref ``6.data-pipeline-storage/trigger_bigquery_load.py:18,92-113,
116-168``). Structured Streaming's file source replaces the whole event
plumbing: the checkpoint tracks exactly which files were ingested
(replacing the stable-job-id dedup), ``foreachBatch`` writes the target
table and the audit row in one place, and a restart resumes without
re-loading (replacing the Cloud Functions retry semantics).

Beyond-reference extension, clearly marked: event-time tumbling-window
counts with a watermark over the ``events`` table — the streaming
pattern a clickstream pipeline grows into next.

Scale: the file source lists incrementally (``maxFilesPerTrigger``
bounds batch size); the append sink is partitioned-parquet, so 100 TB
arrives as many small batches each writing only new partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from glamira_end_to_end_data_pipeline_spark.frames import local_frame

# batch_id is the partition directory (``batch_id=N``), not a data
# column — readers see it via partition discovery.
AUDIT_SCHEMA = (
    "load_ts timestamp, target_table string, "
    "row_count long, source_files array<string>, status string"
)


def incremental_file_load(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    audit_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    table_name: str = "events",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-arrival-triggered append with an audit table, exactly-once
    end to end.

    Source side: the checkpoint tracks which files were ingested, so a
    drained file is never re-read (replacing the reference's
    hand-rolled stable-job-id dedup). Sink side: each micro-batch
    writes to the deterministic ``batch_id=N`` subdirectory of
    ``target_dir`` / ``audit_dir`` with overwrite, so a batch that
    fails after a partial write and is replayed on restart *rewrites*
    its own directory instead of double-appending — a plain append sink
    would only be at-least-once. Readers see ``batch_id`` as a
    partition column via discovery.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark_b = batch.sparkSession
        # Single pass over the source files: persist, fold row count +
        # file set into ONE aggregate (the round-1 version traversed the
        # batch three times), reuse the cached blocks for the write.
        batch.persist()
        try:
            # (input_file_name() is non-deterministic — project it
            # before aggregating or the analyzer rejects the agg.)
            stats = (
                batch.select(F.input_file_name().alias("__f"))
                .agg(F.count("*").alias("n"), F.collect_set("__f").alias("files"))
                .first()
            )
            files = sorted(os.path.basename(f) for f in stats["files"])
            batch.write.mode("overwrite").parquet(
                os.path.join(target_dir, f"batch_id={batch_id}")
            )
            audit = local_frame(
                spark_b,
                [(table_name, stats["n"], files, "ok")],
                "target_table string, row_count long, "
                "source_files array<string>, status string",
            ).select(
                F.current_timestamp().alias("load_ts"),
                "target_table",
                "row_count",
                "source_files",
                "status",
            )
            audit.write.mode("overwrite").parquet(
                os.path.join(audit_dir, f"batch_id={batch_id}")
            )
        finally:
            batch.unpersist()

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_incremental_load_once(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    audit_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    table_name: str = "events",
) -> None:
    """Drain all currently-available files and stop (availableNow) —
    the batch-invokable form used by tests and backfills."""
    q = incremental_file_load(
        spark, source_dir, target_dir, audit_dir, checkpoint_dir, schema, table_name
    )
    q.awaitTermination()


def tumbling_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Beyond-reference demo: event-time tumbling-window counts with a
    watermark for late data. Works identically over a batch DataFrame
    (watermark is a no-op) and a streaming one (state eviction)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark_delay)
    return (
        df.groupBy(F.window(ts_col, window_duration).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )


def snapshot_commit_load(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming ingestion into the MANIFEST-COMMITTED lake
    (sources/lake.py): each micro-batch lands as one append-snapshot
    commit, tagged with its batch id — the streaming twin of the
    ``batch_id=N`` overwrite sink above, but with snapshot semantics:
    readers flip atomically at the manifest rename (never a half-
    written batch), every batch boundary is time-travelable, and
    downstream consumers can read incrementally by file-diffing
    versions instead of re-listing directories.

    Exactly-once: ``foreachBatch`` is at-least-once (a crash between
    the sink write and the checkpoint commit replays the batch), so
    every commit's manifest records the SOURCE FILES it ingested (the
    tag), and each batch filters itself to rows from not-yet-committed
    files before committing. Keying on batch *content* rather than the
    batch id matters: after a checkpoint loss, a redelivered "batch 0"
    may batch the source differently — id-keyed dedup would then either
    skip files it never committed (silent loss) or re-append files it
    did; the file-set intersection handles replays, re-batching, and
    partial overlap (old + newly-arrived files in one redelivered
    batch) alike. Orphaned data files from a commit that died before
    its manifest rename are reclaimed by ``gc_orphan_files``.

    Drains all available files and stops (availableNow) — the
    batch-invokable form; drop the trigger for a long-running stream.
    """
    from glamira_end_to_end_data_pipeline_spark.sources import lake

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def commit_batch(batch: DataFrame, batch_id: int) -> None:
        spark_b = batch.sparkSession
        committed: set[str] = set()
        for tag in lake.snapshot_tags(spark_b, table_path):
            committed.update(tag.split("\n"))
        with_src = batch.withColumn("__src", F.input_file_name())
        batch_files = {
            r[0] for r in with_src.select("__src").distinct().collect()
        }  # bounded: files per micro-batch
        fresh = sorted(batch_files - committed)
        if not fresh:
            return  # full replay: everything already committed
        rows = with_src.filter(F.col("__src").isin(fresh)).drop("__src")
        lake.write_snapshot(spark_b, rows, table_path, tag="\n".join(fresh))

    q = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
