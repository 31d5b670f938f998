"""Streaming ingestion of snapshot drops.

Design: the S12 snapshot convention (``main_YYYYmmdd-HHMMSS.json`` files
landing in a directory) is exactly a Structured Streaming file source. The
append-only ``players_statuses`` table (etl/run_load.py:205-223) becomes a
streaming append sink: each new snapshot contributes one point-in-time row
per player, keyed (snapshot_ts, player_id) — late/duplicate files are
dropped by watermark + dropDuplicates, which the batch reference cannot do.

At scale: file-source listing is incremental (maxFilesPerTrigger), state
for the dedup is bounded by the watermark, and checkpointing makes the
append log exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.files import TS_FORMAT, TS_PATTERN

SNAPSHOT_ELEMENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("form", T.StringType()),
        T.StructField("news", T.StringType()),
        T.StructField("news_added", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("chance_of_playing_next_round", T.LongType()),
        T.StructField("chance_of_playing_this_round", T.LongType()),
        T.StructField("transfers_in_event", T.LongType()),
        T.StructField("transfers_out_event", T.LongType()),
    ]
)

SNAPSHOT_DOC_SCHEMA = T.StructType(
    [T.StructField("elements", T.ArrayType(SNAPSHOT_ELEMENT_SCHEMA))]
)


def stream_snapshots(spark: SparkSession, directory: str, *, max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming file source over the snapshot directory; one row per
    snapshot document with its name-embedded timestamp."""
    reader = spark.readStream.schema(SNAPSHOT_DOC_SCHEMA).option("multiLine", True)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(directory).withColumn("__file", F.input_file_name())
    name = F.element_at(F.split("__file", "/"), -1)
    return raw.withColumn(
        "snapshot_ts", F.to_timestamp(F.regexp_extract(name, TS_PATTERN, 1), TS_FORMAT)
    )


def players_status_stream(snapshots: DataFrame, *, watermark: str = "1 hour") -> DataFrame:
    """The players_statuses append log as a stream: explode elements, stamp
    the snapshot timestamp, dedup (snapshot_ts, player_id) within the
    watermark (duplicate file drops are a real S3 failure mode)."""
    exploded = snapshots.select(
        "snapshot_ts", F.explode("elements").alias("e")
    ).select(
        "snapshot_ts",
        F.col("e.id").cast("long").cast("string").alias("player_id"),
        F.col("e.form").try_cast("double").alias("form"),
        F.col("e.news").alias("news"),
        F.try_to_timestamp("e.news_added").alias("news_added_datetime"),
        F.col("e.status").alias("status"),
        F.col("e.chance_of_playing_next_round").cast("int").alias("chance_of_playing_next_round"),
        F.col("e.chance_of_playing_this_round").cast("int").alias("chance_of_playing_this_round"),
        F.col("e.transfers_in_event").cast("int").alias("transfers_in_event"),
        F.col("e.transfers_out_event").cast("int").alias("transfers_out_event"),
    )
    return exploded.withWatermark("snapshot_ts", watermark).dropDuplicates(
        ["snapshot_ts", "player_id"]
    )


def run_to_parquet(stream: DataFrame, *, path: str, checkpoint: str, mode: str = "append") -> None:
    """Drain a stream to parquet with trigger=availableNow (incremental
    batch): processes everything currently in the source, checkpoints, and
    stops — the scheduled-ingest pattern for snapshot drops.

    A stateful stream (the snapshot dedup) fixes its state-store partition
    count when its checkpoint is created. A new checkpoint gets one state
    partition per task slot (``defaultParallelism``) instead of the
    session's shuffle partition count, which is sized for batch exchanges:
    every state partition is a task and a state-store commit per
    micro-batch. A restored checkpoint keeps its own count (Spark reads it
    from the offset log). The session conf is set only while the query
    starts, which clones it, and is restored before waiting.
    """
    spark = stream.sparkSession
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        query = (
            stream.writeStream.format("parquet")
            .outputMode(mode)
            .option("path", path)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(key, before)
    query.awaitTermination()
