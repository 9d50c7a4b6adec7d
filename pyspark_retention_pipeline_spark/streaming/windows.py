"""Structured Streaming event-time windows (SURVEY.md §2.9 extension tier).

The batch operators in ``operators/events.py`` are the oracle-checked
semantics; these are the same windows expressed as streaming queries —
``readStream`` → watermark → windowed aggregation — so the engine covers the
continuous-ingest deployment shape. Tests drive them to completion over the
parquet testdata with a memory sink (``processAllAvailable``).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import SCHEMAS


def _events_stream_dir(sf_dir: str) -> str:
    """Spark's file streaming source requires a *directory*; expose the events
    parquet through a per-sf symlink dir (testdata itself is read-only)."""
    d = os.path.join(
        tempfile.gettempdir(), "prp_spark_stream", sf_dir.strip("/").replace("/", "_")
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.lexists(link):
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    return d


def event_stream_from_dir(spark: SparkSession, directory: str) -> DataFrame:
    """Streaming events source over a directory of parquet files (new files
    are picked up as they appear — the file-source ingest model). The stream
    starts before any file exists, so the schema is pinned statically to the
    canonical µs-precision events schema (``ts`` TIMESTAMP_NTZ); the batch
    loader's per-file precision probe doesn't apply here. Watermarks require
    instant-semantics TIMESTAMP, so ``event_time`` is the NTZ value cast under
    the session time zone — exact because the engine session pins UTC
    (:func:`..session.get_spark`)."""
    raw = spark.readStream.schema(SCHEMAS["events"]).parquet(directory)
    return raw.withColumn("event_time", F.col("ts").cast("timestamp"))


def event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_stream_from_dir(spark, _events_stream_dir(sf_dir))


def tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling counts with a 1-hour watermark — the streaming twin of
    ``operators.events.tumbling_hourly``."""
    return (
        event_stream(spark, sf_dir)
        .withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap session windows per user via ``session_window`` — the
    streaming-native form of ``operators.events.sessionize``."""
    return (
        event_stream(spark, sf_dir)
        .withWatermark("event_time", "1 hour")
        .groupBy(F.session_window("event_time", "30 minutes"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
    )


def run_to_completion(stream_df: DataFrame, query_name: str) -> DataFrame:
    """Drive a streaming aggregation over the (finite) file source to
    completion via a memory sink; returns the materialized result frame."""
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same event_id within
    the watermark horizon (``dropDuplicatesWithinWatermark`` — state for a key
    is held only until the watermark passes, so dedup state is bounded; the
    batch twin is operators.text.dedup_exact / dedup_keep_first)."""
    return (
        event_stream(spark, sf_dir)
        .withWatermark("event_time", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
