"""Custom stateful streaming operator (applyInPandasWithState)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_retention_pipeline_spark.streaming.stateful import running_user_totals
from pyspark_retention_pipeline_spark.streaming.windows import event_stream


def test_running_user_totals_match_batch(spark, sf_dir):
    from pyspark_retention_pipeline_spark.tables import load_events

    stream = running_user_totals(event_stream(spark, sf_dir))
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_user_totals")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # In update mode the memory sink appends each emitted update; the final
    # state per user is the max total (counts only grow).
    out = (
        spark.sql("SELECT * FROM t_user_totals")
        .groupBy("user_id")
        .agg(F.max("total_events").alias("total_events"))
    )
    batch = load_events(spark, sf_dir).groupBy("user_id").agg(
        F.count("*").alias("expected")
    )
    joined = out.join(batch, "user_id")
    mismatches = joined.filter(F.col("total_events") != F.col("expected")).count()
    assert mismatches == 0
    assert out.count() == batch.count()


def test_user_activity_profile_matches_batch(spark, sf_dir):
    """Spark 4 transformWithStateInPandas twin of the totals test."""
    from pyspark_retention_pipeline_spark.streaming.stateful import (
        HAS_TWS,
        user_activity_profile,
    )
    import pytest as _pytest

    if not HAS_TWS:
        _pytest.skip(
            "transformWithStateInPandas unavailable (needs pyspark >= 4.0 "
            "and a functional google.protobuf)"
        )
    from pyspark_retention_pipeline_spark.tables import load_events

    stream = user_activity_profile(event_stream(spark, sf_dir))
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_user_profile")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = (
        spark.sql("SELECT * FROM t_user_profile")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("n_purchases").alias("n_purchases"),
        )
    )
    batch = load_events(spark, sf_dir).groupBy("user_id").agg(
        F.count("*").alias("expected_events"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("expected_purchases"),
    )
    joined = out.join(batch, "user_id")
    bad = joined.filter(
        (F.col("n_events") != F.col("expected_events"))
        | (F.col("n_purchases") != F.col("expected_purchases"))
    ).count()
    assert bad == 0
    assert out.count() == batch.count()
