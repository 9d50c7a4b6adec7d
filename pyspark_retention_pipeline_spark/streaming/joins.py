"""Stream-stream join (SURVEY.md §2.9 extension depth): signup → purchase
attribution with event-time watermarks.

Both sides are watermarked so Spark can bound the join state: a purchase can
only match a signup within the attribution window, and state older than the
watermark horizon is evicted — the property that keeps a continuous join
runnable forever at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .windows import event_stream

ATTRIBUTION = "30 minutes"


def signup_purchase_attribution(spark, sf_dir: str) -> DataFrame:
    """Purchases attributed to the same user's signup within the attribution
    window (signup_time <= purchase_time <= signup_time + 30 min)."""
    return attribution_join(event_stream(spark, sf_dir))


def attribution_join(events: DataFrame) -> DataFrame:
    """The interval join itself over any event stream with
    (user_id, event_type, event_time, value) — split, watermark both sides,
    join on user + time range. Exposed separately so tests can drive it over
    a controlled file source and assert the late-data contract: rows behind
    the watermark horizon are dropped and their join state is evicted, which
    is what bounds state for a forever-running join."""
    return _attribution_join_how(events, "inner")


def attribution_join_outer(events: DataFrame) -> DataFrame:
    """LEFT OUTER form of :func:`attribution_join`: signups with no purchase
    inside the attribution window still emit — with NULL purchase columns —
    once the watermark passes the window end (the engine can only then
    prove no match will arrive). This is the join shape conversion
    funnels actually need (unconverted signups are the interesting rows),
    and the state story is identical to the inner form: the time-range
    condition plus both watermarks bound the buffered rows."""
    return _attribution_join_how(events, "leftOuter")


def _attribution_join_how(events: DataFrame, how: str) -> DataFrame:
    signups = (
        events.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_time").alias("signup_time"),
        )
        .withWatermark("signup_time", "1 hour")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_time").alias("purchase_time"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_time", "1 hour")
    )
    return signups.join(
        purchases,
        F.expr(
            f"""
            s_user = p_user AND
            purchase_time >= signup_time AND
            purchase_time <= signup_time + INTERVAL {ATTRIBUTION}
            """
        ),
        how,
    )


def first_seen_profile(spark, sf_dir: str) -> DataFrame:
    """Static per-user first-seen-day profile, batch-computed from the same
    events table (one user_id shuffle). In production this is the slowly-
    refreshed dimension a stream enriches against."""
    from ..tables import load_events

    e = load_events(spark, sf_dir)
    return e.groupBy("user_id").agg(
        F.expr("min(ts_us DIV 86400000000)").alias("first_day")
    )


def new_user_flagged_stream(spark, sf_dir: str) -> DataFrame:
    """Stream-static join (the third streaming-join shape next to
    stream-stream and batch): each micro-batch of the event stream joins
    against the static first-seen profile — stateless, no watermark needed
    on the static side, re-planned per micro-batch so a refreshed dim is
    picked up on the next batch. Emits every event with an ``is_new_user``
    flag (event falls on the user's first-ever active day). The static side
    is user-grain; at scale the join is a plain shuffle/broadcast equi-join
    chosen by the planner per batch, with no streaming state at all."""
    stream = event_stream(spark, sf_dir)
    profile = first_seen_profile(spark, sf_dir)
    day = (F.unix_micros(F.col("event_time")) / 86_400_000_000).cast("long")
    return (
        stream.withColumn("event_day", day)
        .join(profile, "user_id")
        .withColumn("is_new_user", F.col("event_day") == F.col("first_day"))
        .select(
            "event_id", "user_id", "event_type", "event_day", "first_day",
            "is_new_user",
        )
    )
