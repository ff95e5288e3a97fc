"""Stream-stream join — view→click attribution, batch and streaming
twins.

The one flagship Structured Streaming capability the other streaming
modules don't exercise: an INNER join between two unbounded streams
with an event-time range condition. Spark buffers both sides in state;
the watermarks plus the time-range predicate bound how long a view
must be retained (a click can only match views from the preceding
attribution window), so state is O(events inside watermark + window) —
the documented requirement for state cleanup on stream-stream joins.

`attribution_batch` is the logical query (the DuckDB oracle mirrors
it); `run_streaming_attribution` executes the same join incrementally
from a file-source replay (availableNow). Inner-join results emit as
matches arrive, so the bounded replay returns exactly the batch
answer — asserted in tests and by the oracle harness.

The match lag is emitted in exact integer microseconds
(unix_micros(click) - unix_micros(view) == DuckDB
date_diff('microsecond', ...)), keeping the row values
representation-stable cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.checkpointing import checkpoint

ATTRIBUTION_WINDOW = "30 minutes"


def _sides(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    views = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    return views, clicks


def _joined(views: DataFrame, clicks: DataFrame) -> DataFrame:
    cond = (
        (views.user_id == clicks.user_id)
        & (clicks.click_ts >= views.view_ts)
        & (
            clicks.click_ts
            <= views.view_ts + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}")
        )
    )
    return views.join(clicks, cond).select(
        "view_id",
        "click_id",
        views.user_id.alias("user_id"),
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("lag_us"),
    )


def attribution_batch(events: DataFrame) -> DataFrame:
    """(view_id, click_id, user_id, lag_us): every click by the same
    user within ATTRIBUTION_WINDOW after a view — all matching pairs,
    exact integer lag."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    views, clicks = _sides(events)
    return _joined(views, clicks)


def run_streaming_attribution(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The same join as a real stream-stream inner join: two file-source
    streams over the same replay dir (one per side), watermarks on both
    event times, availableNow trigger, append to a memory sink."""
    schema = spark.read.parquet(events_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(events_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    views, clicks = _sides(raw)
    views = views.withWatermark("view_ts", watermark)
    clicks = clicks.withWatermark("click_ts", watermark)
    out = _joined(views, clicks)
    query = (
        out.writeStream.format("memory")
        .queryName("attribution_join")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    # eagerly pin the result so the caller may delete the replay dir
    return checkpoint(spark.table("attribution_join"), eager=True)
