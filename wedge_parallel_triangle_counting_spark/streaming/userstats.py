"""Custom stateful streaming operator via applyInPandasWithState —
per-user running statistics with explicit, user-managed state.

The built-in streaming aggregations (events.py) cover windowed/
sessionized shapes; this operator is the template for semantics
Spark's aggregates CANNOT express — arbitrary per-key state machines
(fraud scoring, rate limiting, per-user model features). State here
is a simple (n_events, total_value_micro, max_micro) tuple so the
whole pipeline stays exactly oracle-checkable, but the operator shape
is the general one: GroupState get/update per key per micro-batch,
Arrow-batched pandas on both sides.

Exactness contract: `value` is converted to integer MICRO-units
JVM-side (round(value·1e6) as bigint) BEFORE entering Python — the
pandas-side state then sums exact int64, so the result is identical
for any batch split and any row order (a float running sum would
drift in the last ulp per ordering), and identical to the DuckDB
batch oracle.

State story at scale: state is O(active users); with no timeout it
is the whole user history (the point of a running profile). Bounded
deployments would add GroupStateTimeout.ProcessingTimeTimeout with
state.setTimeoutDuration + a state.hasTimedOut branch that
state.remove()s idle keys — deliberately NOT implemented here (a
running profile keeps its history); this operator fixes NoTimeout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.checkpointing import checkpoint

OUT_SCHEMA = (
    "user_id long, n_events long, total_value_micro long, max_value_micro long"
)
STATE_SCHEMA = "n long, total long, mx long"


def user_stats_batch(events: DataFrame) -> DataFrame:
    """The batch twin: the same per-user profile as one aggregation."""
    micro = F.round(F.col("value") * 1000000.0).cast("long")
    return (
        events.select(F.col("user_id"), micro.alias("m"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("m").alias("total_value_micro"),
            F.max("m").alias("max_value_micro"),
        )
    )


def run_streaming_user_stats(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay the parquet files in `events_dir` as a stream and
    maintain the per-user profile in applyInPandasWithState custom
    state; returns the final (last-emission-per-user) profile, which
    equals `user_stats_batch` over the union of all batches.

    Refuses a non-empty checkpoint dir: the last-emission capture
    lives on the DRIVER (the `batches` list), so resuming an existing
    checkpoint would skip committed batches and silently return an
    empty/partial profile (same contract as streaming/triangles.py)."""
    from pathlib import Path

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ckpt = Path(checkpoint_dir)
    if ckpt.exists() and any(ckpt.iterdir()):
        raise ValueError(
            f"checkpoint dir {checkpoint_dir!r} is non-empty: resuming "
            "would skip committed batches while the driver-held "
            "capture restarts empty (silent partial profile). Use a "
            "fresh directory."
        )
    schema = spark.read.parquet(events_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(events_dir).select(
        "user_id",
        F.round(F.col("value") * 1000000.0).cast("long").alias("m"),
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        n, total, mx = state.get if state.exists else (0, 0, None)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            total += int(pdf["m"].sum())
            batch_max = int(pdf["m"].max())
            mx = batch_max if mx is None else max(mx, batch_max)
        state.update((n, total, mx))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value_micro": [total],
                "max_value_micro": [mx],
            }
        )

    agg = stream.groupBy("user_id").applyInPandasWithState(
        update,
        OUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )

    batches: list[DataFrame] = []

    def capture(df: DataFrame, batch_id: int) -> None:
        batches.append(
            checkpoint(df.withColumn("_batch", F.lit(int(batch_id))), eager=True)
        )

    q = (
        agg.writeStream.foreachBatch(capture)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not batches:
        return spark.createDataFrame([], OUT_SCHEMA)
    from functools import reduce

    from pyspark.sql import Window

    allb = reduce(lambda a, b: a.unionByName(b), batches)
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.desc("_batch"))
    )
    return checkpoint(
        allb.withColumn("_rn", rn)
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_batch"),
        eager=True,
    )
