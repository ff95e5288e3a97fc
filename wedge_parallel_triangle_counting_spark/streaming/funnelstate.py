"""Stateful streaming funnel via applyInPandasWithState.

The batch funnel (events.py::funnel) needs the full history; this
operator maintains the per-user funnel INCREMENTALLY as events
stream in. Exactness under out-of-order arrival is the design point:
a late 'view' with an earlier timestamp can retroactively change
which click qualifies, so per-user state buffers the (stage, ts)
events themselves and the min-ts reach chain is recomputed per
update — the result is a pure function of the event SET, identical
for any batch split and any arrival order (asserted in tests against
the batch twin).

State story at scale: state is O(funnel-type events per user), the
price of exactness under unbounded lateness. A production deployment
bounds it with a watermark: evict events older than the watermark
after folding them into a frozen chain prefix (same eviction shape as
Spark's own stream-stream join state). Mirrors the checkpoint-reuse
refusal of streaming/userstats.py — the last-emission capture lives
on the driver.

Output per user: (user_id, s1_us, s2_us, s3_us) — microsecond reach
times of each stage, -1 when unreached (sentinel, not NULL, so the
cross-engine hash is representation-stable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.checkpointing import checkpoint

OUT_SCHEMA = "user_id long, s1_us long, s2_us long, s3_us long"
STATE_SCHEMA = "tss array<long>, tps array<long>"

STAGES = ("view", "click", "purchase")


def _chain(ts_list, tp_list):
    """The min-ts reach chain over a buffered event set: stage k is
    reached at the earliest stage-k event at-or-after the stage-(k-1)
    reach. Returns [s1, s2, s3] with -1 for unreached."""
    out = []
    prev = None
    for k in range(len(STAGES)):
        if k > 0 and prev is None:
            out.append(-1)
            continue
        cand = [
            t for t, p in zip(ts_list, tp_list) if p == k and (k == 0 or t >= prev)
        ]
        if cand:
            prev = min(cand)
            out.append(prev)
        else:
            prev = None
            out.append(-1)
    return out


def funnel_users_batch(events: DataFrame) -> DataFrame:
    """Batch twin: per-user reach chain as one declarative plan (the
    same -1 sentinel contract)."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    r1 = (
        ev.filter(F.col("event_type") == STAGES[0])
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("s1_us"))
    )
    r2 = (
        ev.filter(F.col("event_type") == STAGES[1])
        .join(r1, "user_id")
        .filter(F.unix_micros("ts") >= F.col("s1_us"))
        .groupBy("user_id", "s1_us")
        .agg(F.min(F.unix_micros("ts")).alias("s2_us"))
    )
    r3 = (
        ev.filter(F.col("event_type") == STAGES[2])
        .join(r2, "user_id")
        .filter(F.unix_micros("ts") >= F.col("s2_us"))
        .groupBy("user_id", "s2_us")
        .agg(F.min(F.unix_micros("ts")).alias("s3_us"))
    )
    users = (
        ev.filter(F.col("event_type").isin(*STAGES))
        .select("user_id")
        .distinct()
    )
    return (
        users.join(r1, "user_id", "left")
        .join(r2.select("user_id", "s2_us"), "user_id", "left")
        .join(r3.select("user_id", "s3_us"), "user_id", "left")
        .select(
            "user_id",
            F.coalesce("s1_us", F.lit(-1)).alias("s1_us"),
            F.coalesce("s2_us", F.lit(-1)).alias("s2_us"),
            F.coalesce("s3_us", F.lit(-1)).alias("s3_us"),
        )
    )


def run_streaming_funnel(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay `events_dir` parquet as a stream, maintain the per-user
    funnel in custom state, return the final per-user reach table
    (== funnel_users_batch over the full data, any batch split)."""
    from pathlib import Path

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ckpt = Path(checkpoint_dir)
    if ckpt.exists() and any(ckpt.iterdir()):
        raise ValueError(
            f"checkpoint dir {checkpoint_dir!r} is non-empty: resuming "
            "would skip committed batches while the driver-held capture "
            "restarts empty. Use a fresh directory."
        )
    schema = spark.read.parquet(events_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    tp = F.when(F.col("event_type") == STAGES[0], 0)
    for i, st in enumerate(STAGES[1:], start=1):
        tp = tp.when(F.col("event_type") == st, i)
    stream = (
        reader.parquet(events_dir)
        .filter(F.col("event_type").isin(*STAGES))
        .select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            tp.cast("long").alias("tp"),
        )
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        tss, tps = state.get if state.exists else ([], [])
        tss, tps = list(tss), list(tps)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            tss.extend(int(x) for x in pdf["ts_us"])
            tps.extend(int(x) for x in pdf["tp"])
        state.update((tss, tps))
        s1, s2, s3 = _chain(tss, tps)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "s1_us": [s1],
                "s2_us": [s2],
                "s3_us": [s3],
            }
        )

    agg = stream.groupBy("user_id").applyInPandasWithState(
        update, OUT_SCHEMA, STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
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
