"""Streaming exact dedup — the batch `dedup_exact` operator
(operators/dedup.py) run incrementally over a document stream.

The logical query is identical: group by md5(text), keep count and
min(doc_id). Structured Streaming maintains the aggregation state
per text hash across micro-batches, so after an availableNow replay
the memory-sink result equals the batch answer bit-for-bit (the
unified-API guarantee the batch/stream twins in streaming/events.py
also assert, and what the DuckDB oracle checks end-to-end).

State story at scale: aggregation state is O(distinct hashes) — for
dedup that is inherently the whole history (a duplicate can arrive
arbitrarily late). Production deployments bound it the standard way:
a processing-time watermark + `dropDuplicatesWithinWatermark` when
"duplicate" only matters within a horizon, or periodic compaction of
the state store into a bucketed parquet dictionary (sources/bucketed
is the pay-the-shuffle-once layout for exactly that table). The
complete-output memory sink here is for the bounded replay contract;
an unbounded stream would use update mode + a keyed sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.checkpointing import checkpoint


def dedup_groups(docs: DataFrame, prefix_tokens: int | None = None) -> DataFrame:
    """The logical dedup query (batch or stream): (text_hash, n_docs,
    keeper) per duplicate group with >1 member.

    `prefix_tokens=None` keys on the full text (exact dedup);
    `prefix_tokens=n` keys on the first n lowercase tokens — the
    boilerplate-prefix grouping (templated page openings), which is
    what actually collides on real crawls and on this corpus."""
    if prefix_tokens is None:
        key = F.md5(F.col("text"))
    else:
        toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        key = F.md5(F.array_join(F.slice(toks, 1, prefix_tokens), " "))
    return (
        docs.select(key.alias("text_hash"), F.col("doc_id"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_docs") > 1)
    )


def run_streaming_dedup(
    spark: SparkSession,
    docs_dir: str,
    checkpoint_dir: str,
    prefix_tokens: int | None = 3,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay the parquet files in `docs_dir` as a stream
    (Trigger.AvailableNow), maintain the dedup aggregation
    incrementally, and return the final memory-sink table."""
    schema = spark.read.parquet(docs_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_dir)
    agg = dedup_groups(stream, prefix_tokens=prefix_tokens)
    q = (
        agg.writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = checkpoint(spark.table("stream_dedup"), eager=True)
    return out
